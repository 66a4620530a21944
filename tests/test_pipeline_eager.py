"""Pipelined-mode lineage hardening (VERDICT r03 item 8): the chained
remainder must never be recomputable through the nondeterministic fetch.
With an EAGER wave-boundary localCheckpoint (the non-local-master
default, now that the local-only pipeline gate is dropped), losing every
upstream cache mid-wave neither re-runs the fetch nor changes what the
commit protocol publishes."""

import os

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.frontier import CrawlFrontier


def _counting_fetcher(count_file: str):
    # nested factory → cloudpickle serializes by value (worker processes
    # cannot import test modules); workers count via an append-mode file
    # because closure mutations never reach the driver
    def fetcher(url: str, attempt: int):
        with open(count_file, "a") as f:
            f.write(url + "\n")
        return 200, b"\x89PNG-fake-but-counted", None

    return fetcher


def test_eager_checkpoint_pins_remainder_against_cache_loss(spark, tmp_path):
    """Simulated mid-wave recompute: after the eager checkpoint, drop
    EVERY upstream cache (results + work) — the chained remainder must
    re-collect identically with ZERO additional fetch calls (its rows
    come from checkpoint blocks, not from re-running the fetch)."""
    count_file = str(tmp_path / "calls.txt")
    wd = str(tmp_path / "w")
    fr = CrawlFrontier(
        spark, wd, fetcher=_counting_fetcher(count_file), wave_quota=5
    )
    fr.submit(seed_index_df(spark, 60, n_hosts=4, hot_host=False))

    pending, _ = fr._refiltered_pending()
    ctx = fr._fetch_phase(pending)
    pend = ctx["next_pending"].localCheckpoint(eager=True)

    calls_after_fetch = sum(1 for _ in open(count_file))
    rows1 = sorted(map(tuple, pend.collect()))

    ctx["results"].unpersist(blocking=True)  # lost-executor simulation
    ctx["work"].unpersist(blocking=True)
    rows2 = sorted(map(tuple, pend.collect()))

    assert rows1 == rows2 and len(rows1) > 0
    assert sum(1 for _ in open(count_file)) == calls_after_fetch  # no re-fetch

    # the wave still commits normally from its (re-persistable) context
    m = fr._commit_phase(1, ctx)
    assert m["dispatched"] == 20  # 4 hosts × wave_quota 5


def test_pipeline_eager_equals_lazy(spark, tmp_path, monkeypatch):
    """End-to-end: the eager (cluster-default) wave-boundary checkpoint
    must publish exactly what the lazy (local-default) one publishes —
    same crawl order, same seen set — with every URL fetched exactly
    once."""
    n = 60

    def run_mode(sub: str, eager: bool):
        monkeypatch.setattr(CrawlFrontier, "_eager_checkpoint", lambda self: eager)
        count_file = str(tmp_path / f"calls_{sub}.txt")
        wd = str(tmp_path / sub)
        fr = CrawlFrontier(
            spark, wd, fetcher=_counting_fetcher(count_file), wave_quota=7
        )
        fr.submit(seed_index_df(spark, n, n_hosts=4, hot_host=False))
        assert len(fr.run()) > 1
        log = fr.fetch_log().toPandas()
        seen = {r.url_hash for r in fr.seen_set().collect()}
        calls = sum(1 for _ in open(count_file)) if os.path.exists(count_file) else 0
        return log, seen, calls

    log_e, seen_e, calls_e = run_mode("eager", True)
    log_l, seen_l, calls_l = run_mode("lazy", False)

    assert calls_e == calls_l == n  # exactly-once fetch in both modes
    assert seen_e == seen_l and len(seen_e) == n
    order_cols = ["year", "quarter", "row_seq"]
    assert log_e[order_cols].values.tolist() == log_l[order_cols].values.tolist()
    assert (log_e["state"] == "fetched").all() and (log_l["state"] == "fetched").all()
