"""Global wave cap (VERDICT r02 item 5): `max_wave_rows` bounds a
wave's total row count even when host count × per-host quota explodes,
while preserving per-host politeness order (each wave dispatches a
prefix of every participating host's priority queue)."""

import pyspark.sql.functions as F
import pytest

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.frontier import CrawlFrontier


def test_wave_sizes_bounded_and_order_preserved(spark, tmp_path):
    n, n_hosts, cap = 120, 20, 25
    fr = CrawlFrontier(
        spark,
        str(tmp_path / "w"),
        wave_quota=50,  # per-host quota alone would dispatch everything
        max_wave_rows=cap,
    )
    fr.submit(seed_index_df(spark, n, n_hosts=n_hosts, hot_host=False))
    waves = fr.run()
    assert sum(w["dispatched"] for w in waves) == n  # full drain
    assert all(w["dispatched"] <= cap for w in waves)
    assert len(waves) >= -(-n // cap)

    # politeness: within each host, dispatch order across waves follows
    # the priority order (each wave took a queue prefix)
    log = fr.fetch_log().toPandas()
    for _, host_rows in log.groupby("host"):
        by_wave = host_rows.sort_values(["wave", "dispatch_seq"])
        pri = list(zip(by_wave["date"], by_wave["row_seq"]))
        assert pri == sorted(pri)


def test_host_cohort_rotation_when_hosts_exceed_cap(spark, tmp_path):
    """More hosts than the cap: each wave serves a rotating host cohort
    of bounded size; every URL is still fetched exactly once."""
    n, n_hosts, cap = 64, 64, 16  # rank-1 depth alone is 4× the cap
    fr = CrawlFrontier(
        spark, str(tmp_path / "w"), wave_quota=10, max_wave_rows=cap
    )
    fr.submit(seed_index_df(spark, n, n_hosts=n_hosts, hot_host=False))
    waves = fr.run(max_waves=100)
    assert sum(w["dispatched"] for w in waves) == n
    assert all(w["dispatched"] <= cap for w in waves)
    log = fr.fetch_log().toPandas()
    assert log.row_seq.nunique() == n and (log.state == "fetched").all()


@pytest.mark.parametrize("stamped", [True, False], ids=["stamped", "refiltered"])
def test_drain_ends_with_the_wave_that_empties_pending(spark, tmp_path, monkeypatch, stamped):
    """A 2-wave drain runs 2 fetch phases, not a third over the empty
    remainder, and its last commit writes the empty pending snapshot
    as a manifest alone. The remainder's count comes from the pending
    manifest, or, after a re-filtered read, from the rank-count collect
    the wave cap runs anyway."""

    def no_fault_fetcher(url, attempt):
        # the stub origin without its first-attempt faults: no retries
        from edgar_crawler_spark.frontier.fetch import stub_fetcher

        return stub_fetcher(url, attempt + 1)

    phases = []
    orig = CrawlFrontier._fetch_phase

    def counting(self, *a, **kw):
        phases.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(CrawlFrontier, "_fetch_phase", counting)
    n = 40  # 8 hosts x 5 ranks: a cap of 25 dispatches ranks 1-3, then 4-5
    wd = str(tmp_path / "w")
    fr = CrawlFrontier(spark, wd, fetcher=no_fault_fetcher, max_wave_rows=25)
    assert fr.submit(seed_index_df(spark, n, hot_host=False)) == n
    if not stamped:
        fr.pending.overwrite(fr.pending.read(spark))
    waves = fr.run()
    assert [w["dispatched"] for w in waves] == [24, 16]
    assert len(phases) == 2
    last = fr.pending.latest_manifest()
    assert last["files"] == [] and last["rows"] == 0
    assert last["metrics"] == {"wave": 2, "seen_version": fr.seen.current_version()}
    assert fr.pending.read(spark).count() == 0
    log = fr.fetch_log().toPandas()
    assert log.row_seq.nunique() == len(log) == n and (log.state == "fetched").all()
    # the drained snapshot answers a rerun from its manifest
    assert CrawlFrontier(spark, wd, fetcher=no_fault_fetcher, max_wave_rows=25).run() == []
    assert len(phases) == 2
