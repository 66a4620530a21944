"""Wave commit-protocol crash safety (ADVICE r01 high), incremental
Bloom maintenance (VERDICT r01 item 3), and the (url_hash,
canonical_url) fetch join-back key (VERDICT r01 item 4)."""

import pyspark.sql.functions as F
import pytest

from edgar_crawler_spark.fixtures.payload import make_payload_row
from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier import seen as seen_mod
from edgar_crawler_spark.frontier.fetch import fetch_wave
from edgar_crawler_spark.frontier.frontier import CrawlFrontier
from edgar_crawler_spark.frontier.state import SnapshotTable
from edgar_crawler_spark.functions.imaging import average_hash, decode_image

N = 200


class _Boom(RuntimeError):
    pass


def _expected_order(seed):
    return list(
        seed.toPandas().sort_values(["year", "quarter", "row_seq"])["html_index"]
    )


def test_crash_between_log_and_seen_commits_recovers_exactly(spark, tmp_path):
    """Kill after log+payload land but BEFORE seen: on resume the
    partial wave is rolled back and re-fetched — final log has every
    URL exactly once, in exact reference order."""
    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, wave_quota=3)  # several waves
    seed = seed_index_df(spark, N)
    fr.submit(seed)
    fr.run(max_waves=1)  # wave 1 commits cleanly

    orig_append = SnapshotTable.append

    def exploding_seen_append(self, df, metrics=None, lineage=None):
        if self.root == fr.seen.root and "commit_token" in (metrics or {}):
            raise _Boom("crash before seen commit")
        return orig_append(self, df, metrics, lineage)

    SnapshotTable.append = exploding_seen_append
    try:
        with pytest.raises(_Boom):
            fr.run(max_waves=1)  # wave 2: log+payload commit, seen crashes
    finally:
        SnapshotTable.append = orig_append

    log_v_partial = fr.log.current_version()
    # restart: a fresh frontier on the same workdir must roll back the
    # orphaned log+payload snapshots (token never reached seen)
    fr2 = CrawlFrontier(spark, wd, wave_quota=3)
    assert fr2.log.current_version() == log_v_partial + 1  # rollback commit
    assert fr2.log.latest_manifest()["mode"] == "rollback"
    fr2.run(max_waves=500)

    log = fr2.fetch_log().toPandas()
    assert len(log) == N
    assert log["canonical_url"].duplicated().sum() == 0
    assert list(log["html_index"]) == _expected_order(seed)
    # payload was rolled back too — exactly one payload row per URL
    pay = fr2.payload.read(spark).toPandas()
    assert len(pay) == N


def test_crash_between_seen_and_pending_recovers_exactly(spark, tmp_path):
    """Kill after seen commit but BEFORE the pending overwrite: stale
    pending rows are dropped by the exact seen re-filter — no
    duplicate log rows on resume."""
    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, wave_quota=3)
    seed = seed_index_df(spark, N)
    fr.submit(seed)

    orig_overwrite = SnapshotTable.overwrite
    calls = {"n": 0}

    def exploding_pending_overwrite(self, df, metrics=None, lineage=None):
        if self.root == fr.pending.root:
            calls["n"] += 1
            if calls["n"] == 2:  # crash on wave 2's overwrite
                raise _Boom("crash before pending overwrite")
        return orig_overwrite(self, df, metrics, lineage)

    SnapshotTable.overwrite = exploding_pending_overwrite
    try:
        fr.run(max_waves=1)
        with pytest.raises(_Boom):
            fr.run(max_waves=1)
    finally:
        SnapshotTable.overwrite = orig_overwrite

    fr2 = CrawlFrontier(spark, wd, wave_quota=3)
    assert fr2.log.latest_manifest()["mode"] != "rollback"  # nothing partial
    fr2.run(max_waves=500)
    log = fr2.fetch_log().toPandas()
    assert len(log) == N
    assert log["canonical_url"].duplicated().sum() == 0
    assert list(log["html_index"]) == _expected_order(seed)


def test_bloom_incremental_no_full_rebuild(spark, tmp_path):
    """The per-wave filter maintenance ORs in only new hashes: neither
    full-scan rebuild (BloomFilterTable.build, PersistedBloomTable
    .rebuild) may run during submit/run once the filter table exists,
    the filter-table version advances every wave, and the final dedup
    behavior stays exact."""
    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, wave_quota=5)
    seed = seed_index_df(spark, N)
    fr.submit(seed)
    fr.run(max_waves=500)
    v_after_run = fr.seen_filter.table.current_version()
    assert v_after_run >= len(fr.metrics)  # one update commit per wave

    builds = {"n": 0}
    orig_build = seen_mod.BloomFilterTable.build
    orig_rebuild = seen_mod.PersistedBloomTable.rebuild

    def counting_build(*a, **kw):
        builds["n"] += 1
        return orig_build(*a, **kw)

    def counting_rebuild(*a, **kw):
        builds["n"] += 1
        return orig_rebuild(*a, **kw)

    seen_mod.BloomFilterTable.build = staticmethod(counting_build)
    seen_mod.PersistedBloomTable.rebuild = counting_rebuild
    try:
        # second submit of the same seed: filter is read, never rebuilt,
        # and the exact-dedup contract holds (0 admitted)
        assert fr.submit(seed) == 0
        more = seed_index_df(spark, N + 50).filter(F.col("row_seq") >= N)
        assert fr.submit(more) == 50
        fr.run(max_waves=500)
        assert builds["n"] == 0
    finally:
        seen_mod.BloomFilterTable.build = staticmethod(orig_build)
        seen_mod.PersistedBloomTable.rebuild = orig_rebuild

    log = fr.fetch_log().toPandas()
    assert len(log) == N + 50
    assert log["canonical_url"].duplicated().sum() == 0


def test_bloom_filter_superset_of_seen(spark, tmp_path):
    """filter ⊇ seen after every wave: each seen hash must hit the
    persisted bitsets (no false negative can re-admit a URL)."""
    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, wave_quota=7)
    fr.submit(seed_index_df(spark, N))
    fr.run(max_waves=500)
    pf = fr.seen_filter.read_filter(spark)
    seen_df = fr.seen_set()
    flagged = pf.maybe_contains(seen_df.select("url_hash"))
    assert flagged.filter(~F.col("bloom_maybe_seen")).count() == 0


def test_bloom_rebuild_on_overload(spark, tmp_path):
    """A filter that starts tiny grows layers instead of overloading:
    no layer holds more than its capacity, the filter stays ⊇ seen and
    exact, and compact() folds each shard back into one layer sized
    from seen."""
    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, wave_quota=5, bloom_shards=1)
    fr.bootstrap_seen(seed_index_df(spark, 1))  # a first layer at the floor
    fr.submit(seed_index_df(spark, N))
    fr.run(max_waves=50)

    def layers():
        pdf = fr.seen_filter.table.read(spark).toPandas()
        assert pdf["n_items"].sum() == fr.seen_set().count() == N
        for r in pdf.itertuples():
            assert r.n_items <= seen_mod._capacity(r.m_bits, r.k_hashes)
        pf = fr.seen_filter.read_filter(spark)
        flagged = pf.maybe_contains(fr.seen_set().select("url_hash"))
        assert flagged.filter(~F.col("bloom_maybe_seen")).count() == 0
        return pdf

    assert len(layers()) > 1
    assert fr.submit(seed_index_df(spark, N)) == 0
    fr.compact()
    assert len(layers()) == 1
    # still exact after the fold
    assert fr.submit(seed_index_df(spark, N)) == 0


def test_fetch_joinback_same_hash_distinct_urls(spark):
    """Two in-wave URLs with a colliding 64-bit hash must produce
    exactly 2 result rows with correctly-attributed payloads (the old
    url_hash-only join cross-matched them into 4)."""
    rows = [
        (
            12345,
            "https://www.sec.gov/Archives/edgar/data/1/0000000001-22-000001-index.html",
            "hostA",
            1,
        ),
        (
            12345,
            "https://www.sec.gov/Archives/edgar/data/2/0000000002-22-000002-index.html",
            "hostA",
            2,
        ),
    ]
    frontier = spark.createDataFrame(
        rows, "url_hash long, canonical_url string, host string, host_rank int"
    )
    out = fetch_wave(frontier, virtual_clock=True).toPandas()
    assert len(out) == 2
    by_url = out.set_index("canonical_url")
    for i in (1, 2):
        url = f"https://www.sec.gov/Archives/edgar/data/{i}/00000000{i:02d}-22-00000{i}-index.html"
        assert by_url.loc[url, "caption"] == make_payload_row(i)["caption"]
        # validation is fused into the fetch: decode_and_validate semantics
        assert by_url.loc[url, "decode_ok"] == "ok"
        assert by_url.loc[url, "phash"] == average_hash(
            decode_image(make_payload_row(i)["bytes"])
        )


def test_fetch_error_cleared_on_successful_retry(spark):
    """A row fetched after a transient exception must commit with a
    null error string (ADVICE r01 low)."""
    calls = {}

    def flaky(url, attempt):
        k = calls.get(url, 0)
        calls[url] = k + 1
        if k == 0:
            raise OSError("transient socket error")
        from edgar_crawler_spark.fixtures.payload import make_payload_row

        return 200, make_payload_row(1)["bytes"], "cap"

    frontier = spark.createDataFrame(
        [(1, "https://h/x-index.html", "h", 1)],
        "url_hash long, canonical_url string, host string, host_rank int",
    )
    out = fetch_wave(frontier, fetcher=flaky, virtual_clock=True).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["state"] == "fetched"
    assert out.iloc[0]["error"] is None
