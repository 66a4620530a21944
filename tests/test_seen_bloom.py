"""Partitioned Bloom pre-filter: FP-direction safety (a false positive
may cost an extra exact probe; it must NEVER drop a new URL)."""

import pyspark.sql.functions as F

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.canonical import with_url_identity
from edgar_crawler_spark.frontier.seen import BloomFilterTable, url_seen_anti_join


def _ids(spark, n):
    return with_url_identity(seed_index_df(spark, n))


def test_bloom_no_false_negatives(spark):
    df = _ids(spark, 500).select("url_hash").persist()
    bloom = BloomFilterTable.build(df, num_shards=8)
    flagged = bloom.maybe_contains(df)
    assert flagged.filter(~F.col("bloom_maybe_seen")).count() == 0


def test_bloom_filters_most_unseen(spark):
    seen = _ids(spark, 300)
    bloom = BloomFilterTable.build(seen.select("url_hash"), num_shards=8)
    unseen = _ids(spark, 600).join(seen.select("url_hash"), "url_hash", "left_anti")
    flagged = bloom.maybe_contains(unseen)
    fp = flagged.filter(F.col("bloom_maybe_seen")).count()
    assert fp / max(unseen.count(), 1) < 0.05  # target fpp 0.01, slack 5x


def test_anti_join_with_bloom_equals_exact(spark):
    all_rows = _ids(spark, 600)
    seen = all_rows.filter(F.col("row_seq") % 3 == 0)
    new = all_rows
    bloom = BloomFilterTable.build(seen, num_shards=8)
    with_b = url_seen_anti_join(new, seen, bloom=bloom)
    without = url_seen_anti_join(new, seen, bloom=None)
    assert sorted(r.row_seq for r in with_b.select("row_seq").collect()) == sorted(
        r.row_seq for r in without.select("row_seq").collect()
    )


def test_snapshot_table_atomic_history(spark, tmp_path):
    from edgar_crawler_spark.frontier.state import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    assert t.read(spark) is None
    t.append(spark.range(5), metrics={"rows": 5})
    t.append(spark.range(5, 8))
    assert t.read(spark).count() == 8
    assert t.read(spark, version=1).count() == 5  # time travel
    t.overwrite(spark.range(2))
    assert t.read(spark).count() == 2
    hist = t.history()
    assert [m["version"] for m in hist] == [1, 2, 3]
    assert hist[0]["metrics"] == {"rows": 5}


def test_persisted_filter_shard_count_guard(spark, tmp_path):
    """ADVICE r02: resuming a workdir with a different num_shards must
    fail loudly, not silently route hashes to the wrong shard's bitset
    (false negatives → re-admitted URLs). rebuild() is the sanctioned
    way to change the shard count."""
    import pytest

    from edgar_crawler_spark.frontier.seen import PersistedBloomTable
    from edgar_crawler_spark.frontier.state import SnapshotTable

    hashes = spark.range(500).selectExpr("xxhash64(cast(id as string)) AS url_hash")

    tbl = SnapshotTable(str(tmp_path / "b"))
    filt = PersistedBloomTable(tbl, num_shards=32)
    filt.update(hashes)
    # same shard count resumes fine
    assert PersistedBloomTable(tbl, num_shards=32).read_filter(spark) is not None
    # drifted shard count fails loudly on both read and write paths
    drifted = PersistedBloomTable(tbl, num_shards=16)
    with pytest.raises(ValueError, match="num_shards"):
        drifted.read_filter(spark)
    with pytest.raises(ValueError, match="num_shards"):
        drifted.update(hashes)
    # rebuild rewrites every bitset from seen → new count is stamped
    drifted.rebuild(hashes)
    assert drifted.read_filter(spark) is not None
    with pytest.raises(ValueError, match="num_shards"):
        PersistedBloomTable(tbl, num_shards=32).read_filter(spark)
