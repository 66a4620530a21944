"""The persisted URL-seen filter is a per-shard scalable Bloom filter:
layers sized by what they hold, geometry read from the table (never
from a constructor value), a one-row-per-shard table read as a
one-layer filter."""

import numpy as np
import pyspark.sql.functions as F

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier import seen as seen_mod
from edgar_crawler_spark.frontier.canonical import with_url_identity
from edgar_crawler_spark.frontier.frontier import CrawlFrontier
from edgar_crawler_spark.frontier.seen import BloomFilterTable, PersistedBloomTable
from edgar_crawler_spark.frontier.state import SnapshotTable


def _hashes(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("xxhash64(cast(id as string)) AS url_hash")


def _all_flagged(filt, spark, df) -> bool:
    flagged = filt.read_filter(spark).maybe_contains(df.select("url_hash"))
    return flagged.filter(~F.col("bloom_maybe_seen")).count() == 0


def _geometry(filt, spark):
    return sorted(
        (r.shard, r.m_bits, r.k_hashes)
        for r in filt.table.read(spark).select("shard", "m_bits", "k_hashes").collect()
    )


def test_layers_double_and_compound_rate_stays_under_target(spark, tmp_path):
    """Batches that overfill the newest layer start layers of at least
    double the capacity and one more hash; every layer stays within its
    capacity, the summed per-layer rates stay under fpp, and the
    measured false-positive rate on fresh hashes does too."""
    filt = PersistedBloomTable(SnapshotTable(str(tmp_path / "f")), num_shards=1)
    lo = 0
    for n in (10, 40, 100, 30, 300, 20):
        filt.update(_hashes(spark, lo, lo + n))
        lo += n
        assert _all_flagged(filt, spark, _hashes(spark, 0, lo))
    layers = filt.table.read(spark).toPandas().sort_values("m_bits")
    assert len(layers) >= 3
    assert layers["n_items"].sum() == lo
    caps = [seen_mod._capacity(r.m_bits, r.k_hashes) for r in layers.itertuples()]
    assert all(r.n_items <= c for r, c in zip(layers.itertuples(), caps))
    assert all(b >= 2 * a for a, b in zip(caps, caps[1:]))
    assert list(np.diff(layers["k_hashes"])) == [1] * (len(layers) - 1)
    assert sum(2.0 ** -k for k in layers["k_hashes"]) <= filt.fpp
    fresh = filt.read_filter(spark).maybe_contains(_hashes(spark, 10**6, 10**6 + 20000))
    assert fresh.filter(F.col("bloom_maybe_seen")).count() <= 0.01 * 20000


def test_grown_filter_covers_seen_every_wave_and_stays_exact(spark, tmp_path):
    """A frontier whose filter grows to three or more layers keeps
    filter ⊇ seen after every wave and admits nothing on resubmit."""
    n = 200
    fr = CrawlFrontier(spark, str(tmp_path / "wd"), wave_quota=5, bloom_shards=1)
    fr.bootstrap_seen(seed_index_df(spark, 1))
    seed = seed_index_df(spark, n)
    assert fr.submit(seed) == n - 1
    while fr.run(max_waves=1):
        assert _all_flagged(fr.seen_filter, spark, fr.seen_set())
    assert fr.seen_filter.table.read(spark).count() >= 3
    assert fr.submit(seed) == 0
    log = fr.fetch_log().toPandas()
    assert len(log) == n - 1
    assert log["canonical_url"].duplicated().sum() == 0


def test_single_layer_table_reads_and_updates(spark, tmp_path):
    """A filter table with one fixed-size row per shard (the layout
    before layering: 1 << 17 items per shard) is read and updated as a
    one-layer filter: new hashes fit it, so its geometry is kept (a
    shard it has no row for starts a first layer), and a frontier over
    it stays exact."""
    seed = seed_index_df(spark, 80)
    prior = with_url_identity(seed.filter(F.col("row_seq") < 50)).select(
        "url_hash", "canonical_url", F.lit(0).cast("long").alias("first_seen_version")
    )
    fr = CrawlFrontier(spark, str(tmp_path / "wd"), wave_quota=100)
    old = BloomFilterTable.build(prior, num_shards=32, expected_per_shard=1 << 17)
    fr.seen_filter.table.overwrite(old.df, metrics={"num_shards": 32})
    fr.seen.append(prior)
    geometry = _geometry(fr.seen_filter, spark)
    old_shards = {g[0] for g in geometry}

    assert fr.submit(seed) == 30
    assert len(fr.run()) == 1
    after = _geometry(fr.seen_filter, spark)
    assert [g for g in after if g[0] in old_shards] == geometry
    assert len(after) == len({g[0] for g in after})  # one layer per shard
    assert fr.seen_filter.table.read(spark).agg(F.sum("n_items")).first()[0] == 80
    assert _all_flagged(fr.seen_filter, spark, fr.seen_set())
    assert fr.submit(seed) == 0
    assert fr.fetch_log().count() == 30


def test_reopened_invalidate_keeps_table_geometry(spark, tmp_path):
    """Filter geometry lives in the table: after the filter is rebuilt,
    invalidate() on a reopened frontier rebuilds the same geometry as
    invalidate() on the frontier that rebuilt it."""
    seed = seed_index_df(spark, 120)
    stale = seed.filter(F.col("row_seq") % 10 == 3)
    geometries = []
    for reopen in (False, True):
        wd = str(tmp_path / f"wd{int(reopen)}")
        fr = CrawlFrontier(spark, wd)
        fr.submit(seed)
        fr.run()
        fr.seen_filter.rebuild(fr.seen_set())
        if reopen:
            fr = CrawlFrontier(spark, wd)
        assert fr.invalidate(stale) == 12
        geometries.append(_geometry(fr.seen_filter, spark))
    assert geometries[0] == geometries[1]
