"""The one persisted-index layout (operators.dedup.BucketedTable) as the
LSH, Hamming and IVF indexes use it: compaction drops the exact
duplicate rows a crash-replayed add leaves, and an IVF table written
at another bucket count is rewritten once on reopen."""

import glob

import numpy as np
import pyspark.sql.functions as F

from edgar_crawler_spark.operators.dedup import (
    INDEX_BUCKETS,
    IncrementalHammingIndex,
    IncrementalLSHIndex,
    band_rows,
)
from edgar_crawler_spark.operators.similarity import IncrementalIVFIndex


def _no_exact_dups(df):
    return df.count() == df.distinct().count()


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma {i % 7} delta {i % 3} eps") for i in range(lo, hi)],
        ["doc_id", "text"],
    )


def test_lsh_compaction_drops_replayed_rows(spark, tmp_path):
    idx = IncrementalLSHIndex(spark, str(tmp_path / "lsh"), bucket_cap=10**6, min_sim=0.5)
    idx.add(_docs(spark, 0, 30))
    idx.add(_docs(spark, 30, 60))
    idx.add(_docs(spark, 30, 60))  # crash replay: the same rows again
    assert not _no_exact_dups(idx.table.read(spark))
    idx.compact()
    want = band_rows(_docs(spark, 0, 60)).count()
    for table in (idx.table, idx.bydoc):
        rows = table.read(spark)
        assert _no_exact_dups(rows) and rows.count() == want
        assert len(table.latest_manifest()["files"]) == 1


def test_hamming_compaction_drops_replayed_rows(spark, tmp_path):
    rows = [(f"img{i:03d}", (i * 0x9E3779B97F4A7C15) % (1 << 62)) for i in range(40)]
    batch = spark.createDataFrame(rows, "image_id string, phash long")
    idx = IncrementalHammingIndex(spark, str(tmp_path / "hi"))
    idx.add(batch)
    idx.add(batch)  # crash replay
    assert not _no_exact_dups(idx.table.read(spark))
    idx.compact()
    stored = idx.table.read(spark)
    assert _no_exact_dups(stored) and stored.count() == 40 * idx.bands
    assert glob.glob(str(tmp_path / "hi") + "/data/*/kb=*/*.parquet")


def _emb(spark, n=200, dim=64):
    vecs = np.random.default_rng(7).standard_normal((n, dim)).astype("float32")
    return spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )


def test_ivf_compaction_drops_replayed_rows(spark, tmp_path):
    batch = _emb(spark).filter("vec_id < 100")
    idx = IncrementalIVFIndex(spark, str(tmp_path / "ivf"), n_cells=8, dim=64)
    idx.add(batch)
    idx.add(batch)  # crash replay
    idx.compact()
    stored = idx.vectors.read(spark)
    assert _no_exact_dups(stored) and stored.count() == 100


def test_ivf_table_at_other_bucket_count_is_rewritten_on_reopen(spark, tmp_path):
    """An IVF table whose latest commit is at 8 buckets (a table written
    while the bucket count was settable) is rewritten once into the
    INDEX_BUCKETS layout on reopen and serves the same top-k."""
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    idx = IncrementalIVFIndex(spark, path, n_cells=8, dim=64)
    idx.add(emb.filter("vec_id % 2 = 0"))
    idx.add(emb.filter("vec_id % 2 = 1"))
    queries = emb.filter(emb.vec_id.isin([0, 1, 2, 3]))
    want = sorted(map(tuple, idx.topk(queries, k=5, nprobe=3).collect()))
    assert len(want) == 20

    rows = idx.vectors.read(spark)
    idx.vectors.overwrite(
        rows.withColumn("kb", F.pmod("cell", F.lit(8))).repartition(8, "kb"),
        metrics={"n_buckets": 8},
        partition_by=["kb"],
    )
    reopened = IncrementalIVFIndex(spark, path)
    manifest = reopened.vectors.latest_manifest()
    assert manifest["metrics"]["n_buckets"] == INDEX_BUCKETS
    assert manifest["partition_by"] == ["kb"] and len(manifest["files"]) == 1
    written = spark.read.parquet(f"{path}/vectors/{manifest['files'][0]}")
    assert written.filter(F.col("kb") != F.pmod("cell", F.lit(INDEX_BUCKETS))).count() == 0
    assert sorted(map(tuple, reopened.topk(queries, k=5, nprobe=3).collect())) == want

    v = reopened.vectors.current_version()
    IncrementalIVFIndex(spark, path)  # in the layout now: no rewrite
    assert reopened.vectors.current_version() == v
