"""Streaming stateful dedup: duplicates across micro-batches dropped."""

import pyspark.sql.functions as F

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.canonical import with_url_identity
from edgar_crawler_spark.streaming.stream_frontier import streaming_url_dedup


def test_streaming_dedup_across_batches(spark, tmp_path):
    base = with_url_identity(seed_index_df(spark, 100)).select(
        "url_hash", "canonical_url", F.to_timestamp(F.lit("2022-01-01 00:00:00")).alias("ts")
    )
    src = str(tmp_path / "urls")
    # batch 1: rows 0..99; batch 2: the same 100 again plus nothing new
    base.coalesce(1).write.mode("overwrite").parquet(src)
    base.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("url_hash long, canonical_url string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_url_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_urls")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from dedup_urls").toPandas()
    assert len(got) == 100  # 200 arrivals → 100 unique
    assert got.url_hash.nunique() == 100


def test_streaming_near_dup_matches_batch(spark, tmp_path):
    """Streaming ingestion (availableNow over doc files → persisted
    LSH index) emits exactly the batch operator's pairs, split across
    micro-batches; a later drop-in of new files only pays for the new
    slice and finds the cross-batch duplicates."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.operators.dedup import minhash_lsh_pairs
    from edgar_crawler_spark.frontier.state import SnapshotTable
    from edgar_crawler_spark.streaming.stream_frontier import run_streaming_near_dup

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("alpha beta gamma delta "),
                (F.col("id") % 13).cast("string"),
                F.lit(" epsilon "),
                (F.col("id") % 4).cast("string"),
            ).alias("text"),
        )

    src = str(tmp_path / "docs")
    docs(0, 50).coalesce(1).write.mode("overwrite").parquet(src)
    docs(50, 100).coalesce(1).write.mode("append").parquet(src)

    kw = dict(
        index_path=str(tmp_path / "idx"),
        pairs_path=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ck"),
        bucket_cap=10**6,
    )
    _, n1 = run_streaming_near_dup(
        spark, src, "doc_id long, text string", **kw
    )
    assert n1 > 0
    expected = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs(0, 100), bucket_cap=10**6).collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in SnapshotTable(str(tmp_path / "pairs")).read(spark).collect()
    }
    assert got == expected

    # new files later: only the new slice is signed; cross-slice dups found
    docs(100, 120).coalesce(1).write.mode("append").parquet(src)
    _, n2 = run_streaming_near_dup(spark, src, "doc_id long, text string", **kw)
    assert n2 > 0
    got2 = {
        (r.doc_a, r.doc_b)
        for r in SnapshotTable(str(tmp_path / "pairs")).read(spark).collect()
    }
    expected2 = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs(0, 120), bucket_cap=10**6).collect()
    }
    assert got2 == expected2


def test_streaming_near_dup_verified_mode(spark, tmp_path):
    """min_sim flows through run_streaming_near_dup's index kwargs:
    streamed verified pairs equal the batch verified operator."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.frontier.state import SnapshotTable
    from edgar_crawler_spark.operators.dedup import minhash_verified_pairs
    from edgar_crawler_spark.streaming.stream_frontier import run_streaming_near_dup

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("tok"), (F.col("id") % 9).cast("string"),
                F.lit(" alpha beta gamma "), (F.col("id") % 3).cast("string"),
            ).alias("text"),
        )

    src = str(tmp_path / "docs")
    docs(0, 40).coalesce(1).write.mode("overwrite").parquet(src)
    docs(40, 80).coalesce(1).write.mode("append").parquet(src)

    _, n = run_streaming_near_dup(
        spark,
        src,
        "doc_id long, text string",
        index_path=str(tmp_path / "idx"),
        pairs_path=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ck"),
        bucket_cap=10**6,
        min_sim=0.5,
    )
    assert n > 0
    got = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in SnapshotTable(str(tmp_path / "pairs")).read(spark).collect()
    }
    expected = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_verified_pairs(docs(0, 80), bucket_cap=10**6, min_sim=0.5).collect()
    }
    assert got == expected


def test_streaming_near_dup_partitioned_index(spark, tmp_path):
    """The streaming path composes with the partition-pruned index
    layout: pairs are identical to the batch operator across
    micro-batches, and the persisted index carries the hive layout."""
    import glob

    import pyspark.sql.functions as F

    from edgar_crawler_spark.frontier.state import SnapshotTable
    from edgar_crawler_spark.operators.dedup import minhash_lsh_pairs
    from edgar_crawler_spark.streaming.stream_frontier import run_streaming_near_dup

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("alpha beta gamma delta "),
                (F.col("id") % 13).cast("string"),
                F.lit(" epsilon "),
                (F.col("id") % 4).cast("string"),
            ).alias("text"),
        )

    src = str(tmp_path / "docs")
    docs(0, 50).coalesce(1).write.mode("overwrite").parquet(src)
    docs(50, 100).coalesce(1).write.mode("append").parquet(src)

    idx, n1 = run_streaming_near_dup(
        spark,
        src,
        "doc_id long, text string",
        index_path=str(tmp_path / "idx"),
        pairs_path=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ck"),
        bucket_cap=10**6,
    )
    assert n1 > 0
    expected = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs(0, 100), bucket_cap=10**6).collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in SnapshotTable(str(tmp_path / "pairs")).read(spark).collect()
    }
    assert got == expected
    # the persisted layout really is hive-partitioned by kb
    assert glob.glob(str(tmp_path / "idx") + "/data/*/kb=*/*.parquet")
    assert idx.last_scan_dirs is not None
