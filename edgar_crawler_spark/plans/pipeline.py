"""The stages around the frontier crawl (SURVEY.md §3): metadata
enrichment and filename derivation, the post-crawl near-dup pass, and
extraction over the engine's own state tables. The crawl itself
(``CrawlFrontier`` submit → run) is driven by ``spark_submit_main.py``.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

COMPANY_DIM_COLS = ["sic", "state_of_inc", "state_location", "fiscal_year_end"]


def company_dim_df(spark: SparkSession, n: int = 997) -> DataFrame:
    """Synthetic company-info dimension (the companies_info.json cache,
    download_filings.py:571-646): one row per CIK."""
    i = F.col("id")
    return spark.range(n).select(
        (F.lit(100000) + i).cast("string").alias("cik"),
        (F.lit(1000) + i % 900).cast("string").alias("sic"),
        F.when(i % 3 == 0, F.lit("DE")).otherwise(F.lit("CA")).alias("state_of_inc"),
        F.when(i % 2 == 0, F.lit("CA")).otherwise(F.lit("NY")).alias("state_location"),
        F.lpad((1 + i % 12).cast("string"), 2, "0").alias("fiscal_year_end"),
    )


def filename_col(df: DataFrame) -> F.Column:
    """P5: {CIK}_{type-sans-special}_{year}_{accession}.{ext}
    (download_filings.py:716-722). Year comes from period_of_report when
    the input carries it and the index-page crawl filled it, else the
    index date (the reference always has a period by this point;
    stub/sandbox rows don't)."""
    accession = F.regexp_extract("complete_text_file_link", r"/([^/]+)\.txt$", 1)
    ext = F.when(F.col("htm_file_link").isNotNull(), F.lit("htm")).otherwise(F.lit("txt"))
    year_src = (
        F.coalesce(F.col("period_of_report"), F.col("date"))
        if "period_of_report" in df.columns
        else F.col("date")
    )
    year = F.substring(year_src, 1, 4)
    return F.concat(
        F.col("cik"),
        F.lit("_"),
        F.regexp_replace(F.col("type"), r"[-/\\]", ""),
        F.lit("_"),
        year,
        F.lit("_"),
        accession,
        F.lit("."),
        ext,
    )


def enrich_metadata(log: DataFrame, dim: DataFrame) -> DataFrame:
    """J4 + P6 + P5: broadcast company-dim join, COALESCE back-fill of
    the null enrichment columns (download_filings.py:649-656), then
    filename derivation (download_filings.py:716-722)."""
    dim_renamed = dim.select(
        "cik", *[F.col(c).alias(f"__dim_{c}") for c in COMPANY_DIM_COLS]
    )
    out = log.join(F.broadcast(dim_renamed), on="cik", how="left")
    for c in COMPANY_DIM_COLS:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__dim_{c}"))).drop(f"__dim_{c}")
    return out.withColumn("filename", filename_col(out))


def caption_near_dups_from_frontier(
    spark: SparkSession,
    workdir: str,
    index_path: str | None = None,
    max_hamming: int = 6,
    min_sim: float | None = 0.8,
) -> DataFrame | None:
    """Post-crawl near-dup detection over THIS workdir's payload table,
    incremental across runs — the image+caption corpus twin of the
    URL-seen filter (that one says 'fetched this URL'; this says 'the
    content is a near-copy of something already crawled').

    Two independent signals, unioned with a `via` tag:
    * caption text → persisted banded-MinHash index
      (:class:`IncrementalLSHIndex` at ``index_path``, default
      ``<workdir>/caption_lsh``) — only payload rows NEWER than the
      index state are signed, so a daily re-run pays for the new slice
      only;
    * phash → banded Hamming pairs within the batch∪corpus hash set
      (64-bit hashes are cheap enough to keep in one snapshot table).

    Returns (doc_a, doc_b, via) or None when the payload table is
    empty. Results append to the ``near_dup_pairs`` table with the
    same manifest commits as every other state table."""
    from edgar_crawler_spark.frontier.state import SnapshotTable
    from edgar_crawler_spark.operators.dedup import (
        IncrementalLSHIndex,
        hamming_near_dup_pairs,
    )

    payload_tbl = SnapshotTable(os.path.join(workdir, "payload"))
    # min_sim: caption candidates are DISPOSED by the agreeing-seed
    # Jaccard estimate before they become near_dup_pairs rows —
    # downstream consumers (--drop-near-dups) treat pairs as true
    # duplicate edges, so raw banding false-positives must not land
    idx = IncrementalLSHIndex(
        spark, index_path or os.path.join(workdir, "caption_lsh"), min_sim=min_sim
    )
    seen_tbl = SnapshotTable(os.path.join(workdir, "caption_lsh_seen"))
    pairs_tbl = SnapshotTable(os.path.join(workdir, "near_dup_pairs"))

    # incremental consumption: the seen manifest records the payload
    # version last processed, so the common path reads ONLY the files
    # appended since (read_since) — per-pass input is the new slice,
    # not the 10^10-row payload history. Compaction in the window
    # breaks file-identity → fall back to a full read; either way the
    # seen anti-join below keeps the result exact (and covers the
    # crash window where pairs committed but seen did not).
    cur_v = payload_tbl.current_version()
    last_v = seen_tbl.latest_metrics().get("payload_version", 0)
    fallback = False
    try:
        payload = (
            payload_tbl.read_since(spark, last_v)
            if last_v
            else payload_tbl.read(spark)
        )
    except ValueError:
        payload = payload_tbl.read(spark)
        fallback = True
    if payload is None:
        if cur_v == 0:
            return None  # no payload table at all
        # nothing new since the last pass: empty result, same schema
        return spark.createDataFrame([], "doc_a string, doc_b string, via string")

    docs = payload.select(
        F.col("image_id").alias("doc_id"), F.col("caption").alias("text"), "phash"
    )
    prev = seen_tbl.read(spark)
    # the seen anti-join (an O(seen-corpus) shuffle) runs ONLY on the
    # fallback path — the file-level cut already guarantees novelty on
    # the common path, and in the crash window where seen lagged, the
    # replayed docs are not in seen either (the pairs token guard is
    # what dedups there)
    if prev is not None and (fallback or not last_v):
        # not last_v: seen state predates the version watermark (or a
        # full read was forced) — the anti-join is the exact gate
        docs = docs.join(prev.hint("shuffle_hash"), "doc_id", "left_anti")
    docs = docs.persist()

    # the two signals are INDEPENDENT: a null caption (every real
    # filings/HTTP fetcher) must not disable the phash leg, and a
    # null phash (decode failure) must not disable the caption leg
    cap_docs = docs.filter(F.col("text").isNotNull())
    cap_pairs = idx.add(cap_docs).withColumn("via", F.lit("caption_minhash"))
    # incremental Hamming: candidates are new×(new∪corpus), never
    # corpus×corpus — the join shape that survives 10^10 ingested rows
    ph_new = hamming_near_dup_pairs(
        docs.filter(F.col("phash").isNotNull()).select("doc_id", "phash"),
        "doc_id",
        "phash",
        64,
        max_hamming,
        corpus=None
        if prev is None
        else prev.filter(F.col("phash").isNotNull()).select("doc_id", "phash"),
    ).select("doc_a", "doc_b", F.lit("phash").alias("via"))

    # eager localCheckpoint: materialized for the commits below WITHOUT
    # a leaked persist (checkpoint blocks are GC'd with the frame)
    out = (
        cap_pairs.select("doc_a", "doc_b", "via")
        .unionByName(ph_new)
        .localCheckpoint()
    )
    n = out.count()
    # crash-window discipline (commit order: index → pairs → seen):
    # the pairs commit is stamped with a token deterministic in the
    # processed slice, so a resume that re-derives the SAME slice
    # (crash before the seen append) skips the duplicate pairs commit
    # and just completes the seen append; replayed index appends are
    # neutralized inside IncrementalLSHIndex.add.
    agg = docs.agg(
        F.count("*").alias("c"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    token = f"{agg['c']}:{agg['lo']}:{agg['hi']}"
    if n and pairs_tbl.latest_metrics().get("token") != token:
        pairs_tbl.append(out, metrics={"pairs": n, "token": token})
    seen_tbl.append(
        docs.select("doc_id", "phash"),
        metrics={"docs": int(agg["c"]), "payload_version": cur_v},
    )
    docs.unpersist()
    return out


def extract_from_frontier(
    spark: SparkSession,
    workdir: str,
    items_to_extract: list[str] | None = None,
    remove_tables: bool = True,
    include_signature: bool = False,
    filing_types: list[str] | None = None,
    skip_extracted: bool = True,
    drop_near_dups: bool = False,
) -> int:
    """Stage 2 over the ENGINE's own state tables — the Spark-first
    chaining (the folder-of-files path exists for reference interchange;
    this one never materializes per-row files):

        payload.bytes ──decode(backslashreplace)──┐
        log (fetched, metadata cols)──────────────┴─► T1–T14 kernel
            → long-form rows appended to the ``extracted`` snapshot
              table; J5 skip = anti-join against that table.

    The payload side carries the bytes, so the slim metadata side
    broadcasts into it (never the reverse — the r02 AQE mis-broadcast
    class). Returns the newly-extracted long-form DataFrame (None when
    nothing new), already committed.
    """
    from edgar_crawler_spark.extract.spark_extract import (
        METADATA_COLS,
        extract_records,
        items_long,
    )
    from edgar_crawler_spark.frontier.frontier import fetched_filings
    from edgar_crawler_spark.frontier.state import SnapshotTable
    from edgar_crawler_spark.sources.raw_scan import decode_content

    log_tbl = SnapshotTable(os.path.join(workdir, "log"))
    payload_tbl = SnapshotTable(os.path.join(workdir, "payload"))
    extracted_tbl = SnapshotTable(os.path.join(workdir, "extracted"))
    log = log_tbl.read(spark)
    # incremental consumption of the BYTES side: the extracted
    # manifest records the payload version last processed, so a re-run
    # scans only files appended since (read_since). The watermark is
    # keyed by the FILTER SIGNATURE: rows below the watermark that a
    # prior run filtered OUT (type filter, dedup pruning) are not in
    # the extracted table, so only a run under the SAME filters may
    # skip them — a different filter config falls back to the full
    # read, where the filename anti-join is the exact gate.
    payload_v = payload_tbl.current_version()
    filter_sig = f"{sorted(filing_types) if filing_types else None}|{bool(drop_near_dups)}"
    prev_metrics = extracted_tbl.latest_metrics()
    last_v = (
        prev_metrics.get("payload_version", 0)
        if skip_extracted and prev_metrics.get("filter_sig") == filter_sig
        else 0
    )
    try:
        payload = (
            payload_tbl.read_since(spark, last_v)
            if last_v
            else payload_tbl.read(spark)
        )
    except ValueError:
        payload = payload_tbl.read(spark)
    if log is None or payload is None:
        return 0

    md = fetched_filings(log)
    if filing_types:
        md = md.filter(F.col("Type").isin(list(filing_types)))
    if skip_extracted:
        prev = extracted_tbl.read(spark)
        if prev is not None:
            md = md.join(
                prev.select("filename").dropDuplicates(), "filename", "left_anti"
            )
    slim = md.select("image_id", *METADATA_COLS)
    if drop_near_dups:
        # extract only near-dup cluster REPRESENTATIVES: pairs from the
        # --caption-dedup pass → components → drop non-minimum members
        # (pruned from the slim work-list, which also gates the decode
        # below — duplicate bytes never reach the Python workers)
        from edgar_crawler_spark.operators.dedup import connected_components

        pairs = SnapshotTable(os.path.join(workdir, "near_dup_pairs")).read(spark)
        if pairs is not None:
            comps = connected_components(
                pairs.select("doc_a", "doc_b").dropDuplicates()
            )
            losers = comps.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias("image_id")
            )
            slim = slim.join(losers.hint("shuffle_hash"), "image_id", "left_anti")

    # Arrow-boundary discipline (repo pattern): only (image_id, bytes)
    # crosses into Python; the decoded content joins back to the
    # JVM-side metadata — bytes never round-trip a second time. The
    # payload is pruned to the surviving work-list FIRST, so bytes of
    # skipped/filtered/deduped docs never reach the Python workers.
    todo = payload.select("image_id", "bytes").join(
        slim.select("image_id").dropDuplicates(), "image_id", "left_semi"
    )
    # explicit repartition: the semi-join shuffle upstream of the
    # decode mapInPandas is AQE-coalescible by byte size, which would
    # strangle the CPU-bound Python stage (repo rule — CLAUDE.md)
    todo = todo.repartition(spark.sparkContext.defaultParallelism * 2)
    decoded = decode_content(todo)
    work = decoded.join(F.broadcast(slim), "image_id")

    # upper-bound row count for the extraction stage, which caps its
    # partitions at one per document: metadata-only (no bytes, no
    # Python), so the count is cheap
    n_work = slim.count()
    records = extract_records(
        work,
        items_to_extract=items_to_extract,
        remove_tables=remove_tables,
        include_signature=include_signature,
        n_docs=n_work,
    )
    long_rows = items_long(records).persist()
    n = long_rows.count()
    if n:
        extracted_tbl.append(
            long_rows,
            metrics={
                "rows": n,
                "payload_version": payload_v,
                "filter_sig": filter_sig,
            },
        )
    long_rows.unpersist()
    return n
