"""Benchmark harness: headline catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the
frontier fetch-scheduler throughput (URLs/s) on a synthetic seed list.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "frontier": {...}}

Every query is materialized through the noop sink (full compute, no
collect-to-driver skew). Politeness runs on the virtual clock so the
throughput number measures the scheduler, not deliberate sleeping.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from edgar_crawler_spark.catalog import CATALOG  # noqa: E402
from edgar_crawler_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "flagship_frontier_pipeline",
    "a5_agg_summary",
    "j2_anti_join_dedup",
    "a6_argmax_per_group",
    "a3_per_host_rank",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "text_quality_score",
    "text_fingerprint",
    "ev_sessionize",
    "ev_tumbling_hourly",
]

FRONTIER_URLS = int(os.environ.get("SPARK_GRAFT_FRONTIER_URLS", "100000"))

# Steal canary (r04 VERDICT item 1): the pure-SQL headline queries share
# ZERO code with the frontier/codec paths, so their total wall vs the
# best ever recorded on this config is a machine-adjudicable ambient-load
# gauge. ratio ~1.0 = quiet VM; ~1.35 = the documented steal regime —
# read frontier/extraction numbers in that light. Reference best:
# BENCH_r03 (sf0.1, local[32]) pure-SQL total = 12.058 - 1.064 flagship.
CANARY_QUERIES = [q for q in HEADLINE if q != "flagship_frontier_pipeline"]
CANARY_BEST = {(0.1, 32): 10.994}


def bench_frontier(spark, n: int) -> dict:
    from edgar_crawler_spark.fixtures.seed_index import seed_index_df
    from edgar_crawler_spark.frontier.frontier import CrawlFrontier

    wd = tempfile.mkdtemp(prefix="bench_frontier_")
    try:
        fr = CrawlFrontier(spark, wd, rate_per_host=10.0, virtual_clock=True, wave_quota=10**9)
        seed = seed_index_df(spark, n, n_hosts=256, hot_host=False)
        t0 = time.time()
        admitted = fr.submit(seed)
        fr.run()
        wall = time.time() - t0
        fetched = sum(m["fetched"] for m in fr.metrics)
        return {
            "n_urls": admitted,
            "fetched": fetched,
            "wall_s": round(wall, 3),
            "urls_per_s": round(fetched / wall, 1) if wall > 0 else 0.0,
        }
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def bench_fetch_job(spark, n: int, n_hosts: int = 4096) -> dict:
    """Pure fetch-scheduler throughput as ONE distributed job (the
    per-wave snapshot commits are a constant amortized by wave size at
    10^10 scale and are measured separately by bench_frontier):
    seed → canonicalize/hash → per-host priority → token-bucketed fetch
    → Arrow decode+validate → noop sink."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.fixtures.seed_index import seed_index_df
    from edgar_crawler_spark.frontier.canonical import with_url_identity
    from edgar_crawler_spark.frontier.fetch import fetch_wave
    from edgar_crawler_spark.frontier.priority import with_priority

    seed = seed_index_df(spark, n, n_hosts=n_hosts, hot_host=False)
    work = with_priority(with_url_identity(seed).withColumn("attempts_total", F.lit(0)))
    # decode/validate fused into the fetch pass: bytes cross the Arrow
    # boundary once, no second Python stage, no byte shuffle
    fetched = fetch_wave(work, rate_per_host=10.0, virtual_clock=True)
    validated = fetched.select(
        "canonical_url", "row_seq", "bytes", "caption", "w", "h", "fmt", "phash", "decode_ok"
    )
    t0 = time.time()
    validated.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    return {
        "n_urls": n,
        "n_hosts": n_hosts,
        "wall_s": round(wall, 3),
        "urls_per_s": round(n / wall, 1) if wall > 0 else 0.0,
    }


def bench_extraction(spark) -> dict:
    """Distributed extraction throughput (docs/s) over the reference's
    553-file 8-K golden corpus via extract_records (mapInPandas). The
    reference's envelope is ProcessPool(processes=1) — one document at
    a time (extract_items.py:1255)."""
    import zipfile

    import numpy as np
    import pandas as pd

    fix = "/root/reference/tests/fixtures"
    try:
        meta_df = pd.read_csv(f"{fix}/FILINGS_METADATA_TEST.csv", dtype=str)
        zr = zipfile.ZipFile(f"{fix}/RAW_FILINGS/8-K.zip")
    except (FileNotFoundError, OSError):
        return {"skipped": "reference fixtures unavailable"}
    from edgar_crawler_spark.extract.spark_extract import extract_records

    meta_df = meta_df[meta_df["Type"] == "8-K"].replace({np.nan: None})
    meta = {r["filename"]: dict(r) for _, r in meta_df.iterrows()}
    rows = []
    for name in zr.namelist():
        if not name.endswith((".htm", ".txt")):
            continue
        fname = name.split("/", 1)[1]
        if fname not in meta:
            continue
        md = dict(meta[fname])
        md["content"] = zr.read(name).decode("utf-8", "backslashreplace")
        rows.append(md)
    # Stage the corpus through parquet written DRIVER-side (pyarrow, no
    # Spark job): a parallelized createDataFrame ships ~2 MB of document
    # text inside EVERY task binary (the "task of very large size"
    # warnings in the r03/r04 bench tails) — tasks must carry file
    # splits, exactly as a real table-backed extraction job would.
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus_dir = tempfile.mkdtemp(prefix="bench_extr_corpus_")
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False),
        os.path.join(corpus_dir, "corpus.parquet"),
        row_group_size=64,
    )
    df = spark.read.parquet(corpus_dir).persist()
    n = df.count()
    t0 = time.time()
    extract_records(df, remove_tables=True, n_docs=n).write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    df.unpersist()
    shutil.rmtree(corpus_dir, ignore_errors=True)
    return {
        "n_docs": n,
        "wall_s": round(wall, 3),
        "docs_per_s": round(n / wall, 1) if wall > 0 else 0.0,
    }


def bench_caption_dedup(spark, n: int, batches: int = 2) -> dict:
    """Incremental caption+phash near-dup pass throughput (rows/s):
    synthesize a payload snapshot of n rows with engineered duplicate
    clusters, ingest in ``batches`` slices through
    caption_near_dups_from_frontier (caption MinHash-LSH index +
    incremental Hamming), report rows/s over the whole run."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.frontier.state import SnapshotTable
    from edgar_crawler_spark.plans.pipeline import caption_near_dups_from_frontier

    wd = tempfile.mkdtemp(prefix="bench_capdedup_")
    try:
        per = n // batches
        wall = 0.0
        pairs = 0
        for b in range(batches):
            # mostly-unique captions/hashes; every 20th row joins a
            # 5-member duplicate cluster (realistic dup density — the
            # bench must measure the pass, not pair-output volume)
            base = F.when(
                F.col("id") % 20 == 0, (F.col("id") / 100).cast("long") * 100
            ).otherwise(F.col("id"))
            # caption tokens are ALL base-derived (no shared scaffold
            # words): distinct captions have near-zero Jaccard, so the
            # pair volume is the engineered dup clusters, not banding
            # noise from a synthetic shared vocabulary
            rows = spark.range(b * per, (b + 1) * per).select(
                F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
                F.concat(
                    F.lit("s"), base.cast("string"),
                    F.lit(" l"), (base % 997).cast("string"),
                    F.lit(" c"), (base % 31).cast("string"),
                    F.lit(" q"), (base % 13).cast("string"),
                    F.lit(" z"), (base % 7).cast("string"),
                ).alias("caption"),
                (base * F.lit(2654435761)).alias("phash"),
            )
            SnapshotTable(os.path.join(wd, "payload")).append(rows)
            t0 = time.time()
            out = caption_near_dups_from_frontier(spark, wd)
            pairs += out.count() if out is not None else 0
            wall += time.time() - t0
        return {
            "n_rows": per * batches,
            "batches": batches,
            "pairs": pairs,
            "wall_s": round(wall, 3),
            "rows_per_s": round(per * batches / wall, 1) if wall > 0 else 0.0,
        }
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if len(sys.argv) > 1 and sys.argv[1] == "caption-dedup":
        n = int(os.environ.get("SPARK_GRAFT_CAPTION_ROWS", "100000"))
        spark = get_spark(
            app_name="edgar-crawler-spark-capdedup-bench",
            master=f"local[{cpus}]",
            shuffle_partitions=max(cpus, 8),
        )
        bench_caption_dedup(spark, 2000)  # warmup
        out = bench_caption_dedup(spark, n)
        out.update({"metric": "caption_dedup_throughput", "unit": "rows_per_s", "cpus": cpus})
        print(json.dumps(out))
        spark.stop()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "fetch-job":
        n = int(os.environ.get("SPARK_GRAFT_FETCH_URLS", "400000"))
        spark = get_spark(
            app_name="edgar-crawler-spark-fetch-bench",
            master=f"local[{cpus}]",
            shuffle_partitions=max(cpus, 8),
        )
        bench_fetch_job(spark, 2000, n_hosts=64)  # warmup
        out = bench_fetch_job(spark, n)
        out.update({"metric": "frontier_fetch_throughput", "unit": "urls_per_s", "cpus": cpus})
        print(json.dumps(out))
        spark.stop()
        return
    spark = get_spark(
        app_name="edgar-crawler-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    # JVM warmup: run every headline query once at the smallest SF so
    # the sf0.1 timings measure the plan, not first-run whole-stage
    # codegen compilation + shuffle-service init (measured 2-2.6×
    # inflation on the first execution of a query shape)
    for name in HEADLINE:
        CATALOG[name][0](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()

    # median-of-3 discipline: this VM steals 17–47% CPU, so single-shot
    # wall times swing ±25% run to run. Each metric reports the median
    # of 3 full passes plus {min, max} spread, so a reader can tell a
    # real regression from scheduler noise.
    REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def med(xs: list[float]) -> float:
        return sorted(xs)[len(xs) // 2]

    def spread(xs: list[float]) -> dict:
        return {"median": med(xs), "min": min(xs), "max": max(xs)}

    per_query: dict[str, list[float]] = {name: [] for name in HEADLINE}
    pass_totals: list[float] = []
    for _ in range(REPS):
        pass_total = 0.0
        for name in HEADLINE:
            fn = CATALOG[name][0]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            per_query[name].append(dt)
            pass_total += dt
        pass_totals.append(round(pass_total, 3))
    queries = {name: med(ts) for name, ts in per_query.items()}

    bench_frontier(spark, 2000)  # python-worker/imaging warmup (steady-state measure)
    frontier_runs = [bench_frontier(spark, FRONTIER_URLS) for _ in range(REPS)]
    frontier = min(frontier_runs, key=lambda r: abs(r["urls_per_s"] - med([x["urls_per_s"] for x in frontier_runs])))
    bench_extraction(spark)  # extractor-import warmup
    extraction_runs = [bench_extraction(spark) for _ in range(REPS)]
    extraction = min(extraction_runs, key=lambda r: abs(r["docs_per_s"] - med([x["docs_per_s"] for x in extraction_runs])))
    total = med(pass_totals)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_num = float(sf) if sf.replace(".", "").isdigit() else None
    canary_total = min(
        sum(per_query[q][i] for q in CANARY_QUERIES) for i in range(REPS)
    )
    canary_ref = CANARY_BEST.get((sf_num, cpus))
    canary = {
        "pure_sql_total_best": round(canary_total, 3),
        "reference_best": canary_ref,
        "ratio": round(canary_total / canary_ref, 3) if canary_ref else None,
    }
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": cpus,
                "frontier": frontier,
                "extraction": extraction,
                "canary": canary,
                "reps": REPS,
                "spread": {
                    "headline_total_wall": spread(pass_totals),
                    "frontier_urls_per_s": spread(
                        [r["urls_per_s"] for r in frontier_runs]
                    ),
                    "extraction_docs_per_s": spread(
                        [r["docs_per_s"] for r in extraction_runs]
                    ),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
