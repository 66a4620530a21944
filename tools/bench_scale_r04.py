"""Scaling/pruning evidence for the round-4 components (north_rule:
same job at two parallelism levels on the same input).

Usage:
  python tools/bench_scale_r04.py lsh-ingest <cpus>   # partitioned index ingestion docs/s
  python tools/bench_scale_r04.py kmeans <cpus>       # broadcast-centroid k-means rows/s

Each invocation is one fresh Spark session and prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

# honest core-scaling: numpy's BLAS must not multithread under the
# Spark workers (local[2] would silently use more than 2 cores)
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

sys.path.insert(0, ".")

import pyspark.sql.functions as F  # noqa: E402

from edgar_crawler_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def _docs(spark, copies: int):
    """documents × copies with disjoint ids; text perturbed per copy so
    cross-copy rows are near- but not exact-duplicates (realistic LSH
    bucket sizes — exact replication would overload every bucket)."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    out = None
    for c in range(copies):
        part = d.select(
            (F.col("doc_id") + F.lit(c * 1_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copytag{c}")).alias("text"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def lsh_ingest(cpus: int) -> dict:
    """Marginal ingestion throughput: ONE 200k-doc batch added to an
    index seeded with a prior 10k-doc batch (signing + touched-bucket
    join + partitioned commit — the steady-state daily-slice shape)."""
    from edgar_crawler_spark.operators.dedup import IncrementalLSHIndex

    spark = get_spark(
        app_name=f"lsh-ingest-{cpus}", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    docs = _docs(spark, 42).persist()
    seed = docs.filter(F.col("doc_id") < 2_000_000).persist()   # 2 copies = 10k
    batch = docs.filter(F.col("doc_id") >= 2_000_000).persist() # 40 copies = 200k
    n = batch.count()
    seed.count()
    idx = IncrementalLSHIndex(spark, tempfile.mkdtemp() + "/lsh")
    idx.add(seed)  # corpus state + python-worker warmup
    t0 = time.time()
    pairs = idx.add(batch).count()
    wall = time.time() - t0
    spark.stop()
    return {
        "metric": "lsh_index_ingest",
        "cpus": cpus,
        "n_docs": n,
        "pairs": pairs,
        "wall_s": round(wall, 2),
        "docs_per_s": round(n / wall, 1),
    }


def kmeans(cpus: int) -> dict:
    from edgar_crawler_spark.operators.similarity import kmeans_refine

    spark = get_spark(
        app_name=f"kmeans-{cpus}", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    copies = 512  # 1.02M rows; explode keeps the lineage one node deep
    big = (
        e.select(
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("c"),
        )
        .select(
            (F.col("vec_id") + F.col("c") * 100_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.col("c").cast("double") * F.lit(1e-4)
            ).alias("embedding"),
        )
        .repartition(max(cpus * 2, 8))
        .persist()
    )
    n = big.count()
    kmeans_refine(big.limit(2000), n_cells=1024, dim=64, iterations=1)[1].count()  # warm
    t0 = time.time()
    _, assigned = kmeans_refine(big, n_cells=1024, dim=64, iterations=2)
    n_assigned = assigned.count()
    wall = time.time() - t0
    spark.stop()
    return {
        "metric": "kmeans_broadcast_1024c",
        "cpus": cpus,
        "n_rows": n,
        "n_assigned": n_assigned,
        "iterations": 2,
        "wall_s": round(wall, 2),
        "rows_per_s": round(n * 3 / wall, 1),  # 2 train passes + 1 final assign
    }


def kmeans_mb(cpus: int, copies: int = 512) -> dict:
    """Mini-batch trainer at copies×~2k rows / 1024 cells: 5 hash-
    sampled rounds (fraction 0.05) + ONE full assignment — the 10^9-row
    training shape (vs 'kmeans' mode's full Lloyd passes).  rows/s
    counts rows actually scanned by Python kernels:
    n × (iterations × fraction + 1).  copies=512 ≈ 1M rows (the r04s3
    barrier-bound regime); copies=5120 ≈ 10M is the scan-bound regime.
    The corpus is WRITTEN TO PARQUET and read back (the production
    input shape) — an earlier version persisted the generation frame
    AND let the trainer checkpoint it, holding the corpus TWICE in the
    block store: at 10M × 64 doubles that blows the 16g heap into
    spill+GC (checkpoint materialize 15 s → 209 s measured) and the
    walls stop measuring the trainer at all."""
    from edgar_crawler_spark.operators.similarity import kmeans_refine_minibatch

    spark = get_spark(
        app_name=f"kmeansmb-{cpus}", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # repartition the SMALL pre-explode side so generation parallelizes
    # (exploding from the 1-file scan pins a 10M-row 5 GB stage to one
    # task and then needs a full post-explode shuffle — measured
    # single-core-bound at copies=5120)
    big = (
        e.repartition(max(cpus * 2, 8))
        .select(
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("c"),
        )
        .select(
            (F.col("vec_id") + F.col("c") * 100_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.col("c").cast("double") * F.lit(1e-4)
            ).alias("embedding"),
        )
    )
    path = tempfile.mkdtemp() + "/kmb_corpus"
    big.write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    n = corpus.count()
    iterations, fraction = 5, 0.05
    kmeans_refine_minibatch(
        corpus.limit(2000), n_cells=1024, dim=64, iterations=1, fraction=0.5
    )[1].count()  # warm
    t0 = time.time()
    _, assigned = kmeans_refine_minibatch(
        corpus, n_cells=1024, dim=64, iterations=iterations, fraction=fraction
    )
    n_assigned = assigned.count()
    wall = time.time() - t0
    spark.stop()
    return {
        "metric": "kmeans_minibatch_1024c",
        "cpus": cpus,
        "n_rows": n,
        "n_assigned": n_assigned,
        "iterations": iterations,
        "fraction": fraction,
        "wall_s": round(wall, 2),
        "rows_per_s": round(n * (iterations * fraction + 1) / wall, 1),
    }


def assign(cpus: int) -> dict:
    """Marginal quantizer-application throughput (the per-row scan that
    dominates at serving/ingest time, no train-loop barriers): one
    assign pass over 1M checkpointed rows at n_cells=1024."""
    from edgar_crawler_spark.operators.similarity import (
        assign_cells_broadcast,
        ivf_centroids,
    )

    spark = get_spark(
        app_name=f"assign-{cpus}", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    copies = 512
    big = (
        e.select(
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("c"),
        )
        .select(
            (F.col("vec_id") + F.col("c") * 100_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.col("c").cast("double") * F.lit(1e-4)
            ).alias("embedding"),
        )
        .repartition(cpus * 2)
        .localCheckpoint()
    )
    n = big.count()
    cents = [[float(x) for x in c] for c in ivf_centroids(1024, 64)]
    assign_cells_broadcast(big.limit(4000), cents, repartition=False).count()  # warm
    walls = []
    for _ in range(3):
        t0 = time.time()
        assign_cells_broadcast(big, cents, repartition=False).count()
        walls.append(time.time() - t0)
    wall = sorted(walls)[1]
    spark.stop()
    return {
        "metric": "quantizer_assign_1024c",
        "cpus": cpus,
        "n_rows": n,
        "wall_s": round(wall, 2),
        "rows_per_s": round(n / wall, 1),
    }


def thumb(cpus: int, n: int = 4000) -> dict:
    """DC-thumbnail hash vs full-decode hash throughput over real-size
    JPEGs (128x128, half baseline 4:2:0 / half progressive — the
    corpus-scale dedup decision: what does the hash pass cost?)."""
    from edgar_crawler_spark.operators.multimodal import (
        decode_and_validate,
        thumbnail_phash,
    )

    spark = get_spark(
        app_name=f"thumb-{cpus}", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from edgar_crawler_spark.functions.jpegcodec import encode_jpeg
        from edgar_crawler_spark.functions.jpegprog import encode_jpeg_progressive

        for pdf in batches:
            out = {"image_id": [], "bytes": []}
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng(i)
                base = rng.integers(0, 256, size=(16, 16, 3)).astype(np.float64)
                px = np.clip(
                    np.kron(base, np.ones((8, 8, 1))) + rng.normal(0, 6, (128, 128, 3)),
                    0,
                    255,
                ).astype(np.uint8)
                enc = encode_jpeg_progressive if i % 2 else encode_jpeg
                out["image_id"].append(f"img{i:06d}")
                out["bytes"].append(enc(px, quality=90, subsampling="4:2:0"))
            yield pd.DataFrame(out)

    src = (
        spark.range(n)
        .repartition(cpus * 2)
        .mapInPandas(gen, "image_id string, bytes binary")
        .localCheckpoint()
    )
    n_rows = src.count()
    thumbnail_phash(src.limit(100)).count()  # python-worker warmup
    t0 = time.time()
    thumbnail_phash(src, num_partitions=cpus * 2).count()
    thumb_wall = time.time() - t0
    t0 = time.time()
    decode_and_validate(src, num_partitions=cpus * 2).count()
    full_wall = time.time() - t0
    spark.stop()
    return {
        "metric": "thumb_hash_128px",
        "cpus": cpus,
        "n_rows": n_rows,
        "thumb_wall_s": round(thumb_wall, 2),
        "thumb_imgs_per_s": round(n_rows / thumb_wall, 1),
        "full_wall_s": round(full_wall, 2),
        "full_imgs_per_s": round(n_rows / full_wall, 1),
        "speedup": round(full_wall / thumb_wall, 2),
    }


def probe(cpus: int, n: int = 20000) -> dict:
    """Metadata-integrity pass: JVM header probe
    (multimodal.image_header_probe — substring/hex/conv expressions,
    zero Python) vs the Arrow+decode kernel (decode_and_validate) over
    the same mixed-format payload corpus, read from parquet (the
    production shape — the probe's point is that it rides the scan).
    The ratio is what a 10^10-row "does the metadata match the bytes"
    audit saves by staying out of Python."""
    from edgar_crawler_spark.fixtures.payload import payload_df
    from edgar_crawler_spark.operators.multimodal import (
        decode_and_validate,
        image_header_probe,
    )

    spark = get_spark(
        app_name=f"probe-{cpus}", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    path = os.path.join(tempfile.gettempdir(), f"probe_corpus_{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        payload_df(spark, n).write.mode("overwrite").parquet(path)
    src = spark.read.parquet(path)
    n_rows = src.count()
    probe_df = image_header_probe(src).select(
        F.count("*").alias("n"),
        F.sum(
            (
                (F.col("fmt_sniffed") == F.col("fmt"))
                & (F.col("hdr_w").isNull() | (F.col("hdr_w") == F.col("w")))
            ).cast("long")
        ).alias("consistent"),
    )
    decode_and_validate(src.limit(64)).count()  # python-worker warmup
    probe_df.collect()  # codegen warmup
    t0 = time.time()
    row = probe_df.collect()[0]
    probe_wall = time.time() - t0
    t0 = time.time()
    decode_and_validate(src, num_partitions=cpus * 2).filter(
        F.col("decode_ok") == "ok"
    ).count()
    full_wall = time.time() - t0
    spark.stop()
    return {
        "metric": "header_probe_vs_decode",
        "cpus": cpus,
        "n_rows": n_rows,
        "consistent": int(row["consistent"]),
        "probe_wall_s": round(probe_wall, 2),
        "probe_rows_per_s": round(n_rows / probe_wall, 1),
        "decode_wall_s": round(full_wall, 2),
        "decode_rows_per_s": round(n_rows / full_wall, 1),
        "speedup": round(full_wall / probe_wall, 2),
    }


def main():
    mode = sys.argv[1]
    if mode == "lsh-ingest":
        print(json.dumps(lsh_ingest(int(sys.argv[2]))))
    elif mode == "kmeans":
        print(json.dumps(kmeans(int(sys.argv[2]))))
    elif mode == "kmeans-mb":
        copies = int(sys.argv[3]) if len(sys.argv) > 3 else 512
        print(json.dumps(kmeans_mb(int(sys.argv[2]), copies)))
    elif mode == "assign":
        print(json.dumps(assign(int(sys.argv[2]))))
    elif mode == "ivf-index":
        print(json.dumps(ivf_index(int(sys.argv[2]))))
    elif mode == "thumb":
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 4000
        print(json.dumps(thumb(int(sys.argv[2]), n)))
    elif mode == "probe":
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 20000
        print(json.dumps(probe(int(sys.argv[2]), n)))
    else:
        raise SystemExit(f"unknown mode {mode}")





def ivf_index(cpus: int) -> dict:
    """Persisted-IVF-index shape at 1M vectors, n_cells=1024 over the
    index layout's INDEX_BUCKETS hive buckets: ingest in 4 batches,
    then serve a 10-query batch and report the planned-bytes pruning
    ratio."""
    import glob
    import os as _os

    from edgar_crawler_spark.operators.similarity import (
        IncrementalIVFIndex,
        ivf_centroids,
    )

    spark = get_spark(
        app_name=f"ivfidx-{cpus}", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    copies = 512
    big = (
        e.select(
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("c"),
        )
        .select(
            (F.col("vec_id") + F.col("c") * 100_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.col("c").cast("double") * F.lit(1e-4)
            ).alias("embedding"),
        )
        .repartition(cpus * 2)
        .localCheckpoint()
    )
    n = big.count()
    cents = [[float(x) for x in c] for c in ivf_centroids(1024, 64)]
    path = tempfile.mkdtemp() + "/ivf"
    idx = IncrementalIVFIndex(spark, path, cents=cents)
    t0 = time.time()
    for i in range(4):
        idx.add(big.filter(F.col("vec_id") % 4 == i))
    ingest_wall = time.time() - t0
    queries = big.filter(F.col("vec_id") < 10)
    idx.topk(queries, k=5, nprobe=4).count()  # warm
    walls = []
    for _ in range(3):
        t0 = time.time()
        idx.topk(queries, k=5, nprobe=4).count()
        walls.append(time.time() - t0)

    def tree_bytes(dirs):
        return sum(
            _os.path.getsize(f)
            for d in dirs
            for f in glob.glob(_os.path.join(d, "*.parquet"))
        )

    probes = idx.vectors
    all_leafs = {
        _os.path.dirname(f) for f in glob.glob(path + "/vectors/data/*/kb=*/*.parquet")
    }
    # touched partitions for this query batch (recompute like topk does)
    from edgar_crawler_spark.operators.dedup import INDEX_BUCKETS
    from edgar_crawler_spark.operators.similarity import assign_cells_broadcast

    cells = sorted(
        int(r.c)
        for r in assign_cells_broadcast(queries, cents, nprobe=4)
        .select(F.explode("cells").alias("c"))
        .distinct()
        .collect()
    )
    touched = probes.pruned_paths("kb", sorted({c % INDEX_BUCKETS for c in cells}))
    ratio = round(tree_bytes(touched) / max(1, tree_bytes(all_leafs)), 3)
    spark.stop()
    return {
        "metric": "ivf_index_1m",
        "cpus": cpus,
        "n_rows": n,
        "ingest_wall_s": round(ingest_wall, 2),
        "ingest_rows_per_s": round(n / ingest_wall, 1),
        "serve_wall_s_median": round(sorted(walls)[1], 2),
        "planned_bytes_ratio": ratio,
    }


if __name__ == "__main__":
    main()
