"""Similarity search over an embedding column (array<float>).

* ``brute_force_topk``   — exact cosine top-k: query×candidate join,
  dot products via zip_with/aggregate (JVM higher-order functions, no
  Python), window top-k. O(Q·N) — the correctness baseline.
* ``lsh_bucketed_topk``  — the scale path: random-hyperplane LSH.
  Each vector gets a ``bucket`` = sign bits of dots with a fixed ±1
  hyperplane matrix; candidates are joined per bucket only. At 100 TB
  the bucket join replaces the full cross join with a key-equality
  shuffle; recall is tuned by n_planes (fewer planes → bigger buckets).

Determinism: the hyperplane matrix is a pure function of
(n_planes, dim) — the same literals are injected into the DuckDB
oracle, so results match exactly.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from edgar_crawler_spark.operators.dedup import INDEX_BUCKETS, BucketedTable
from edgar_crawler_spark.operators.fanout import fanout

#: n_cells × dim above which the literal-expression quantizer plan is
#: refused and the broadcast path is used instead.  A literal plan embeds
#: every centroid component as an ``F.lit`` node — at real IVF cell
#: counts (k ≈ √N → 10⁴–10⁵ cells at 100 TB) that is 10⁶+ expression
#: nodes: the plan cannot analyze, the task binaries balloon, and
#: codegen gives up.  The broadcast path ships the centroids ONCE per
#: executor as a numpy matrix instead.  1000 terms keeps every literal
#: task binary under Spark's 1000 KiB recommendation (1024 terms
#: measured 1.13 MiB — the "broadcasting large task binary" warnings
#: in the r04 bench tail); the 512-term (8-cell × 64-dim) oracled
#: catalog rows keep their bit-exact literal plans.
LITERAL_PLAN_MAX_TERMS = 1000


def hyperplanes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 matrix (no RNG: pure index arithmetic)."""
    return [
        [1 if ((d * (j + 3) + 7 * j + d // 7) % 5) < 2 else -1 for d in range(dim)]
        for j in range(n_planes)
    ]


def _dot(a: Column, b: Column) -> Column:
    # NB (r06): a flat per-element expansion (a[0]*b[0] + …) was
    # measured 2-5× SLOWER than this fold at dim 64 — the expression
    # chains break whole-stage codegen (janino method-size limits,
    # MiB-scale task binaries) and fall back to interpreted eval with
    # hundreds of nodes per pair, while the fold is one node whose
    # lambda runs a tight loop. Keep the fold.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k neighbours for each query id.
    Returns (query_id, neighbor_id, rnk, cos).

    r06: per-row norms are computed ONCE per side before the Q×N join
    (identical arithmetic — dot/(‖q‖·‖c‖) with the same fold order —
    but ‖·‖ per row instead of per pair: 2Q fewer folds per candidate),
    and a narrow scan fans out so the pair scoring isn't serial.
    Together 3.2 s → 0.45 s at sf1.0/local[32]."""
    base = fanout(emb)
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("cos", 4).alias("cos"))
    )


def bucket_col(vec: Column, planes: list[list[int]]) -> Column:
    """LSH bucket id = Σ_j (dot(v, plane_j) > 0) << j."""
    out = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        dot_j = _dot(vec, F.array(*[F.lit(float(x)) for x in p]))
        out = out + F.when(dot_j > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def lsh_bucketed_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket. Same output shape as brute_force_topk. Norms precomputed
    per side + narrow-scan fanout (see :func:`brute_force_topk`):
    1.4 s → 0.8 s at sf1.0/local[32]."""
    planes = hyperplanes(n_planes, dim)
    withb = fanout(emb).withColumn("bucket", bucket_col(F.col(vec_col), planes))
    q = withb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("qv"),
        "bucket",
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = withb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "bucket",
        _norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        q.join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("cos", 4).alias("cos"))
    )


def ivf_centroids(n_cells: int, dim: int) -> list[list[int]]:
    """Deterministic integer coarse centroids (pure index arithmetic —
    a trained k-means would slot in identically; only direction
    matters for assignment)."""
    return [
        [((d * (c + 2) + 11 * c + d // 5) % 7) - 3 for d in range(dim)]
        for c in range(n_cells)
    ]


def _cell_col(vec: Column, cents: list[list[int]]) -> Column:
    """argmax_c dot(v, centroid_c); ties → lowest cell index."""
    # NB: keep the FOLD form here — these dot subtrees are duplicated
    # across the argmax CASE chain (dots[j] appears in every branch
    # alongside `best`, which itself embeds all of them), so a flat
    # per-element expansion multiplies the plan by cells×dim: measured
    # 22 MiB task binaries + janino method-size compile failures at
    # 16×64. One fold node per dot keeps the tree bounded.
    dots = [
        _dot(vec, F.array(*[F.lit(float(x)) for x in c])) for c in cents
    ]
    best = F.greatest(*dots)
    cell = F.lit(len(cents) - 1).cast("int")
    for j in range(len(cents) - 2, -1, -1):
        cell = F.when(dots[j] == best, F.lit(j)).otherwise(cell)
    return cell


def _probe_cells_col(vec: Column, cents: list[list[int]], nprobe: int) -> Column:
    """Array of the nprobe best cell ids for a query vector, ranked by
    centroid dot product (ties → lower index), as a JVM-side
    sort_array over (−dot, index) structs — no Python."""
    entries = F.array(
        *[
            F.struct(
                (-_dot(vec, F.array(*[F.lit(float(x)) for x in c]))).alias("nd"),
                F.lit(j).cast("int").alias("j"),
            )
            for j, c in enumerate(cents)
        ]
    )
    ranked = F.sort_array(entries)  # ascending (−dot, j) == dot desc, j asc
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["j"])


def assign_cells_broadcast(
    emb: DataFrame,
    cents: list[list[float]],
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    repartition: bool = True,
) -> DataFrame:
    """Scale path for coarse quantization: the centroid matrix goes out
    as ONE ``sc.broadcast`` numpy array (bytes per executor, not per
    task, not per plan node) and a ``mapInPandas`` kernel computes the
    ``nprobe`` best cells per vector per Arrow batch.  Returns
    ``(id_col, cells array<int>, scores array<double>)`` with cells
    ranked by centroid dot desc, index asc — the EXACT tie rule of
    :func:`_cell_col` / :func:`_probe_cells_col`.

    Bit-parity with the literal path: WHILE a literal twin exists
    (n_cells × dim ≤ :data:`LITERAL_PLAN_MAX_TERMS`) the kernel
    accumulates each dot in the same left-fold order as
    ``F.aggregate`` (one fused vectorized pass per dimension), so
    double-precision results are IEEE-identical to the literal plan
    and auto-routing cannot flip an argmax on a near-tie.  Above the
    threshold no literal plan can analyze, so there is nothing to be
    bit-equal to — the kernel switches to a BLAS matmul (same flops,
    ~an order of magnitude less memory traffic at 10³+ cells).

    Scale shape: O(batch × n_cells × dim) per batch, no shuffle, no
    row explosion; output is slim (id + nprobe ints + doubles) and is
    hash-joined back by the callers (project-minimal-then-join-back,
    the frontier/fetch.py pattern).
    """
    spark = emb.sparkSession
    mat = np.asarray(cents, dtype=np.float64)
    bc = spark.sparkContext.broadcast(mat)
    id_type = emb.schema[id_col].dataType.simpleString()
    n = int(nprobe)
    schema = f"{id_col} {id_type}, cells array<int>, scores array<double>"

    def kernel(batches):
        import pandas as pd

        m = bc.value  # (k, dim)
        k, dim = m.shape
        exact_fold = k * dim <= LITERAL_PLAN_MAX_TERMS
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (b, dim)
            acc = _dots_np(vs, m, exact_fold)
            if n == 1:
                best = acc.argmax(axis=1)  # ties → lowest index, no sort
                order = best[:, None]
                scores = acc[np.arange(len(pdf)), best][:, None]
            else:
                order = np.argsort(-acc, axis=1, kind="stable")[:, :n]  # ties → low idx
                scores = np.take_along_axis(acc, order, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cells": [r.astype("int32").tolist() for r in order],
                    "scores": [r.tolist() for r in scores],
                }
            )

    slim = emb.select(id_col, vec_col)
    if repartition:
        # explicit repartition: exempt the CPU-bound kernel from AQE
        # coalescing. Callers that already hold a balanced, materialized
        # input (kmeans_refine's checkpointed frame) pass False — a
        # fresh full shuffle of the vectors per pass would dominate the
        # kernel at large inputs
        slim = slim.repartition(spark.sparkContext.defaultParallelism)
    return slim.mapInPandas(kernel, schema)


def _dots_np(vs: np.ndarray, m: np.ndarray, exact_fold: bool) -> np.ndarray:
    """(b, k) dot matrix.  ``exact_fold`` reproduces ``F.aggregate``'s
    left-fold summation order bit-exactly (one fused pass per
    dimension) for parity with the literal plan; otherwise a BLAS
    matmul — same flops, far less memory traffic at large k."""
    if not exact_fold:
        return vs @ m.T
    acc = np.zeros((vs.shape[0], m.shape[0]), dtype=np.float64)
    for d in range(vs.shape[1]):
        acc += vs[:, d : d + 1] * m[:, d]
    return acc


def _kmeans_partials_broadcast(
    emb: DataFrame, cents: list[list[float]], vec_col: str = "v"
) -> DataFrame:
    """One k-means round's map side in a single Arrow pass: per batch,
    assign every vector to its argmax-dot cell (same fold-order dots
    and tie rule as :func:`assign_cells_broadcast`) and emit the
    BATCH-LOCAL partials ``(cell, cnt, sums array<double>)``.  The
    shuffle then carries at most partitions × k partial rows — the
    vectors themselves are never joined or re-shuffled.  Training
    means are float-summation-order dependent (true of any distributed
    mean, including Spark's own avg merge); assignment under GIVEN
    centroids stays the bit-exact operation.  Returns (partials_df,
    broadcast handle) — the caller unpersists the broadcast after its
    collect so per-round broadcasts don't accumulate over a training
    loop's lifetime."""
    spark = emb.sparkSession
    mat = np.asarray(cents, dtype=np.float64)
    bc = spark.sparkContext.broadcast(mat)

    def kernel(batches):
        import pandas as pd

        m = bc.value
        k, dim = m.shape
        exact_fold = k * dim <= LITERAL_PLAN_MAX_TERMS
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            acc = _dots_np(vs, m, exact_fold)
            cells = acc.argmax(axis=1)  # ties → lowest index
            cnt = np.bincount(cells, minlength=k)
            sums = np.zeros((k, dim), dtype=np.float64)
            np.add.at(sums, cells, vs)
            nz = np.flatnonzero(cnt)
            yield pd.DataFrame(
                {
                    "cell": nz.astype("int32"),
                    "cnt": cnt[nz].astype("int64"),
                    "sums": [sums[j].tolist() for j in nz],
                }
            )

    # no repartition: the caller hands a checkpointed, pre-balanced
    # frame (see assign_cells_broadcast's repartition note)
    return (
        emb.select(vec_col).mapInPandas(
            kernel, "cell int, cnt long, sums array<double>"
        ),
        bc,
    )


def _use_broadcast(cents: list[list[float]], broadcast_centroids: bool | None) -> bool:
    if broadcast_centroids is not None:
        return broadcast_centroids
    return len(cents) * len(cents[0]) > LITERAL_PLAN_MAX_TERMS


def _with_cell_broadcast(
    emb: DataFrame, cents: list[list[float]], vec_col: str, id_col: str = "vec_id"
) -> DataFrame:
    """emb + a ``cell`` column via the broadcast kernel.  The join-back
    carries an explicit shuffle_hash hint: the kernel output is a
    Python-map node whose size Catalyst mis-estimates from the slim
    child, and AQE would otherwise broadcast the wrong (possibly huge)
    side."""
    assign = assign_cells_broadcast(emb, cents, nprobe=1, vec_col=vec_col, id_col=id_col)
    slim = assign.select(id_col, F.col("cells")[0].alias("cell"))
    return emb.join(slim.hint("shuffle_hash"), on=id_col)


def kmeans_refine(
    emb: DataFrame,
    n_cells: int = 8,
    dim: int = 64,
    iterations: int = 2,
    vec_col: str = "embedding",
    broadcast_centroids: bool | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Spherical k-means from the deterministic :func:`ivf_centroids`
    seed — the 'trained quantizer' the IVF docstring promises. The
    assignment rule is IDENTICAL to :func:`_cell_col` (argmax centroid
    dot, ties → lowest cell); the update is mean-then-L2-normalize,
    which makes the dot objective monotone non-decreasing between
    refined rounds (Dhillon & Modha 2001) and keeps argmax-dot
    assignment meaningful, so the refined centroids drop straight into
    :func:`ivf_topk` via its ``cents=`` hook.

    Distributed shape per round: one map-side-combined groupBy — each
    executor partial-aggregates k×(dim+1) doubles, the shuffle carries
    only those partials, and the driver collects k rows (model state is
    broadcast-scale by definition; this is the canonical Spark k-means
    loop). Empty or zero-mean cells keep their previous centroid.
    Returns (refined_centroids, assignments) where assignments is
    (vec_id, cell, score) under the final centroids — score = the
    winning centroid dot, the spherical-k-means objective.

    The seed is the L2-NORMALIZED :func:`ivf_centroids` matrix: the
    monotonicity argument needs every centroid on the unit sphere
    (replacing a norm-16 integer seed row with a unit mean could
    *lower* the dot objective).

    ``broadcast_centroids`` routes the per-row assignment: ``None``
    (default) auto-selects the broadcast kernel whenever
    n_cells × dim > :data:`LITERAL_PLAN_MAX_TERMS` (real IVF cell
    counts — a literal plan would not analyze there); the two paths
    are bit-identical (see :func:`assign_cells_broadcast`).  The
    centroid UPDATE stays JVM-side either way: one map-side-combined
    groupBy whose shuffle carries k×(dim+1) partials."""
    cents = seed_centroids(n_cells, dim)
    use_bc = _use_broadcast(cents, broadcast_centroids)
    df = emb.select("vec_id", F.col(vec_col).alias("v"))
    if use_bc:
        # many assignment passes over the same input: balance ONCE,
        # checkpoint, and let every round read the materialized blocks
        # (re-reading the source or re-shuffling per round would
        # dominate the kernels at large inputs)
        df = df.repartition(
            emb.sparkSession.sparkContext.defaultParallelism
        ).localCheckpoint(eager=False)

    for _ in range(iterations):
        if use_bc:
            # canonical distributed-k-means round: the kernel computes
            # BATCH-LOCAL partials (cell, count, Σv) in the same pass
            # as the argmax — no assignment join-back, no wide shuffle
            # of the vectors; the only shuffle carries ≤ partitions × k
            # partial rows and the driver collects k sums
            partials, bc = _kmeans_partials_broadcast(df, cents, vec_col="v")
            rows = (
                partials.groupBy("cell")
                .agg(
                    F.sum("cnt").alias("cnt"),
                    F.array(
                        *[F.sum(F.col("sums")[d]).alias(f"s{d}") for d in range(dim)]
                    ).alias("sums"),
                )
                .collect()
            )
            bc.unpersist()  # round is fully collected; don't accumulate
            means = {
                r["cell"]: [s / r["cnt"] for s in r["sums"]] for r in rows if r["cnt"]
            }
        else:
            assigned = df.withColumn("cell", _cell_col(F.col("v"), cents))
            agg_rows = assigned.groupBy("cell").agg(
                *[F.avg(F.col("v")[d].cast("double")).alias(f"m{d}") for d in range(dim)]
            ).collect()
            means = {r["cell"]: [r[f"m{d}"] for d in range(dim)] for r in agg_rows}
        new = {}
        for cell, m in means.items():
            nrm = sum(x * x for x in m) ** 0.5
            if nrm > 0:
                new[cell] = [x / nrm for x in m]
        cents = [new.get(j, cents[j]) for j in range(n_cells)]
    if use_bc:
        final = assign_cells_broadcast(
            df, cents, nprobe=1, vec_col="v", repartition=False
        )
        out = final.select(
            "vec_id",
            F.col("cells")[0].alias("cell"),
            F.round(F.col("scores")[0], 4).alias("score"),
        )
    else:
        out = df.withColumn("cell", _cell_col(F.col("v"), cents)).select(
            "vec_id",
            "cell",
            F.round(
                F.greatest(*[_dot(F.col("v"), F.array(*[F.lit(x) for x in c])) for c in cents]), 4
            ).alias("score"),
        )
    return cents, out


def seed_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """The L2-normalized :func:`ivf_centroids` seed — the shared
    starting quantizer of every trainer here (normalization keeps the
    spherical-k-means monotonicity argument valid and argmax-dot
    meaningful)."""
    cents = []
    for c in ivf_centroids(n_cells, dim):
        nrm = sum(float(x) * float(x) for x in c) ** 0.5 or 1.0
        cents.append([float(x) / nrm for x in c])
    return cents


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 8,
    dim: int = 64,
    cents: list[list[float]] | None = None,
    cell_cap: int = 100_000,
    vec_col: str = "embedding",
    broadcast_centroids: bool | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    quantizer cell — embeddings land in their argmax-dot cell, cosine
    pairs ≥ ``threshold`` are formed WITHIN cells only, and each
    connected component keeps its minimum ``vec_id``.  Returns
    (vec_id, cell, rep_id) for EVERY input row; survivors are the rows
    with ``rep_id == vec_id``, and the mapping doubles as the
    train-on-the-representative lookup.

    Scale shape: the all-pairs cosine is quadratic per CELL, never per
    corpus — exactly the paper's trick (cluster first, compare within
    clusters).  ``cell_cap`` skips degenerate cells the way the LSH
    ``bucket_cap`` does (a 10^6-member cell is 10^12 pairs of almost
    pure noise; the cap is explicit and mirrored in the oracle).  Cell
    assignment auto-routes to the broadcast-centroid kernel above
    LITERAL_PLAN_MAX_TERMS (bit-identical to the literal plan, see
    :func:`assign_cells_broadcast`); the pair join shuffles on the
    cell key; components close in O(log diameter) rounds
    (operators/dedup.py:connected_components).  Pass ``cents`` from
    :func:`kmeans_refine`/:func:`kmeans_refine_minibatch` to dedup
    under a trained quantizer; default is the deterministic seed."""
    from edgar_crawler_spark.operators.dedup import connected_components

    if cents is None:
        cents = seed_centroids(n_cells, dim)
    if _use_broadcast(cents, broadcast_centroids):
        withc = _with_cell_broadcast(emb, cents, vec_col)
        # the assign kernel feeds FOUR consumers (cap agg, both join
        # legs, the output projection) — materialize once so the
        # Python stage runs once, not per branch
        slim = withc.select(
            "vec_id", "cell", F.col(vec_col).alias("v")
        ).localCheckpoint(eager=False)
    else:
        withc = emb.withColumn("cell", _cell_col(F.col(vec_col), cents))
        slim = withc.select("vec_id", "cell", F.col(vec_col).alias("v"))
    ok = (
        slim.groupBy("cell")
        .agg(F.count("*").alias("__sz"))
        .filter(F.col("__sz") <= cell_cap)
        .drop("__sz")
    )
    capped = slim.join(ok, "cell", "left_semi")
    a = capped.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "cell")
    b = capped.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "cell")
    pairs = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
        .select("vec_a", "vec_b")
    )
    comp = connected_components(pairs, "vec_a", "vec_b")
    return (
        slim.select("vec_id", "cell")
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("component", "vec_id").alias("rep_id"),
        )
    )


def kmeans_refine_minibatch(
    emb: DataFrame,
    n_cells: int = 8,
    dim: int = 64,
    iterations: int = 5,
    fraction: float = 0.05,
    vec_col: str = "embedding",
    seed: int = 17,
) -> tuple[list[list[float]], DataFrame]:
    """Web-scale spherical k-means (Sculley 2010 shape): each training
    round fits on a deterministic hash-sample of the rows and the full
    corpus is scanned exactly ONCE, for the final assignment.  This is
    THE trainer for 10^9+-row corpora — Lloyd's loop
    (:func:`kmeans_refine`) costs ``iterations`` full passes, this
    costs ``iterations × fraction`` plus one.

    Mechanics per round r: rows with
    ``pmod(xxhash64(vec_id, seed + r), 1e6) < fraction × 1e6`` form the
    mini-batch — a JVM-side filter evaluated BEFORE the Arrow boundary,
    so only sampled vectors cross into the Python kernel; the kernel
    emits batch-local partials (cell, count, Σv) exactly as the
    full-batch loop does.  Updates accumulate RUNNING per-cell
    sufficient statistics (S_c, N_c) across rounds and re-normalize
    S_c/N_c onto the unit sphere — each cell's effective learning rate
    decays as 1/N_c, Sculley's per-center rate.  Deterministic: the
    sample is a pure hash, the seed centroids are
    :func:`ivf_centroids`, and partial sums are merged cell-by-cell on
    the driver.  Unlike full-batch spherical k-means the objective is
    not guaranteed monotone between rounds (assignments drift under a
    sampled update); the test suite checks it beats the seed on
    separated data, which is the property that matters for an IVF
    quantizer.

    Returns (centroids, assignments) with assignments =
    (vec_id, cell, score) from ONE full :func:`assign_cells_broadcast`
    pass under the final centroids."""
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    cents = seed_centroids(n_cells, dim)
    spark = emb.sparkSession
    df = (
        emb.select("vec_id", F.col(vec_col).alias("v"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    threshold = int(fraction * 1_000_000)
    S = np.zeros((n_cells, dim), dtype=np.float64)
    N = np.zeros(n_cells, dtype=np.int64)
    for r in range(iterations):
        mb = df.filter(
            F.pmod(F.xxhash64(F.col("vec_id"), F.lit(seed + r)), F.lit(1_000_000))
            < F.lit(threshold)
        )
        partials, bc = _kmeans_partials_broadcast(mb, cents, vec_col="v")
        rows = (
            partials.groupBy("cell")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.array(
                    *[F.sum(F.col("sums")[d]).alias(f"s{d}") for d in range(dim)]
                ).alias("sums"),
            )
            .collect()
        )
        bc.unpersist()
        for row in rows:
            S[row["cell"]] += np.asarray(row["sums"], dtype=np.float64)
            N[row["cell"]] += row["cnt"]
        new = []
        for j in range(n_cells):
            if N[j]:
                m = S[j] / N[j]
                nrm = float(np.sqrt((m * m).sum()))
                new.append((m / nrm).tolist() if nrm > 0 else cents[j])
            else:
                new.append(cents[j])
        cents = new
    final = assign_cells_broadcast(df, cents, nprobe=1, vec_col="v", repartition=False)
    out = final.select(
        "vec_id",
        F.col("cells")[0].alias("cell"),
        F.round(F.col("scores")[0], 4).alias("score"),
    )
    return cents, out


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    nprobe: int = 1,
    cents: list[list[float]] | None = None,
    broadcast_centroids: bool | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest
    centroid cell; a query probes its ``nprobe`` best cells (the
    standard recall knob — nprobe=n_cells degrades gracefully to
    brute force). At scale the cell id is the shuffle/bucketing key —
    the cross join becomes a key-equality join, exactly like the LSH
    path but with a learned/structured quantizer; probing explodes
    each QUERY nprobe× (queries are the small side), candidates keep
    one cell each, so a (query, candidate) pair appears at most once
    and needs no dedup. Same output shape as brute_force_topk.
    ``cents`` injects a trained quantizer (see :func:`kmeans_refine`);
    default is the deterministic seed.  ``broadcast_centroids`` picks
    the quantizer application path (``None`` = auto above
    :data:`LITERAL_PLAN_MAX_TERMS` — see :func:`assign_cells_broadcast`;
    both paths are bit-identical)."""
    if cents is None:
        cents = ivf_centroids(n_cells, dim)
    queries = emb.filter(F.col("vec_id").isin(query_ids))
    if _use_broadcast(cents, broadcast_centroids):
        withc = _with_cell_broadcast(emb, cents, vec_col=vec_col)
        probes = assign_cells_broadcast(queries, cents, nprobe=nprobe, vec_col=vec_col)
        q = (
            queries.join(
                probes.select("vec_id", "cells").hint("shuffle_hash"), on="vec_id"
            )
            .select(
                F.col("vec_id").alias("query_id"),
                F.col(vec_col).alias("qv"),
                F.explode("cells").alias("cell"),
            )
        )
    else:
        withc = emb.withColumn("cell", _cell_col(F.col(vec_col), cents))
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(_probe_cells_col(F.col(vec_col), cents, nprobe)).alias("cell"),
        )
    c = withc.select(F.col("vec_id").alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell")
    scored = (
        q.join(c, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("cos", 4).alias("cos"))
    )


def ivf_recall_curve(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 8,
    dim: int = 64,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
    cents: list[list[float]] | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """recall@k of the probed IVF search vs the exact brute-force
    neighbours, per nprobe — the number a user tuning nprobe actually
    needs (r04 verdict item 4: oracle parity at small n_cells proves
    the MECHANICS, this measures RETRIEVAL QUALITY at real settings).
    Returns (nprobe, recall_at_k, n_queries) with one row per probe
    count; recall at nprobe == n_cells must be 1.0 by construction
    (every cell probed == brute force). Each per-nprobe recall is one
    bounded scalar aggregate; the ground-truth frame is
    localCheckpointed once and reused across the probe sweep."""
    truth = (
        brute_force_topk(emb, query_ids, k=k, vec_col=vec_col)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    total = float(truth.count())  # len(query_ids) * k unless corpus < k
    out = None
    for np_ in nprobes:
        got = ivf_topk(
            emb, query_ids, k=k, n_cells=n_cells, dim=dim,
            nprobe=np_, cents=cents, vec_col=vec_col,
        ).select("query_id", "neighbor_id")
        row = (
            truth.join(got, on=["query_id", "neighbor_id"])
            .agg(F.count("*").alias("hits"))
            .select(
                F.lit(np_).alias("nprobe"),
                F.round(F.col("hits") / F.lit(total), 4).alias("recall_at_k"),
                F.lit(len(query_ids)).alias("n_queries"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.95, n_planes: int = 4, dim: int = 64
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets:
    (vec_a, vec_b, cos) with cos >= threshold, vec_a < vec_b."""
    planes = hyperplanes(n_planes, dim)
    withb = emb.withColumn("bucket", bucket_col(F.col("embedding"), planes))
    a = withb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"), "bucket")
    b = withb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"), "bucket")
    return (
        a.join(b, on="bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 4).alias("cos"))
    )


class IncrementalIVFIndex:
    """Persisted, partition-pruned ANN index over an embedding column —
    the embedding twin of ``operators.dedup.IncrementalLSHIndex``
    (that one answers 'near-duplicate TEXT of anything ingested?',
    this one answers 'nearest EMBEDDINGS among everything ingested'
    without rescanning the corpus per query batch).

    State is one snapshot table of ``(vec_id, cell, embedding)`` rows in
    the persisted-index layout of ``operators.dedup.BucketedTable``,
    ``kb = pmod(cell, INDEX_BUCKETS)``, with the same crash-safe
    manifest commits as every frontier table; a table written at
    another bucket count is rewritten once on reopen.  The coarse
    quantizer (see :func:`kmeans_refine` / :func:`ivf_centroids`) is
    FROZEN at index creation: centroids live in a sibling snapshot
    table and a content hash is stamped into every vector commit —
    reopening against different centroids fails loudly (cells from two
    quantizers interleaved in one table would silently corrupt recall).
    Re-training the quantizer = build a new index.

    * ``add(batch)`` — assign cells with the broadcast kernel (one
      Arrow pass, no plan literals) and append partitioned.  A
      crash-replayed batch re-appends byte-identical rows (cell is a
      pure function of the vector); the serving-side ``dropDuplicates``
      on vec_id neutralizes them, and :meth:`compact` drops them.
    * ``topk(queries, k, nprobe)`` — probe each query's ``nprobe``
      best cells, then read ONLY the partition dirs those cells hash
      into (directory stats, never a table scan) and run the standard
      key-equality join + per-query top-k.  Per-query-batch input is
      proportional to probed cells × their occupancy — at 10^10
      ingested vectors a query batch plans a few partitions, not the
      corpus.
    """

    def __init__(
        self,
        spark,
        path: str,
        cents: list[list[float]] | None = None,
        n_cells: int = 8,
        dim: int = 64,
        vec_col: str = "embedding",
    ):
        import os

        from edgar_crawler_spark.frontier.state import SnapshotTable

        self.spark = spark
        self.vec_col = vec_col
        self.vectors = SnapshotTable(os.path.join(path, "vectors"))
        self._kb = BucketedTable(
            spark, self.vectors, "kb", F.pmod(F.col("cell"), F.lit(INDEX_BUCKETS))
        )
        self.cent_tbl = SnapshotTable(os.path.join(path, "centroids"))
        stored = self.cent_tbl.read(spark)
        if stored is not None:
            rows = sorted(stored.collect(), key=lambda r: r.cell)
            self.cents = [list(r.centroid) for r in rows]
            if cents is not None and self._cent_hash(cents) != self._cent_hash(self.cents):
                raise ValueError(
                    f"IVF index at {path} was built with different centroids — "
                    "cells from two quantizers cannot share a table; build a "
                    "new index to re-train"
                )
        else:
            self.cents = (
                [[float(x) for x in c] for c in cents]
                if cents is not None
                else [[float(x) for x in c] for c in ivf_centroids(n_cells, dim)]
            )
            self.cent_tbl.overwrite(
                spark.createDataFrame(
                    [(j, c) for j, c in enumerate(self.cents)],
                    "cell int, centroid array<double>",
                ),
                metrics={"cent_hash": self._cent_hash(self.cents)},
            )
        self._kb.migrate()

    @staticmethod
    def _cent_hash(cents) -> str:
        import hashlib

        return hashlib.md5(repr([[float(x) for x in c] for c in cents]).encode()).hexdigest()

    def add(self, emb: DataFrame) -> int:
        """Ingest a batch of (vec_id, embedding) rows; returns the
        batch size. One Arrow pass for assignment, one partitioned
        commit."""
        assign = assign_cells_broadcast(emb, self.cents, nprobe=1, vec_col=self.vec_col)
        slim = assign.select("vec_id", F.col("cells")[0].alias("cell"))
        rows = emb.select("vec_id", self.vec_col).join(slim.hint("shuffle_hash"), "vec_id")
        n = emb.count()
        self._kb.append(rows, n)
        return n

    def compact(self) -> int:
        """Fold per-batch commits into one data dir in the same layout,
        crash-replayed rows dropped (``BucketedTable.compact``)."""
        return self._kb.compact()

    def topk(self, queries: DataFrame, k: int = 5, nprobe: int = 1) -> DataFrame:
        """Top-k ingested neighbours for each query row
        (vec_id, embedding). Returns (query_id, neighbor_id, rnk, cos);
        a query id that was also ingested never matches itself."""
        # eager checkpoint: the probe kernel runs ONCE — its result
        # feeds both the driver-side pruning decision and the join leg
        # (a lazy frame would re-run the kernel per consumer, and a
        # nondeterministic queries source could then prune partitions
        # that disagree with the joined cells)
        probes = assign_cells_broadcast(
            queries, self.cents, nprobe=nprobe, vec_col=self.vec_col
        ).localCheckpoint()
        q = (
            queries.join(probes.select("vec_id", "cells").hint("shuffle_hash"), "vec_id")
            .select(
                F.col("vec_id").alias("query_id"),
                F.col(self.vec_col).alias("qv"),
                F.explode("cells").alias("cell"),
            )
        )
        # bounded collect: ≤ n_cells distinct ints, never per-query rows
        cells = sorted(
            int(r.c)
            for r in probes.select(F.explode("cells").alias("c")).distinct().collect()
        )
        corpus = self._kb.read(sorted({c % INDEX_BUCKETS for c in cells}))
        if corpus is None:
            return q.select(
                "query_id",
                F.col("cell").cast("long").alias("neighbor_id"),
                F.lit(1).alias("rnk"),
                F.lit(0.0).alias("cos"),
            ).limit(0)
        c = (
            corpus.filter(F.col("cell").isin(cells))  # prune within shared buckets
            .dropDuplicates(["vec_id"])  # crash-replayed appends are exact dups
            .select(
                F.col("vec_id").alias("neighbor_id"),
                F.col(self.vec_col).alias("cv"),
                "cell",
            )
        )
        scored = (
            q.join(c, on="cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "rnk", F.round("cos", 4).alias("cos"))
        )
