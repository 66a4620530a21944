"""The reference's relational dataflow (SURVEY.md §2.1-2.4) as
reusable DataFrame combinators, exercised over the driver's synthetic
TPC-H-ish tables by __spark_entry__.py.

Every function is a pure DataFrame→DataFrame transformation built from
JVM-side expressions: predicate pushdown, column pruning and join
selection are Catalyst's job, not ours. Money aggregates are summed as
bigint cents so Spark and the DuckDB oracle agree bit-exactly
regardless of float summation order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def cents(col) -> F.Column:
    """Exact money: double dollars → bigint cents."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


# --- P: projections / filters (download_filings.py:443-455,700-722) --------

def url_prefix_projection(df: DataFrame, col: str, prefix: str, out: str) -> DataFrame:
    """P1: prepend constant prefix (download_filings.py:443-448)."""
    return df.withColumn(out, F.concat(F.lit(prefix), F.col(col)))


def type_filter(df: DataFrame, col: str, allowed: list[str]) -> DataFrame:
    """P2: df[df.Type.isin(filing_types)] (download_filings.py:451)."""
    return df.filter(F.col(col).isin(allowed))


# --- J: joins (download_filings.py:139-158,401-411,571-656) -----------------

def lookup_join(df: DataFrame, dim: DataFrame, on: str, how: str = "left") -> DataFrame:
    """J1/J4: small-dimension lookup — always broadcast."""
    return df.join(F.broadcast(dim), on=on, how=how)


def anti_join_dedup(new: DataFrame, old: DataFrame, on: str | list[str]) -> DataFrame:
    """J2/J5: keep rows not present in `old`
    (download_filings.py:151-158; extract_items.py:1171-1173).

    r06: no pre-distinct — an anti join is insensitive to duplicate
    build keys, and the dropDuplicates paid a full aggregation plus a
    driver-side broadcast build of the key set (measured 3× the whole
    query at sf1.0). SHUFFLE_HASH instead of broadcast: the seen side
    at 10^10 keys can never broadcast, and per-partition hash builds
    of a key-only column are the right shape at every scale (map-side
    partial dedup of the hash table comes free)."""
    keys = old.select(*([on] if isinstance(on, str) else on))
    return new.join(keys.hint("shuffle_hash"), on=on, how="left_anti")


def existence_semi_join(df: DataFrame, existing: DataFrame, on: str | list[str]) -> DataFrame:
    """J3: keep only rows whose blob/key exists
    (download_filings.py:139-149). Same no-distinct + SHUFFLE_HASH
    rationale as :func:`anti_join_dedup` — semi joins are duplicate-
    insensitive on the build side."""
    keys = existing.select(*([on] if isinstance(on, str) else on))
    return df.join(keys.hint("shuffle_hash"), on=on, how="left_semi")


# --- A: ordering / aggregation (SURVEY.md §2.4) -----------------------------

def ranked_per_group(df: DataFrame, part: list[str], order: list, rank_col: str = "rnk") -> DataFrame:
    """A3-shape: row_number per group (the per-host priority queue)."""
    w = Window.partitionBy(*part).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w))


def argmax_per_group(df: DataFrame, part: list[str], order: list) -> DataFrame:
    """A6: pick the single best row per group (the max-length match
    selection, extract_items.py:714-775, relationally)."""
    return ranked_per_group(df, part, order, "__r").filter(F.col("__r") == 1).drop("__r")


def argmax_per_group_agg(
    df: DataFrame,
    part: list[str],
    order: list[tuple[str, bool]],
    payload_cols: list[str],
) -> DataFrame:
    """A6 as ONE map-side-combined aggregation: ``max_by`` over a
    direction-normalized struct key instead of the window formulation's
    shuffle-then-sort (25%+ faster at sf0.1, and the partial aggregate
    shrinks the shuffle at scale — groups combine map-side before
    moving). ``order`` is [(numeric_col, descending)]: ascending keys
    are negated so lexicographic struct max realizes the total order
    (numeric keys only — use :func:`argmax_per_group` otherwise).
    Returns part + payload columns, one row per group."""
    key = F.struct(
        *[
            (F.col(c) if desc else (-F.col(c))).alias(f"k{i}")
            for i, (c, desc) in enumerate(order)
        ]
    )
    best = df.groupBy(*part).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload_cols]), key).alias("__best")
    )
    return best.select(
        *part, *[F.col(f"__best.{c}").alias(c) for c in payload_cols]
    )


def topk_per_group_agg(
    df: DataFrame, part: list[str], sort_cols: list[str], k: int, rank_col: str = "rnk"
) -> DataFrame:
    """A3 as ONE aggregation: per group, sort-and-slice a collected
    struct array instead of the window's exchange + full per-partition
    sort + row_number — the many tiny per-group sorts beat one big
    sort when groups are small (measured 1.6 → 1.1 s on 1.5M rows /
    1M groups at sf1.0). Ascending lexicographic order over
    ``sort_cols`` only (struct sort); rank is the 1-based position.
    Returns part + rank_col + sort_cols. collect_list concatenates
    rather than partially combining, so shuffle bytes match the
    window's — the saving is the sort, not the exchange. CAVEAT: each
    group materializes as ONE in-memory array before the slice — use
    :func:`ranked_per_group` (which sorts with spill) when a single
    group can be huge."""
    top = df.groupBy(*part).agg(
        F.slice(F.array_sort(F.collect_list(F.struct(*sort_cols))), 1, k).alias("__t")
    )
    return top.select(
        *part, F.posexplode("__t").alias("__pos", "__col")
    ).select(
        *part,
        (F.col("__pos") + 1).alias(rank_col),
        *[F.col(f"__col.{c}").alias(c) for c in sort_cols],
    )


def global_topk(df: DataFrame, order: list, k: int, key: str, rank_col: str = "rnk") -> DataFrame:
    """Global top-k WITHOUT a single-partition window over the full table.

    `orderBy().limit(k)` plans as TakeOrderedAndProject: each partition
    keeps its local top-k and the driver merges k rows per partition — no
    full-table shuffle to one task.  The rank is then derived by a window
    over the already-k-row result.  The window's partition key is a
    constant-valued but NON-foldable expression (`substring(key, 1, 0)` =
    "" for every row) — a bare literal gets constant-folded out of the
    spec and Spark then logs the degenerate-window warning even though
    the input is k rows.  `key` must be a non-null column (use the
    tie-break key), else null rows would form a second partition.
    """
    topk = df.orderBy(*order).limit(k)
    sentinel = F.substring(F.col(key).cast("string"), 1, 0)
    w = Window.partitionBy(sentinel).orderBy(*order)
    return topk.withColumn(rank_col, F.row_number().over(w))
