"""Crawl ordering + per-host priority queues (SURVEY.md A2/A3).

The reference's work order is implicit: index files enumerated
(year asc, quarter order) and rows iterated in file order
(download_filings.py:116-121, 176-183). We materialize it as the
explicit, parallelism-independent key

    (year, quarter, row_seq)

where row_seq is the line offset within the index file — NEVER
``monotonically_increasing_id`` (partition-count dependent).

The per-host scheduling priority (north_rule) is
(filing_date/date, form_type_rank, row_seq): a ``row_number`` window
per host determines dispatch order inside each host's token-bucketed
queue, while the committed fetch log is re-sorted by the global crawl
key so the emitted order matches the reference byte-for-byte.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# form-type priority: K > Q > 8-K, mirroring edgar-crawler's
# filing_types config order (config.json:4 lists ["10-K","10-Q","8-K"])
FORM_TYPE_RANKS = {"10-K": 0, "10-K/A": 1, "10-Q": 2, "10-Q/A": 3, "8-K": 4, "8-K/A": 5}


def form_type_rank_col(type_col: str = "type") -> Column:
    c = F.col(type_col)
    expr = F.lit(99)
    for t, r in reversed(FORM_TYPE_RANKS.items()):
        expr = F.when(c == t, F.lit(r)).otherwise(expr)
    return expr


def crawl_order() -> list[Column]:
    """The reference-exact global emit order."""
    return [F.col("year").asc(), F.col("quarter").asc(), F.col("row_seq").asc()]


def with_priority(df: DataFrame, type_col: str = "type", date_col: str = "date") -> DataFrame:
    """Adds form_type_rank, priority struct, and host_rank (the per-host
    queue position, a row_number window — one shuffle on host)."""
    df = df.withColumn("form_type_rank", form_type_rank_col(type_col))
    df = df.withColumn(
        "priority",
        F.struct(
            F.to_date(date_col).alias("filing_date"),
            F.col("form_type_rank"),
            F.col("row_seq").alias("seq"),
        ),
    )
    w = Window.partitionBy("host").orderBy(
        F.col("priority.filing_date").asc_nulls_last(),
        F.col("priority.form_type_rank").asc(),
        F.col("priority.seq").asc(),
    )
    return df.withColumn("host_rank", F.row_number().over(w))
