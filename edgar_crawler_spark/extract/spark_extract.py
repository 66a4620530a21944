"""Distributed extraction: the T1–T14 kernel as one Arrow-batched
``mapInPandas`` stage (the reference's ProcessPool(1) map,
extract_items.py:1252-1262, becomes partition-parallel).

Input: a DataFrame of raw filings
    (filename, filing_type, content string + the 14 metadata columns)
Outputs:
  * ``extract_records``  — one row per filing with an ``items``
    map<string,string> column (the per-filing JSON record)
  * ``extract_items_long`` — exploded long form (filename, item_key,
    item_text): the SQL-checkable shape (SURVEY.md §1.3).

Scale notes: content strings are the payload — an explicit
repartition pins parallelism for the CPU-bound Python stage (AQE
byte-size coalescing would strangle it), and the long form is derived
JVM-side by explode(map) so item text is shuffled at most once.
Partitioning is round-robin into one partition per core slot
(``defaultParallelism``, fewer for a smaller known batch): every
Python task pays a fixed set-up cost (about 15-20 ms of wall and 40-65
ms of CPU on a 4-vCPU VM, whatever it holds), so fewer, larger tasks win
until every core is busy. A range layout by descending length used to
place the largest documents first (LPT), which only pays with about
one document per partition; with several it put the largest ones
together in partition 0, and its sampling pass cost two more Spark
jobs. Round-robin spreads them instead.

Memory: a task streams its partition to the Python worker in Arrow
batches, each closed at ``spark.sql.execution.arrow.maxRecordsPerBatch``
rows (10,000 in ``get_spark``) or once it reaches
``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MiB by default),
whichever comes first; both bounds apply to ``mapInPandas`` input (a
probe at 1 MiB cut 200 rows of 100 KB into batches of 11: a batch
closes on the row that crosses the bound). The kernel holds one batch
and its output at a time, so the byte bound, not the partition size,
caps what a task holds.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import MapType, StringType, StructField, StructType

RECORD_SCHEMA = StructType(
    [
        StructField("filename", StringType()),
        StructField("filing_type", StringType()),
        StructField("items", MapType(StringType(), StringType())),
        StructField("error", StringType()),
    ]
)

METADATA_COLS = [
    "CIK", "Company", "Type", "Date", "Period of Report", "SIC",
    "State of Inc", "State location", "Fiscal Year End", "html_index",
    "htm_file_link", "complete_text_file_link", "filename",
]


def _extract(
    raw: DataFrame,
    schema: StructType,
    encode: Callable[[dict], object],
    n_docs: int | None,
    **kernel_kw,
) -> DataFrame:
    """The one per-row loop behind both record shapes: the kernel runs
    per filing with ``kernel_kw``, ``encode`` turns its record into the
    third column of ``schema`` (inside the per-doc ``try``, so an encode
    failure is that doc's error too), and a filing whose items all came
    out empty gets a null value and the ``all_items_null`` error. The
    input is dealt round-robin into one partition per core slot, fewer
    when ``n_docs`` (a driver-known upper bound on the rows) is
    smaller."""
    num_partitions = raw.sparkSession.sparkContext.defaultParallelism
    if n_docs is not None:
        num_partitions = max(1, min(num_partitions, n_docs))
    value_col = schema.fieldNames()[2]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        from edgar_crawler_spark.extract.extractor import extract_filing

        sys.setrecursionlimit(30000)  # deep HTML (extract_items.py:22)
        for pdf in batches:
            out = {"filename": [], "filing_type": [], value_col: [], "error": []}
            for row in pdf.to_dict("records"):
                md = {c: row.get(c) for c in METADATA_COLS}
                try:
                    rec = extract_filing(row["content"], md, **kernel_kw)
                    out[value_col].append(encode(rec) if rec is not None else None)
                    out["error"].append(None if rec is not None else "all_items_null")
                except Exception as e:  # poisoned doc must not kill the job
                    out[value_col].append(None)
                    out["error"].append(f"{type(e).__name__}: {e}"[:500])
                out["filename"].append(row.get("filename"))
                out["filing_type"].append(row.get("Type"))
            yield pd.DataFrame(out)

    return raw.repartition(num_partitions).mapInPandas(run, schema)


def extract_records(
    raw: DataFrame,
    items_to_extract: list[str] | None = None,
    remove_tables: bool = True,
    include_signature: bool = False,
    n_docs: int | None = None,
) -> DataFrame:
    """Run the extraction kernel over (content + metadata) rows.
    ``n_docs`` is an optional driver-known upper bound on the rows; it
    caps the partition count (see :func:`_extract`)."""
    return _extract(
        raw, RECORD_SCHEMA, lambda rec: rec, n_docs, items_to_extract=items_to_extract,
        remove_tables=remove_tables, include_signature=include_signature,
    )


JSON_RECORD_SCHEMA = StructType(
    [
        StructField("filename", StringType()),
        StructField("filing_type", StringType()),
        StructField("json", StringType()),
        StructField("error", StringType()),
    ]
)


def extract_json_records(
    raw: DataFrame,
    items_to_extract: list[str] | None = None,
    remove_tables: bool = True,
    include_signature: bool = False,
    n_docs: int | None = None,
) -> DataFrame:
    """Like :func:`extract_records` but emits the record pre-serialized
    exactly as the reference writes it — ``json.dumps(indent=4,
    ensure_ascii=False)`` (extract_items.py:1184-1186) — so the
    stage-2 folder sink can write byte-identical per-filing files.
    Serialization happens inside the kernel because a MapType column
    would lose the reference's key order (13 metadata keys, then items
    in item-list order).  ``json`` is null when every item came out
    empty (the reference skips writing in that case,
    extract_items.py:1143-1145)."""
    return _extract(
        raw, JSON_RECORD_SCHEMA, functools.partial(json.dumps, indent=4, ensure_ascii=False),
        n_docs, items_to_extract=items_to_extract, remove_tables=remove_tables,
        include_signature=include_signature,
    )


def items_long(records: DataFrame) -> DataFrame:
    """(filename, filing_type, item_key, item_text) long form."""
    return records.filter(F.col("items").isNotNull()).select(
        "filename",
        "filing_type",
        F.explode("items").alias("item_key", "item_text"),
    )
