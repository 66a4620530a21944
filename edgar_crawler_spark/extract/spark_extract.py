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
Partitioning is size-aware (VERDICT r02 item 6): range-partition by
descending content length (ties spread by a hash) at 4× parallelism,
so each task holds a few similar-size docs and the biggest documents
land in the lowest partition ids — Spark schedules those first, the
LPT heuristic — instead of a random partition straggling with several
giants. Cost: one sampling pass over lengths for the range bounds.
The 4× factor and the round-robin cut-off below were tuned while every
Python task also paid about 0.2 s of worker set-up (re-reading
pyspark.zip, see worker_daemon.py); with that charge gone, more and
smaller tasks cost less than the tuning assumed, so both are due for
re-measurement.
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




#: below this many docs per partition the range-partitioner's extra
#: sampling pass dominates the win from size-aware placement (measured:
#: −32% on the 553-doc corpus at local[32], r03 driver bench, taken
#: while each Python task paid ~0.2 s of set-up) — use
#: plain round-robin there. Above it (every real corpus) the LPT
#: placement wins (2→8 scaling 0.61 → 0.76, r03 BENCH/BASELINE.md).
SIZE_PARTITION_MIN_DOCS_PER_PART = 8


def _size_partitioned(
    raw: DataFrame, num_partitions: int, n_docs: int | None = None
) -> DataFrame:
    """Size-aware repartition for the CPU-bound extraction stage: range
    by descending length (big docs first, similar sizes together), hash
    tie-break so equal-length runs don't collapse into one partition.

    ``n_docs`` is an optional driver-known row-count hint (callers that
    already counted the batch pass it — counting here would cost the
    same extra pass we're avoiding): when the corpus is too small for
    the range sampler to pay for itself, fall back to round-robin,
    which is both faster at that size and still balanced by count."""
    if (
        n_docs is not None
        and n_docs < num_partitions * SIZE_PARTITION_MIN_DOCS_PER_PART
    ):
        return raw.repartition(num_partitions)
    return raw.repartitionByRange(
        num_partitions,
        F.length(F.col("content")).desc(),
        F.xxhash64(F.coalesce(F.col("filename"), F.lit(""))),
    )


def _extract(
    raw: DataFrame,
    schema: StructType,
    encode: Callable[[dict], object],
    items_to_extract: list[str] | None,
    remove_tables: bool,
    include_signature: bool,
    num_partitions: int | None,
    n_docs: int | None,
) -> DataFrame:
    """The one per-row loop behind both record shapes: the kernel runs
    per filing, ``encode`` turns its record into the third column of
    ``schema`` (inside the per-doc ``try``, so an encode failure is that
    doc's error too), and a filing whose items all came out empty gets a
    null value and the ``all_items_null`` error."""
    if num_partitions is None:
        num_partitions = raw.sparkSession.sparkContext.defaultParallelism * 4
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
                    rec = extract_filing(
                        row["content"],
                        md,
                        items_to_extract=items_to_extract,
                        remove_tables=remove_tables,
                        include_signature=include_signature,
                    )
                    out[value_col].append(encode(rec) if rec is not None else None)
                    out["error"].append(None if rec is not None else "all_items_null")
                except Exception as e:  # poisoned doc must not kill the job
                    out[value_col].append(None)
                    out["error"].append(f"{type(e).__name__}: {e}"[:500])
                out["filename"].append(row.get("filename"))
                out["filing_type"].append(row.get("Type"))
            yield pd.DataFrame(out)

    return _size_partitioned(raw, num_partitions, n_docs).mapInPandas(run, schema)


def extract_records(
    raw: DataFrame,
    items_to_extract: list[str] | None = None,
    remove_tables: bool = True,
    include_signature: bool = False,
    num_partitions: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Run the extraction kernel over (content + metadata) rows.
    ``n_docs`` is an optional driver-known count hint for the adaptive
    partitioner (see :func:`_size_partitioned`)."""
    return _extract(
        raw,
        RECORD_SCHEMA,
        lambda rec: rec,
        items_to_extract,
        remove_tables,
        include_signature,
        num_partitions,
        n_docs,
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
    num_partitions: int | None = None,
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
        raw,
        JSON_RECORD_SCHEMA,
        functools.partial(json.dumps, indent=4, ensure_ascii=False),
        items_to_extract,
        remove_tables,
        include_signature,
        num_partitions,
        n_docs,
    )


def items_long(records: DataFrame) -> DataFrame:
    """(filename, filing_type, item_key, item_text) long form."""
    return records.filter(F.col("items").isNotNull()).select(
        "filename",
        "filing_type",
        F.explode("items").alias("item_key", "item_text"),
    )
