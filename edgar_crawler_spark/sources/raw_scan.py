"""S10: raw filing scan — binaryFile source + errors='backslashreplace'
decode inside Arrow batches (the reference's per-file open(...,
errors='backslashreplace').read(), extract_items.py:998-1000)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


def decode_content(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Replace the raw ``bytes_col`` with a ``content`` string decoded
    with the reference's errors='backslashreplace' semantics
    (extract_items.py:998-1000) — Python-codec behavior, so it runs as
    an Arrow-batched mapInPandas over (the projection of) the input.
    The other input columns pass through; the bytes do not cross back."""
    kept = [f for f in df.schema.fields if f.name != bytes_col]
    out_schema = StructType(kept + [StructField("content", StringType())])
    cols = [f.name for f in kept]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[cols].copy()
            out["content"] = [
                bytes(b).decode("utf-8", "backslashreplace") if b is not None else None
                for b in pdf[bytes_col]
            ]
            yield out

    return df.mapInPandas(decode, out_schema)


def read_raw_filings(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Directory of raw filing blobs → (path, filename, content),
    decoded by :func:`decode_content`."""
    binf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            "path",
            F.substring_index("path", "/", -1).alias("filename"),
            F.col("content").alias("bytes"),
        )
    )
    return decode_content(binf)
