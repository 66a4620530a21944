"""Dimension sources + sinks (SURVEY.md §2.1 S5/S6/S9/S11, §2.3 J1).

* ticker→CIK dimension (company_tickers.json shape,
  download_filings.py:369-399) and seed resolution through it with
  unmatched-row accounting (J1, download_filings.py:401-411).
* metadata CSV scan/sink with the reference's all-string 14-column
  schema (S9, extract_items.py:1204-1206; S8 sink semantics are the
  SnapshotTable's atomic commits).
* extracted-record JSON sink partitioned by filing type (S11,
  extract_items.py:1179-1186).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

METADATA_CSV_COLUMNS = [
    "CIK", "Company", "Type", "Date", "complete_text_file_link", "html_index",
    "Filing Date", "Period of Report", "SIC", "htm_file_link",
    "State of Inc", "State location", "Fiscal Year End", "filename",
]

METADATA_CSV_SCHEMA = StructType([StructField(c, StringType()) for c in METADATA_CSV_COLUMNS])


def ticker_cik_dim(spark: SparkSession, json_path: str | None = None, rows: list | None = None) -> DataFrame:
    """S5: ticker→CIK dimension. Reads the company_tickers.json shape
    ({idx: {cik_str, ticker, title}}) or takes literal rows; sorted by
    ticker (A4 — determinism only, download_filings.py:395-399)."""
    if json_path is not None:
        raw = spark.read.option("multiLine", True).json(json_path)
        # {"0": {...}, "1": {...}} → one column per index; melt via stack
        cols = raw.columns
        stacked = raw.select(
            F.explode(F.array(*[F.col(c) for c in cols])).alias("r")
        ).select(
            F.upper(F.col("r.ticker")).alias("ticker"),
            F.col("r.cik_str").cast("string").alias("cik"),
        )
        return stacked.orderBy("ticker")
    df = spark.createDataFrame(rows or [], "ticker string, cik string")
    return df.withColumn("ticker", F.upper("ticker")).orderBy("ticker")


def resolve_tickers(seeds: DataFrame, dim: DataFrame, ticker_col: str = "ticker") -> tuple[DataFrame, DataFrame]:
    """J1: map user tickers → CIKs through the broadcast dimension.
    Returns (resolved, unmatched) — the reference logs and drops
    unmatched tickers (download_filings.py:401-411)."""
    joined = seeds.withColumn(ticker_col, F.upper(F.col(ticker_col))).join(
        F.broadcast(dim), on=ticker_col, how="left"
    )
    return joined.filter(F.col("cik").isNotNull()), joined.filter(F.col("cik").isNull())


COMPANY_DIM_SCHEMA = StructType(
    [
        StructField("cik", StringType()),
        StructField("company_name", StringType()),
        StructField("sic", StringType()),
        StructField("state_location", StringType()),
        StructField("state_of_inc", StringType()),
        StructField("fiscal_year_end", StringType()),
    ]
)


class CompanyDimTable:
    """S6: the companies_info dimension as a snapshot table with the
    reference's lazy cache-miss loop (download_filings.py:571-646)
    made set-oriented: needed CIKs ``left_anti`` the cached dim → the
    misses are fetched (browse-edgar page per CIK, token-bucketed
    mapInPandas reusing the N1/N2 protocol) → parsed
    (functions.company_page) → appended. A CIK is fetched at most once
    across runs; fetch FAILURES are not cached (retried next run),
    parse-empty pages are (all-None record), both matching the
    reference."""

    def __init__(self, root: str):
        from edgar_crawler_spark.frontier.state import SnapshotTable

        self.table = SnapshotTable(root)

    def read(self, spark: SparkSession) -> DataFrame:
        return self.table.read_or_empty(spark, COMPANY_DIM_SCHEMA)

    def ensure(
        self,
        needed: DataFrame,
        fetcher,
        cik_col: str = "cik",
        rate_per_host: float = 10.0,
        virtual_clock: bool = True,
    ) -> int:
        """Fetch+cache every CIK in ``needed`` not already in the dim.
        Returns the number of newly cached CIKs (0 on a warm second
        run — the anti-join sees every hit)."""
        import pandas as pd

        from edgar_crawler_spark.frontier.fetch import _fetch_one
        from edgar_crawler_spark.frontier.politeness import TokenBucket, VirtualClock
        from edgar_crawler_spark.functions.company_page import parse_company_info_page

        spark = needed.sparkSession
        missing = (
            needed.select(F.col(cik_col).cast("string").alias("cik"))
            .dropDuplicates()
            .join(self.read(spark).select("cik"), on="cik", how="left_anti")
        )

        def run(batches):
            clk = VirtualClock() if virtual_clock else None
            bucket = (
                TokenBucket(rate_per_host, clock=clk, sleep=clk.sleep)
                if clk
                else TokenBucket(rate_per_host)
            )
            cols = [f.name for f in COMPANY_DIM_SCHEMA.fields]
            for pdf in batches:
                rows = []
                for rec in pdf.itertuples(index=False):
                    url = f"https://www.sec.gov/cgi-bin/browse-edgar?CIK={rec.cik}"
                    status, _att, state, _w, body, _c, _e = _fetch_one(
                        fetcher, url, bucket, clk
                    )
                    if state != "fetched" or body is None:
                        continue  # not cached; retried on the next run
                    info = parse_company_info_page(
                        body.decode("utf-8", errors="backslashreplace")
                    )
                    rows.append({"cik": rec.cik, **info})
                yield pd.DataFrame(rows, columns=cols)

        # one host (www.sec.gov) → one partition → serial, budgeted
        fetched = missing.repartition(1).mapInPandas(run, COMPANY_DIM_SCHEMA).persist()
        n = fetched.count()
        if n:
            self.table.append(fetched, metrics={"cache_miss_fetches": n})
        fetched.unpersist()
        return n


def read_metadata_csv(spark: SparkSession, path: str) -> DataFrame:
    """S9: all-string metadata scan (dtype=str + NaN→None,
    extract_items.py:1204-1206)."""
    return (
        spark.read.schema(METADATA_CSV_SCHEMA)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def write_metadata_csv(df: DataFrame, path: str) -> None:
    """S8-shaped sink: the reference rewrites the CSV atomically per
    row (tmp+move, download_filings.py:196-215); here one atomic job
    commit per wave — same crash-safety, amortized."""
    (
        df.select(*METADATA_CSV_COLUMNS)
        .write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')  # RFC-4180 doubled quotes (pandas-compatible)
        .csv(path)
    )
