"""Synthetic quarterly-index seed table (FIXTURES.md §A).

Mirrors the 14-column EDGAR index/metadata schema
(reference download_filings.py:424-439). First 6 columns populated from
the index, the rest NULL until the crawl stage back-fills them
(download_filings.py:297-307, 649-656).

Built entirely from JVM-side column expressions over ``spark.range`` —
no UDF, no driver loop — so generation itself is a distributed job
that would produce a 10^10-row frontier on a real cluster.

Host skew is deliberate: host0 holds ~50% of rows (hot host), the other
7 hosts split the rest — this exercises the host-hash fetch
repartition's skew handling (SURVEY.md §4.3).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

SEED_INDEX_COLUMNS = [
    "cik",
    "company",
    "type",
    "date",
    "complete_text_file_link",
    "html_index",
    "filing_date",
    "period_of_report",
    "sic",
    "htm_file_link",
    "state_of_inc",
    "state_location",
    "fiscal_year_end",
    "filename",
    "year",
    "quarter",
    "row_seq",
    "host",
]


def seed_index_df(
    spark: SparkSession,
    n: int = 1000,
    year: int = 2022,
    quarter: int = 1,
    n_hosts: int = 8,
    hot_host: bool = True,
) -> DataFrame:
    """n rows of 2022-Q1-shaped filings. row_seq = line number in the
    (year, quarter) index file = the deterministic crawl-order key
    (reference crawl order is file order, download_filings.py:116-183).

    hot_host=True sends ~50% of rows to host0 (skew case); otherwise
    rows spread uniformly over n_hosts (the 10^10-frontier shape, where
    host count >> core count)."""
    i = F.col("id")
    cik = (F.lit(100000) + i % 997).cast("string")
    if hot_host:
        # hot host: even rows all land on host0 (~50%); odd rows spread over the rest
        host = F.when(i % 2 == 0, F.lit("host0.test")).otherwise(
            F.concat(F.lit("host"), (F.lit(1) + i % (n_hosts - 1)).cast("string"), F.lit(".test"))
        )
    else:
        host = F.concat(F.lit("host"), (i % n_hosts).cast("string"), F.lit(".test"))
    accession = F.concat(F.lpad(cik, 10, "0"), F.lit("-22-"), F.lpad(i.cast("string"), 6, "0"))
    txt_link = F.concat(
        F.lit("https://"), host, F.lit("/Archives/edgar/data/"), cik, F.lit("/"), accession, F.lit(".txt")
    )
    df = (
        spark.range(n)
        .select(
            cik.alias("cik"),
            # some company names carry commas/quotes to exercise CSV quoting
            F.when(i % 7 == 0, F.concat(F.lit("COMPANY "), i.cast("string"), F.lit(", \"INC\"")))
            .otherwise(F.concat(F.lit("COMPANY "), i.cast("string"), F.lit(" INC")))
            .alias("company"),
            F.when(i % 10 < 7, F.lit("10-K"))
            .when(i % 10 < 9, F.lit("10-Q"))
            .otherwise(F.lit("8-K"))
            .alias("type"),
            F.date_format(
                F.date_add(F.to_date(F.lit(f"{year}-01-01")), (i % 90).cast("int")), "yyyy-MM-dd"
            ).alias("date"),
            txt_link.alias("complete_text_file_link"),
            # derivation rule: .txt → -index.html (download_filings.py:305-306);
            # this column is THE URL-seen key (download_filings.py:156)
            F.regexp_replace(txt_link, r"\.txt$", "-index.html").alias("html_index"),
            *[
                F.lit(None).cast("string").alias(c)
                for c in (
                    "filing_date",
                    "period_of_report",
                    "sic",
                    "htm_file_link",
                    "state_of_inc",
                    "state_location",
                    "fiscal_year_end",
                    "filename",
                )
            ],
            F.lit(year).alias("year"),
            F.lit(quarter).alias("quarter"),
            i.alias("row_seq"),
            host.alias("host"),
        )
    )
    return df


def previously_crawled_df(spark: SparkSession, n: int = 1000, **kw) -> DataFrame:
    """"Old metadata" table: every 5th seed row pretends to be already
    crawled — exercises the J2 anti-join dedup
    (download_filings.py:151-158)."""
    return seed_index_df(spark, n, **kw).filter(F.col("row_seq") % 5 == 0)
