"""Ticker dimension resolution, metadata CSV round-trip, URL
canonicalization edge cases."""

import json
import os

import pyspark.sql.functions as F

from edgar_crawler_spark.frontier.canonical import canonical_url_col, with_url_identity
from edgar_crawler_spark.sources.dims import (
    read_metadata_csv,
    resolve_tickers,
    ticker_cik_dim,
    write_metadata_csv,
)


def test_ticker_resolution_with_unmatched(spark, tmp_path):
    p = str(tmp_path / "tickers.json")
    with open(p, "w") as f:
        json.dump(
            {
                "0": {"cik_str": 320193, "ticker": "AAPL", "title": "Apple Inc."},
                "1": {"cik_str": 789019, "ticker": "MSFT", "title": "Microsoft Corp"},
            },
            f,
        )
    dim = ticker_cik_dim(spark, json_path=p)
    assert [r.ticker for r in dim.collect()] == ["AAPL", "MSFT"]
    seeds = spark.createDataFrame([("aapl",), ("NOPE",)], "ticker string")
    ok, bad = resolve_tickers(seeds, dim)
    assert [r.cik for r in ok.collect()] == ["320193"]
    assert [r.ticker for r in bad.collect()] == ["NOPE"]


def test_metadata_csv_roundtrip(spark, tmp_path):
    rows = [
        ("1000180", 'SANDISK, "CORP"', "8-K", "2010-08-18", "t.txt", "i.html",
         None, None, None, None, None, None, None, "f.htm"),
    ]
    from edgar_crawler_spark.sources.dims import METADATA_CSV_COLUMNS, METADATA_CSV_SCHEMA

    df = spark.createDataFrame(rows, METADATA_CSV_SCHEMA)
    out = str(tmp_path / "meta")
    write_metadata_csv(df, out)
    back = read_metadata_csv(spark, out).collect()
    assert len(back) == 1
    assert back[0]["Company"] == 'SANDISK, "CORP"'  # quoting survives
    assert back[0]["SIC"] is None  # NaN → None semantics


def test_url_canonicalization_edges(spark):
    cases = [
        ("HTTPS://Host.TEST:443/A/b.html#frag", "https://host.test/A/b.html"),
        ("http://h.test:80/x//y///z/", "http://h.test/x/y/z"),
        ("https://h.test/", "https://h.test"),  # root slash normalized away
        ("https://h.test/path/", "https://h.test/path"),
        ("https://h.test:8443/p", "https://h.test:8443/p"),
    ]
    df = spark.createDataFrame([(a,) for a, _ in cases], "u string").withColumn(
        "c", canonical_url_col("u")
    )
    got = [r.c for r in df.collect()]
    assert got == [b for _, b in cases]


def test_url_hash_is_deterministic_across_parallelism(spark):
    from edgar_crawler_spark.fixtures.seed_index import seed_index_df

    a = with_url_identity(seed_index_df(spark, 50).repartition(1)).select("row_seq", "url_hash")
    b = with_url_identity(seed_index_df(spark, 50).repartition(7)).select("row_seq", "url_hash")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
