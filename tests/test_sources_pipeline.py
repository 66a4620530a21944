"""S1-S4 index sources, enrichment plan, kill-and-resume, robots gate."""

import pyspark.sql.functions as F
import pytest

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.frontier import CrawlFrontier
from edgar_crawler_spark.plans.pipeline import company_dim_df, enrich_metadata
from edgar_crawler_spark.sources.index_source import (
    parse_master_idx,
    quarterly_index_worklist,
    synth_master_idx_body,
)


def test_worklist_guard_and_skip(spark):
    present = spark.createDataFrame([(2021, 1)], "year int, quarter int")
    wl = quarterly_index_worklist(
        spark, 2021, 2022, as_of="2022-05-01", present=present
    ).toPandas()
    # 2021: Q1 skipped (present), Q2-Q4 wanted; 2022: Q1-Q2 within as_of
    assert set(zip(wl.year, wl.quarter)) == {
        (2021, 2), (2021, 3), (2021, 4), (2022, 1), (2022, 2),
    }
    assert wl.url.str.contains("full-index/2021/QTR2/master.zip").any()


def test_parse_master_idx_row_seq_stable(spark):
    files = spark.createDataFrame(
        [
            (2022, 1, synth_master_idx_body(2022, 1, 40)),
            (2022, 2, synth_master_idx_body(2022, 2, 25)),
        ],
        "year int, quarter int, body string",
    )
    # row_seq must be the line offset, independent of parallelism
    one = parse_master_idx(spark, files.repartition(1)).toPandas()
    many = parse_master_idx(spark, files.repartition(8)).toPandas()
    key = ["year", "quarter", "row_seq"]
    assert len(one) == 65
    a = one.sort_values(key).reset_index(drop=True)
    b = many.sort_values(key).reset_index(drop=True)
    assert a.equals(b)
    q1 = a[a.quarter == 1]
    assert list(q1.row_seq) == list(range(40))
    assert q1.iloc[0].html_index.startswith("https://www.sec.gov/Archives/edgar/data/")
    assert q1.iloc[0].html_index.endswith("-index.html")
    assert q1.iloc[0].filename is None  # back-filled later by the crawl


def test_enrich_metadata_backfill(spark):
    seed = seed_index_df(spark, 50)
    dim = company_dim_df(spark)
    out = enrich_metadata(seed, dim).toPandas()
    assert out.sic.notna().all()
    assert out.filename.str.match(r"\d+_(10K|10Q|8K)_2022_\d{10}-22-\d{6}\.txt").all()


def test_kill_and_resume_mid_crawl(spark, tmp_path):
    """Crash between waves → a fresh CrawlFrontier over the same
    workdir finishes the crawl; final log and seen-set match an
    uninterrupted run (FIXTURES.md §D)."""
    seed = seed_index_df(spark, 120)

    wd1 = str(tmp_path / "interrupted")
    fr1 = CrawlFrontier(spark, wd1, wave_quota=5)  # small quota → multiple waves
    fr1.submit(seed)
    fr1.run(max_waves=1)  # wave 1 only, then "crash"
    del fr1
    fr1b = CrawlFrontier(spark, wd1, wave_quota=10**9)  # resume from snapshots
    fr1b.run()

    wd2 = str(tmp_path / "clean")
    fr2 = CrawlFrontier(spark, wd2, wave_quota=10**9)
    fr2.submit(seed)
    fr2.run()

    log1 = fr1b.fetch_log().toPandas()
    log2 = fr2.fetch_log().toPandas()
    assert list(log1.row_seq) == list(log2.row_seq)
    seen1 = set(fr1b.seen_set().toPandas().canonical_url)
    seen2 = set(fr2.seen_set().toPandas().canonical_url)
    assert seen1 == seen2


def test_crawl_plan_end_to_end(spark, tmp_path):
    # the stage-1 dataflow spark_submit_main.py runs: submit → run to
    # drain → enrich the fetch log
    fr = CrawlFrontier(spark, str(tmp_path / "c"))
    fr.submit(seed_index_df(spark, 60))
    fr.run()
    log = enrich_metadata(fr.fetch_log(), company_dim_df(spark))
    pdf = log.orderBy("year", "quarter", "row_seq").toPandas()
    assert len(pdf) == 60
    assert (pdf.state == "fetched").all()
    assert pdf.sic.notna().all() and pdf.filename.notna().all()


def test_robots_gate():
    from edgar_crawler_spark.frontier.politeness import RobotsGate

    gate = RobotsGate(
        lambda host: "User-agent: *\nDisallow: /private/\nDisallow: /tmp\n"
        if host == "a.test"
        else None
    )
    assert not gate.allowed("a.test", "/private/x.html")
    assert not gate.allowed("a.test", "/tmp")
    assert gate.allowed("a.test", "/public/x.html")
    assert gate.allowed("b.test", "/private/x.html")
