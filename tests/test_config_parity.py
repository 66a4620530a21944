"""config.json parity (VERDICT r01 item 10): the reference's config
keys drive the same worklist/filters as CLI flags, and a verbatim copy
of the reference's own config.json loads."""

import json
import os
import subprocess
import sys

import pytest

from edgar_crawler_spark.config import (
    apply_filing_filters,
    config_worklist,
    load_reference_config,
    split_cik_tickers,
)
from edgar_crawler_spark.sources.dims import ticker_cik_dim
from edgar_crawler_spark.sources.index_source import quarterly_index_worklist

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REF_CONFIG = "/root/reference/config.json"


def test_reference_config_loads_verbatim(tmp_path):
    cfg = load_reference_config(REF_CONFIG)
    dl = cfg["download_filings"]
    assert dl["start_year"] == 2023 and dl["end_year"] == 2023
    assert dl["quarters"] == [1, 2, 3, 4]
    assert dl["filing_types"] == ["10-K", "10-Q", "8-K"]
    assert dl["cik_tickers"] == ["AAPL"]
    assert dl["skip_present_indices"] is True
    ex = cfg["extract_items"]
    assert ex["remove_tables"] is True and ex["include_signature"] is False


def test_config_worklist_equals_flag_worklist(spark):
    """Same (year, quarter, url) rows whether built from config keys or
    from the direct flag call — the verdict's done criterion."""
    dl = load_reference_config(REF_CONFIG)["download_filings"]
    by_config = config_worklist(spark, dl, as_of="2023-11-15")
    by_flags = quarterly_index_worklist(
        spark, 2023, 2023, quarters=[1, 2, 3, 4], as_of="2023-11-15"
    )
    assert sorted(map(tuple, by_config.collect())) == sorted(
        map(tuple, by_flags.collect())
    )
    # S2 guard active: Q4-2023 starts 2023-10-01 <= as_of, all 4 kept
    assert by_config.count() == 4
    # earlier cutoff drops future quarters
    assert config_worklist(spark, dl, as_of="2023-05-01").count() == 2


def test_split_cik_tickers_list_and_file(tmp_path):
    assert split_cik_tickers(["AAPL", "320193", 1318605]) == (
        ["320193", "1318605"],
        ["AAPL"],
    )
    p = tmp_path / "list.txt"
    p.write_text("AAPL\n320193\n\nMSFT\n")
    assert split_cik_tickers(str(p)) == (["320193"], ["AAPL", "MSFT"])
    assert split_cik_tickers(None) == ([], [])
    with pytest.raises(FileNotFoundError):
        split_cik_tickers("/no/such/file")


def test_apply_filing_filters_types_and_tickers(spark):
    rows = spark.createDataFrame(
        [
            ("320193", "10-K"),
            ("320193", "4"),
            ("789019", "10-K"),
            ("999999", "10-Q"),
        ],
        "cik string, type string",
    )
    dim = ticker_cik_dim(spark, rows=[("AAPL", "320193"), ("MSFT", "789019")])
    dl = {"filing_types": ["10-K", "10-Q"], "cik_tickers": ["AAPL", "999999"]}
    got = sorted(map(tuple, apply_filing_filters(rows, dl, ticker_dim=dim).collect()))
    assert got == [("320193", "10-K"), ("999999", "10-Q")]
    # tickers without a dim must raise (the reference exits)
    with pytest.raises(ValueError):
        apply_filing_filters(rows, {"filing_types": ["10-K"], "cik_tickers": ["AAPL"]})


def test_cli_plan_only_config_vs_flags(tmp_path):
    """End-to-end CLI parity: --config <reference config.json> and the
    equivalent flags print the identical worklist."""
    base = [
        sys.executable,
        "spark_submit_main.py",
        "--workdir",
        str(tmp_path / "wd"),
        "--plan-only",
        "--as-of",
        "2023-11-15",
    ]
    out_cfg = subprocess.run(
        base + ["--config", REF_CONFIG], capture_output=True, text=True, cwd=REPO_ROOT
    )
    assert out_cfg.returncode == 0, out_cfg.stderr[-2000:]
    plan_cfg = json.loads(out_cfg.stdout.strip().splitlines()[-1])

    out_flags = subprocess.run(
        base
        + [
            "--start-year", "2023", "--end-year", "2023",
            "--quarters", "1", "2", "3", "4",
            "--filing-types", "10-K", "10-Q", "8-K",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
    )
    assert out_flags.returncode == 0, out_flags.stderr[-2000:]
    plan_flags = json.loads(out_flags.stdout.strip().splitlines()[-1])

    assert plan_cfg["worklist"] == plan_flags["worklist"]
    assert plan_cfg["filing_types"] == plan_flags["filing_types"]
    assert plan_cfg["tickers"] == ["AAPL"]
    assert [w["url"] for w in plan_cfg["worklist"]] == [
        f"https://www.sec.gov/Archives/edgar/full-index/2023/QTR{q}/master.zip"
        for q in (1, 2, 3, 4)
    ]
