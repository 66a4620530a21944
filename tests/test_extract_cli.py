"""Stage-2 (extract) CLI parity — VERDICT r02 items 2+3.

The reference's second CLI (extract_items.py:1191-1266) reads the
metadata CSV, filters types, skips already-extracted filings, reads
``{raw}/{Type}/{filename}`` and writes
``{extracted}/{Type}/{base}.json`` with indent=4 / ensure_ascii=False.
Here: the same surface via ``spark_submit_main.py --extract``, plus the
stage-1 ``--raw-filings-dir`` S7 folder sink that feeds it."""

import json
import os
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prepare_dataset(tmp_path, spark, n=12):
    from edgar_crawler_spark.fixtures.raw_documents import raw_documents_pdf
    from edgar_crawler_spark.sources.dims import write_metadata_csv

    pdf = raw_documents_pdf(n)
    pdf["Filing Date"] = pdf["Date"]
    raw = tmp_path / "raw"
    for _, r in pdf.iterrows():
        d = raw / r["Type"]
        d.mkdir(parents=True, exist_ok=True)
        (d / r["filename"]).write_text(r["content"])
    md = spark.createDataFrame(pdf.drop(columns=["content"]))
    write_metadata_csv(md, str(tmp_path / "md.csv"))
    return pdf


def _run(args):
    out = subprocess.run(
        [sys.executable, "spark_submit_main.py", *args],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_extract_cli_layout_content_and_skip(spark, tmp_path):
    pdf = _prepare_dataset(tmp_path, spark)
    out_dir = tmp_path / "out"
    args = [
        "--extract",
        "--metadata-csv-in", str(tmp_path / "md.csv"),
        "--raw-dir", str(tmp_path / "raw"),
        "--out-dir", str(out_dir),
    ]
    rep = _run(args)
    assert rep["selected"] == len(pdf) and rep["extracted"] == len(pdf)
    assert rep["failed"] == 0

    # reference layout: {out}/{Type}/{base}.json, one per filing
    for _, r in pdf.iterrows():
        base = r["filename"].split(".")[0]
        p = out_dir / r["Type"] / f"{base}.json"
        assert p.exists(), p
        rec = json.loads(p.read_text())
        assert rec["cik"] == r["CIK"] and rec["filename"] == r["filename"]

    # byte parity with the in-process kernel serialization
    from edgar_crawler_spark.extract.extractor import extract_filing
    from edgar_crawler_spark.extract.spark_extract import METADATA_COLS

    r = pdf.iloc[0]
    md = {c: r.get(c) for c in METADATA_COLS}
    rec = extract_filing(r["content"], md)
    expected = json.dumps(rec, indent=4, ensure_ascii=False)
    base = r["filename"].split(".")[0]
    got = (out_dir / r["Type"] / f"{base}.json").read_text()
    assert got == expected

    # J5: second run skips everything already extracted
    rep2 = _run(args)
    assert rep2["skipped_extracted"] == len(pdf) and rep2["extracted"] == 0


def test_extract_cli_reference_config_verbatim(spark, tmp_path):
    """A verbatim copy of the reference's config.json drives stage 2
    against a --dataset-dir laid out with its folder keys."""
    pdf = _prepare_dataset(tmp_path, spark, n=6)
    ds = tmp_path / "ds"
    ds.mkdir()
    os.rename(tmp_path / "raw", ds / "RAW_FILINGS")
    os.rename(tmp_path / "md.csv", ds / "FILINGS_METADATA.csv")
    rep = _run(["--extract", "--config", "/root/reference/config.json", "--dataset-dir", str(ds)])
    assert rep["extracted"] == len(pdf)
    assert (ds / "EXTRACTED_FILINGS" / "10-K").is_dir()


def test_crawl_to_extract_chain(spark, tmp_path):
    """Stage-1 outputs (--metadata-csv + --raw-filings-dir) feed stage 2
    unchanged: the full reference two-stage pipeline at the spark-submit
    surface."""
    from edgar_crawler_spark.fixtures.raw_documents import make_8k, make_10k, make_10q
    from edgar_crawler_spark.fixtures.seed_index import seed_index_df

    seed_index_df(spark, 30, n_hosts=3, hot_host=False).write.mode("overwrite").parquet(
        str(tmp_path / "seeds")
    )
    rep1 = _run(
        [
            "--workdir", str(tmp_path / "wd"),
            "--seed-parquet", str(tmp_path / "seeds"),
            "--wave-quota", "30",
            "--metadata-csv", str(tmp_path / "md.csv"),
            "--raw-filings-dir", str(tmp_path / "raw"),
        ]
    )
    assert rep1["admitted"] == 30

    # S7 layout: every fetched row became {raw}/{Type}/{P5 filename},
    # bytes byte-equal to the committed payload
    raw_files = {
        os.path.join(t, f)
        for t in os.listdir(tmp_path / "raw")
        for f in os.listdir(tmp_path / "raw" / t)
    }
    assert len(raw_files) == 30
    from edgar_crawler_spark.frontier.state import SnapshotTable

    payload = SnapshotTable(str(tmp_path / "wd" / "payload")).read(spark)
    one = payload.select("image_id", "bytes").limit(1).collect()[0]
    match = [p for p in raw_files if one.image_id in p]
    assert match, (one.image_id, sorted(raw_files)[:3])
    assert (tmp_path / "raw" / match[0]).read_bytes() == bytes(one.bytes)

    # the stub payloads are images; stage 2 needs filing docs — rewrite
    # in place (the chain contract is CSV+layout, not payload content)
    mk = {"10-K": make_10k, "10-Q": make_10q, "8-K": make_8k}
    for i, rel in enumerate(sorted(raw_files)):
        t = rel.split(os.sep)[0]
        (tmp_path / "raw" / rel).write_text(mk[t](i))

    rep2 = _run(
        [
            "--extract",
            "--metadata-csv-in", str(tmp_path / "md.csv"),
            "--raw-dir", str(tmp_path / "raw"),
            "--out-dir", str(tmp_path / "out"),
        ]
    )
    assert rep2["selected"] == 30 and rep2["extracted"] == 30


def test_metadata_csv_lists_only_downloaded_filings(spark, tmp_path):
    """--metadata-csv lists the downloaded filings, like the reference's
    FILINGS_METADATA.csv: a URL that failed (two seeds carry a malformed
    accession, which the stub fetcher answers with 404) is not a row.
    The CSV and the --raw-filings-dir folder hold the same filings."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.fixtures.seed_index import seed_index_df

    bad = F.col("row_seq").isin(4, 9)
    seed = seed_index_df(spark, 12, n_hosts=2, hot_host=False)
    for c in ("html_index", "complete_text_file_link"):
        seed = seed.withColumn(c, F.when(bad, F.regexp_replace(c, "-22-", "-2x-")).otherwise(F.col(c)))
    seed.write.mode("overwrite").parquet(str(tmp_path / "seeds"))
    rep = _run(
        [
            "--workdir", str(tmp_path / "wd"),
            "--seed-parquet", str(tmp_path / "seeds"),
            "--metadata-csv", str(tmp_path / "md.csv"),
            "--raw-filings-dir", str(tmp_path / "raw"),
        ]
    )
    fetched = sum(w["fetched"] for w in rep["waves"])
    assert rep["admitted"] == 12 and fetched == 10
    assert sum(w["failed"] for w in rep["waves"]) == 2

    csv = (
        spark.read.option("header", True).option("escape", '"')
        .csv(str(tmp_path / "md.csv"))
        .toPandas()
    )
    raw_files = {f for t in os.listdir(tmp_path / "raw") for f in os.listdir(tmp_path / "raw" / t)}
    assert len(csv) == len(raw_files) == fetched
    assert set(csv["filename"]) == raw_files
    assert not any("-2x-" in link for link in csv["complete_text_file_link"])


def test_extract_cli_table_native_workdir(spark, tmp_path):
    """--extract --workdir runs stage 2 straight off the frontier's
    payload/log snapshot tables (no folder-of-files round-trip); the
    second run's J5 anti-join extracts nothing new."""
    from edgar_crawler_spark.fixtures.seed_index import seed_index_df
    from edgar_crawler_spark.frontier.frontier import CrawlFrontier

    def filing_fetcher(url: str, attempt: int):
        import re

        from edgar_crawler_spark.fixtures.raw_documents import make_8k, make_10k, make_10q

        i = int(re.search(r"-(\d{6})-index\.html$", url).group(1))
        return 200, [make_10k, make_10q, make_8k][i % 3](i).encode(), None

    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, fetcher=filing_fetcher)
    fr.submit(seed_index_df(spark, 18, n_hosts=2, hot_host=False))
    fr.run()

    rep2 = _run(["--extract", "--workdir", str(tmp_path / "wd")])
    assert rep2["extracted_rows"] > 0

    from edgar_crawler_spark.frontier.state import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "wd" / "extracted")).read(spark)
    assert tbl.count() == rep2["extracted_rows"]

    rep3 = _run(["--extract", "--workdir", str(tmp_path / "wd")])
    assert rep3["extracted_rows"] == 0


def test_bootstrap_metadata_csv_skips_prior_crawl(spark, tmp_path):
    """--bootstrap-metadata-csv: a reference user's incremental re-run —
    rows already present in FILINGS_METADATA.csv never re-fetch
    (download_filings.py:139-158), even into a FRESH workdir."""
    from edgar_crawler_spark.fixtures.seed_index import seed_index_df

    seed_index_df(spark, 20, n_hosts=2, hot_host=False).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "seeds"))
    rep1 = _run(
        [
            "--workdir", str(tmp_path / "wd1"),
            "--seed-parquet", str(tmp_path / "seeds"),
            "--metadata-csv", str(tmp_path / "md.csv"),
        ]
    )
    assert rep1["admitted"] == 20

    rep2 = _run(
        [
            "--workdir", str(tmp_path / "wd2"),  # fresh state
            "--seed-parquet", str(tmp_path / "seeds"),
            "--bootstrap-metadata-csv", str(tmp_path / "md.csv"),
        ]
    )
    assert rep2["bootstrapped_seen"] == 20
    assert rep2["admitted"] == 0 and rep2["waves"] == []


def test_extract_cli_items_subset(spark, tmp_path):
    """extract_items.items_to_extract narrows the per-filing output to
    the requested items (reference determine_items_to_extract,
    extract_items.py:163-199 — applied per filing, without the
    reference's cross-filing extractor-state mutation)."""
    pdf = _prepare_dataset(tmp_path, spark, n=9)
    cfg = {
        "download_filings": {"start_year": 2022, "end_year": 2022},
        "extract_items": {
            "filing_types": ["10-K"],
            "items_to_extract": ["1A", "3"],
            "remove_tables": True,
            "include_signature": False,
            "skip_extracted_filings": True,
        },
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    out_dir = tmp_path / "out"
    rep = _run(
        [
            "--extract",
            "--config", str(cfg_path),
            "--metadata-csv-in", str(tmp_path / "md.csv"),
            "--raw-dir", str(tmp_path / "raw"),
            "--out-dir", str(out_dir),
        ]
    )
    tenks = pdf[pdf["Type"] == "10-K"]
    assert rep["selected"] == len(tenks) and rep["extracted"] == len(tenks)
    for _, r in tenks.iterrows():
        base = r["filename"].split(".")[0]
        rec = json.loads((out_dir / "10-K" / f"{base}.json").read_text())
        item_keys = [k for k in rec if k.startswith("item_")]
        assert item_keys == ["item_1A", "item_3"], item_keys
