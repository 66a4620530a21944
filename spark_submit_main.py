"""Cluster entry point: both reference CLI stages via spark-submit.

Stage 1 (crawl — download_filings.py:54-224):

    zip -r edgar_crawler_spark.zip edgar_crawler_spark/
    spark-submit --py-files edgar_crawler_spark.zip spark_submit_main.py \
        --workdir /data/frontier --seed-parquet /data/seeds \
        [--rate 10] [--wave-quota 100000] [--max-waves 1000] \
        [--metadata-csv out.csv] [--raw-filings-dir RAW_FILINGS]

Stage 2 (extract — extract_items.py:1191-1266):

    spark-submit --py-files edgar_crawler_spark.zip spark_submit_main.py \
        --extract --config config.json [--dataset-dir datasets] \
        [--metadata-csv-in CSV] [--raw-dir RAW] [--out-dir EXTRACTED]

Stage 1's ``--metadata-csv`` + ``--raw-filings-dir`` outputs are exactly
stage 2's inputs (and the reference's own extract_items.py can consume
them unchanged — same folder layout and filename scheme).

On a real cluster the SparkSession comes from spark-submit's conf
(master/executors set externally); locally this falls back to
local[$SPARK_GRAFT_CPUS]. The same job runs unchanged at N and 4N
executors — scaling evidence in BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from edgar_crawler_spark.frontier.fetch import stub_fetcher
from edgar_crawler_spark.frontier.frontier import CrawlFrontier

DEFAULT_UA = "edgar-crawler-spark admin@example.com"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", help="frontier state dir (crawl stage)")
    ap.add_argument("--seed-parquet")
    ap.add_argument(
        "--config",
        help="reference-format config.json (download_filings keys drive "
        "the index worklist and filters — a copied /root/reference/"
        "config.json works unchanged)",
    )
    ap.add_argument("--start-year", type=int)
    ap.add_argument("--end-year", type=int)
    ap.add_argument("--quarters", type=int, nargs="+")
    ap.add_argument("--filing-types", nargs="+")
    ap.add_argument("--as-of", help="S2 cutoff date override (tests)")
    ap.add_argument(
        "--plan-only",
        action="store_true",
        help="print the quarterly-index worklist + filters this run "
        "would execute, then exit (config/flag parity check)",
    )
    ap.add_argument("--rate", type=float, default=10.0)
    ap.add_argument(
        "--wave-quota",
        type=int,
        default=100_000,
        help="PER-HOST dispatch cap per wave (a wave carries up to "
        "quota rows from each host's priority queue)",
    )
    ap.add_argument("--max-waves", type=int, default=1000)
    ap.add_argument(
        "--max-wave-rows",
        type=int,
        default=None,
        help="GLOBAL cap on rows per wave (the per-host quota alone lets "
        "a wave carry quota × n_hosts rows); excess defers by priority",
    )
    ap.add_argument(
        "--seen-filter",
        choices=["bloom", "cuckoo"],
        default="bloom",
        help="URL-seen pre-filter kind: incremental Bloom (default) or "
        "deletable cuckoo (supports invalidate/requeue)",
    )
    ap.add_argument(
        "--compact-every",
        type=int,
        default=None,
        help="fold seen/log/payload snapshots every K waves (scan-planning "
        "hygiene on long crawls; default off)",
    )
    ap.add_argument("--real-network", action="store_true")
    ap.add_argument(
        "--robots",
        action="store_true",
        help="honor robots.txt per host (fetched once per host per wave "
        "partition; requires --real-network)",
    )
    ap.add_argument(
        "--bootstrap-metadata-csv",
        help="pre-load an existing FILINGS_METADATA.csv as the URL-seen "
        "set before submitting (the reference's incremental re-run: "
        "rows already in the metadata never re-fetch, "
        "download_filings.py:139-158)",
    )
    ap.add_argument(
        "--caption-dedup",
        action="store_true",
        help="after the crawl drains, run the incremental near-dup pass "
        "over this workdir's payload (caption MinHash-LSH + phash "
        "banded-Hamming); pairs append to the near_dup_pairs table and "
        "only payload rows new since the last pass are signed",
    )
    ap.add_argument(
        "--caption-dedup-min-sim",
        type=float,
        default=0.8,
        help="dispose threshold for caption near-dup candidates "
        "(agreeing-seed Jaccard estimate); pass -1 to emit raw "
        "banded candidates instead",
    )
    ap.add_argument(
        "--lsh-buckets",
        type=int,
        default=0,
        help="hive-partition the caption LSH index into this many hash "
        "buckets of (band, band_key) so the candidate-generation leg "
        "reads only touched partitions (use on large corpora; must stay "
        "constant for the life of the index; 0 = flat legacy layout). "
        "With a dispose threshold set (the default min-sim) a doc-hash "
        "twin of the band rows is kept under <index>/_bydoc so the "
        "verification leg is partition-pruned too (storage 2x the band "
        "rows -- still k integers per doc)",
    )
    ap.add_argument(
        "--compact-lsh-index",
        type=int,
        default=0,
        metavar="N",
        help="after the --caption-dedup pass, fold the caption LSH "
        "index's per-batch commits into one data dir whenever it has "
        "accumulated >= N commits (layout-preserving; 0 = never)",
    )
    ap.add_argument(
        "--drop-near-dups",
        action="store_true",
        help="table-native extract only: skip near-dup cluster members "
        "(keep each cluster's representative) using the workdir's "
        "near_dup_pairs table from a prior --caption-dedup pass",
    )
    ap.add_argument(
        "--synth-rows-per-quarter",
        type=int,
        default=400,
        help="rows per synthetic master.idx in config-driven sandbox mode",
    )
    ap.add_argument(
        "--metadata-csv",
        help="after the crawl, write the fetch log as a reference-shaped "
        "FILINGS_METADATA.csv directory (stage-1 output parity)",
    )
    ap.add_argument(
        "--raw-filings-dir",
        help="after the crawl, also write fetched payload bytes as "
        "{dir}/{Type}/{CIK}_{TYPE}_{YEAR}_{accession}.{ext} files (S7 "
        "layout, download_filings.py:716-729) — directly consumable by "
        "the reference's extract_items.py or this CLI's --extract stage",
    )
    ap.add_argument(
        "--export-shards",
        help="after the crawl, run the image-curation tail over the "
        "payload table (caption/metadata gates → perceptual-hash dedup "
        "representatives → aspect-bucket packing) and write "
        "deterministic WebDataset-style tar shards to this directory "
        "(sources/shard_export.py)",
    )
    ap.add_argument(
        "--export-n-shards",
        type=int,
        default=8,
        help="hash shards per aspect bucket for --export-shards (the "
        "export parallelism knob: one tar per (bucket, shard))",
    )
    ap.add_argument(
        "--export-px-budget",
        type=int,
        default=8192,
        help="pixel budget per packed batch for --export-shards",
    )
    # stage 2 (extract_items.py:1191-1266)
    ap.add_argument(
        "--extract",
        action="store_true",
        help="run the extraction stage instead of the crawl (reads the "
        "extract_items config keys / the --*-dir flags)",
    )
    ap.add_argument(
        "--dataset-dir",
        default="datasets",
        help="base dir the reference resolves its extract_items folder "
        "keys against (reference DATASET_DIR)",
    )
    ap.add_argument("--metadata-csv-in", help="extract stage: metadata CSV path")
    ap.add_argument("--raw-dir", help="extract stage: raw filings folder")
    ap.add_argument("--out-dir", help="extract stage: extracted filings folder")
    # None default so --config's user_agent is never clobbered by a flag
    # the user did not pass (ADVICE r02)
    ap.add_argument("--user-agent", default=None)
    ap.add_argument(
        "--logging-dir",
        default=None,
        help="write a timestamped per-run log file here (the reference's "
        "logger.py surface); off by default",
    )
    args = ap.parse_args()

    runlog = None
    if args.logging_dir:
        from edgar_crawler_spark.runlog import get_run_logger

        runlog = get_run_logger(
            "extract_items" if args.extract else "edgar_crawler",
            logging_dir=args.logging_dir,
        )

    # No spark.python.daemon.module here, unlike session.get_spark: a
    # --py-files zip is on sys.path only inside a task, not when the
    # executor starts the daemon, so on a cluster the daemon module
    # (edgar_crawler_spark.worker_daemon) would fail to import.
    builder = SparkSession.builder.appName("edgar-crawler-spark")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # config.json parity: the reference's download_filings keys drive
    # the same plan the CLI flags do; explicit flags override config
    dl_cfg = None
    ex_cfg = None
    if args.config:
        from edgar_crawler_spark.config import load_reference_config

        cfg = load_reference_config(args.config)
        dl_cfg = cfg["download_filings"]
        ex_cfg = cfg["extract_items"]

    if args.extract:
        run_extract_stage(spark, args, ex_cfg, runlog=runlog)
        return

    if args.start_year or args.end_year or args.quarters or args.filing_types:
        from edgar_crawler_spark.config import DOWNLOAD_DEFAULTS

        dl_cfg = dict(dl_cfg or DOWNLOAD_DEFAULTS)
        if args.start_year:
            dl_cfg["start_year"] = args.start_year
        if args.end_year:
            dl_cfg["end_year"] = args.end_year
        if args.quarters:
            dl_cfg["quarters"] = args.quarters
        if args.filing_types:
            dl_cfg["filing_types"] = args.filing_types
        if args.user_agent:  # only an EXPLICIT flag overrides config
            dl_cfg["user_agent"] = args.user_agent

    if args.plan_only:
        from edgar_crawler_spark.config import config_worklist, split_cik_tickers

        if dl_cfg is None:
            raise SystemExit("--plan-only needs --config or year/quarter flags")
        wl = config_worklist(spark, dl_cfg, as_of=args.as_of)
        ciks, tickers = split_cik_tickers(dl_cfg.get("cik_tickers"))
        plan = {
            "worklist": [
                {"year": r.year, "quarter": r.quarter, "url": r.url}
                for r in wl.orderBy("year", "quarter").collect()
            ],
            "filing_types": list(dl_cfg["filing_types"]),
            "ciks": ciks,
            "tickers": tickers,
            "user_agent": dl_cfg.get("user_agent"),
            "skip_present_indices": bool(dl_cfg.get("skip_present_indices", True)),
        }
        print(json.dumps(plan))
        return

    if not args.workdir:
        raise SystemExit("the crawl stage needs --workdir")
    if not args.seed_parquet and dl_cfg is None:
        raise SystemExit("need --seed-parquet, --config, or year/quarter flags")

    # precedence: explicit flag > config.json > built-in default (ADVICE r02)
    ua = args.user_agent or (dl_cfg or {}).get("user_agent") or DEFAULT_UA

    fetcher = stub_fetcher
    virtual_clock = True
    if args.real_network:
        from edgar_crawler_spark.frontier.fetch import http_fetcher_factory

        fetcher = http_fetcher_factory(ua)
        virtual_clock = False  # real politeness: wall-clock token buckets

    robots_fetcher = None
    if args.robots:
        if not args.real_network:
            raise SystemExit("--robots requires --real-network")
        from edgar_crawler_spark.frontier.fetch import http_robots_fetcher_factory

        robots_fetcher = http_robots_fetcher_factory(ua)

    fr = CrawlFrontier(
        spark,
        args.workdir,
        fetcher=fetcher,
        rate_per_host=args.rate,
        virtual_clock=virtual_clock,
        wave_quota=args.wave_quota,
        max_wave_rows=args.max_wave_rows,
        robots_fetcher=robots_fetcher,
        filter_kind=args.seen_filter,
        compact_every=args.compact_every,
    )
    report: dict = {}
    if args.bootstrap_metadata_csv:
        from edgar_crawler_spark.sources.dims import read_metadata_csv

        n_boot = fr.bootstrap_seen(
            read_metadata_csv(spark, args.bootstrap_metadata_csv)
        )
        report["bootstrapped_seen"] = n_boot
    if args.seed_parquet:
        seed = spark.read.parquet(args.seed_parquet)
    else:
        # config-driven end-to-end (the reference's download_filings run):
        # worklist → master.zip fetch+unzip+parse (S1–S4) → type/CIK
        # filters (P2/P3) → frontier. Without --real-network the index
        # fetcher serves deterministic synthetic zips (same politeness +
        # retry protocol, zero network).
        from edgar_crawler_spark.config import apply_filing_filters, config_worklist, split_cik_tickers
        from edgar_crawler_spark.sources.index_source import (
            download_quarterly_indices,
            synth_zip_fetcher,
        )

        wl = config_worklist(spark, dl_cfg, as_of=args.as_of)
        idx_fetcher = (
            http_fetcher_factory(ua)
            if args.real_network
            else synth_zip_fetcher(args.synth_rows_per_quarter)
        )
        index_rows, status = download_quarterly_indices(
            spark, wl, idx_fetcher, virtual_clock=virtual_clock
        )
        ciks, tickers = split_cik_tickers(dl_cfg.get("cik_tickers"))
        ticker_dim = None
        if tickers and args.real_network:
            ticker_dim = _fetch_ticker_dim(spark, ua)
        if tickers and ticker_dim is None:
            # sandbox mode can't resolve tickers — report, filter on CIKs only
            report["unresolved_tickers"] = tickers
            cfg_no_tickers = dict(dl_cfg, cik_tickers=ciks or None)
            seed = apply_filing_filters(index_rows, cfg_no_tickers)
        else:
            seed = apply_filing_filters(index_rows, dl_cfg, ticker_dim=ticker_dim)
        report["index_fetch"] = [
            {"year": r.year, "quarter": r.quarter, "state": r.state}
            for r in status.select("year", "quarter", "state").collect()
        ]
        status.unpersist()

    admitted = fr.submit(seed)
    if runlog:
        runlog.info("admitted %d new URLs to the frontier", admitted)
    waves = fr.run(max_waves=args.max_waves)
    if runlog:
        for w in waves:
            runlog.info(
                "wave %d: dispatched=%d fetched=%d retried=%d failed=%d "
                "(%.0f URLs/s)",
                w["wave"], w["dispatched"], w["fetched"], w["retried"],
                w["failed"], w["urls_per_s"],
            )

    if args.metadata_csv or args.raw_filings_dir:
        log = fr.fetch_log()
    else:
        log = None
    if log is not None:
        import pyspark.sql.functions as F

        from edgar_crawler_spark.plans.pipeline import filename_col

        # P5: the frontier log keeps the seed's filename when the crawl
        # filled it, else derives it here (stage-1 output parity)
        log = log.withColumn("filename", F.coalesce(F.col("filename"), filename_col(log)))

    if args.metadata_csv and log is not None:
        from edgar_crawler_spark.sources.dims import (
            METADATA_CSV_COLUMNS,
            write_metadata_csv,
        )

        # engine column names (lowercase) → the reference's CSV headers
        renames = {c.lower().replace(" ", "_"): c for c in METADATA_CSV_COLUMNS}
        out = log.select(*[F.col(low).alias(ref) for low, ref in renames.items()])
        write_metadata_csv(out, args.metadata_csv)
        report["metadata_csv"] = args.metadata_csv

    if args.raw_filings_dir and log is not None:
        from edgar_crawler_spark.sources.blob_sink import write_raw_filing_files

        # S7 layout: fetched rows carry the P5-derived filename; the
        # bytes live in the payload table keyed by accession. The slim
        # (type, filename, image_id) side broadcasts; payload bytes
        # stream — never the other way around (r02 scale bug).
        fetched = log.filter(F.col("state") == "fetched").select(
            "type",
            "filename",
            F.regexp_extract(  # MUST match the payload-commit image_id rule
                "canonical_url", r"/(\d{10}-\d{2}-\d{6})(?:-index\.html)?$", 1
            ).alias("image_id"),
        )
        payload = fr.payload.read(spark)
        if payload is not None:
            rows = payload.select("image_id", "bytes").join(
                F.broadcast(fetched), "image_id"
            )
            write_raw_filing_files(rows, args.raw_filings_dir)
            report["raw_filings_dir"] = args.raw_filings_dir

    if args.caption_dedup:
        from edgar_crawler_spark.plans.pipeline import caption_near_dups_from_frontier

        ms = args.caption_dedup_min_sim
        pairs = caption_near_dups_from_frontier(
            spark,
            args.workdir,
            min_sim=None if ms is not None and ms < 0 else ms,
            lsh_buckets=args.lsh_buckets,
        )
        report["near_dup_pairs"] = 0 if pairs is None else pairs.count()
        if runlog:
            runlog.info("near-dup pass: %d pairs", report["near_dup_pairs"])
        if args.compact_lsh_index:
            import os as _os

            from edgar_crawler_spark.operators.dedup import IncrementalLSHIndex

            idx = IncrementalLSHIndex(
                spark,
                _os.path.join(args.workdir, "caption_lsh"),
                min_sim=None if ms is not None and ms < 0 else ms,
                n_buckets=args.lsh_buckets,
            )
            n_dirs = len(idx.table.latest_manifest()["files"])
            if n_dirs >= args.compact_lsh_index:
                idx.compact()
                report["lsh_index_compacted_dirs"] = n_dirs

    if args.export_shards:
        import pyspark.sql.functions as F

        from edgar_crawler_spark.operators.dedup import image_dedup_representatives
        from edgar_crawler_spark.operators.multimodal import (
            image_caption_gates,
            pack_image_batches,
        )
        from edgar_crawler_spark.sources.shard_export import (
            write_shard_files_streamed,
        )

        payload = fr.payload.read(spark)
        if payload is not None:
            gated = image_caption_gates(payload).filter(F.col("passes") == 1)
            reps = image_dedup_representatives(gated, max_hamming=6)
            survivors = gated.join(reps.select("image_id"), "image_id", "left_semi")
            asg = pack_image_batches(
                survivors,
                buckets=[(32, 32), (32, 16), (16, 32)],
                batch_px_budget=args.export_px_budget,
                n_shards=args.export_n_shards,
            )
            # streamed export: tars go straight from the group kernel
            # to disk (never a row value — no 2 GiB shard ceiling, no
            # second job over shard bytes); manifest rows come back as
            # bounded metadata
            wrote = write_shard_files_streamed(survivors, asg, args.export_shards)
            shard_rows = wrote.pop("shards")
            report["export_shards"] = {
                "dir": args.export_shards,
                "n_shards": len(shard_rows),
                "n_items": int(sum(r["n_items"] for r in shard_rows)),
                **wrote,
            }
            if runlog:
                runlog.info(
                    "exported %d shards / %d items to %s",
                    report["export_shards"]["n_shards"],
                    report["export_shards"]["n_items"],
                    args.export_shards,
                )

    print(json.dumps({"admitted": admitted, "waves": waves, **report}))


def run_extract_stage(spark, args, ex_cfg, runlog=None) -> None:
    """Stage 2 (extract_items.py:1191-1266): metadata CSV → type filter
    (P2) → skip-extracted anti-join (J5) → raw scan (S10) → T1–T14
    extraction kernel → per-filing JSON files (S11 layout).

    Paths resolve like the reference: explicit flags win, else the
    extract_items config keys joined to --dataset-dir."""
    import os

    import pyspark.sql.functions as F

    from edgar_crawler_spark.config import EXTRACT_DEFAULTS
    from edgar_crawler_spark.extract.spark_extract import extract_json_records
    from edgar_crawler_spark.sources.blob_sink import (
        list_extracted_basenames,
        write_filing_json_files,
    )
    from edgar_crawler_spark.sources.dims import read_metadata_csv
    from edgar_crawler_spark.sources.raw_scan import read_raw_filings

    ex_cfg = dict(EXTRACT_DEFAULTS, **(ex_cfg or {}))

    # table-native only when NOTHING requests the reference's folder
    # flow: any of the explicit folder flags, an --out-dir, or folder
    # keys supplied via --config must win (they did before --workdir
    # mode existed — silently dropping them would break config parity)
    cfg_folder_keys = any(
        ex_cfg.get(k)
        for k in (
            "filings_metadata_file",
            "raw_filings_folder",
            "extracted_filings_folder",
        )
    )
    if args.workdir and not (
        args.raw_dir or args.metadata_csv_in or args.out_dir or cfg_folder_keys
    ):
        # table-native stage 2: extract straight from the frontier's
        # payload/log snapshot tables into the 'extracted' table —
        # no folder-of-files round-trip (plans.pipeline.extract_from_frontier)
        from edgar_crawler_spark.plans.pipeline import extract_from_frontier

        n = extract_from_frontier(
            spark,
            args.workdir,
            items_to_extract=ex_cfg.get("items_to_extract") or None,
            remove_tables=ex_cfg["remove_tables"],
            include_signature=ex_cfg["include_signature"],
            filing_types=ex_cfg.get("filing_types") or None,
            skip_extracted=ex_cfg["skip_extracted_filings"],
            drop_near_dups=args.drop_near_dups,
        )
        if runlog:
            runlog.info("table-native extraction appended %d item rows", n)
        print(json.dumps({"extracted_rows": n, "workdir": args.workdir}))
        return

    def resolved(flag_value: str | None, cfg_key: str) -> str | None:
        if flag_value:
            return flag_value
        name = ex_cfg.get(cfg_key)
        return os.path.join(args.dataset_dir, name) if name else None

    md_path = resolved(args.metadata_csv_in, "filings_metadata_file")
    raw_dir = resolved(args.raw_dir, "raw_filings_folder")
    out_dir = resolved(args.out_dir, "extracted_filings_folder")
    if not (md_path and raw_dir and out_dir):
        raise SystemExit(
            "--extract needs --metadata-csv-in/--raw-dir/--out-dir or the "
            "extract_items folder keys in --config"
        )

    md = read_metadata_csv(spark, md_path)
    if ex_cfg["filing_types"]:
        md = md.filter(F.col("Type").isin(list(ex_cfg["filing_types"])))

    n_selected = md.count()
    n_skipped = 0
    if ex_cfg["skip_extracted_filings"]:
        existing = list_extracted_basenames(spark, out_dir)
        md = md.withColumn(
            "__base", F.element_at(F.split(F.col("filename"), r"\."), 1)
        ).join(
            existing.withColumnRenamed("basename", "__base"), "__base", "left_anti"
        ).drop("__base")
        n_todo = md.count()
        n_skipped = n_selected - n_todo

    # S10: the raw folder's {Type}/ subdirs → (filename, content); inner
    # join back to metadata on the P5 filename (unique per filing)
    subdirs = [
        os.path.join(raw_dir, d)
        for d in (os.listdir(raw_dir) if os.path.isdir(raw_dir) else [])
        if os.path.isdir(os.path.join(raw_dir, d))
    ]
    if not subdirs:
        raise SystemExit(f"no such directory (or empty): {raw_dir}")
    raw = read_raw_filings(spark, subdirs).select("filename", "content")
    work = md.join(raw, "filename")

    records = extract_json_records(
        work,
        items_to_extract=ex_cfg.get("items_to_extract") or None,
        remove_tables=ex_cfg["remove_tables"],
        include_signature=ex_cfg["include_signature"],
        # upper-bound count hint (already computed for logging): lets the
        # adaptive partitioner skip the range-sampling pass on small runs
        n_docs=n_todo if ex_cfg["skip_extracted_filings"] else n_selected,
    ).persist()
    n_written = records.filter(F.col("json").isNotNull()).count()
    n_failed = records.filter(
        F.col("error").isNotNull() & (F.col("error") != "all_items_null")
    ).count()
    write_filing_json_files(records, out_dir)
    records.unpersist()
    if runlog:
        runlog.info(
            "extraction: %d selected, %d skipped (already extracted), "
            "%d written, %d failed -> %s",
            n_selected, n_skipped, n_written, n_failed, out_dir,
        )
    print(
        json.dumps(
            {
                "selected": n_selected,
                "skipped_extracted": n_skipped,
                "extracted": n_written,
                "failed": n_failed,
                "out_dir": out_dir,
            }
        )
    )


def _fetch_ticker_dim(spark, user_agent: str):
    """S5 over the real network: company_tickers.json → broadcast dim."""
    import tempfile

    import requests

    r = requests.get(
        "https://www.sec.gov/files/company_tickers.json",
        headers={"User-agent": user_agent},
        timeout=30,
    )
    r.raise_for_status()
    with tempfile.NamedTemporaryFile("wb", suffix=".json", delete=False) as f:
        f.write(r.content)
        path = f.name
    from edgar_crawler_spark.sources.dims import ticker_cik_dim

    return ticker_cik_dim(spark, json_path=path)


if __name__ == "__main__":
    main()
