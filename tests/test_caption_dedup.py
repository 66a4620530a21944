"""Incremental caption+phash near-dup pass over the frontier's payload
(plans.pipeline.caption_near_dups_from_frontier + --caption-dedup)."""

import json
import os
import subprocess
import sys

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.frontier import CrawlFrontier
from edgar_crawler_spark.plans.pipeline import caption_near_dups_from_frontier

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_incremental_caption_and_phash_pairs(spark, tmp_path):
    # nested def: cloudpickle must serialize by VALUE (workers cannot
    # import test modules)
    def _dup_fetcher(url: str, attempt: int):
        # content is a pure function of i % 5 -> heavy duplication
        import re

        from edgar_crawler_spark.fixtures.payload import make_payload_row

        i = int(re.search(r"-(\d{6})-index\.html$", url).group(1))
        r = make_payload_row(i % 5)
        return 200, r["bytes"], r["caption"]

    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, fetcher=_dup_fetcher)
    fr.submit(seed_index_df(spark, 10, n_hosts=2, hot_host=False))
    fr.run()

    def _i(doc_id):  # accession suffix -> row index
        return int(doc_id.split("-")[-1])

    def same_content_pairs(ids):
        return {
            tuple(sorted((a, b)))
            for a in ids
            for b in ids
            if a < b and _i(a) % 5 == _i(b) % 5
        }

    p1 = caption_near_dups_from_frontier(spark, wd)
    got1 = {(r.doc_a, r.doc_b, r.via) for r in p1.collect()}
    assert got1, "first pass must find the engineered duplicates"
    assert {v for _, _, v in got1} == {"caption_minhash", "phash"}
    ids1 = {a for a, _, _ in got1} | {b for _, b, _ in got1}
    expected1 = same_content_pairs(ids1)
    # phash pairs are exact-verified (hamming<=6 on random 64-bit
    # hashes == identical content): EXACTLY the 5 duplicate pairs
    assert {(a, b) for a, b, v in got1 if v == "phash"} == expected1
    assert len(expected1) == 5
    # caption LSH emits CANDIDATES: the true dups must all be there
    # (near-identical captions may band together too)
    assert expected1 <= {(a, b) for a, b, v in got1 if v == "caption_minhash"}

    # second crawl: 10 MORE rows of the same 5 contents
    fr2 = CrawlFrontier(spark, wd, fetcher=_dup_fetcher)
    fr2.submit(seed_index_df(spark, 20, n_hosts=2, hot_host=False))
    fr2.run()
    p2 = caption_near_dups_from_frontier(spark, wd)
    got2 = {(r.doc_a, r.doc_b, r.via) for r in p2.collect()}
    assert got2
    # no already-emitted pair is re-emitted
    assert not (got1 & got2)
    # every content now has 4 copies; the new phash pairs are exactly
    # the duplicate pairs touching a NEW doc (C(4,2)-C(2,2) = 5/content)
    ids_all = ids1 | {a for a, _, _ in got2} | {b for _, b, _ in got2}
    ph2 = {(a, b) for a, b, v in got2 if v == "phash"}
    assert ph2 == same_content_pairs(ids_all) - expected1
    assert len(ph2) == 25

    # third pass with nothing new: no pairs at all
    p3 = caption_near_dups_from_frontier(spark, wd)
    assert p3.count() == 0


def test_caption_dedup_cli_smoke(spark, tmp_path):
    seed_index_df(spark, 12, n_hosts=2, hot_host=False).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "seeds"))
    out = subprocess.run(
        [
            sys.executable, "spark_submit_main.py",
            "--workdir", str(tmp_path / "wd"),
            "--seed-parquet", str(tmp_path / "seeds"),
            "--caption-dedup",
        ],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert "near_dup_pairs" in rep and rep["near_dup_pairs"] >= 0


def test_crash_between_pairs_and_seen_commits(spark, tmp_path, monkeypatch):
    """Kill the pass after the near_dup_pairs commit but before the
    seen append; the resume must complete WITHOUT duplicating pairs
    (token-guarded commit) and leave the same final state as an
    uncrashed run."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.frontier.state import SnapshotTable

    wd = str(tmp_path / "wd")
    payload = spark.range(40).select(
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
        F.concat(F.lit("caption body "), (F.col("id") % 8).cast("string")).alias("caption"),
        ((F.col("id") % 8) * 4096).alias("phash"),
    )
    SnapshotTable(wd + "/payload").append(payload)

    real_append = SnapshotTable.append

    def crashing_append(self, df, metrics=None, lineage=None, partition_by=None):
        v = real_append(self, df, metrics, lineage, partition_by)
        if self.root.endswith("near_dup_pairs"):
            raise RuntimeError("crash after pairs commit")
        return v

    monkeypatch.setattr(SnapshotTable, "append", crashing_append)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="crash after pairs commit"):
        caption_near_dups_from_frontier(spark, wd)
    monkeypatch.setattr(SnapshotTable, "append", real_append)

    # resume: same slice re-derived (seen never committed)
    caption_near_dups_from_frontier(spark, wd)

    pairs = SnapshotTable(wd + "/near_dup_pairs").read(spark)
    assert pairs.count() == pairs.dropDuplicates(["doc_a", "doc_b", "via"]).count()
    seen = SnapshotTable(wd + "/caption_lsh_seen").read(spark)
    assert seen.count() == 40

    # third run: nothing new, nothing emitted
    out = caption_near_dups_from_frontier(spark, wd)
    assert out.count() == 0


def test_crash_between_index_and_pairs_commits(spark, tmp_path, monkeypatch):
    """Crash right after the LSH index append (before pairs/seen): the
    resume re-signs the slice; stale index rows are superseded, and
    the final pairs equal an uncrashed run's."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.frontier.state import SnapshotTable

    def mk_payload(wd):
        payload = spark.range(30).select(
            F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
            F.concat(F.lit("caption text "), (F.col("id") % 6).cast("string")).alias("caption"),
            ((F.col("id") % 6) * 4096).alias("phash"),
        )
        SnapshotTable(wd + "/payload").append(payload)

    wd = str(tmp_path / "crashed")
    ref = str(tmp_path / "clean")
    mk_payload(wd)
    mk_payload(ref)

    real_append = SnapshotTable.append

    def crashing_append(self, df, metrics=None, lineage=None, partition_by=None):
        v = real_append(self, df, metrics, lineage, partition_by)
        if self.root.endswith("caption_lsh"):
            raise RuntimeError("crash after index commit")
        return v

    monkeypatch.setattr(SnapshotTable, "append", crashing_append)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="crash after index commit"):
        caption_near_dups_from_frontier(spark, wd)
    monkeypatch.setattr(SnapshotTable, "append", real_append)

    caption_near_dups_from_frontier(spark, wd)  # resume
    expected = {
        (r.doc_a, r.doc_b, r.via)
        for r in caption_near_dups_from_frontier(spark, ref).collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.via)
        for r in SnapshotTable(wd + "/near_dup_pairs").read(spark).collect()
    }
    assert got == expected
    assert SnapshotTable(wd + "/caption_lsh_seen").read(spark).count() == 30


def test_incremental_pass_reads_only_new_payload_files(spark, tmp_path):
    """read_since: the second pass's payload input is the appended
    slice only (file-level cut recorded in the seen manifest)."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.frontier.state import SnapshotTable

    wd = str(tmp_path / "wd")
    tbl = SnapshotTable(wd + "/payload")

    def slice_df(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
            F.concat(F.lit("cap "), (F.col("id") % 5).cast("string")).alias("caption"),
            ((F.col("id") % 5) * 512).alias("phash"),
        )

    tbl.append(slice_df(0, 20))
    caption_near_dups_from_frontier(spark, wd)
    v_after_first = tbl.current_version()
    assert (
        SnapshotTable(wd + "/caption_lsh_seen").latest_metrics()["payload_version"]
        == v_after_first
    )

    tbl.append(slice_df(20, 30))
    new = tbl.read_since(spark, v_after_first)
    assert new.count() == 10  # the file-level cut is the new slice only
    out = caption_near_dups_from_frontier(spark, wd)
    assert out.count() > 0  # cross-slice duplicates found

    # nothing new: empty frame, not None (payload exists)
    out3 = caption_near_dups_from_frontier(spark, wd)
    assert out3.count() == 0


def test_compaction_between_passes_falls_back_to_full_read(spark, tmp_path):
    """Compacting the payload breaks file identity; read_since raises
    and the pass falls back to a full read, where the seen anti-join
    keeps results exact (no re-emission, new rows still found)."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from edgar_crawler_spark.frontier.state import SnapshotTable

    wd = str(tmp_path / "wd")
    tbl = SnapshotTable(wd + "/payload")

    def slice_df(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
            F.concat(F.lit("cap "), (F.col("id") % 4).cast("string")).alias("caption"),
            ((F.col("id") % 4) * 512).alias("phash"),
        )

    tbl.append(slice_df(0, 16))
    p1 = caption_near_dups_from_frontier(spark, wd)
    n1 = p1.count()
    v1 = tbl.current_version()

    tbl.compact(spark)  # overwrite-mode commit
    tbl.append(slice_df(16, 24))
    with _pytest.raises(ValueError, match="non-append"):
        tbl.read_since(spark, v1)

    p2 = caption_near_dups_from_frontier(spark, wd)  # fallback path
    got2 = {(r.doc_a, r.doc_b) for r in p2.collect()}
    got1 = {(r.doc_a, r.doc_b) for r in p1.collect()}
    assert got2 and not (got1 & got2)  # new pairs only, no re-emission
    assert n1 > 0


def test_null_captions_do_not_disable_phash_leg(spark, tmp_path):
    """Review regression: real fetchers return caption=None — the
    phash signal must still find duplicate content."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.frontier.state import SnapshotTable

    wd = str(tmp_path / "wd")
    # 4 clusters of 5 copies; cluster hashes occupy DISJOINT 16-bit
    # blocks (cross-cluster hamming 32 >> 6, within-cluster 0)
    payload = spark.range(20).select(
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
        F.lit(None).cast("string").alias("caption"),
        F.expr("CAST(65535 AS BIGINT) << (CAST(id % 4 AS INT) * 16)").alias("phash"),
    )
    SnapshotTable(wd + "/payload").append(payload)
    out = caption_near_dups_from_frontier(spark, wd)
    rows = out.collect()
    assert rows and all(r.via == "phash" for r in rows)
    assert len(rows) == 4 * (5 * 4 // 2)  # 4 clusters of 5 copies
