"""Snapshot manifests record the schema their files share, so ``read``
hands it to the parquet reader instead of starting a schema-inference
job, and returns what inference over the same files would have
returned; ``read`` lists files recursively, so it reads tables of
hive-partitioned commits as well."""

import json
import os

import pyspark.sql.functions as F
import pytest

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.frontier import CrawlFrontier
from edgar_crawler_spark.frontier.state import SnapshotTable


def _shape(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def _inferred(spark, table, version=None):
    v = table.current_version() if version is None else version
    files = table.history()[v - 1]["files"]
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(*[os.path.join(table.root, f) for f in files])
        .schema
    )


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    """A small crawl over a bootstrapped seen set: several waves append
    to seen/log/payload and overwrite pending and the filter table."""
    fr = CrawlFrontier(spark, str(tmp_path_factory.mktemp("crawl")), wave_quota=5)
    fr.bootstrap_seen(seed_index_df(spark, 20))
    fr.submit(seed_index_df(spark, 50))
    assert len(fr.run()) > 1
    # a second submit leaves rows pending
    fr.submit(seed_index_df(spark, 60))
    part = SnapshotTable(str(tmp_path_factory.mktemp("part")))
    rows = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("kb"),
        F.concat(F.lit("band"), F.col("id").cast("string")).alias("band_key"),
    )
    part.append(rows, partition_by=["kb"])
    return {
        "seen": fr.seen,
        "pending": fr.pending,
        "log": fr.log,
        "payload": fr.payload,
        "seenfilter": fr.seen_filter.table,
        "partitioned": part,
    }


@pytest.mark.parametrize(
    "name", ["seen", "pending", "log", "payload", "seenfilter", "partitioned"]
)
def test_read_schema_equals_inference(spark, crawled, name):
    table = crawled[name]
    assert table.latest_manifest()["schema"] is not None
    df = table.read(spark)
    assert _shape(df.schema) == _shape(_inferred(spark, table))
    files = [os.path.join(table.root, f) for f in table.latest_manifest()["files"]]
    assert df.count() == spark.read.parquet(*files).count() > 0


@pytest.mark.parametrize(
    "name", ["seen", "pending", "log", "payload", "seenfilter", "partitioned"]
)
def test_manifest_rows_equal_count(spark, crawled, name):
    table = crawled[name]
    assert table.latest_manifest()["rows"] == table.read(spark).count()


def test_rows_follow_appends_and_rollbacks(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(3))
    t.append(spark.range(3, 8))
    assert t.latest_manifest()["rows"] == 8
    t.overwrite(spark.range(0))
    assert t.latest_manifest()["rows"] == 0
    t.rollback(1)
    assert t.latest_manifest()["rows"] == 3
    t.rollback(0)
    assert t.latest_manifest()["rows"] == 0


def test_reads_start_no_spark_job(spark, crawled):
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-schema-read", "reads only")
    try:
        for table in crawled.values():
            table.read(spark)
            if table.latest_manifest()["mode"] == "append":
                table.read_since(spark, table.current_version() - 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("snapshot-schema-read") == []


def test_mixed_schema_append_falls_back_to_inference(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(3))
    t.append(spark.range(3, 5))  # same schema: kept
    assert t.latest_manifest()["schema"] is not None
    t.append(spark.range(5, 7).withColumn("s", F.lit("x")))
    assert t.latest_manifest()["schema"] is None
    assert _shape(t.read(spark).schema) == _shape(_inferred(spark, t))
    assert t.read(spark).count() == 7
    # an overwrite records its own schema again
    t.overwrite(spark.range(2).withColumn("s", F.lit("y")))
    assert _shape(t.read(spark).schema) == _shape(_inferred(spark, t))
    assert t.latest_manifest()["schema"] is not None


def test_nullability_alone_keeps_the_schema(spark, tmp_path):
    """Parquet reads every column back nullable, so two appends that
    differ only in nullability still share one recorded schema."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(3))  # id NOT NULL
    t.append(spark.range(3, 5).select(F.when(F.col("id") > 0, F.col("id")).alias("id")))
    assert t.latest_manifest()["schema"] is not None
    assert t.read(spark).count() == 5


def test_manifest_without_schema_still_reads(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    v = t.append(spark.range(4).withColumn("s", F.lit("x")))
    path = os.path.join(t.root, "_snapshots", f"v{v:06d}.json")
    with open(path) as f:
        manifest = json.load(f)
    del manifest["schema"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    df = t.read(spark)
    assert _shape(df.schema) == _shape(_inferred(spark, t))
    assert df.count() == 4
    # an append onto an unrecorded parent cannot vouch for the old files
    t.append(spark.range(4, 6).withColumn("s", F.lit("y")))
    assert t.latest_manifest()["schema"] is None
    assert t.read(spark).count() == 6


def test_rollback_keeps_the_schema(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3).withColumn("s", F.lit("x")))
    first = t.latest_manifest()["schema"]
    t.overwrite(spark.range(2).withColumn("d", F.lit(1.5)))
    t.rollback(1)
    assert t.latest_manifest()["schema"] == first
    df = t.read(spark)
    assert _shape(df.schema) == _shape(_inferred(spark, t, version=1))
    assert sorted(r.id for r in df.collect()) == [0, 1, 2]
    t.rollback(0)
    assert t.latest_manifest()["schema"] is None
    assert t.read(spark) is None


def _kb_rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("kb"),
        F.concat(F.lit("band"), F.col("id").cast("string")).alias("band_key"),
    )


def test_read_returns_every_row_of_partitioned_appends(spark, tmp_path):
    """Each ``append(partition_by=...)`` commit is its own hive root;
    ``read`` returns the rows of all of them, data columns only."""
    t = SnapshotTable(str(tmp_path / "t"))
    for lo in (0, 40, 80):
        t.append(_kb_rows(spark, lo, lo + 40), partition_by=["kb"])
    df = t.read(spark)
    assert df.columns == ["doc_id", "band_key"]
    assert sorted(r.doc_id for r in df.collect()) == list(range(120))
    assert t.read_since(spark, 1).count() == 80
    assert t.latest_manifest()["partition_by"] == ["kb"]


def test_read_pruned_starts_no_spark_job(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_kb_rows(spark, 0, 40), partition_by=["kb"])
    t.append(_kb_rows(spark, 40, 80), partition_by=["kb"])
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-pruned-read", "reads only")
    try:
        df = t.read_pruned(spark, "kb", [1, 3])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("snapshot-pruned-read") == []
    assert sorted(r.doc_id for r in df.collect()) == [i for i in range(80) if i % 2]


def test_compact_refuses_partitioned_table(spark, tmp_path):
    """A flat rewrite would hide a partitioned table's rows from pruned
    reads; the generic compact() points at the layout-keeping one."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_kb_rows(spark, 0, 40), partition_by=["kb"])
    t.append(_kb_rows(spark, 40, 80), partition_by=["kb"])
    v = t.current_version()
    with pytest.raises(ValueError, match=r"compact\(\)"):
        t.compact(spark)
    assert t.current_version() == v


def test_append_keeps_one_partition_layout(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_kb_rows(spark, 0, 40), partition_by=["kb"])
    with pytest.raises(ValueError, match="partition"):
        t.append(_kb_rows(spark, 40, 80))
    assert t.read(spark).count() == 40
