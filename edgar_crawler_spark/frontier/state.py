"""Snapshot-committed state tables — Iceberg-layout over parquet.

No Iceberg runtime jars exist in this sandbox, so this module
implements the minimal slice of the Iceberg table spec the frontier
needs, with the same guarantees:

* atomic commits   — data files land first, then a JSON manifest is
  renamed into place (``os.replace`` is atomic on POSIX). A reader
  either sees snapshot v(n) or v(n+1), never a torn mix — exactly the
  crash-safety the reference gets from its tmp+shutil.move CSV rewrite
  (download_filings.py:196-215), but per-snapshot instead of per-row.
* snapshot history — every commit is a manifest ``v{n}.json`` holding
  the full file list, parent pointer, per-commit metrics and lineage;
  resuming = reading LATEST (kill-and-resume safe).
* time travel      — ``read(version=k)`` reads any retained snapshot.
* empty snapshots  — ``overwrite(schema)`` commits a manifest with no
  files and ``rows`` 0, without a Spark job, for a writer that already
  knows it has no rows; ``read`` returns an empty DataFrame for it.
* row counts       — each manifest records ``rows``, the row count of
  its files, summed from the written parquet footers on the Spark driver
  (None after an append onto a manifest that records none).
* schema on read   — each manifest records the schema of the columns
  its files hold (the written ``df.schema`` minus any ``partition_by``
  columns, as parquet reads it back: all fields nullable; an append
  keeps it only if it equals the parent's, otherwise records none; a
  rollback restores it) and the ``partition_by`` columns of its files.
  ``read``, ``read_since`` and ``read_pruned`` hand a recorded schema to
  the parquet reader, so a read starts no schema-inference job; with
  none recorded (mixed-schema append chains, manifests written before
  ``partition_by`` was recorded) the reader infers it.
* one full read    — ``read`` lists every committed data dir
  recursively, so it returns every row of a flat table and of a
  hive-partitioned one alike (each ``append(partition_by=...)`` commit
  is its own hive root, which Spark's partition discovery rejects);
  partition columns are not returned, since the tables that use them
  derive them from the data columns. Every commit of a table shares one
  ``partition_by``; a partitioned table is compacted by its owning
  index, whose ``compact()`` keeps the layout.

On a real cluster, swap this class for ``spark.table("catalog.db.t")``
with Iceberg's own commit protocol; every call site uses only
append/overwrite/read so the swap is mechanical.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _as_read(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable — the form
    Spark gives any schema it reads from parquet, so two writes that
    differ only in nullability record the same schema."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_read(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_read(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_read(dt.keyType), _as_read(dt.valueType), True)
    return dt


def _footer_rows(path: str) -> int:
    """Rows in the parquet files under ``path``, summed from their
    footers on the Spark driver — no job, no data read."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, n)).num_rows
        for d, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self._snap_dir = os.path.join(root, "_snapshots")
        os.makedirs(self._snap_dir, exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ---- manifest plumbing -------------------------------------------------
    def _latest_path(self) -> str:
        return os.path.join(self._snap_dir, "LATEST")

    def current_version(self) -> int:
        try:
            with open(self._latest_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _manifest(self, version: int) -> dict:
        if version == 0:
            return {"version": 0, "files": [], "metrics": {}, "parent": None, "rows": 0}
        with open(os.path.join(self._snap_dir, f"v{version:06d}.json")) as f:
            return json.load(f)

    def _commit(
        self,
        files: list[str],
        mode: str,
        metrics: dict,
        lineage: dict,
        schema: str | None,
        partition_by: list[str],
        rows: int | None,
    ) -> int:
        parent = self.current_version()
        prev = []
        if mode == "append":
            pm = self._manifest(parent)
            prev = pm["files"]
            if prev and pm.get("schema") != schema:
                schema = None  # the files no longer share one schema
            if prev:
                # unknown when the parent (written before row counts
                # were recorded) does not know its own
                rows = None if pm.get("rows") is None else pm["rows"] + rows
        version = parent + 1
        manifest = {
            "version": version,
            "parent": parent,
            "mode": mode,
            "files": prev + files,
            "metrics": metrics,
            "lineage": lineage,
            "schema": schema,
            "partition_by": partition_by,
            "rows": rows,
            "ts": time.time(),
        }
        mpath = os.path.join(self._snap_dir, f"v{version:06d}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)  # atomic
        ltmp = self._latest_path() + ".tmp"
        with open(ltmp, "w") as f:
            f.write(str(version))
        os.replace(ltmp, self._latest_path())  # atomic pointer swap
        return version

    # ---- public API --------------------------------------------------------
    def latest_metrics(self) -> dict:
        """The metrics dict of the newest commit ({} before the first
        one) — lets writers stamp and re-read idempotence tokens."""
        return self._manifest(self.current_version()).get("metrics", {})

    def append(
        self,
        df: DataFrame,
        metrics: dict | None = None,
        lineage: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        return self._write(df, "append", metrics, lineage, partition_by)

    def overwrite(
        self,
        df: DataFrame | StructType,
        metrics: dict | None = None,
        lineage: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Replace the table's rows with ``df``'s; a bare schema in place
        of ``df`` empties the table (see the module docstring)."""
        return self._write(df, "overwrite", metrics, lineage, partition_by)

    def _write(
        self, df: DataFrame | StructType, mode: str, metrics, lineage, partition_by=None
    ) -> int:
        parts = list(partition_by or [])
        if isinstance(df, StructType):  # no rows: the manifest alone
            held = _as_read(df).json()
            return self._commit([], mode, dict(metrics or {}), lineage or {}, held, parts, 0)
        if mode == "append":
            pm = self.latest_manifest()
            if pm["files"] and pm.get("partition_by", parts) != parts:
                raise ValueError(
                    f"append with partition_by={parts} onto {self.root}, whose "
                    f"files are partitioned by {pm['partition_by']}"
                )
        rel = os.path.join("data", uuid.uuid4().hex)
        path = os.path.join(self.root, rel)
        writer = df.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(path)
        held = StructType([f for f in _as_read(df.schema).fields if f.name not in parts])
        return self._commit(
            [rel], mode, dict(metrics or {}), lineage or {}, held.json(), parts, _footer_rows(path)
        )

    @staticmethod
    def _reader(spark: SparkSession, manifest: dict):
        """A recursive parquet reader over a manifest's data dirs that
        takes the recorded schema instead of inferring one (inference is
        a Spark job per read). A manifest without ``partition_by`` may
        record partition columns its files do not hold, so it infers."""
        reader = spark.read.option("recursiveFileLookup", "true")
        schema = manifest.get("schema") if "partition_by" in manifest else None
        if schema is None:
            return reader
        return reader.schema(StructType.fromJson(json.loads(schema)))

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """Every row of snapshot ``version`` (default: the latest), data
        columns only; None when the table has no committed snapshot
        yet. A snapshot emptied by ``overwrite(schema)`` reads as an
        empty DataFrame of that schema."""
        v = self.current_version() if version is None else version
        m = self._manifest(v)
        if not m["files"]:
            if m.get("schema") is None:
                return None
            return spark.createDataFrame([], StructType.fromJson(json.loads(m["schema"])))
        return self._reader(spark, m).parquet(*[os.path.join(self.root, f) for f in m["files"]])

    def pruned_paths(self, column: str, values: list) -> list[str]:
        """Directory list for a partition-pruned read of a table whose
        commits were written with ``append(partition_by=[column])``:
        only the hive-layout subdirectories (``column=value``) for the
        requested values, across every committed data dir.  Listing is
        O(commits × len(values)) stat calls — never a table scan."""
        import glob

        dirs = []
        for f in self._manifest(self.current_version())["files"]:
            root = os.path.join(self.root, f)
            if not glob.glob(os.path.join(root, f"{column}=*")):
                if not glob.glob(os.path.join(root, "*.parquet")):
                    # empty commit (just _SUCCESS): nothing to prune or
                    # lose — skip the dir
                    continue
                # a data dir with ROWS but no hive subdirs for this
                # column (e.g. a flat overwrite of a partitioned table)
                # would make pruning silently drop them — fail loud;
                # layout-preserving compaction is the supported path
                raise ValueError(
                    f"data dir {root} has no {column}= partitions — the table "
                    "mixes flat and hive layouts; rewrite it with a "
                    "partition-preserving compaction before pruned reads"
                )
            for v in values:
                leaf = os.path.join(root, f"{column}={v}")
                if os.path.isdir(leaf):
                    dirs.append(leaf)
        return dirs

    def read_pruned(self, spark: SparkSession, column: str, values: list) -> DataFrame | None:
        """Partition-pruned read: only the files under the touched
        partition values are planned/scanned — per-batch input is
        proportional to TOUCHED partitions, never to the whole table.
        The partition column itself is not returned (it lives in the
        directory name; callers that need it re-derive it, since it is
        a pure function of the data columns).  None when nothing
        matches."""
        dirs = self.pruned_paths(column, values)
        if not dirs:
            return None
        return self._reader(spark, self.latest_manifest()).parquet(*dirs)

    def read_since(self, spark: SparkSession, version: int) -> DataFrame | None:
        """Incremental consumption: ONLY the rows committed after
        ``version`` (the Iceberg incremental-scan idea). For an
        append-only history this is the file-set difference between
        the manifests — per-pass input is proportional to NEW data,
        never to the 10^10-row table. Returns None when nothing is
        new. Raises if a non-append commit (overwrite/compact)
        intervened — file identity no longer maps to row novelty, and
        the caller must fall back to a full read + logical diff."""
        cur = self.current_version()
        if version >= cur:
            return None
        for v in range(version + 1, cur + 1):
            if self._manifest(v).get("mode") != "append":
                raise ValueError(
                    f"non-append commit v{v} ({self._manifest(v).get('mode')}) "
                    f"inside read_since({version}) window — fall back to a "
                    "full read"
                )
        old_files = set(self._manifest(version)["files"]) if version else set()
        m = self._manifest(cur)
        new_files = [f for f in m["files"] if f not in old_files]
        if not new_files:
            return None
        return self._reader(spark, m).parquet(*[os.path.join(self.root, f) for f in new_files])

    def read_or_empty(self, spark: SparkSession, schema: StructType, version: int | None = None) -> DataFrame:
        df = self.read(spark, version)
        return df if df is not None else spark.createDataFrame([], schema)

    def compact(self, spark: SparkSession) -> int:
        """Rewrite the table to one data dir (an OPTIMIZE/rewrite-files
        commit): at 10^10 scale a seen-table accumulating one appended
        dir per wave degrades scan planning — compaction folds N dirs
        into one without changing snapshot semantics (history keeps the
        old manifests). A partitioned table raises instead: a flat
        rewrite would hide its rows from partition-pruned reads."""
        parts = self.latest_manifest().get("partition_by")
        if parts:
            raise ValueError(
                f"{self.root} is partitioned by {parts}; compact it with its "
                "owning index's compact(), which keeps the layout"
            )
        df = self.read(spark)
        if df is None:
            return self.current_version()
        return self.overwrite(df, metrics={"compaction": True})

    def rollback(self, version: int, metrics: dict | None = None) -> int:
        """Commit a new snapshot whose file list is snapshot ``version``'s
        — an O(1) manifest operation (no data rewrite), used by crash
        recovery to drop a partially-committed wave. History is
        preserved: the abandoned snapshot stays readable via time
        travel; only LATEST moves."""
        restored = self._manifest(version)
        m = {"rollback_to": version, **(metrics or {})}
        schema = restored.get("schema") if "partition_by" in restored else None
        return self._commit(
            list(restored["files"]),
            "rollback",
            m,
            {},
            schema,
            restored.get("partition_by", []),
            restored.get("rows"),
        )

    def latest_manifest(self) -> dict:
        return self._manifest(self.current_version())

    def history(self) -> list[dict]:
        out, v = [], self.current_version()
        while v:
            m = self._manifest(v)
            out.append(m)
            v = m["parent"] or 0
        return list(reversed(out))
