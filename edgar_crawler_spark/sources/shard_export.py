"""WebDataset-style training-shard export — the last mile between
``pack_image_batches`` and a training job.

A training run wants sequentially-readable shards (tar archives of
{key}.{ext} + {key}.txt member pairs, the WebDataset convention), not
a parquet table of rows.  The export is Spark-shaped: ONE shuffle on
the id key joins payload bytes to the packing assignment, then
``groupBy(bucket_idx, shard).applyInPandas`` builds each shard tar in
a single executor pass — shard count is the parallelism knob
(``pack_image_batches(n_shards=...)``), so at 100 TB you raise
``n_shards`` until a shard fits an executor and the export is
embarrassingly parallel.  No driver collects; no folder-of-files
per-row writes.

Shards are BYTE-DETERMINISTIC: members ordered by (batch_idx, H48(id),
id) — the exact pack order — with zeroed tar timestamps/owners in
USTAR format, so re-running the export produces bit-identical tars and
the ``sha256`` column is a content address (idempotent re-export,
cross-run diffing, cache keys for downstream loaders).

The manifest projection (everything except the tar bytes) is pure
relational arithmetic over the packing assignment and carries a FULL
DuckDB oracle in the catalog (``export_shard_manifest``).
"""

from __future__ import annotations

import hashlib
import io
import tarfile

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

SHARD_SCHEMA = (
    "bucket_idx int, shard int, n_items bigint, n_batches int, "
    "first_id string, last_id string, sha256 string, tar_bytes binary"
)

#: container fmt → WebDataset member extension
_EXT = {
    "jpeg": "jpg",
    "png": "png",
    "gif": "gif",
    "bmp": "bmp",
    "webp": "webp",
    "tiff": "tif",
    "qnt": "qnt",
}


def export_training_shards(
    payload: DataFrame,
    assignment: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
    fmt_col: str = "fmt",
) -> DataFrame:
    """payload (id, bytes, caption, fmt) × assignment
    (:func:`~edgar_crawler_spark.operators.multimodal.pack_image_batches`
    output) → one row per (bucket_idx, shard): a deterministic tar
    shard plus its manifest columns.  The join shuffles on the id key
    with an explicit SHUFFLE_HASH hint (the byte-bearing payload side
    must never be broadcast)."""
    joined = payload.select(id_col, bytes_col, caption_col, fmt_col).join(
        assignment.hint("shuffle_hash"), on=id_col
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _pack_order(pdf, id_col)
        buf = io.BytesIO()
        _emit_tar(pdf, buf, id_col, bytes_col, caption_col, fmt_col)
        tar_bytes = buf.getvalue()
        return pd.DataFrame(
            {
                "bucket_idx": [int(pdf["bucket_idx"].iloc[0])],
                "shard": [int(pdf["shard"].iloc[0])],
                "n_items": [len(pdf)],
                "n_batches": [int(pdf["batch_idx"].nunique())],
                "first_id": [str(pdf[id_col].iloc[0])],
                "last_id": [str(pdf[id_col].iloc[-1])],
                "sha256": [hashlib.sha256(tar_bytes).hexdigest()],
                "tar_bytes": [tar_bytes],
            }
        )

    return joined.groupBy("bucket_idx", "shard").applyInPandas(build, SHARD_SCHEMA)


def _pack_order(pdf: pd.DataFrame, id_col: str) -> pd.DataFrame:
    from edgar_crawler_spark.operators.hashing import h48_py

    pdf = pdf.assign(__h=[h48_py(str(x)) for x in pdf[id_col]])
    return pdf.sort_values(["batch_idx", "__h", id_col])


def _emit_tar(pdf, sink, id_col: str, bytes_col: str, caption_col: str, fmt_col: str) -> None:
    """Stream the sorted group's members into ``sink`` (anything with
    write()/tell()) as the canonical deterministic USTAR archive —
    shared by the in-row builder and the streaming writer so the
    content address is one definition."""
    with tarfile.open(fileobj=sink, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for batch_idx, rid, blob, caption, fmt in zip(
            pdf["batch_idx"], pdf[id_col], pdf[bytes_col],
            pdf[caption_col], pdf[fmt_col],
        ):
            key = f"{int(batch_idx):06d}_{rid}"
            blob = bytes(blob)
            for name, payload_bytes in (
                (f"{key}.{_EXT.get(fmt, 'bin')}", blob),
                (f"{key}.txt", (caption or "").encode("utf-8")),
            ):
                ti = tarfile.TarInfo(name)
                ti.size = len(payload_bytes)
                ti.mtime = 0
                ti.uid = ti.gid = 0
                ti.uname = ti.gname = ""
                tf.addfile(ti, io.BytesIO(payload_bytes))


class _TeeHash:
    """File-like sha256 sink: hashes (and optionally tees to a real
    file) everything written, tracking position for tarfile."""

    def __init__(self, fobj=None):
        self._f = fobj
        self._sha = hashlib.sha256()
        self._pos = 0

    def write(self, b):
        self._sha.update(b)
        self._pos += len(b)
        if self._f is not None:
            self._f.write(b)
        return len(b)

    def tell(self):
        return self._pos

    def hexdigest(self) -> str:
        return self._sha.hexdigest()


STREAMED_SHARD_SCHEMA = (
    "bucket_idx int, shard int, n_items bigint, n_batches int, "
    "first_id string, last_id string, sha256 string, status string"
)


def export_training_shards_streamed(
    payload: DataFrame,
    assignment: DataFrame,
    root: str,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
    fmt_col: str = "fmt",
) -> DataFrame:
    """The 100 TB shape of :func:`export_training_shards` plus a file
    writer, fused: each group kernel STREAMS its tar
    members straight to ``{root}/bucketNN/shard-SSSSS.tar`` (tmp +
    atomic rename), hashing as it goes, and returns ONLY the manifest
    row plus a written/skipped status — the archive never exists as a
    row value, so a conventional ~1 GB WebDataset shard no longer
    collides with the 2 GiB row/Arrow-cell ceiling the in-row builder
    has, and there is no second job carrying shard bytes.

    The content-addressed skip is kept by a hash-only first pass (the
    tar is streamed into a sha256 sink with no file IO); only on a
    sidecar mismatch is it streamed again to disk. A changed shard thus
    assembles its members twice — deliberate: assembly is memcpy-bound
    and cheap next to the disk write, while the alternative (tee to a
    tmp file while hashing, delete on match) would pay real write IO
    for every UNCHANGED shard, defeating the incremental-skip fast
    path that motivates content addressing. Bytes and therefore sha256
    are IDENTICAL to the in-row builder — both emit through
    ``_emit_tar``."""
    import os

    joined = payload.select(id_col, bytes_col, caption_col, fmt_col).join(
        assignment.hint("shuffle_hash"), on=id_col
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _pack_order(pdf, id_col)
        b, s = int(pdf["bucket_idx"].iloc[0]), int(pdf["shard"].iloc[0])
        hash_only = _TeeHash()
        _emit_tar(pdf, hash_only, id_col, bytes_col, caption_col, fmt_col)
        sha = hash_only.hexdigest()
        d = os.path.join(root, f"bucket{b:02d}")
        os.makedirs(d, exist_ok=True)
        base = os.path.join(d, f"shard-{s:05d}.tar")
        side = base + ".sha256"
        status = "written"
        try:
            with open(side) as f:
                if f.read().strip() == sha and os.path.exists(base):
                    status = "skipped"
        except FileNotFoundError:
            pass
        if status == "written":
            tmp = base + ".tmp"
            with open(tmp, "wb") as f:
                _emit_tar(pdf, _TeeHash(f), id_col, bytes_col, caption_col, fmt_col)
            os.replace(tmp, base)
            with open(side, "w") as f:
                f.write(sha)
        return pd.DataFrame(
            {
                "bucket_idx": [b],
                "shard": [s],
                "n_items": [len(pdf)],
                "n_batches": [int(pdf["batch_idx"].nunique())],
                "first_id": [str(pdf[id_col].iloc[0])],
                "last_id": [str(pdf[id_col].iloc[-1])],
                "sha256": [sha],
                "status": [status],
            }
        )

    return joined.groupBy("bucket_idx", "shard").applyInPandas(
        build, STREAMED_SHARD_SCHEMA
    )


def write_shard_files_streamed(
    payload: DataFrame,
    assignment: DataFrame,
    root: str,
    **kwargs,
) -> dict:
    """Materialize a streamed export and reconcile the directory:
    collects ONLY manifest rows (bounded metadata), deletes tars whose
    (bucket, shard) group no longer exists plus stale ``.tmp`` files.
    Returns {written, skipped, removed_orphans, shards} where shards
    is the list of manifest Rows."""
    import os

    rows = export_training_shards_streamed(payload, assignment, root, **kwargs).collect()
    live = {(int(r["bucket_idx"]), int(r["shard"])) for r in rows}
    removed = 0
    os.makedirs(root, exist_ok=True)
    if not live:
        # SAFETY: zero shards (empty slice / over-aggressive gate /
        # upstream bug) must never wipe a previously exported corpus —
        # skip orphan reconciliation entirely
        return {"written": 0, "skipped": 0, "removed_orphans": 0, "shards": rows}
    for bdir in os.listdir(root):
        if not (bdir.startswith("bucket") and bdir[6:].isdigit()):
            continue
        b = int(bdir[6:])
        for fname in list(os.listdir(os.path.join(root, bdir))):
            full = os.path.join(root, bdir, fname)
            if fname.endswith(".tar.tmp"):  # crash leftovers
                os.remove(full)
                continue
            if not (fname.startswith("shard-") and fname.endswith(".tar")):
                continue
            stem = fname[6:-4]
            if not stem.isdigit():
                continue
            if (b, int(stem)) not in live:
                os.remove(full)
                try:
                    os.remove(full + ".sha256")
                except FileNotFoundError:
                    pass
                removed += 1
    return {
        "written": sum(1 for r in rows if r["status"] == "written"),
        "skipped": sum(1 for r in rows if r["status"] == "skipped"),
        "removed_orphans": removed,
        "shards": rows,
    }


def shard_manifest(shards: DataFrame) -> DataFrame:
    """Manifest projection (no tar payload): the SQL-oracle-able view
    of an export — ordered, deterministic, cheap to diff."""
    return shards.select(
        "bucket_idx", "shard", "n_items", "n_batches", "first_id", "last_id"
    ).orderBy("bucket_idx", "shard")


TEXT_SHARD_SCHEMA = (
    "shard int, n_docs bigint, n_bins int, n_tokens bigint, "
    "first_id string, last_id string, sha256 string, jsonl_gz binary"
)


def export_text_shards(
    docs: DataFrame,
    assignment: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The text twin of :func:`export_training_shards`: documents ×
    ``pack_sequences`` assignment → one gzip'd JSONL shard per hash
    shard, lines in exact pack order (bin, H48(id), id), each line
    ``{"id": ..., "bin": ..., "n_tokens": ..., "text": ...}`` with
    sorted keys and no float jitter — and ``mtime=0`` in the gzip
    header, so re-export is byte-identical and ``sha256`` is a content
    address. Same scale story: ``pack_sequences(n_shards=...)`` is the
    parallelism knob, one executor pass per shard, no driver collects."""
    joined = docs.select(id_col, text_col).join(
        assignment.hint("shuffle_hash"), on=id_col
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        import gzip
        import json

        from edgar_crawler_spark.operators.hashing import h48_py

        pdf = pdf.assign(__h=[h48_py(str(x)) for x in pdf[id_col]])
        pdf = pdf.sort_values(["bin", "__h", id_col])
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            for rid, text, b, nt in zip(
                pdf[id_col], pdf[text_col], pdf["bin"], pdf["n_tokens"]
            ):
                line = json.dumps(
                    {"bin": int(b), "id": rid, "n_tokens": int(nt), "text": text},
                    sort_keys=True,
                    ensure_ascii=False,
                )
                gz.write(line.encode("utf-8") + b"\n")
        blob = buf.getvalue()
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "n_docs": [len(pdf)],
                "n_bins": [int(pdf["bin"].nunique())],
                "n_tokens": [int(pdf["n_tokens"].sum())],
                "first_id": [str(pdf[id_col].iloc[0])],
                "last_id": [str(pdf[id_col].iloc[-1])],
                "sha256": [hashlib.sha256(blob).hexdigest()],
                "jsonl_gz": [blob],
            }
        )

    return joined.groupBy("shard").applyInPandas(build, TEXT_SHARD_SCHEMA)


def text_shard_manifest(shards: DataFrame) -> DataFrame:
    """SQL-oracle-able projection of a text-shard export."""
    return shards.select(
        "shard", "n_docs", "n_bins", "n_tokens", "first_id", "last_id"
    ).orderBy("shard")
