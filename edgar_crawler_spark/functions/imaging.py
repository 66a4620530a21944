"""Image payload codecs + perceptual hashing (numpy + stdlib zlib only).

The container has no PIL/libjpeg, but both formats are REAL codecs:

* ``png``  — a spec-compliant minimal PNG codec (8-bit RGB, filter 0,
  zlib). Lossless round-trip, readable by any PNG reader.
* ``jpeg`` — a real baseline JPEG (ITU-T81) codec implemented in
  functions/jpegcodec.py: Annex-K tables, DCT, Huffman, byte stuffing,
  restart markers, 4:2:0 and grayscale modes. Default quality 98 holds
  the pipeline's PSNR >= 40 dB invariant even on noise fixtures.
* ``qnt``  — the round-3 stand-in lossy codec ("QNT1" container:
  uniform quantization + zlib), kept for two reasons: legacy blobs in
  persisted tables still decode, and it is ~50x cheaper per image than
  a pure-Python JPEG decode, so bulk SYNTHETIC fixtures use it for the
  majority of lossy rows (fixtures/payload.py mixes in real JPEG on a
  deterministic subset so that path is exercised end-to-end).

Per-row invariant (BASELINE.json input_hint): decoded-pixel allclose
(PSNR >= 40 dB for lossy) + caption equality.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_QNT_MAGIC = b"QNT1"
_QNT_STEP = 3  # PSNR ≈ 20*log10(255 / sqrt((3²-1)/12)) ≈ 49.9 dB >= 40


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """8-bit RGB (h, w, 3) uint8 → PNG bytes (color type 2, filter 0)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # one filter byte (0 = None) per scanline
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Minimal PNG reader for images our encoder writes (8-bit RGB,
    any of the 5 standard scanline filters)."""
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos, w = 8, 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, bit_depth, color_type = struct.unpack(">IIBB", payload[:10])
            assert bit_depth == 8 and color_type == 2, "only 8-bit RGB supported"
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, 1 + w * 3)
    filters, lines = raw[:, 0], raw[:, 1:].astype(np.int32)
    out = np.zeros((h, w * 3), np.int32)
    bpp = 3
    for y in range(h):
        line = lines[y].copy()
        prev = out[y - 1] if y else np.zeros(w * 3, np.int32)
        f = filters[y]
        if f == 0:
            out[y] = line
        elif f == 2:  # Up
            out[y] = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need a left-to-right scan
            cur = np.zeros(w * 3, np.int32)
            for x in range(w * 3):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
            out[y] = cur
    return out.astype(np.uint8).reshape(h, w, 3)


def _encode_qnt(pixels: np.ndarray, step: int = _QNT_STEP) -> bytes:
    """STAND-IN lossy codec (see module docstring)."""
    h, w, _ = pixels.shape
    q = ((pixels.astype(np.int32) + step // 2) // step).astype(np.uint8)
    return (
        _QNT_MAGIC
        + struct.pack(">IIB", w, h, step)
        + zlib.compress(q.tobytes(), 6)
    )


def _decode_qnt(data: bytes) -> np.ndarray:
    assert data[:4] == _QNT_MAGIC
    w, h, step = struct.unpack(">IIB", data[4:13])
    q = np.frombuffer(zlib.decompress(data[13:]), np.uint8).astype(np.int32)
    return np.clip(q * step, 0, 255).astype(np.uint8).reshape(h, w, 3)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → 24-bit BI_RGB Windows BMP (BITMAPINFOHEADER,
    bottom-up rows, BGR byte order, scanlines padded to 4-byte stride —
    the same DIB layout the AVI writer uses). Lossless."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    raw = rows.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raw), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(raw), 0, 0, 14 + 40)
    return header + info + raw


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP → (h, w, 3) uint8 RGB. Handles the common uncompressed
    (BI_RGB) variants a web crawl sees: 24-bit, 32-bit (alpha dropped),
    and 8-bit palettized; both bottom-up and top-down (negative height)
    row orders. Compressed variants (RLE, BI_BITFIELDS) raise."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack("<I", data[10:14])
    header_size, w, bh, _planes, bitcount, compression = struct.unpack(
        "<IiiHHI", data[14:34]
    )
    if compression != 0:
        raise NotImplementedError(f"BMP compression {compression} unsupported")
    h = abs(bh)
    top_down = bh < 0
    if bitcount == 8:
        (used,) = struct.unpack("<I", data[46:50])
        n = used or 256
        pal_at = 14 + header_size
        pal = np.frombuffer(data[pal_at : pal_at + 4 * n], np.uint8).reshape(n, 4)
        stride = (w + 3) & ~3
        rows = np.frombuffer(data[offset : offset + stride * h], np.uint8)
        idx = rows.reshape(h, stride)[:, :w]
        out = pal[idx][:, :, 2::-1]  # BGRX palette entries → RGB
    elif bitcount in (24, 32):
        bpp = bitcount // 8
        stride = (w * bpp + 3) & ~3
        rows = np.frombuffer(data[offset : offset + stride * h], np.uint8)
        px = rows.reshape(h, stride)[:, : w * bpp].reshape(h, w, bpp)
        out = px[:, :, 2::-1]  # BGR(A) → RGB, alpha dropped
    else:
        raise NotImplementedError(f"BMP bit depth {bitcount} unsupported")
    return np.ascontiguousarray(out if top_down else out[::-1])


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "jpeg":
        from edgar_crawler_spark.functions.jpegcodec import encode_jpeg

        return encode_jpeg(pixels)
    if fmt == "gif":
        from edgar_crawler_spark.functions.gifcodec import encode_gif

        return encode_gif(pixels)
    if fmt == "bmp":
        return encode_bmp(pixels)
    if fmt == "webp":
        from edgar_crawler_spark.functions.webpcodec import encode_webp

        return encode_webp(pixels)
    if fmt == "qnt":  # cheap stand-in lossy codec, see module docstring
        return _encode_qnt(pixels)
    raise ValueError(f"unsupported fmt: {fmt}")


def decode_image(data: bytes) -> np.ndarray:
    """Dispatch on magic bytes — the binary column is self-describing."""
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:4] == _QNT_MAGIC:
        return _decode_qnt(data)
    if data[:2] == b"\xff\xd8":
        from edgar_crawler_spark.functions.jpegcodec import decode_jpeg

        return decode_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from edgar_crawler_spark.functions.gifcodec import decode_gif

        return decode_gif(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from edgar_crawler_spark.functions.webpcodec import decode_webp

        return decode_webp(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from edgar_crawler_spark.functions.tiffcodec import decode_tiff

        return decode_tiff(data)
    raise ValueError("unknown image container")


def box_downsample8(px: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 -> (ceil(h/8), ceil(w/8), 3) uint8 of 8x8 tile
    means (partial edge tiles average what exists).  Integral-image
    formulation: one cumsum pass regardless of image size."""
    h, w = px.shape[:2]
    th, tw = -(-h // 8), -(-w // 8)
    ys = np.minimum(np.arange(th + 1) * 8, h)
    xs = np.minimum(np.arange(tw + 1) * 8, w)
    s = np.zeros((h + 1, w + 1, 3))
    np.cumsum(np.cumsum(px.astype(np.float64), 0), 1, out=s[1:, 1:])
    sums = (
        s[ys[1:, None], xs[None, 1:]]
        - s[ys[:-1, None], xs[None, 1:]]
        - s[ys[1:, None], xs[None, :-1]]
        + s[ys[:-1, None], xs[None, :-1]]
    )
    area = np.outer(np.diff(ys), np.diff(xs))[..., None]
    return np.clip(np.round(sums / area), 0, 255).astype(np.uint8)


def decode_thumbnail(data: bytes) -> np.ndarray:
    """1/8-scale RGB thumbnail: (ceil(h/8), ceil(w/8), 3) uint8.

    JPEG streams take the DC fast path (jpegcodec/jpegprog
    ``dc_only=True``): no AC storage, no IDCT, and progressive streams
    skip the AC scans' entropy bytes outright — the cheap way to feed a
    perceptual-hash dedup pass at corpus scale.  Other containers have
    no partial-decode structure, so they decode fully and box-
    downsample (same output contract, honest full cost)."""
    if data[:2] == b"\xff\xd8":
        from edgar_crawler_spark.functions.jpegcodec import decode_jpeg

        return decode_jpeg(data, dc_only=True)
    return box_downsample8(decode_image(data))


def apply_exif_orientation(px: np.ndarray, orientation: int) -> np.ndarray:
    """Stored pixels -> upright display per TIFF/EXIF orientation 1-8
    (the standard exif-transpose mapping). Unknown values pass through.
    Cheap on thumbnails — which is where a dedup pass should apply it:
    the same photo stored rotated would otherwise hash apart."""
    if orientation == 2:
        return px[:, ::-1]
    if orientation == 3:
        return px[::-1, ::-1]
    if orientation == 4:
        return px[::-1]
    if orientation == 5:
        return px.swapaxes(0, 1)
    if orientation == 6:
        return np.rot90(px, -1)
    if orientation == 7:
        return px[::-1, ::-1].swapaxes(0, 1)
    if orientation == 8:
        return np.rot90(px, 1)
    return px


def sniff_format(data: bytes) -> str | None:
    """Container label from magic bytes (None = unrecognized)."""
    if data[:8] == _PNG_SIG:
        return "png"
    if data[:4] == _QNT_MAGIC:
        return "qnt"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:2] == b"BM":
        return "bmp"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    return None


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# --------------------------------------------------------------------------
# AVI (RIFF) video container — uncompressed RGB24 (BI_RGB) and MJPEG.
#
# Like the WAV kernel, BI_RGB needs NO codec library: frames are raw DIB
# bitmaps (bottom-up rows, BGR byte order, scanlines padded to 4-byte
# stride) inside standard RIFF chunks, all parseable with struct + numpy.
# MJPEG streams (fourcc 'MJPG', one independent baseline JPEG per '00dc'
# chunk) ride the real JPEG codec in functions/jpegcodec.py — incl. the
# MJPEG no-DHT convention. The writers emit spec-compliant files
# (hdrl/avih + strl/strh+strf + movi + idx1) that any AVI reader opens;
# remaining compressed fourccs (H.264 etc.) raise NotImplementedError
# naming the codec, and sample_video_frames records that per row.
# --------------------------------------------------------------------------


def _le_chunk(tag: bytes, payload: bytes) -> bytes:
    """RIFF chunk: little-endian size + even-byte padding."""
    pad = b"\x00" if len(payload) % 2 else b""
    return tag + struct.pack("<I", len(payload)) + payload + pad


def _le_list(kind: bytes, payload: bytes) -> bytes:
    return _le_chunk(b"LIST", kind + payload)


def _assemble_avi(
    frame_payloads: list[bytes],
    w: int,
    h: int,
    fps: int,
    handler: bytes,
    compression: int,
    chunk_tag: bytes,
) -> bytes:
    n = len(frame_payloads)
    max_bytes = max(len(p) for p in frame_payloads)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX
        n, 0, 1, max_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIihhhh",
        # fccType fccHandler flags prio lang init scale rate start length
        # sugBufSize quality sampleSize rcFrame(l,t,r,b)
        b"vids", handler, 0, 0, 0, 0, 1, fps, 0, n, max_bytes, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression, max_bytes, 0, 0, 0, 0
    )
    hdrl = _le_list(
        b"hdrl",
        _le_chunk(b"avih", avih)
        + _le_list(b"strl", _le_chunk(b"strh", strh) + _le_chunk(b"strf", strf)),
    )
    movi = _le_list(b"movi", b"".join(_le_chunk(chunk_tag, p) for p in frame_payloads))
    # idx1: one entry per frame, offsets relative to the 'movi' fourcc
    idx_entries, off = [], 4
    for p in frame_payloads:
        idx_entries.append(struct.pack("<4sIII", chunk_tag, 0x10, off, len(p)))
        off += 8 + len(p) + (len(p) % 2)
    idx1 = _le_chunk(b"idx1", b"".join(idx_entries))
    return _le_chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def encode_avi_rgb(frames: np.ndarray, fps: int = 30) -> bytes:
    """(n, h, w, 3) uint8 RGB → uncompressed AVI bytes (fourcc 'DIB ',
    biCompression=BI_RGB, bottom-up BGR scanlines, 4-byte stride)."""
    n, h, w, c = frames.shape
    assert c == 3 and frames.dtype == np.uint8
    stride = (w * 3 + 3) & ~3

    def dib(frame: np.ndarray) -> bytes:
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 3] = frame[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
        return rows.tobytes()

    return _assemble_avi([dib(f) for f in frames], w, h, fps, b"DIB ", 0, b"00db")


_MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def encode_avi_mjpg(frames: np.ndarray, fps: int = 30, quality: int = 90) -> bytes:
    """(n, h, w, 3) uint8 RGB → MJPEG AVI bytes: each '00dc' chunk is an
    independent baseline JPEG (functions/jpegcodec.py), biCompression /
    fccHandler 'MJPG' — the standard motion-JPEG-in-AVI layout."""
    n, h, w, c = frames.shape
    assert c == 3 and frames.dtype == np.uint8
    from edgar_crawler_spark.functions.jpegcodec import encode_jpeg

    payloads = [encode_jpeg(f, quality=quality) for f in frames]
    return _assemble_avi(payloads, w, h, fps, b"MJPG", _MJPG_FOURCC, b"00dc")


def decode_avi_rgb(data: bytes) -> tuple[float, np.ndarray]:
    """AVI bytes → (fps, (n, h, w, 3) uint8 RGB frames). Handles the
    BI_RGB 24-bit streams :func:`encode_avi_rgb` writes (and any other
    writer's uncompressed-DIB video) plus MJPEG streams (fourcc 'MJPG',
    per-frame baseline JPEG — decoded by functions/jpegcodec.py, incl.
    the no-DHT MJPEG convention). Other compressed fourccs raise
    NotImplementedError naming the codec — those need ffmpeg."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI/RIFF container")

    w = h = None
    rate, scale = 0, 1
    compression = bitcount = None
    frame_chunks: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        nonlocal w, h, rate, scale, compression, bitcount
        while pos + 8 <= end:
            tag = buf[pos : pos + 4]
            (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body_end = min(pos + 8 + size, end)
            if tag == b"LIST":
                walk(buf, pos + 12, body_end)
            elif tag == b"avih":
                fields = struct.unpack("<14I", buf[pos + 8 : pos + 8 + 56])
                w, h = fields[8], fields[9]
            elif tag == b"strh" and buf[pos + 8 : pos + 12] == b"vids":
                scale, rate = struct.unpack("<II", buf[pos + 28 : pos + 36])
            elif tag == b"strf" and compression is None:
                _, bw, bh, _, bitcount, compression = struct.unpack(
                    "<IiiHHI", buf[pos + 8 : pos + 28]
                )
                w, h = abs(bw), abs(bh)
            elif tag[2:4] in (b"db", b"dc") and tag[:2].isdigit():
                frame_chunks.append(buf[pos + 8 : body_end])
            pos = pos + 8 + size + (size % 2)

    walk(data, 12, len(data))
    fps_out = (rate / scale) if scale else 0.0
    if not frame_chunks or not w or not h:
        raise ValueError("no decodable video frames in AVI")
    if compression == _MJPG_FOURCC:
        from edgar_crawler_spark.functions.jpegcodec import decode_jpeg

        decoded = [decode_jpeg(c) for c in frame_chunks]
        for i, f in enumerate(decoded):
            if f.shape != (h, w, 3):
                raise ValueError(
                    f"MJPEG frame {i} is {f.shape[1]}x{f.shape[0]}, header says {w}x{h}"
                )
        return fps_out, np.stack(decoded)
    if compression not in (0, None):
        fourcc = struct.pack("<I", compression)
        raise NotImplementedError(
            f"compressed AVI stream {fourcc!r} requires ffmpeg/pyav (absent here)"
        )
    if bitcount not in (24, None):
        raise NotImplementedError(f"only 24-bit DIB supported, got {bitcount}")
    stride = (w * 3 + 3) & ~3
    frames = np.empty((len(frame_chunks), h, w, 3), np.uint8)
    for i, chunk in enumerate(frame_chunks):
        if len(chunk) < stride * h:
            raise ValueError(f"frame {i} truncated: {len(chunk)} < {stride * h}")
        rows = np.frombuffer(chunk[: stride * h], np.uint8).reshape(h, stride)
        frames[i] = rows[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]  # top-down, RGB
    return fps_out, frames


def decode_video(data: bytes) -> tuple[float, np.ndarray]:
    """Multi-frame container dispatch on magic bytes: AVI (RIFF) or
    animated GIF → ``(fps, (n, h, w, 3) uint8 frames)``. Both decoders
    share this contract so the frame sampler is container-agnostic."""
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from edgar_crawler_spark.functions.gifcodec import decode_gif_frames

        return decode_gif_frames(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from edgar_crawler_spark.functions.webpcodec import decode_webp_frames

        return decode_webp_frames(data)
    if len(data) >= 12 and data[4:8] in (b"ftyp", b"moov", b"styp"):
        # ISO-BMFF: probe names the codec so the per-row error column
        # records WHICH codec the corpus needs, not just "not AVI"
        codec = _probe_mp4(data).get("codec")
        raise NotImplementedError(
            f"ISO-BMFF video stream {codec!r} requires ffmpeg/pyav (absent here)"
        )
    return decode_avi_rgb(data)


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def encode_mp4_stub(
    codec: bytes = b"avc1",
    w: int = 64,
    h: int = 48,
    n_frames: int = 24,
    fps: float = 24.0,
    timescale: int = 12288,
) -> bytes:
    """Structurally valid moov-only ISO-BMFF/MP4: real ftyp/moov/mvhd/
    trak/tkhd/mdia/mdhd/hdlr/minf/stbl boxes carrying the given codec
    fourcc, dims, frame count and rate, plus an empty mdat — NO codec
    payload, which is the point: H.264-class corpora arrive in exactly
    this container and the PROBE must audit them even though the
    decode path has no codec (it raises NotImplementedError naming
    the fourcc). Test fixture for :func:`probe_video_header`."""
    dur = int(round(n_frames * timescale / fps))
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    unity = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = _mp4_box(
        b"mvhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, dur)
        + struct.pack(">I", 0x00010000)
        + struct.pack(">H", 0x0100)
        + b"\x00" * 10
        + unity
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = _mp4_box(
        b"tkhd",
        b"\x00\x00\x00\x07"
        + struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)
        + b"\x00" * 4
        + struct.pack(">I", dur)
        + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)
        + unity
        + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed dims
    )
    mdhd = _mp4_box(
        b"mdhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, dur)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _mp4_box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"VideoHandler\x00")
    sample_entry = struct.pack(">I", 86) + codec + (
        b"\x00" * 6
        + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">H", 0x18)
        + struct.pack(">h", -1)
    )
    stsd = _mp4_box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + sample_entry)
    delta = int(round(timescale / fps))
    stts = _mp4_box(
        b"stts",
        b"\x00" * 4 + struct.pack(">I", 1) + struct.pack(">II", n_frames, delta),
    )
    stsc = _mp4_box(b"stsc", b"\x00" * 4 + struct.pack(">I", 0))
    stsz = _mp4_box(b"stsz", b"\x00" * 4 + struct.pack(">II", 0, 0))
    stco = _mp4_box(b"stco", b"\x00" * 4 + struct.pack(">I", 0))
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _mp4_box(b"vmhd", b"\x00\x00\x00\x01" + b"\x00" * 8)
    dinf = _mp4_box(
        b"dinf",
        _mp4_box(
            b"dref",
            b"\x00" * 4 + struct.pack(">I", 1) + _mp4_box(b"url ", b"\x00\x00\x00\x01"),
        ),
    )
    minf = _mp4_box(b"minf", vmhd + dinf + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + moov + _mp4_box(b"mdat", b"")


def _probe_mp4(data: bytes) -> dict:
    """ISO-BMFF box walk → codec/dims/frames/fps/duration. Only box
    structure is read, so any codec fourcc (avc1/hev1/...) probes."""
    timescale = duration = None
    w = h = None
    codec = None
    n_frames = 0

    def walk(pos: int, end: int) -> None:
        nonlocal timescale, duration, w, h, codec, n_frames
        while pos + 8 <= end:
            (size,) = struct.unpack(">I", data[pos : pos + 4])
            btype = data[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
                body = pos + 16
            if size == 0:
                size = end - pos
            bend = min(pos + size, end)
            if btype in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                walk(body, bend)
            elif btype == b"mvhd":
                if data[body] == 1:
                    timescale, duration = struct.unpack(
                        ">IQ", data[body + 20 : body + 32]
                    )
                else:
                    timescale, duration = struct.unpack(
                        ">II", data[body + 12 : body + 20]
                    )
            elif btype == b"tkhd" and w is None:
                w16, h16 = struct.unpack(">II", data[bend - 8 : bend])
                if w16 and h16:
                    w, h = w16 >> 16, h16 >> 16
            elif btype == b"stsd" and codec is None:
                codec = data[body + 12 : body + 16].decode("latin-1").strip()
            elif btype == b"stts" and n_frames == 0:
                (cnt,) = struct.unpack(">I", data[body + 4 : body + 8])
                for e in range(cnt):
                    (sc,) = struct.unpack(
                        ">I", data[body + 8 + e * 8 : body + 12 + e * 8]
                    )
                    n_frames += sc
            pos = pos + size if size > 0 else end

    walk(0, len(data))
    if codec is None and timescale is None:
        raise ValueError("no moov/track structure in ISO-BMFF container")
    dur_s = (duration / timescale) if timescale and duration else None
    fps = (n_frames / dur_s) if dur_s and n_frames else None
    return {
        "container": "mp4",
        "codec": codec,
        "w": w,
        "h": h,
        "n_frames": n_frames,
        "fps": round(fps, 3) if fps else None,
        "duration_s": round(dur_s, 3) if dur_s else None,
    }


def probe_video_header(data: bytes) -> dict:
    """Container-level video probe: (container, codec, dims, frame
    count, fps, duration) from a pure chunk/block walk — NO frame
    decode, mirroring image_header_probe's contract for video. This is
    what makes H.264-class corpora auditable despite the honest codec
    stubs: the probe reports ``codec='H264'`` with real dims and frame
    counts where :func:`decode_video` must raise NotImplementedError.

    Supported containers: AVI/RIFF (any stream fourcc), GIF87a/89a
    (descriptor count without LZW decode), WebP (ANMF walk; stills
    probe as one frame), and ISO-BMFF/MP4 (box walk — the container
    H.264-class corpora actually arrive in). Raises ValueError on
    anything else."""
    if len(data) >= 12 and data[4:8] in (b"ftyp", b"moov", b"styp"):
        return _probe_mp4(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        (w,) = struct.unpack("<H", data[6:8])
        (h,) = struct.unpack("<H", data[8:10])
        packed = data[10]
        pos = 13
        if packed & 0x80:  # global palette
            pos += 3 * (2 << (packed & 7))
        n_frames = 0
        delay_cs = None

        def _skip_subblocks(p: int) -> int:
            while p < len(data) and data[p]:
                p += 1 + data[p]
            return p + 1

        while pos < len(data):
            block = data[pos]
            if block == 0x3B:  # trailer
                break
            if block == 0x21:  # extension
                if (
                    data[pos + 1] == 0xF9
                    and delay_cs is None
                    and pos + 6 <= len(data)  # unpacks [pos+4 : pos+6]
                ):
                    (delay_cs,) = struct.unpack("<H", data[pos + 4 : pos + 6])
                pos = _skip_subblocks(pos + 2)
            elif block == 0x2C:  # image descriptor
                n_frames += 1
                lpacked = data[pos + 9]
                pos += 10
                if lpacked & 0x80:  # local palette
                    pos += 3 * (2 << (lpacked & 7))
                pos = _skip_subblocks(pos + 1)  # +1: LZW min code size
            else:
                raise ValueError(f"GIF: unknown block 0x{block:02x}")
        fps = (100.0 / delay_cs) if delay_cs else None
        return {
            "container": "gif",
            "codec": "lzw",
            "w": w,
            "h": h,
            "n_frames": n_frames,
            "fps": fps,
            "duration_s": (n_frames * delay_cs / 100.0) if delay_cs else None,
        }
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from edgar_crawler_spark.functions.webpcodec import walk_webp_chunks

        w = h = None
        n_frames = 0
        dur_ms = 0
        codec = None
        for fourcc, at, ln in walk_webp_chunks(data):
            if fourcc == b"VP8X":
                w = 1 + int.from_bytes(data[at + 4 : at + 7], "little")
                h = 1 + int.from_bytes(data[at + 7 : at + 10], "little")
            elif fourcc == b"ANMF":
                n_frames += 1
                dur_ms += int.from_bytes(data[at + 12 : at + 15], "little")
            elif fourcc == b"VP8L" and codec is None:
                codec = "vp8l"
                if w is None and data[at] == 0x2F:
                    bits = int.from_bytes(data[at + 1 : at + 5], "little")
                    w = 1 + (bits & 0x3FFF)
                    h = 1 + ((bits >> 14) & 0x3FFF)
            elif fourcc == b"VP8 " and codec is None:
                codec = "vp8"
        if codec is None and n_frames == 0:
            raise ValueError("no video payload in WebP container")
        return {
            "container": "webp",
            "codec": codec or "vp8l",
            "w": w,
            "h": h,
            "n_frames": max(n_frames, 1),
            "fps": (n_frames * 1000.0 / dur_ms) if dur_ms else None,
            "duration_s": (dur_ms / 1000.0) if dur_ms else None,
        }
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        w = h = None
        rate, scale = 0, 1
        compression = None
        n_chunks = 0

        def walk(pos: int, end: int) -> None:
            nonlocal w, h, rate, scale, compression, n_chunks
            while pos + 8 <= end:
                tag = data[pos : pos + 4]
                (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
                body_end = min(pos + 8 + size, end)
                if tag == b"LIST":
                    walk(pos + 12, body_end)
                elif tag == b"strh" and data[pos + 8 : pos + 12] == b"vids":
                    scale, rate = struct.unpack("<II", data[pos + 28 : pos + 36])
                elif tag == b"strf" and compression is None:
                    _, bw, bh, _, _, compression = struct.unpack(
                        "<IiiHHI", data[pos + 8 : pos + 28]
                    )
                    w, h = abs(bw), abs(bh)
                elif tag[2:4] in (b"db", b"dc") and tag[:2].isdigit():
                    n_chunks += 1
                pos = pos + 8 + size + (size % 2)

        walk(12, len(data))
        if compression in (0, None):
            codec = "DIB"
        else:
            codec = struct.pack("<I", compression).decode("latin-1").strip()
        fps = (rate / scale) if scale else None
        return {
            "container": "avi",
            "codec": codec,
            "w": w,
            "h": h,
            "n_frames": n_chunks,
            "fps": fps,
            "duration_s": (n_chunks / fps) if fps else None,
        }
    raise ValueError("not a recognized video container (AVI/GIF/WebP)")


def average_hash(pixels: np.ndarray) -> int:
    """64-bit average-hash (aHash): grayscale → 8×8 block means →
    bit = mean(block) > mean(all). Signed int64 for a LongType column.
    Inputs under 8px on a side (e.g. 1/8-scale thumbnails of small
    images) are nearest-upsampled first — the integer bin edges would
    otherwise produce empty blocks (0/0)."""
    g = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = g.shape
    if h < 8 or w < 8:
        g = np.repeat(np.repeat(g, -(-8 // h), axis=0), -(-8 // w), axis=1)
        h, w = g.shape
    # integral image → all 64 block means in one vectorized shot
    s = np.zeros((h + 1, w + 1))
    np.cumsum(np.cumsum(g, 0), 1, out=s[1:, 1:])
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    sums = (
        s[ys[1:, None], xs[None, 1:]]
        - s[ys[:-1, None], xs[None, 1:]]
        - s[ys[1:, None], xs[None, :-1]]
        + s[ys[:-1, None], xs[None, :-1]]
    )
    blocks = sums / np.outer(np.diff(ys), np.diff(xs))
    bits = (blocks > blocks.mean()).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


def validate_payload(data) -> tuple:
    """The per-row payload validation kernel: ``(w, h, fmt, phash,
    decode_ok)`` of one image blob. A blob that fails to decode yields
    null metrics and its exception class name as ``decode_ok`` — never
    a raise, so a poisoned blob cannot kill the task."""
    try:
        data = bytes(data)
        px = decode_image(data)
        return px.shape[1], px.shape[0], sniff_format(data), average_hash(px), "ok"
    except Exception as e:
        return None, None, None, None, type(e).__name__
