"""Multimodal operators (decode/validate, stubs) and the
robots gate wired into the fetch scheduler."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from edgar_crawler_spark.fixtures.payload import payload_df, reference_pixels
from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.canonical import with_url_identity
from edgar_crawler_spark.frontier.fetch import fetch_wave
from edgar_crawler_spark.frontier.priority import with_priority
from edgar_crawler_spark.functions.imaging import decode_image
from edgar_crawler_spark.operators.multimodal import (
    decode_and_validate,
    extract_audio_features,
    sample_video_frames,
)


def test_decode_and_validate_fills_metadata(spark):
    df = payload_df(spark, 40).drop("w", "h", "fmt", "phash")
    out = decode_and_validate(df).toPandas()
    assert (out.decode_ok == "ok").all()
    assert out.w.notna().all() and out.phash.notna().all()
    # cross-check one row against the generator
    r = out[out.image_id.str.endswith("000007")].iloc[0]
    src = reference_pixels(7)
    assert (r.h, r.w) == src.shape[:2]


def test_decode_poisoned_blob_recorded_not_thrown(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"image_id": ["x"], "bytes": [b"garbage"]}))
    out = decode_and_validate(df).toPandas()
    assert out.decode_ok.iloc[0] != "ok"
    assert out.w.isna().all()


def test_image_stats_analytic_values(spark):
    """Flat gray: brightness = v/255, zero contrast/colorfulness/
    entropy. Checkerboard: contrast ~0.5, entropy 1 bit. Red flood:
    colorful. Poisoned blob: recorded, not thrown."""
    import pandas as pd

    from edgar_crawler_spark.functions.imaging import encode_png
    from edgar_crawler_spark.operators.multimodal import image_stats

    flat = np.full((16, 16, 3), 100, np.uint8)
    checker = np.zeros((16, 16, 3), np.uint8)
    checker[::2, ::2] = 255
    checker[1::2, 1::2] = 255
    red = np.zeros((16, 16, 3), np.uint8)
    red[:, :, 0] = 200
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["flat", "checker", "red", "bad"],
                "bytes": [encode_png(flat), encode_png(checker), encode_png(red), b"junk"],
            }
        )
    )
    out = {r.image_id: r for r in image_stats(df).collect()}
    f = out["flat"]
    assert abs(f.brightness - 100 / 255) < 1e-6
    assert f.contrast == 0.0 and f.colorfulness == 0.0 and f.gray_entropy == 0.0
    c = out["checker"]
    assert abs(c.contrast - 0.5) < 1e-6 and abs(c.gray_entropy - 1.0) < 1e-6
    # a pure flood has only the mean term: 0.3·hypot(200,100)/255 ≈ 0.263
    assert abs(out["red"].colorfulness - 0.263067) < 1e-6
    assert out["bad"].stats_ok != "ok" and out["bad"].brightness is None
    # sharpness: flat/flood → 0; checkerboard's Laplacian swings ±8·255
    assert f.sharpness == 0.0 and out["red"].sharpness == 0.0
    assert c.sharpness > 1.0


def test_image_stats_sharpness_ranks_blur(spark):
    """Laplacian variance must rank a box-blurred copy below its sharp
    original — the gate signal — and be invariant to brightness."""
    import pandas as pd

    from edgar_crawler_spark.functions.imaging import encode_png
    from edgar_crawler_spark.operators.multimodal import image_stats

    rng = np.random.default_rng(1)
    sharp = rng.integers(0, 256, size=(32, 32, 3)).astype(np.float64)
    k = np.ones((5, 5)) / 25.0
    blurred = sharp.copy()
    for c in range(3):
        s = np.pad(sharp[:, :, c], 2, mode="edge")
        blurred[:, :, c] = sum(
            s[i : i + 32, j : j + 32] * k[i, j] for i in range(5) for j in range(5)
        )
    brighter = np.clip(sharp + 60, 0, 255)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["sharp", "blurred", "brighter"],
                "bytes": [
                    encode_png(sharp.astype(np.uint8)),
                    encode_png(blurred.astype(np.uint8)),
                    encode_png(brighter.astype(np.uint8)),
                ],
            }
        )
    )
    out = {r.image_id: r for r in image_stats(df).collect()}
    assert out["blurred"].sharpness < out["sharp"].sharpness / 10
    # brightness offset leaves the Laplacian variance within clip error
    assert abs(out["brighter"].sharpness - out["sharp"].sharpness) < out[
        "sharp"
    ].sharpness * 0.35


def test_transcode_images_semantics(spark):
    """Storage transcode: ok rows carry decodable smaller-or-equal JPEG
    with recorded PSNR, incompressible rows are kept verbatim, poisoned
    blobs are recorded per row — and a smooth image genuinely shrinks."""
    import pandas as pd

    from edgar_crawler_spark.functions.imaging import (
        decode_image,
        encode_png,
        psnr,
        sniff_format,
    )
    from edgar_crawler_spark.fixtures.payload import payload_df
    from edgar_crawler_spark.operators.multimodal import transcode_images

    yy, xx = np.mgrid[0:48, 0:56]
    smooth = (
        np.stack([127 + 100 * np.sin(xx / 9.0), 127 + 100 * np.cos(yy / 7.0), xx % 256], axis=2)
        .clip(0, 255)
        .astype(np.uint8)
    )
    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["smooth", "poisoned"],
                "bytes": [encode_png(smooth), b"\x00garbage blob"],
            }
        )
    )
    base = payload_df(spark, 40).select("image_id", "bytes")
    out = transcode_images(base.unionByName(extra), quality=95).toPandas()
    assert len(out) == 42 and set(out.image_id) >= {"smooth", "poisoned"}

    bad = out.set_index("image_id").loc["poisoned"]
    assert bad.transcode_ok == "ValueError" and bad.transcoded is None

    ok = out[out.transcode_ok == "ok"]
    kept = out[out.transcode_ok == "kept"]
    assert len(ok) > 0 and len(kept) > 0  # noise PNGs don't shrink as JPEG
    for _, r in ok.iterrows():
        blob = bytes(r.transcoded)
        assert sniff_format(blob) == "jpeg"
        assert r.out_bytes == len(blob) <= r.in_bytes
        assert r.psnr_db > 30.0
    for _, r in kept.iterrows():
        assert r.out_bytes == r.in_bytes == len(bytes(r.transcoded))

    sm = out.set_index("image_id").loc["smooth"]
    assert sm.transcode_ok == "ok" and sm.out_bytes < sm.in_bytes
    got = decode_image(bytes(sm.transcoded))
    assert psnr(smooth, got) >= 40.0


def test_transcode_images_progressive(spark):
    """progressive=True emits decodable SOF2 streams with IDENTICAL
    pixels to the baseline transcode (same quantized coefficients) and
    strictly smaller blobs (per-scan optimal Huffman tables)."""
    import pandas as pd

    from edgar_crawler_spark.functions.imaging import decode_image, encode_png
    from edgar_crawler_spark.operators.multimodal import transcode_images

    yy, xx = np.mgrid[0:48, 0:56]
    smooth = (
        np.stack([127 + 100 * np.sin(xx / 9.0), 127 + 100 * np.cos(yy / 7.0), xx % 256], axis=2)
        .clip(0, 255)
        .astype(np.uint8)
    )
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": ["smooth"], "bytes": [encode_png(smooth)]})
    )
    base = transcode_images(df, quality=95).collect()[0]
    prog = transcode_images(df, quality=95, progressive=True).collect()[0]
    assert base.transcode_ok == prog.transcode_ok == "ok"
    pblob = bytes(prog.transcoded)
    assert b"\xff\xc2" in pblob and b"\xff\xc0" not in pblob
    assert prog.out_bytes < base.out_bytes
    assert np.array_equal(decode_image(pblob), decode_image(bytes(base.transcoded)))
    assert prog.psnr_db == base.psnr_db


def test_video_frame_sample_real_kernel(spark):
    """Uncompressed-AVI frame sampling: every-Nth indices, lossless
    pixel parity vs the fixture's reference frames, recorded (not
    thrown) errors for poisoned and compressed blobs."""
    from edgar_crawler_spark.fixtures.payload import make_video_frames, video_df

    from edgar_crawler_spark.functions.imaging import psnr

    out = sample_video_frames(video_df(spark, 30), every_n=2).toPandas()
    ok = out[out.decode_ok == "ok"]
    assert len(ok) > 0
    mjpeg_seen = gif_seen = webp_seen = 0
    # every clean clip emits ceil(n_frames / 2) rows at even indices
    for mid, grp in ok.groupby("media_id"):
        i = int(mid[3:])
        ref = make_video_frames(i)
        is_gif = i % 11 != 3 and i % 7 != 1 and i % 9 == 2
        is_webp = i % 11 != 3 and i % 7 != 1 and i % 9 != 2 and i % 8 == 4
        gif_seen += is_gif
        webp_seen += is_webp
        assert sorted(grp.frame_idx) == list(range(0, len(ref), 2))
        # animated GIF's centisecond time base and animated WebP's
        # 40 ms frames → 25 fps, AVI → 24
        assert (grp.n_frames == len(ref)).all()
        assert (grp.fps == (25.0 if is_gif or is_webp else 24.0)).all()
        r = grp[grp.frame_idx == 2].iloc[0]
        got = decode_image(bytes(r.frame_png))
        if i % 11 != 3 and i % 7 == 1:  # real MJPEG clip: lossy parity
            mjpeg_seen += 1
            assert psnr(ref[2], got) >= 40.0
        else:  # exact pixel parity (AVI and GIF legs are both lossless)
            assert (got == ref[2]).all()
        assert r.frame_phash is not None
    assert mjpeg_seen > 0 and gif_seen > 0 and webp_seen > 0
    # poisoned (i % 13 == 5) and compressed (i % 11 == 3) rows recorded
    bad = out[out.decode_ok != "ok"].set_index("media_id").decode_ok
    assert bad.loc["vid00005"] == "ValueError"
    assert bad.loc["vid00003"] == "NotImplementedError"
    assert (out[out.decode_ok != "ok"].frame_idx == -1).all()
    # failed rows appear exactly once, never silently dropped
    assert out.media_id.nunique() == 30


def test_video_frame_near_dup_respects_scene_cuts(spark):
    """The multimodal×dedup composite: consecutive frames within a
    scene are Hamming near-dups of each other, frames across the hard
    scene cut are not, and pairs never mix different videos in this
    fixture."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.fixtures.payload import make_video_frames, video_df
    from edgar_crawler_spark.operators.dedup import hamming_near_dup_pairs

    frames = (
        sample_video_frames(video_df(spark, 20), every_n=1)
        .filter(F.col("decode_ok") == "ok")
        .select(
            F.concat_ws(":", "media_id", "frame_idx").alias("frame_id"),
            "frame_phash",
        )
    )
    pairs = hamming_near_dup_pairs(
        frames, id_col="frame_id", hash_col="frame_phash", bits=64, max_hamming=6
    ).toPandas()
    assert len(pairs) > 0

    def parse(s):
        vid, idx = s.rsplit(":", 1)
        return vid, int(idx)

    for _, r in pairs.iterrows():
        va, ia = parse(r.frame_a)
        vb, ib = parse(r.frame_b)
        assert va == vb, "different scenes must not collide in this fixture"
        i = int(va[3:])
        n = len(make_video_frames(i))
        cut = n // 2 if i % 2 == 0 and n >= 4 else None
        if cut is not None:  # pairs never straddle the hard cut
            assert (ia < cut) == (ib < cut), (r.frame_a, r.frame_b)
    # every scene's consecutive-frame pair is found (recall guarantee)
    got = {(r.frame_a, r.frame_b) for _, r in pairs.iterrows()}
    for i in range(20):
        if i % 13 == 5 or i % 11 == 3:
            continue
        n = len(make_video_frames(i))
        cut = n // 2 if i % 2 == 0 and n >= 4 else None
        for k in range(n - 1):
            if cut is not None and k + 1 == cut:
                continue
            pair = (f"vid{i:05d}:{k}", f"vid{i:05d}:{k + 1}")
            assert pair in got, pair


def test_video_every_n_one_is_all_frames(spark):
    from edgar_crawler_spark.fixtures.payload import make_video_frames, video_df

    out = sample_video_frames(video_df(spark, 4), every_n=1).toPandas()
    grp = out[out.media_id == "vid00000"]
    assert sorted(grp.frame_idx) == list(range(len(make_video_frames(0))))
    with pytest.raises(ValueError, match="every_n"):
        sample_video_frames(video_df(spark, 4), every_n=0)


def _wav_bytes(freq=440.0, rate=8000, seconds=0.5, amp=0.5, n_channels=1, width=2):
    """Synthesize a PCM sine-wave WAV blob with stdlib wave."""
    import io
    import wave

    n = int(rate * seconds)
    t = np.arange(n) / rate
    sig = amp * np.sin(2 * np.pi * freq * t)
    if width == 2:
        frames = (sig * 32767).astype("<i2")
    elif width == 1:
        frames = ((sig * 127) + 128).astype(np.uint8)
    else:
        raise ValueError(width)
    if n_channels > 1:
        frames = np.repeat(frames, n_channels)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_channels)
        wf.setsampwidth(width)
        wf.setframerate(rate)
        wf.writeframes(frames.tobytes())
    return buf.getvalue()


def test_audio_features_real_wav_kernel(spark):
    """extract_audio_features is a REAL kernel for WAV/RIFF: stdlib
    wave + numpy, verified against the analytic properties of a
    synthesized sine (duration, RMS = A/√2, zero-crossing rate =
    2·freq/rate), across 16-bit mono, 8-bit mono, and stereo; a
    poisoned blob records its error class and never throws."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "media_id": ["m16", "m8", "mst", "bad"],
            "bytes": [
                _wav_bytes(freq=440, rate=8000, seconds=0.5, amp=0.5, width=2),
                _wav_bytes(freq=100, rate=8000, seconds=1.0, amp=0.25, width=1),
                _wav_bytes(freq=440, rate=8000, seconds=0.5, amp=0.5, n_channels=2),
                b"RIFFgarbage-not-a-wav",
            ],
        }
    )
    out = (
        extract_audio_features(spark.createDataFrame(rows))
        .toPandas()
        .set_index("media_id")
    )

    m16 = out.loc["m16"]
    assert m16.decode_ok == "ok"
    assert (m16.sample_rate, m16.n_channels, m16.n_samples) == (8000, 1, 4000)
    assert abs(m16.duration_s - 0.5) < 1e-9
    assert abs(m16.rms - 0.5 / np.sqrt(2)) < 0.01
    assert abs(m16.zero_crossing_rate - 2 * 440 / 8000) < 0.005

    m8 = out.loc["m8"]
    assert m8.decode_ok == "ok" and m8.n_samples == 8000
    assert abs(m8.rms - 0.25 / np.sqrt(2)) < 0.02  # 8-bit quantization noise
    assert abs(m8.zero_crossing_rate - 2 * 100 / 8000) < 0.005

    mst = out.loc["mst"]  # identical channels average to the mono signal
    assert mst.decode_ok == "ok" and mst.n_channels == 2 and mst.n_samples == 4000
    assert abs(mst.rms - 0.5 / np.sqrt(2)) < 0.01

    bad = out.loc["bad"]
    assert bad.decode_ok != "ok" and pd.isna(bad.sample_rate)


def test_robots_gate_blocks_in_fetch(spark):
    work = with_priority(
        with_url_identity(seed_index_df(spark, 40)).withColumn("attempts_total", F.lit(0))
    )

    def robots(host):
        # host0 disallows its Archives subtree
        return "User-agent: *\nDisallow: /Archives/\n" if host == "host0.test" else None

    out = fetch_wave(work, robots_fetcher=robots).toPandas()
    blocked = out[out.error == "robots_disallowed"]
    assert set(blocked.host) == {"host0.test"}
    assert len(blocked) == len(out[out.host == "host0.test"])
    assert (out[out.host != "host0.test"].state == "fetched").all()


def test_robots_gate_through_frontier(spark, tmp_path):
    """The frontier passes its robots_fetcher through to every wave:
    disallowed hosts' rows go terminal (never re-dispatched), allowed
    hosts fetch normally."""
    from edgar_crawler_spark.frontier.frontier import CrawlFrontier

    def robots(host):
        return "User-agent: *\nDisallow: /Archives/\n" if host == "host0.test" else None

    fr = CrawlFrontier(
        spark, str(tmp_path / "w"), robots_fetcher=robots, max_attempts=1
    )
    fr.submit(seed_index_df(spark, 40, n_hosts=4, hot_host=False))
    fr.run()
    log = fr.fetch_log().toPandas()
    assert len(log) == 40
    blocked = log[log.host == "host0.test"]
    assert (blocked.error == "robots_disallowed").all()
    assert (log[log.host != "host0.test"].state == "fetched").all()
    # blocked rows are terminal: resubmission admits nothing
    assert fr.submit(seed_index_df(spark, 40, n_hosts=4, hot_host=False)) == 0


def test_robots_crawl_delay_caps_host_rate(spark):
    """A declared Crawl-delay slows ONLY that host: with the virtual
    clock, k queued rows at Crawl-delay d must wait >= (k - burst)·d
    seconds, while hosts without a delay keep the crawler's own
    budget."""
    work = with_priority(
        with_url_identity(seed_index_df(spark, 60, n_hosts=3, hot_host=False))
        .withColumn("attempts_total", F.lit(0))
    )

    def robots(host):
        # host0 demands 2 s between requests; others say nothing
        return "User-agent: *\nCrawl-delay: 2\n" if host == "host0.test" else None

    out = fetch_wave(work, robots_fetcher=robots, rate_per_host=10.0).toPandas()
    assert (out.state == "fetched").all()
    per_host = out.groupby("host").agg(n=("wait_s", "size"), waited=("wait_s", "sum"))
    slow = per_host.loc["host0.test"]
    # TokenBucket(0.5/s): k rows need >= (k - burst) * 2 s of waiting
    assert slow["waited"] >= (slow["n"] - 10) * 2 * 0.99
    for host, row in per_host.iterrows():
        if host == "host0.test":
            continue
        # un-delayed hosts stay on the 10 req/s budget (far less waiting)
        assert row["waited"] <= (row["n"] / 10.0) * 1.5


def test_video_header_probe_no_decode(spark):
    """Container-level probe (the image_header_probe twin for video):
    codec/dims/frame-count/fps from a pure chunk walk — including for
    the H264-fourcc rows the decode kernel must refuse — with field
    parity vs the fixture's known layout."""
    from edgar_crawler_spark.fixtures.payload import make_video_frames, video_df
    from edgar_crawler_spark.operators.multimodal import video_header_probe

    out = video_header_probe(video_df(spark, 48)).toPandas().set_index("media_id")
    assert len(out) == 48
    for mid, r in out.iterrows():
        i = int(mid[3:])
        if i % 13 == 5:  # truncated RIFF: probe answers, with 0 frames
            assert r.probe_ok == "ok" and r.container == "avi" and r.n_frames == 0
            continue
        ref = make_video_frames(i)
        n, h, w = ref.shape[:3]
        assert r.probe_ok == "ok"
        assert (r.vid_w, r.vid_h, r.n_frames) == (w, h, n), mid
        if i % 11 == 3:  # H264-poisoned: auditable WITHOUT decoding
            assert r.container == "avi" and r.codec == "H264"
            assert r.fps == 24.0
        elif i % 7 == 1:
            assert r.container == "avi" and r.codec == "MJPG" and r.fps == 24.0
        elif i % 9 == 2:
            assert r.container == "gif" and r.codec == "lzw" and r.fps == 25.0
            assert abs(r.duration_s - n * 0.04) < 1e-9
        elif i % 8 == 4:
            assert r.container == "webp" and r.codec == "vp8l" and r.fps == 25.0
        else:
            assert r.container == "avi" and r.codec == "DIB" and r.fps == 24.0
            assert abs(r.duration_s - n / 24.0) < 1e-9
    # non-video bytes record their error class, never throw
    import pandas as pd

    bad = video_header_probe(
        spark.createDataFrame(
            pd.DataFrame({"media_id": ["x"], "bytes": [b"\x89PNG not a video"]})
        )
    ).toPandas()
    assert bad.probe_ok[0] == "ValueError"


def test_mp4_probe_and_named_decode_refusal():
    """ISO-BMFF: the probe audits any codec fourcc from box structure
    alone; decode_video names the codec in its NotImplementedError so
    per-row error columns say WHICH codec the corpus needs."""
    import pytest as _pytest

    from edgar_crawler_spark.functions.imaging import (
        decode_video,
        encode_mp4_stub,
        probe_video_header,
    )

    for codec, w, h, n, fps in (
        (b"avc1", 64, 48, 24, 24.0),
        (b"hev1", 1920, 1080, 300, 30.0),
        (b"mp4v", 320, 240, 48, 12.0),
    ):
        blob = encode_mp4_stub(codec, w, h, n, fps)
        got = probe_video_header(blob)
        assert got["container"] == "mp4" and got["codec"] == codec.decode()
        assert (got["w"], got["h"], got["n_frames"]) == (w, h, n)
        assert abs(got["fps"] - fps) < 0.01
        with _pytest.raises(NotImplementedError, match=codec.decode()):
            decode_video(blob)


def test_audio_header_probe_mixed_corpus(spark):
    """Audio container triage without decode: field-level parity vs
    the deterministic mixed fixture (WAV real, MP3/FLAC/Ogg stubs),
    poisoned rows recorded not thrown."""
    from edgar_crawler_spark.fixtures.payload import mixed_audio_df
    from edgar_crawler_spark.operators.multimodal import audio_header_probe

    out = audio_header_probe(mixed_audio_df(spark, 60)).toPandas().set_index("media_id")
    assert len(out) == 60
    for mid, r in out.iterrows():
        i = int(mid[2:])
        if i % 13 == 5:
            assert r.probe_ok == "ValueError"
            continue
        assert r.probe_ok == "ok", mid
        k = i % 5
        if k == 0:
            rate = 8000 * (1 + i % 3)
            assert r.container == "wav" and r.codec == "pcm16"
            assert r.sample_rate == rate and r.channels == 1 + i % 2
            # n_frames = bytes/(ch*2) = (1+i%2)*(rate//4)*2 / (ch*2)
            assert abs(r.duration_s - 0.25) < 0.01
        elif k == 1:
            assert r.container == "mp3" and r.codec == "mp3"
            assert r.sample_rate == [44100, 48000, 32000][i % 3]
            assert r.bitrate_kbps == [64, 128, 192][i % 3]
            assert r.n_samples == (10 + i % 30) * 1152
        elif k == 2:
            assert r.container == "flac"
            assert r.sample_rate == [22050, 44100, 48000][i % 3]
            assert r.n_samples == 4000 * (1 + i % 7)
            assert abs(r.duration_s - r.n_samples / r.sample_rate) < 0.01
        elif k == 3:
            assert r.container == "ogg" and r.codec == "opus"
            assert r.sample_rate == 48000 and r.n_samples == 9600 * (1 + i % 5)
            assert abs(r.duration_s - r.n_samples / 48000.0) < 0.01
        else:
            assert r.container == "ogg" and r.codec == "vorbis"
            assert r.n_samples == 9600 * (1 + i % 5)
