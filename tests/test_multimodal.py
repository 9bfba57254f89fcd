"""Multimodal: schema-true binary handling with REAL pure-Python pixel
paths (PNG + baseline JPEG decode / resize / stats, WAV, Y4M) and a
documented compressed-video codec seam."""

from __future__ import annotations

import hashlib

import pytest

from ontology_pipeline_spark.operators.multimodal import (
    extract_media_features,
    image_channel_stats,
    png_decode,
    resize_images,
    resize_pixels,
    sample_video_frames,
)
from ontology_pipeline_spark.schemas import MEDIA
from ontology_pipeline_spark.synth import generate_media_corpus, media_df, png_encode


def _media(spark):
    rows = [
        ("m1", "image", b"\x89PNG fake bytes", "image/png", 64, 64, None, "garbage"),
        ("m2", "audio", b"RIFF fake wave", "audio/wav", None, None, 2500, "audio"),
        ("m3", "video", b"\x00\x00ftyp fake", "video/mp4", 640, 480, 3500, "video"),
        ("m4", "image", None, "image/png", None, None, None, "null"),
    ]
    return spark.createDataFrame(rows, schema=MEDIA)


def test_feature_extraction_stub_deterministic(spark):
    out = {r["media_id"]: r for r in extract_media_features(_media(spark)).collect()}
    assert out["m1"]["n_bytes"] == 15
    assert out["m1"]["sha1"] == hashlib.sha1(b"\x89PNG fake bytes").hexdigest()
    assert len(out["m1"]["feature"]) == 8
    assert abs(sum(out["m1"]["feature"]) - 1.0) < 1e-3  # histogram sums to ~1
    assert out["m4"]["feature"] is None and out["m4"]["n_bytes"] == 0
    # deterministic across runs
    again = {r["media_id"]: r["feature"] for r in extract_media_features(_media(spark)).collect()}
    assert again["m2"] == out["m2"]["feature"]


def test_png_decode_roundtrips_every_filter_and_layout():
    """Decoder vs independent encoder: all five scanline filters x all four
    channel layouts roundtrip to the exact source samples."""
    c = generate_media_corpus(n_images=48, seed=11)
    mime = {r[0]: r[3] for r in c.rows}
    layouts = set()
    for mid, (w, h, ch, pix) in c.pixels.items():
        if mime[mid] != "image/png":  # JPEG rows have their own roundtrip test
            continue
        payload = dict((r[0], r[2]) for r in c.rows)[mid]
        assert png_decode(payload) == (w, h, ch, pix), mid
        layouts.add(ch)
    assert layouts == {1, 2, 3, 4}
    # single-filter encodes (the corpus cycles filters within one image)
    pix = bytes((x * 7 + y * 13 + c * 29) % 256 for y in range(9) for x in range(7) for c in range(3))
    for ft in range(5):
        assert png_decode(png_encode(7, 9, 3, pix, filters=[ft])) == (7, 9, 3, pix), ft


def test_png_decode_rejects_garbage_without_raising():
    assert png_decode(b"not a png") is None
    assert png_decode(b"\x89PNG\r\n\x1a\n\x00\x00trunc") is None
    # 16-bit depth unsupported -> None, not an exception
    good = png_encode(4, 4, 1, bytes(range(16)))
    tampered = bytearray(good)
    tampered[24] = 16  # bit depth byte inside IHDR
    assert png_decode(bytes(tampered)) is None


def test_resize_pixels_block_average_semantics():
    # 3x3 -> 2x2: uneven bins, integer floor averages (the golden-replay spec)
    pix = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90])
    assert list(resize_pixels(pix, 3, 3, 1, 2, 2)) == [10, 25, 55, 70]
    # upscale replicates
    assert list(resize_pixels(bytes([1, 2, 3, 4]), 2, 2, 1, 3, 3)) == [1, 1, 2, 1, 1, 2, 3, 3, 4]


def test_resize_images_real_and_null_safe(spark):
    """resize_images now REALLY resizes PNGs; non-PNG payloads yield NULL
    pixel rows instead of killing the scan."""
    corpus = generate_media_corpus(n_images=6, seed=11)
    out = {
        r["media_id"]: r
        for r in resize_images(media_df(spark, corpus), 4, 4).collect()
    }
    for mid, (w, h, ch, pix) in corpus.pixels.items():
        got = out[mid]
        assert (got["width"], got["height"], got["channels"]) == (4, 4, ch)
        assert bytes(got["pixels"]) == resize_pixels(pix, w, h, ch, 4, 4)
    for bad in ("bad000", "bad001", "aud000", "vid000", "nul000"):
        assert out[bad]["pixels"] is None and out[bad]["width"] is None


def test_real_features_for_png_stub_seam_for_other_formats(spark):
    """stub=False computes real features for every decodable container —
    PNG and baseline-JPEG pixels, PCM WAV samples, Y4M planes — and raises
    only at the documented codec seam (compressed video: ISO-BMFF)."""
    import math

    corpus = generate_media_corpus(n_images=4, seed=11, n_audio=2, n_video=2)
    decodable = media_df(spark, corpus).filter("label <> 'garbage' AND media_id NOT IN ('aud000', 'vid000') AND payload IS NOT NULL")
    feats = {
        r["media_id"]: r["feature"]
        for r in extract_media_features(decodable, stub=False).collect()
    }
    for mid, (w, h, ch, pix) in corpus.pixels.items():
        f = feats[mid]
        assert f[:3] == [float(w), float(h), float(ch)]
        assert f[3] == round(sum(pix) / (w * h * ch), 6)
    for mid, (rate, ch, samples) in corpus.waveforms.items():
        f = feats[mid]
        n = len(samples)
        assert f[:3] == [float(rate), float(ch), float(n // ch)]
        assert f[5] == round(math.sqrt(sum(s * s for s in samples) / n), 6)
    for mid, (w, h, num, den, frames) in corpus.videos.items():
        f = feats[mid]
        assert f[:3] == [float(w), float(h), float(len(frames))]
    # a REAL compressed container still raises at the codec seam
    mp4 = spark.createDataFrame(
        [("v1", "video", b"\x00\x00\x00\x18ftypmp42 more bytes")],
        "media_id string, kind string, payload binary",
    )
    with pytest.raises(Exception) as ei:
        extract_media_features(mp4, stub=False).collect()
    assert "NotImplementedError" in str(ei.value) or "decoder" in str(ei.value)
    # corrupt RIFF (unparseable WAV) is NULL now, not a raise
    out = {
        r["media_id"]: r["feature"]
        for r in extract_media_features(_media(spark), stub=False).collect()
    }
    assert out["m2"] is None  # "RIFF fake wave" -> corrupt -> NULL


def test_image_channel_stats_matches_generation_pixels(spark):
    corpus = generate_media_corpus(n_images=8, seed=11)
    out = {
        r["media_id"]: r
        for r in image_channel_stats(media_df(spark, corpus), resize_to=(4, 4)).collect()
    }
    for mid, (w, h, ch, pix) in corpus.pixels.items():
        r = out[mid]
        fmt = "jpeg" if mid.startswith(("jpg", "jpp")) else "png"
        assert (r["format"], r["width"], r["height"], r["channels"]) == (fmt, w, h, ch)
        assert r["mean_all"] == round(sum(pix) / (w * h * ch), 6)
        assert r["mean_c0"] == round(sum(pix[0::ch]) / (w * h), 6)
        rp = resize_pixels(pix, w, h, ch, 4, 4)
        assert r["resized_mean"] == round(sum(rp) / (16 * ch), 6)
    assert out["bad000"]["format"] is None and out["nul000"]["format"] is None


def test_video_frame_sampling(spark):
    rows = sample_video_frames(_media(spark), every_ms=1000).collect()
    got = sorted((r["media_id"], r["frame_ts_ms"]) for r in rows)
    assert got == [("m3", 0), ("m3", 1000), ("m3", 2000), ("m3", 3000)]


def test_video_frame_sampling_null_and_zero_duration(spark):
    """Regression: NULL/0-duration videos emitted a phantom ts=0 frame."""
    from ontology_pipeline_spark.operators.multimodal import sample_video_frames

    media = spark.createDataFrame(
        [("m1", "video", None), ("m2", "video", 0), ("m3", "video", 2500)],
        ["media_id", "kind", "duration_ms"],
    )
    rows = sample_video_frames(media, every_ms=1000).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert "m1" not in by_id and "m2" not in by_id
    assert sorted(by_id["m3"]) == [0, 1000, 2000]


def test_image_dimensions_real_parse(spark):
    """Header parsing is REAL (pure byte arithmetic): PNG IHDR and JPEG SOF
    dimensions decode without any imaging library; garbage yields NULLs."""
    import struct

    from ontology_pipeline_spark.operators.multimodal import image_dimensions

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9   # APP0 (14-byte payload)
        + b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"                   # DHT (not a frame)
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 1080, 1920) + b"\x03" + b"\x00" * 3            # SOF0: h=1080 w=1920
    )
    media = spark.createDataFrame(
        [("p1", bytearray(png)), ("j1", bytearray(jpeg)), ("x1", bytearray(b"not an image")), ("n1", None)],
        "media_id string, payload binary",
    )
    got = {r["media_id"]: (r["format"], r["width"], r["height"]) for r in image_dimensions(media).collect()}
    assert got["p1"] == ("png", 640, 480)
    assert got["j1"] == ("jpeg", 1920, 1080)
    assert got["x1"] == (None, None, None)
    assert got["n1"] == (None, None, None)


def test_wav_decode_roundtrips_and_rejects_garbage():
    """Audio path is REAL too: the pure-stdlib PCM WAV decoder roundtrips
    the independent encoder across rates/channel layouts; non-WAV and
    tampered payloads yield None, never raise."""
    import random

    from ontology_pipeline_spark.operators.multimodal import wav_decode
    from ontology_pipeline_spark.synth import generate_audio_samples, wav_encode

    rng = random.Random(3)
    for i in range(6):
        rate, ch, samples = generate_audio_samples(i, rng)
        got = wav_decode(wav_encode(rate, ch, samples))
        assert got == (rate, ch, len(samples) // ch, samples), i
    assert wav_decode(b"RIFF fake wave bytes") is None
    assert wav_decode(b"not audio") is None
    good = wav_encode(8000, 1, [0, 100, -100])
    tampered = bytearray(good)
    tampered[20] = 3  # audio_format -> IEEE float (unsupported)
    assert wav_decode(bytes(tampered)) is None


def test_wav_decode_skips_extra_riff_chunks():
    """RIFF walkers must skip non-fmt/data chunks (LIST metadata) and honor
    odd-length chunk padding."""
    import struct

    from ontology_pipeline_spark.operators.multimodal import wav_decode

    samples = [5, -5, 1000]
    data = struct.pack("<3h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    odd_list = b"xyz"  # 3 bytes -> padded to 4
    body = (
        b"WAVE"
        + b"LIST" + struct.pack("<I", len(odd_list)) + odd_list + b"\x00"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    assert wav_decode(payload) == (8000, 1, 3, samples)


def test_audio_stats_matches_generation_waveforms(spark):
    import math

    from ontology_pipeline_spark.operators.multimodal import audio_stats
    from ontology_pipeline_spark.synth import generate_media_corpus, media_df

    corpus = generate_media_corpus(n_images=4, seed=11, n_audio=6)
    out = {r["media_id"]: r for r in audio_stats(media_df(spark, corpus)).collect()}
    for mid, (rate, ch, samples) in corpus.waveforms.items():
        r = out[mid]
        n = len(samples)
        assert (r["format"], r["sample_rate"], r["channels"]) == ("wav", rate, ch)
        assert r["n_frames"] == n // ch
        assert r["duration_ms"] == (n // ch) * 1000 // rate
        assert r["peak"] == max(abs(s) for s in samples)
        assert r["rms"] == round(math.sqrt(sum(s * s for s in samples) / n), 6)
    # images / garbage / null payloads flow through as NULL rows, no raise
    assert out["bad000"]["format"] is None and out["nul000"]["format"] is None
    assert out["img000"]["format"] is None


def test_png_decode_bounds_decompression_bombs():
    """A tiny payload whose IDAT inflates far past the IHDR-declared size (a
    zlib bomb) must yield None without materializing the inflated stream;
    declared-size overflow (huge IHDR dims) is rejected before any inflate."""
    import struct
    import zlib

    from ontology_pipeline_spark.operators.multimodal import png_decode

    def chunk(typ, data):
        return len(data).to_bytes(4, "big") + typ + data + zlib.crc32(typ + data).to_bytes(4, "big")

    sig = b"\x89PNG\r\n\x1a\n"
    # bomb: IHDR says 4x4 gray (expected 20 bytes) but IDAT inflates to 40 MB
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(b"\x00" * 40_000_000)) + chunk(b"IEND", b"")
    assert len(bomb) < 50_000  # the payload itself is tiny
    assert png_decode(bomb) is None
    # truncated stream: valid zlib prefix but no stream end -> None
    good_raw = b"".join(b"\x00" + bytes(4) for _ in range(4))
    z = zlib.compress(good_raw)
    trunc = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", z[: len(z) - 4]) + chunk(b"IEND", b"")
    assert png_decode(trunc) is None
    # declared-size cap: 50000x50000 RGBA would be 10 GB of samples
    huge = struct.pack(">IIBBBBB", 50_000, 50_000, 8, 6, 0, 0, 0)
    cap = sig + chunk(b"IHDR", huge) + chunk(b"IDAT", zlib.compress(b"\x00" * 64)) + chunk(b"IEND", b"")
    assert png_decode(cap) is None


def test_stub_false_null_for_corrupt_raise_only_at_codec_seam(spark):
    """The never-raise contract under stub=False: corrupt PNG / corrupt
    JPEG / garbage bytes yield a NULL feature row; only recognizable
    containers that need a real codec (ISO-BMFF ftyp) raise at the
    documented seam (JPEG moved off the seam in round 3: baseline decode is
    real, corrupt/progressive streams go NULL)."""
    corrupt = spark.createDataFrame(
        [
            ("c1", "image", b"\x89PNG\r\n\x1a\n\x00\x00truncated junk"),
            ("c2", "image", b"complete garbage, no container signature"),
            ("j1", "image", b"\xff\xd8\xff\xe0 jpeg-ish"),
        ],
        "media_id string, kind string, payload binary",
    )
    out = {r["media_id"]: r["feature"] for r in extract_media_features(corrupt, stub=False).collect()}
    assert out == {"c1": None, "c2": None, "j1": None}


def test_distributed_media_deterministic_and_decodable(spark):
    """Executor-side media generation (the multimodal analog of
    distributed_pages): partitioning-independent for a seed, every payload
    decodes, stats chain runs end-to-end."""
    from ontology_pipeline_spark.operators.multimodal import image_channel_stats
    from ontology_pipeline_spark.synth import distributed_media

    a = {r["media_id"]: bytes(r["payload"]) for r in distributed_media(spark, 40, seed=19, partitions=2).collect()}
    b = {r["media_id"]: bytes(r["payload"]) for r in distributed_media(spark, 40, seed=19, partitions=7).collect()}
    assert a == b and len(a) == 40  # per-id seeding: partitioning-invariant
    stats = image_channel_stats(distributed_media(spark, 40, seed=19)).collect()
    assert len(stats) == 40 and all(r["format"] == "png" for r in stats)


def test_distributed_media_mixed_kinds(spark):
    """kinds=(image, audio, video) cycles per row id, stays
    partitioning-invariant, and every payload decodes through its chain."""
    from ontology_pipeline_spark.operators.multimodal import (
        audio_stats,
        image_channel_stats,
        video_stats,
    )
    from ontology_pipeline_spark.synth import distributed_media

    kinds = ("image", "audio", "video")
    a = {r["media_id"]: bytes(r["payload"]) for r in distributed_media(spark, 18, seed=19, partitions=2, kinds=kinds).collect()}
    b = {r["media_id"]: bytes(r["payload"]) for r in distributed_media(spark, 18, seed=19, partitions=5, kinds=kinds).collect()}
    assert a == b and len(a) == 18
    media = distributed_media(spark, 18, seed=19, kinds=kinds)
    for chain, kind in ((image_channel_stats, "image"), (audio_stats, "audio"), (video_stats, "video")):
        subset = media.filter(f"kind = '{kind}'")
        rows = chain(subset).collect()
        assert len(rows) == 6 and all(r["format"] is not None for r in rows), kind


def test_y4m_decode_roundtrips_generation_frames():
    """Video path is REAL: the pure-stdlib Y4M decoder recovers the exact
    generation-side planes (all three motion patterns, varied dims/fps)
    from the independent encoder's bytes."""
    from ontology_pipeline_spark.operators.multimodal import y4m_decode
    from ontology_pipeline_spark.synth import generate_media_corpus

    c = generate_media_corpus(n_images=2, n_audio=1, n_video=6)
    payloads = {r[0]: r[2] for r in c.rows}
    assert len(c.videos) == 6
    for mid, (w, h, num, den, frames) in c.videos.items():
        assert y4m_decode(payloads[mid]) == (w, h, num, den, frames), mid


def test_y4m_decode_rejects_garbage_and_unsupported():
    from ontology_pipeline_spark.operators.multimodal import y4m_decode
    from ontology_pipeline_spark.synth import y4m_encode

    good = y4m_encode(4, 3, 25, 1, [bytes(range(36)), bytes(36)])
    assert y4m_decode(good) is not None
    assert y4m_decode(b"not a video") is None
    assert y4m_decode(b"") is None
    # 4:2:0 subsampling (the real-world default) IS supported: full-res Y
    # plane leads the frame, chroma planes are ceil(w/2)*ceil(h/2) each
    y = bytes(range(12))
    c420_frame = y + bytes(4) + bytes(4)  # 4x3: Y=12, U=V=2x2
    c420 = b"YUV4MPEG2 W4 H3 F25:1 Ip A1:1 C420jpeg\n" + b"FRAME\n" + c420_frame
    got = y4m_decode(c420)
    assert got is not None and got[4][0][:12] == y
    # no C tag at all -> spec default 420jpeg, same frame layout
    no_tag = b"YUV4MPEG2 W4 H3 F25:1\n" + b"FRAME\n" + c420_frame
    assert y4m_decode(no_tag) == (4, 3, 25, 1, [c420_frame])
    # 4:2:2: chroma planes are ceil(w/2)*h each
    c422 = b"YUV4MPEG2 W4 H3 F25:1 C422\n" + b"FRAME\n" + y + bytes(6) + bytes(6)
    assert y4m_decode(c422) is not None
    # colorspaces outside the 444/422/420 families stay out of scope -> None
    assert y4m_decode(good.replace(b"C444", b"C444alpha")) is None
    assert y4m_decode(good.replace(b"C444", b"Cmono")) is None
    # truncated mid-frame / bad frame marker / zero dims / zero fps
    assert y4m_decode(good[:-5]) is None
    assert y4m_decode(good.replace(b"FRAME", b"FRUME", 1)) is None
    assert y4m_decode(y4m_encode(0, 3, 25, 1, [])) is None
    assert y4m_decode(good.replace(b"F25:1", b"F0:1")) is None
    # negative fps (one flipped byte) must not decode into negative duration
    assert y4m_decode(good.replace(b"F25:1", b"F-25:1")) is None
    assert y4m_decode(good.replace(b"F25:1", b"F25:-1")) is None
    # header-only stream (no frames) -> None
    assert y4m_decode(b"YUV4MPEG2 W4 H3 F25:1 Ip A1:1 C444\n") is None
    # declared frame size past the bound -> None before touching frame bytes
    huge = b"YUV4MPEG2 W100000 H100000 F25:1 C444\nFRAME\n"
    assert y4m_decode(huge) is None


def test_video_stats_matches_generation_frames(spark):
    from ontology_pipeline_spark.operators.multimodal import video_stats
    from ontology_pipeline_spark.synth import generate_media_corpus, media_df

    corpus = generate_media_corpus(n_images=3, n_audio=2, n_video=6)
    out = {r["media_id"]: r for r in video_stats(media_df(spark, corpus)).collect()}
    for mid, (w, h, num, den, frames) in corpus.videos.items():
        r = out[mid]
        n = len(frames)
        assert (r["format"], r["width"], r["height"]) == ("y4m", w, h)
        assert (r["fps_num"], r["fps_den"], r["n_frames"]) == (num, den, n)
        assert r["duration_ms"] == n * 1000 * den // num
        ysum = sum(sum(f[: w * h]) for f in frames)
        assert r["y_mean"] == round(ysum / (n * w * h), 6)
    # images / fake-mp4 / garbage / null payloads flow through as NULL rows
    for neg in ("img000", "vid000", "bad000", "nul000", "wav000"):
        assert out[neg]["format"] is None, neg


def test_sample_decoded_frames_real(spark):
    """Sampled frames carry REAL per-frame luma stats: every emitted row's
    y_mean/thumb_mean matches a recomputation from the generation-side
    planes, frame_idx is the exact integer ts->frame mapping, and corrupt
    video payloads emit no rows (never raise)."""
    from ontology_pipeline_spark.operators.multimodal import (
        sample_decoded_frames,
    )
    from ontology_pipeline_spark.synth import generate_media_corpus, media_df

    corpus = generate_media_corpus(n_images=2, n_audio=1, n_video=6)
    rows = sample_decoded_frames(media_df(spark, corpus), every_ms=250).collect()
    by_id: dict[str, list] = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    assert set(by_id) == set(corpus.videos)  # negatives emit nothing
    for mid, (w, h, num, den, frames) in corpus.videos.items():
        duration_ms = len(frames) * 1000 * den // num
        expected_ts = [ts for ts in range(0, duration_ms, 250) if ts * num // (1000 * den) < len(frames)]
        got = sorted(by_id[mid], key=lambda r: r["frame_ts_ms"])
        assert [r["frame_ts_ms"] for r in got] == expected_ts
        for r in got:
            idx = r["frame_ts_ms"] * num // (1000 * den)
            assert r["frame_idx"] == idx
            y = frames[idx][: w * h]
            assert r["y_mean"] == round(sum(y) / (w * h), 6)
            rp = resize_pixels(y, w, h, 1, 4, 4)
            assert r["thumb_mean"] == round(sum(rp) / 16, 6)


def test_decoders_never_raise_on_seeded_mutations():
    """Durable form of the round-3 review fuzz: hundreds of seeded byte
    flips, truncations, and splices over valid PNG/WAV payloads — the
    decoders must return a result or None, never raise (the 100 TB
    corrupt-shard contract)."""
    import random

    from ontology_pipeline_spark.operators.multimodal import (
        png_decode,
        wav_decode,
        y4m_decode,
    )
    from ontology_pipeline_spark.synth import (
        generate_audio_samples,
        generate_video_frames,
        wav_encode,
        y4m_encode,
    )

    rng = random.Random(1234)
    pix = bytes((x * 7 + y * 13 + c * 29) % 256 for y in range(16) for x in range(12) for c in range(3))
    base_png = png_encode(12, 16, 3, pix, filters=[0, 1, 2, 3, 4])
    rate, ch, samples = generate_audio_samples(0, rng)
    base_wav = wav_encode(rate, ch, samples)
    vw, vh, vnum, vden, vframes = generate_video_frames(0, rng)
    base_y4m = y4m_encode(vw, vh, vnum, vden, vframes)

    for base, decode in (
        (base_png, png_decode),
        (base_wav, wav_decode),
        (base_y4m, y4m_decode),
    ):
        for _ in range(300):
            b = bytearray(base)
            op = rng.randrange(3)
            if op == 0:  # flip 1-8 random bytes
                for _k in range(rng.randint(1, 8)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            elif op == 1:  # truncate anywhere
                b = b[: rng.randrange(len(b))]
            else:  # splice a random chunk of noise
                at = rng.randrange(len(b))
                b[at:at] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 32)))
            decode(bytes(b))  # any return is fine; raising is the failure


def test_jpeg_mosaic_roundtrip_bit_exact():
    """With all-ones quant tables, images whose cells are solid per MCU
    (8x8 for 4:4:4/gray, 16x16 for 4:2:0, 16x8 for 4:2:2) carry only DC
    coefficients, so encode -> entropy decode -> IDCT -> color convert is
    BIT-EXACT against the generation-side expected pixels for every layout
    the decoder supports.  This exercises the full baseline path: Huffman
    tables from DHT, DC prediction, EOB, dequantize, IDCT, chroma
    upsampling, JFIF YCbCr->RGB."""
    from ontology_pipeline_spark.operators.multimodal import jpeg_decode
    from ontology_pipeline_spark.synth import generate_media_corpus

    c = generate_media_corpus(n_images=0, n_audio=0, n_video=0, n_jpeg=12)
    layouts_seen = set()
    for mid, kind, payload, mime, *_ in c.rows:
        if mime != "image/jpeg" or mid.startswith("bad"):
            continue
        dec = jpeg_decode(payload)
        assert dec is not None, mid
        assert dec == c.pixels[mid], mid
        # generation cycles (gray,444)/(color,444)/(color,420)/(color,422)
        mode, sub = [("gray", "444"), ("color", "444"), ("color", "420"), ("color", "422")][int(mid[3:]) % 4]
        assert dec[2] == (1 if mode == "gray" else 3), mid
        layouts_seen.add((mode, sub))
    assert layouts_seen == {
        ("gray", "444"), ("color", "444"), ("color", "420"), ("color", "422")
    }


def test_jpeg_lossy_roundtrip_bounded():
    """Arbitrary (non-mosaic) content is lossy but bounded: with quant=1 the
    only error sources are FDCT rounding (<=0.5/coeff) and the clamp of the
    one-in-a-trillion 11-bit AC; decoded RGB must stay within +-4 of the
    direct JFIF conversion of the source planes.  A Huffman/zigzag/dequant
    bug would blow this bound up immediately."""
    import random

    from ontology_pipeline_spark.operators.multimodal import jpeg_decode
    from ontology_pipeline_spark.synth import jpeg_encode

    rng = random.Random(7)
    for sub in ("444", "420", "422"):
        w, h = 24, 17
        yp = bytes(rng.randrange(256) for _ in range(w * h))
        # smooth chroma (subsampling averages it, so keep it blockwise-flat
        # to make the expected value well-defined under 420/422)
        cb = bytes(((x // 16) * 40 + 60) % 256 for _ in range(1) for y in range(h) for x in range(w))
        cr = bytes(((y // 16) * 30 + 90) % 256 for y in range(h) for x in range(w))
        dec = jpeg_decode(jpeg_encode(w, h, [yp, cb, cr], subsampling=sub))
        assert dec is not None and dec[:3] == (w, h, 3)
        mx = 0
        for i in range(w * h):
            yv, cbv, crv = yp[i], cb[i] - 128.0, cr[i] - 128.0
            exp = (yv + 1.402 * crv, yv - 0.344136 * cbv - 0.714136 * crv, yv + 1.772 * cbv)
            for ci in range(3):
                e = min(255, max(0, round(exp[ci])))
                mx = max(mx, abs(e - dec[3][i * 3 + ci]))
        assert mx <= 4, (sub, mx)


def test_jpeg_restart_markers_and_dims():
    """DRI/RSTn handling: a stream with restart_interval=2 decodes
    identically to the unrestarted stream (DC predictors reset per
    interval), and header dims agree with the full decode — also for the
    progressive encode and for a stream with 0xFF fill bytes before a
    marker (T.81 B.1.1.2)."""
    from ontology_pipeline_spark.operators.multimodal import (
        _jpeg_dimensions,
        jpeg_decode,
    )
    from ontology_pipeline_spark.synth import jpeg_encode, jpeg_encode_progressive

    w, h = 37, 22  # 5x3 MCUs at 4:4:4 -> several restart intervals
    yp = bytes(((x // 8) * 31 + (y // 8) * 17) % 256 for y in range(h) for x in range(w))
    plain = jpeg_encode(w, h, [yp])
    rst = jpeg_encode(w, h, [yp], restart_interval=2)
    assert b"\xff\xdd" in rst and b"\xff\xd0" in rst and b"\xff\xdd" not in plain
    a, b = jpeg_decode(plain), jpeg_decode(rst)
    assert a is not None and b is not None
    assert a == b  # mosaic -> both exact -> equal
    assert _jpeg_dimensions(rst) == (w, h) == (a[0], a[1])
    assert _jpeg_dimensions(jpeg_encode_progressive(w, h, [yp], restart_interval=2)) == (w, h)
    i = plain.find(b"\xff\xc0")
    filled = plain[:i] + b"\xff\xff\xff" + plain[i:]
    assert _jpeg_dimensions(filled) == (w, h)
    assert jpeg_decode(filled) == a


def test_jpeg_decode_progressive_parity_and_mutations():
    """A real progressive (SOF2) encode of the same planes decodes
    BIT-IDENTICALLY to the baseline encode (both encoders share the same
    coefficient math, so any conforming decoder must agree); a baseline
    stream merely RELABELED SOF2 is invalid per T.81 (a DC scan must have
    Se=0) and returns None; seeded mutations over both stream kinds never
    raise (the corrupt-shard contract, same fuzz shape as PNG/WAV/Y4M)."""
    import random

    from ontology_pipeline_spark.operators.multimodal import jpeg_decode
    from ontology_pipeline_spark.synth import jpeg_encode, jpeg_encode_progressive

    w, h = 19, 14
    yp = bytes(((x // 8) * 50 + 40) % 256 for y in range(h) for x in range(w))
    base = jpeg_encode(w, h, [yp])
    assert jpeg_decode(base) is not None
    prog = jpeg_encode_progressive(w, h, [yp])
    assert b"\xff\xc2" in prog and jpeg_decode(prog) == jpeg_decode(base)
    relabeled = bytearray(base)
    i = relabeled.find(b"\xff\xc0")
    relabeled[i + 1] = 0xC2  # SOF0 -> SOF2: now an invalid progressive stream
    assert jpeg_decode(bytes(relabeled)) is None
    rng = random.Random(99)
    for src in (base, prog):
        for _ in range(300):
            b = bytearray(src)
            op = rng.randrange(3)
            if op == 0:
                for _k in range(rng.randint(1, 8)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            elif op == 1:
                b = b[: rng.randrange(len(b))]
            else:
                at = rng.randrange(len(b))
                b[at:at] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 32)))
            jpeg_decode(bytes(b))  # any return is fine; raising is the failure


def test_jpeg_decode_rejects_magnitude_categories_above_8bit_limits():
    """A DC Huffman value of 0x40 asks for a 64-bit difference, past the
    8-bit DC category limit of 11 (T.81 F.1.2.1): the stream is corrupt and
    decodes to None instead of overflowing the int32 coefficient planes."""
    from ontology_pipeline_spark.operators.multimodal import jpeg_decode
    from ontology_pipeline_spark.synth import jpeg_encode_progressive

    w, h = 19, 14
    yp = bytes(((x // 8) * 50 + 40) % 256 for y in range(h) for x in range(w))
    prog = bytearray(jpeg_encode_progressive(w, h, [yp]))
    assert jpeg_decode(bytes(prog)) is not None
    prog[132] = 0x40  # a DC Huffman value
    assert jpeg_decode(bytes(prog)) is None


def test_jpeg_decode_peak_memory_bound():
    """`max_pixel_bytes` bounds the larger of the int32 coefficient + uint8
    pixel planes (5 B per padded sample) and the pixel planes + float color
    stages (51 B/px color, 2 B/px grayscale), for sequential and progressive
    frames alike.  A 24x16 frame: 3x1152 padded color samples, 384 gray.
    The bound holds for the memory the decode actually allocates (numpy
    reports its buffers to tracemalloc): no coefficient plane may outlive
    its IDCT into the color stage."""
    import tracemalloc

    from ontology_pipeline_spark.operators.multimodal import jpeg_decode
    from ontology_pipeline_spark.synth import jpeg_encode, jpeg_encode_progressive

    w, h = 24, 16
    for ncomp, limit in ((3, 20736), (1, 1920)):
        planes = [bytes((x * 3 + y * 5 + c * 17) % 256 for y in range(h) for x in range(w)) for c in range(ncomp)]
        for enc in (jpeg_encode, jpeg_encode_progressive):
            b = enc(w, h, planes)
            assert jpeg_decode(b, limit) is not None, (ncomp, enc.__name__)
            assert jpeg_decode(b, limit - 1) is None, (ncomp, enc.__name__)

    # 128x96 (MCU-aligned): padded = w*h per full-resolution component.  A
    # lingering int32 plane would add 4 B per padded sample (>= 48 KiB),
    # more than the slack: fixed tables plus the stream's entropy data,
    # which the decoder copies out of the input (un-stuffed, restart-split)
    w, h = 128, 96
    for ncomp, sub, padded in ((3, "444", 3 * w * h), (3, "420", w * h * 3 // 2), (1, "444", w * h)):
        planes = [bytes((x * 3 + y * 5 + c * 17) % 256 for y in range(h) for x in range(w)) for c in range(ncomp)]
        limit = max(5 * padded, padded + (51 if ncomp == 3 else 2) * w * h)
        for enc in (jpeg_encode, jpeg_encode_progressive):
            b = enc(w, h, planes, subsampling=sub)
            want = jpeg_decode(b, limit)
            assert want is not None, (ncomp, sub, enc.__name__)
            tracemalloc.start()
            try:
                got = jpeg_decode(b, limit)
                peak = tracemalloc.get_traced_memory()[1]
            finally:
                tracemalloc.stop()
            assert got == want
            assert peak <= limit + 2 * len(b) + (1 << 14), (ncomp, sub, enc.__name__, peak, limit, len(b))


def test_jpeg_encoders_bytes_pinned():
    """Both JPEG writers are byte-stable: SHA-256 of every (writer x
    {gray, 444, 420, 422} x restart {0, 2}) encode of fixed planes (a noisy
    left half for ZRLs and large ACs, a flat right half for EOB runs) is
    pinned.  Decoder tests patch and size streams by exact byte offsets.
    The writers stay the spec-side oracle for the decoder, so `synth` and
    `operators.multimodal` import nothing from each other."""
    import ast
    import inspect

    from ontology_pipeline_spark import synth
    from ontology_pipeline_spark.operators import multimodal

    pinned = {
        ("jpeg_encode", "gray", 0): "ea88ef8b2621ad0579a498f3a42e75a2d718b5db70e76f61b991747d3ee9af71",
        ("jpeg_encode", "gray", 2): "bc23eb9d221a908f87d35a94b3bf65ff2f65698dd111e2feb2f03b7380bdeb76",
        ("jpeg_encode", "444", 0): "33d7094342202d9cc839cc9869865fe40e8aaa663e6f529c8e22683376e2c8cd",
        ("jpeg_encode", "444", 2): "41ac2ced3c7d913a03e6ad133e006b529a605b0c0d208668a77539d7861eb66a",
        ("jpeg_encode", "420", 0): "fa392a9697c491e6085b978114b9939fa47e145d6de2f003d95aa93bc7fc18ba",
        ("jpeg_encode", "420", 2): "5ad5ac9305d857827a8e27f4c699e743145a80a69c3da99426299127215b47b5",
        ("jpeg_encode", "422", 0): "576fedca74d96d76f6472320b581ac2b374b345d1554c74f6a7e1611b144c932",
        ("jpeg_encode", "422", 2): "b232781b2ff1cdaf4e68753342790381c655cac8e93321b5f68fdedfe919f9cf",
        ("jpeg_encode_progressive", "gray", 0): "36c0bfec821cdeada8ee8f1ebff8299b20a2e0e2e2e9c53456591818d0c08044",
        ("jpeg_encode_progressive", "gray", 2): "16218955ab8d242d7ec7704e373502f2e0d20ce858f1b8839ee7d9f9d92f94ba",
        ("jpeg_encode_progressive", "444", 0): "9a18e44d6140b92f68c01eff49d70202872f8f004c6b82a8c3102356a512177e",
        ("jpeg_encode_progressive", "444", 2): "2aaad36d64665d3e89d93ebace4144cb27c0272991475c1aef9246d4a501de38",
        ("jpeg_encode_progressive", "420", 0): "a04be70f6f9b38e3d3a6f9449f307b928faea91fba279d576d2175dba53f281b",
        ("jpeg_encode_progressive", "420", 2): "2a487b1cd157c400f848c68364b6639bb912db5d3c9956f3b1a4be3dffe8370a",
        ("jpeg_encode_progressive", "422", 0): "6a9ca04920ccdce8aeed4d2bdd9223761fb5ae057fdf6e62b41d2a8cc9886954",
        ("jpeg_encode_progressive", "422", 2): "36dae1b5152c3df85744c54e5a1426975121a52a687d8e19d186d7e0809a3f02",
    }
    w, h = 37, 22
    got = {}
    for enc in (synth.jpeg_encode, synth.jpeg_encode_progressive):
        for layout in ("gray", "444", "420", "422"):
            ncomp = 1 if layout == "gray" else 3
            planes = [
                bytes(
                    (
                        (x * 37 + y * 91 + c * 53) * (x ^ y) % 251
                        if x < w // 2
                        else 40 + 30 * c + (y // 8) * 20
                    )
                    % 256
                    for y in range(h)
                    for x in range(w)
                )
                for c in range(ncomp)
            ]
            sub = "444" if layout == "gray" else layout
            for ri in (0, 2):
                b = enc(w, h, planes, subsampling=sub, restart_interval=ri)
                got[(enc.__name__, layout, ri)] = hashlib.sha256(b).hexdigest()
    assert got == pinned

    for module, other in ((synth, "multimodal"), (multimodal, "synth")):
        for node in ast.walk(ast.parse(inspect.getsource(module))):
            if isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            assert not any(other in n.split(".") for n in names), (module.__name__, names)


def test_jpeg_progressive_matrix_matches_baseline():
    """Every (size x components x subsampling x restart x content) cell:
    progressive and baseline encodes of identical planes decode to identical
    pixels — exercising all T.81 G.2 scan kinds the encoder's scan script
    emits (spectral selection, successive approximation, EOB runs, ZRL,
    refinement correction bits, restart-marker resets)."""
    import random

    from ontology_pipeline_spark.operators.multimodal import jpeg_decode
    from ontology_pipeline_spark.synth import jpeg_encode, jpeg_encode_progressive

    rng = random.Random(1234)
    for w, h in [(8, 8), (24, 16), (17, 13), (33, 9)]:
        for ncomp in (1, 3):
            for sub in ("444", "420", "422") if ncomp == 3 else ("444",):
                for ri in (0, 3):
                    for content in ("grad", "noise"):
                        if content == "grad":
                            planes = [
                                bytes((x * 3 + y * 5 + c * 17) % 256 for y in range(h) for x in range(w))
                                for c in range(ncomp)
                            ]
                        else:
                            planes = [bytes(rng.randrange(256) for _ in range(w * h)) for c in range(ncomp)]
                        base = jpeg_encode(w, h, planes, subsampling=sub, restart_interval=ri)
                        prog = jpeg_encode_progressive(w, h, planes, subsampling=sub, restart_interval=ri)
                        db, dp = jpeg_decode(base), jpeg_decode(prog)
                        assert db is not None
                        assert dp == db, (w, h, ncomp, sub, ri, content)


def test_jpeg_grayscale_ignores_declared_sampling_factors():
    """T.81 A.2: a single-component scan is non-interleaved (one data unit
    per MCU) regardless of the declared hi/vi — a grayscale stream whose
    SOF claims 2x2 factors must decode identically to the same stream
    declaring 1x1 (ADVICE r3: it used to garble instead)."""
    from ontology_pipeline_spark.operators.multimodal import jpeg_decode
    from ontology_pipeline_spark.synth import jpeg_encode

    w, h = 21, 13
    yp = bytes((x * 11 + y * 5) % 256 for y in range(h) for x in range(w))
    base = jpeg_encode(w, h, [yp])
    ref = jpeg_decode(base)
    assert ref is not None and ref[:3] == (w, h, 1)
    patched = bytearray(base)
    i = patched.find(b"\xff\xc0")
    assert patched[i + 11] == 0x11  # cid at +10, hv at +11
    patched[i + 11] = 0x22  # declare 2x2 sampling on the single component
    assert jpeg_decode(bytes(patched)) == ref


def test_jpeg_unsupported_reason_distinguishes_needs_codec_from_corrupt(spark):
    """A VALID arithmetic-coded JPEG raises at the featurize codec seam
    (like ISO-BMFF) instead of silently yielding a NULL row, while corrupt
    JPEG bytes still classify as corrupt -> NULL (ADVICE r3).  Huffman
    progressive (SOF2) is NO LONGER a codec gap: a valid progressive stream
    featurizes to the same features as its baseline twin."""
    import pytest

    from ontology_pipeline_spark.operators.multimodal import (
        extract_media_features,
        jpeg_unsupported_reason,
    )
    from ontology_pipeline_spark.synth import jpeg_encode, jpeg_encode_progressive

    w, h = 19, 14
    yp = bytes(((x // 8) * 50 + 40) % 256 for y in range(h) for x in range(w))
    base = jpeg_encode(w, h, [yp])
    assert jpeg_unsupported_reason(base) is None
    prog = jpeg_encode_progressive(w, h, [yp])
    assert jpeg_unsupported_reason(prog) is None  # SOF2 decodes since r5
    # a baseline stream RELABELED SOF2 is supported-frame-type but invalid
    # entropy data: reason None, decode None -> NULL row (corrupt path)
    relabeled = bytearray(base)
    i = relabeled.find(b"\xff\xc0")
    relabeled[i + 1] = 0xC2
    assert jpeg_unsupported_reason(bytes(relabeled)) is None
    arith = bytearray(base)
    arith[i + 1] = 0xC9
    assert jpeg_unsupported_reason(bytes(arith)) == "arithmetic-coded"
    lossless = bytearray(base)
    lossless[i + 1] = 0xC3
    assert jpeg_unsupported_reason(bytes(lossless)) == "lossless"
    diffprog = bytearray(base)
    diffprog[i + 1] = 0xC6
    assert jpeg_unsupported_reason(bytes(diffprog)) == "differential-progressive"
    # truncated/garbled streams are corrupt, not needs-codec
    assert jpeg_unsupported_reason(b"\xff\xd8\x00\x00garbage") is None
    df = spark.createDataFrame(
        [
            ("base", "image", base),
            ("prog", "image", prog),
            ("relabeled", "image", bytes(relabeled)),
            ("corrupt", "image", b"\xff\xd8\x00\x00garbage"),
        ],
        "media_id string, kind string, payload binary",
    )
    out = {r["media_id"]: r["feature"] for r in extract_media_features(df, stub=False).collect()}
    assert out["prog"] == out["base"] and out["base"] is not None
    assert out["relabeled"] is None and out["corrupt"] is None
    bad = df.limit(0).sparkSession.createDataFrame(
        [("arith", "image", bytes(arith))],
        "media_id string, kind string, payload binary",
    )
    with pytest.raises(Exception) as ei:
        extract_media_features(bad, stub=False).collect()
    assert "arithmetic" in str(ei.value)


def test_bmff_metadata_walk_roundtrips_generated_boxes():
    """VERDICT r3 #5: the moov/mvhd/trak ISO-BMFF metadata walk decodes the
    independently written box tree (duration, track count, handler/codec
    fourccs, video dimensions); header-only fakes and truncations are None."""
    from ontology_pipeline_spark.operators.multimodal import bmff_metadata
    from ontology_pipeline_spark.synth import bmff_encode_meta

    b = bmff_encode_meta(
        duration_ms=7250,
        tracks=[("vide", "avc1", 1920, 1080), ("soun", "mp4a", 0, 0), ("vide", "hvc1", 640, 360)],
    )
    meta = bmff_metadata(b)
    assert meta is not None
    major, dur_ms, tracks = meta
    assert major == "isom" and dur_ms == 7250
    assert tracks == [
        ("vide", "avc1", 1920, 1080),
        ("soun", "mp4a", 0, 0),
        ("vide", "hvc1", 640, 360),
    ]
    # negatives: the corpus's header-only fake, no moov, truncation
    assert bmff_metadata(b"\x00\x00ftyp fake") is None
    assert bmff_metadata(b[:40]) is None
    ftyp_only = b[: int.from_bytes(b[:4], "big")]
    assert bmff_metadata(ftyp_only) is None


def test_video_stats_emits_bmff_metadata_rows(spark):
    """video_stats returns a metadata row for MP4 payloads (format
    'isobmff', mvhd duration, first video track dims, NULL pixel stats)
    instead of an all-NULL row; bmff_tracks gives the per-track view."""
    from ontology_pipeline_spark.operators.multimodal import (
        bmff_tracks,
        video_stats,
    )
    from ontology_pipeline_spark.synth import bmff_encode_meta

    mp4 = bmff_encode_meta(duration_ms=4200, tracks=[("soun", "mp4a", 0, 0), ("vide", "avc1", 320, 240)])
    df = spark.createDataFrame(
        [("v1", mp4), ("junk", b"\x00\x00ftyp fake")],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in video_stats(df).collect()}
    v = rows["v1"]
    assert (v["format"], v["width"], v["height"], v["duration_ms"]) == ("isobmff", 320, 240, 4200)
    assert v["n_frames"] is None and v["y_mean"] is None
    assert rows["junk"]["format"] is None
    tr = sorted(
        (r["track_idx"], r["handler"], r["codec"], r["width"], r["height"], r["duration_ms"])
        for r in bmff_tracks(df).collect()
    )
    assert tr == [(0, "soun", "mp4a", 0, 0, 4200), (1, "vide", "avc1", 320, 240, 4200)]


def test_bmff_metadata_never_raises_on_seeded_mutations():
    """The decoder fuzz contract extended to BMFF: byte flips, truncations,
    and splices over a valid box tree return metadata or None, never raise."""
    import random

    from ontology_pipeline_spark.operators.multimodal import bmff_metadata
    from ontology_pipeline_spark.synth import bmff_encode_meta

    base = bmff_encode_meta()
    assert bmff_metadata(base) is not None
    rng = random.Random(4242)
    for _ in range(400):
        b = bytearray(base)
        op = rng.randrange(3)
        if op == 0:
            for _k in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 1:
            b = b[: rng.randrange(len(b))]
        else:
            at = rng.randrange(len(b))
            b[at:at] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 32)))
        bmff_metadata(bytes(b))  # any return is fine; raising is the failure
