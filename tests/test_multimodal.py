"""Multimodal plumbing: binary columns, Arrow batch shapes, frame
sampling plans, and the REAL from-scratch decode kernels (WAV/μ-law/
PPM/PGM/BMP/PNG/GIF/JPEG/MP4/MP3 — no external media libs; the only
stub left is compressed MP4 video-frame decode)."""

import pytest
from pyspark.sql import functions as F

from cr_data_pipeline_project_spark.operators import multimodal


def _media(spark):
    rows = [
        (1, b"\x89PNG fake image bytes", "image", 64, 64, None),
        (2, b"RIFF fake wav bytes" * 10, "audio", None, None, 2000),
        (3, b"\x00\x00ftyp fake mp4" * 50, "video", 320, 240, 5500),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_payload_meta_jvm_side(spark):
    out = {r["media_id"]: r for r in multimodal.attach_payload_meta(_media(spark)).collect()}
    assert out[1]["n_bytes"] == len(b"\x89PNG fake image bytes")
    import hashlib

    assert out[2]["payload_md5"] == hashlib.md5(b"RIFF fake wav bytes" * 10).hexdigest()


def test_extract_features_schema_and_determinism(spark):
    out1 = sorted(multimodal.extract_features(_media(spark), dim=8).collect())
    out2 = sorted(multimodal.extract_features(_media(spark), dim=8).collect())
    assert [r["feat"] for r in out1] == [r["feat"] for r in out2]
    for r in out1:
        assert len(r["feat"]) == 8
        assert r["payload_md5"] is not None and r["n_bytes"] > 0


def test_payload_features_raises_on_null_payload():
    with pytest.raises(ValueError):
        multimodal.payload_features(None, "image/png")


def test_payload_features_real_dispatch():
    """The default featurizer runs the REAL kernels: a constant-gray
    PNG is one-hot in its luma band; a sine WAV concentrates energy
    in its frequency band; arbitrary bytes get an exact byte-band
    histogram (and a corrupt payload under an image type falls back
    to that raw-byte signature instead of a fake hash)."""
    png = multimodal.synth_png(4, 4, 200)
    f = multimodal.payload_features(png, "image/png", dim=8)
    assert f[200 * 8 // 256] == 1.0 and abs(sum(f) - 1.0) < 1e-9

    sr = 8000
    wav = multimodal.synth_wav((2 + 0.5) * (sr / 2) / 8, sr, 800)
    f = multimodal.payload_features(wav, "audio/wav", dim=8)
    assert max(range(8), key=lambda i: f[i]) == 2

    f = multimodal.payload_features(bytes([10, 10, 40, 250]), "text", dim=8)
    assert f[0] == 0.5 and f[1] == 0.25 and f[7] == 0.25

    f = multimodal.payload_features(b"\x00\x01\x02\x03", "image/png", dim=8)
    assert f[0] == 1.0  # corrupt-under-claimed-type → byte signature


def test_frame_sample_plan(spark):
    plan = multimodal.frame_sample_plan(_media(spark), every_ms=1000, max_frames=4)
    rows = sorted(
        (r["media_id"], r["frame_ts_ms"]) for r in plan.where(F.col("media_id") == 3).collect()
    )
    # 5500ms @ 1000ms → 6 frames, capped at 4
    assert rows == [(3, 0), (3, 1000), (3, 2000), (3, 3000)]


# ------------------------------------------------------------------ #
# REAL decode kernels (stdlib wave / numpy PPM)                       #
# ------------------------------------------------------------------ #


def test_wav_roundtrip_closed_forms():
    """Synthesized sine → real WAV container → real decode: metadata
    exact, features match closed forms (sine RMS = A/√2, ZCR = 2f/sr,
    peak = A) to quantization error."""
    import math

    sr, n, f, amp = 8000, 1600, 200.0, 0.5
    payload = multimodal.synth_wav(f, sample_rate=sr, n_samples=n, amplitude=amp)
    assert len(payload) == 44 + 2 * n  # canonical PCM16 mono header
    d = multimodal.decode_wav_features(payload)
    assert (d["sample_rate"], d["n_samples"], d["duration_ms"]) == (sr, n, 200)
    rms, zcr, peak = d["feat"]
    assert abs(rms - amp / math.sqrt(2)) < 1e-3
    assert abs(zcr - 2 * f / sr) < 2e-3
    assert abs(peak - amp) < 1e-3


def test_ppm_decode_means():
    import numpy as np

    w, h = 6, 4
    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[..., 0] = 255  # pure red image
    payload = f"P6\n# comment line\n{w} {h}\n255\n".encode() + px.tobytes()
    d = multimodal.decode_ppm_features(payload)
    assert (d["width"], d["height"]) == (w, h)
    r, g, b, luma = d["feat"]
    assert (r, g, b) == (1.0, 0.0, 0.0)
    assert abs(luma - 0.299) < 1e-12


def test_decode_dispatch_and_error_capture(spark):
    wav = multimodal.synth_wav(120.0, n_samples=400)
    rows = [
        (1, wav, "audio/wav", None, None, None),
        (2, b"P6\n1 1\n255\n\xff\x00\x00", "image/ppm", None, None, None),
        (3, b"garbage", "audio/wav", None, None, None),     # corrupt
        (4, b"\x00\x01", "video/mp4", None, None, None),    # unsupported
        (5, None, "audio/wav", None, None, None),           # null payload
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.decode_media_features(df).collect()}
    assert out[1].decode_error is None and out[1].n_samples == 400
    assert out[2].decode_error is None and (out[2].width, out[2].height) == (1, 1)
    assert out[2].feat[0] == 1.0  # red pixel
    # per-row capture: bad rows carry errors, batch survives
    assert out[3].decode_error is not None and out[3].feat is None
    # a garbage payload under the (now real) mp4 container parser is
    # still a per-row error, not a task death
    assert out[4].decode_error is not None
    assert out[5].decode_error is not None


def test_ppm_rejects_wide_samples_and_zero_maxval():
    import numpy as np
    import pytest as _pytest

    px8 = np.zeros((2, 2, 3), dtype=np.uint8).tobytes()
    for maxval in (65535, 0):
        payload = f"P6\n2 2\n{maxval}\n".encode() + px8
        with _pytest.raises(ValueError, match="maxval"):
            multimodal.decode_ppm_features(payload)


def test_ppm_resize_nearest_neighbor_exact():
    """Gradient image: the resized grid must equal the closed-form
    nearest-neighbor sample (center rule), and the output is a valid
    P6 container that round-trips through the parser."""
    import numpy as np

    px = np.arange(2 * 4 * 3, dtype=np.uint8).reshape(2, 4, 3)
    payload = b"P6\n4 2\n255\n" + px.tobytes()
    out = multimodal.resize_ppm(payload, 2, 1)
    w, h, maxval, grid = multimodal._parse_ppm(out)
    assert (w, h, maxval) == (2, 1, 255)
    # row floor((0+.5)*2/1)=1; cols floor((i+.5)*4/2) = 1, 3
    assert grid.tolist() == [[px[1, 1].tolist(), px[1, 3].tolist()]]
    # upscale also works (indices repeat)
    up = multimodal.resize_ppm(payload, 8, 4)
    w2, h2, _, grid2 = multimodal._parse_ppm(up)
    assert (w2, h2) == (8, 4)
    assert grid2[0, 0].tolist() == px[0, 0].tolist()


def test_resize_media_passthrough_and_error_capture(spark):
    """Non-image rows ride through untouched; corrupt PPMs keep their
    original payload and carry the per-row error; good PPMs come out
    at the target size."""
    wav = multimodal.synth_wav(120.0, n_samples=80)
    good = multimodal.synth_ppm(6, 5, 42)
    rows = [
        (1, good, "image/ppm", None, None, None),
        (2, wav, "audio/wav", None, None, None),
        (3, b"P6\ngarbage", "image/ppm", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.resize_media(df, 3, 2).collect()
    }
    assert (out[1].width, out[1].height) == (3, 2)
    assert out[1].resize_error is None
    d = multimodal.decode_ppm_features(bytes(out[1].payload))
    assert (d["width"], d["height"]) == (3, 2)
    assert bytes(out[2].payload) == wav and out[2].resize_error is None
    assert out[3].resize_error is not None
    assert bytes(out[3].payload) == b"P6\ngarbage"  # original kept


def test_ppm_hostile_headers_are_per_row_errors(spark):
    """Negative, zero, and absurdly large header dimensions must be
    captured per row (ValueError / OverflowError), never quiet
    garbage and never a task-killing escape."""
    import pytest as _pytest

    for bad in (b"P6\n-1 2\n255\n" + b"\x00" * 12, b"P6\n0 2\n255\n"):
        with _pytest.raises(ValueError, match="dimensions"):
            multimodal._parse_ppm(bad)
    rows = [
        (1, b"P6\n-1 2\n255\n" + b"\x00" * 12, "image/ppm", None, None, None),
        (2, b"P6\n9999999999 9999999999\n255\nx", "image/ppm", None, None, None),
        (3, multimodal.synth_ppm(4, 4, 7), "image/ppm", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.resize_media(df, 2, 2).collect()}
    assert out[1].resize_error is not None
    assert out[2].resize_error is not None  # OverflowError captured
    assert out[3].resize_error is None and out[3].width == 2
    dec = {
        r.media_id: r
        for r in multimodal.decode_media_features(df).collect()
    }
    assert dec[1].decode_error is not None and dec[2].decode_error is not None


# ------------------------------------------------------------------ #
# frame-level WAV features (wav_frame_features)                       #
# ------------------------------------------------------------------ #


def _frame_ref(payload, frame_ms=25, hop_ms=10):
    """numpy reference framing over the decoded samples."""
    import numpy as np

    sr, x = multimodal.decode_wav_samples(payload)
    flen, hop = sr * frame_ms // 1000, sr * hop_ms // 1000
    if len(x) < flen:
        return []
    nf = (len(x) - flen) // hop + 1
    out = []
    for i in range(nf):
        fr = x[i * hop : i * hop + flen]
        rms = float(np.sqrt(np.mean(fr * fr)))
        sb = np.signbit(fr).astype(np.int8)
        zcr = float(np.abs(np.diff(sb)).mean())
        out.append((i, i * hop_ms, rms, zcr))
    return out


def test_wav_frames_match_numpy_reference(spark):
    payloads = {
        1: multimodal.synth_wav(120.0, n_samples=400),
        2: multimodal.synth_wav(350.0, n_samples=777),  # ragged tail drops
        3: multimodal.synth_wav(90.0, n_samples=200),   # exactly one frame
    }
    rows = [(k, v, "audio/wav", None, None, None) for k, v in payloads.items()]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = multimodal.wav_frame_features(df).collect()
    assert all(r.frame_error is None for r in got)
    by_id = {}
    for r in got:
        by_id.setdefault(r.media_id, []).append(r)
    for mid, payload in payloads.items():
        ref = _frame_ref(payload)
        frames = sorted(by_id.get(mid, []), key=lambda r: r.frame_idx)
        assert [(r.frame_idx, r.t_ms) for r in frames] == [
            (i, t) for i, t, _, _ in ref
        ]
        for r, (_, _, rms, zcr) in zip(frames, ref):
            assert abs(r.rms - rms) < 1e-12
            assert abs(r.zcr - zcr) < 1e-12


def test_wav_frames_short_clip_yields_no_rows(spark):
    # 100 samples < one 200-sample frame -> zero rows, no error row
    rows = [(1, multimodal.synth_wav(100.0, n_samples=100), "audio/wav",
             None, None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    assert multimodal.wav_frame_features(df).count() == 0


def test_wav_frames_error_capture(spark):
    rows = [
        (1, multimodal.synth_wav(100.0, n_samples=400), "audio/wav",
         None, None, None),
        (2, b"garbage", "audio/wav", None, None, None),
        (3, None, "audio/wav", None, None, None),
        (4, b"x", "image/ppm", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.wav_frame_features(df).collect()
    errs = {r.media_id: r.frame_error for r in out if r.frame_error is not None}
    assert set(errs) == {2, 3, 4}
    assert all(r.frame_idx is None for r in out if r.frame_error is not None)
    ok = [r for r in out if r.media_id == 1]
    assert len(ok) == (400 - 200) // 80 + 1


# ------------------------------------------------------------------ #
# BMP (uncompressed 24-bit) — the second lib-free image container     #
# ------------------------------------------------------------------ #


def test_bmp_roundtrip_and_padding():
    """synth_bmp -> decode_bmp_features recovers dims and fill;
    container size includes the 4-byte row padding exactly."""
    for w, h, v in [(3, 2, 0), (5, 4, 255), (1, 1, 128), (7, 3, 17)]:
        payload = multimodal.synth_bmp(w, h, v)
        assert len(payload) == 54 + ((3 * w + 3) // 4 * 4) * h
        d = multimodal.decode_bmp_features(payload)
        assert (d["width"], d["height"]) == (w, h)
        assert abs(d["feat"][0] - v / 255.0) < 1e-12
        assert abs(d["feat"][3] - v / 255.0) < 1e-9


def test_bmp_bottom_up_and_top_down_orientation():
    """Bottom-up (positive biHeight) and top-down (negative) storage
    must parse to the SAME top-row-first RGB grid."""
    import struct

    import numpy as np

    w, h = 2, 2
    stride = (3 * w + 3) & ~3
    # image: top row gray 10, 20; bottom row gray 30, 40
    bottom_up = np.zeros((h, stride), np.uint8)
    bottom_up[0, :6] = [30, 30, 30, 40, 40, 40]  # file row 0 = image bottom
    bottom_up[1, :6] = [10, 10, 10, 20, 20, 20]
    top_down = np.zeros((h, stride), np.uint8)
    top_down[0, :6] = [10, 10, 10, 20, 20, 20]
    top_down[1, :6] = [30, 30, 30, 40, 40, 40]
    fh = b"BM" + struct.pack("<IHHI", 14 + 40 + stride * h, 0, 0, 54)

    def info(height_field):
        return struct.pack(
            "<IiiHHIIiiII", 40, w, height_field, 1, 24, 0, stride * h,
            2835, 2835, 0, 0,
        )

    _, _, g1 = multimodal._parse_bmp(fh + info(h) + bottom_up.tobytes())
    _, _, g2 = multimodal._parse_bmp(fh + info(-h) + top_down.tobytes())
    assert (g1 == g2).all()
    assert g1[0, 0, 0] == 10 and g1[1, 1, 0] == 40


def test_bmp_bgr_channel_order():
    import struct

    import numpy as np

    w, h = 1, 1
    stride = (3 * w + 3) & ~3
    row = np.zeros((1, stride), np.uint8)
    row[0, :3] = [255, 0, 0]  # BGR: pure BLUE
    fh = b"BM" + struct.pack("<IHHI", 14 + 40 + stride, 0, 0, 54)
    ih = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride, 2835, 2835, 0, 0
    )
    d = multimodal.decode_bmp_features(fh + ih + row.tobytes())
    r, g, b, _ = d["feat"]
    assert (r, g, b) == (0.0, 0.0, 1.0)


def test_bmp_rejects_unsupported_variants():
    import struct

    import pytest as _pytest

    good = multimodal.synth_bmp(2, 2, 5)
    with _pytest.raises(ValueError, match="not a BMP"):
        multimodal._parse_bmp(b"XX" + good[2:])
    with _pytest.raises(ValueError, match="truncated"):
        multimodal._parse_bmp(good[:40])
    # 8bpp and RLE compression must be refused, not mis-decoded
    bad_bpp = bytearray(good)
    struct.pack_into("<H", bad_bpp, 28, 8)
    with _pytest.raises(ValueError, match="unsupported BMP"):
        multimodal._parse_bmp(bytes(bad_bpp))
    bad_comp = bytearray(good)
    struct.pack_into("<I", bad_comp, 30, 1)
    with _pytest.raises(ValueError, match="unsupported BMP"):
        multimodal._parse_bmp(bytes(bad_comp))
    trunc_px = good[:-1]
    with _pytest.raises(ValueError, match="truncated BMP pixel"):
        multimodal._parse_bmp(trunc_px)


def test_bmp_resize_nearest_neighbor_matches_ppm_kernel():
    """The BMP resize must pick the SAME nearest-neighbor samples as
    the PPM kernel (shared center rule) — resize both renderings of
    one gradient image and compare decoded grids."""
    import numpy as np

    w, h = 4, 2
    px = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    ppm = b"P6\n4 2\n255\n" + px.tobytes()
    # render the same RGB grid as a BMP via the parser's inverse
    import struct

    stride = (3 * w + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : 3 * w] = px[::-1, :, ::-1].reshape(h, 3 * w)
    fh = b"BM" + struct.pack("<IHHI", 14 + 40 + stride * h, 0, 0, 54)
    ih = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    bmp = fh + ih + rows.tobytes()
    _, _, g0 = multimodal._parse_bmp(bmp)
    assert (g0 == px).all()  # rendering sanity
    out_ppm = multimodal.resize_ppm(ppm, 2, 1)
    out_bmp = multimodal.resize_bmp(bmp, 2, 1)
    _, _, _, gp = multimodal._parse_ppm(out_ppm)
    _, _, gb = multimodal._parse_bmp(out_bmp)
    assert (gp == gb).all()


def test_decode_dispatch_routes_bmp(spark):
    rows = [
        (1, multimodal.synth_bmp(3, 2, 200), "image/bmp", None, None, None),
        (2, b"BM broken", "image/bmp", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.decode_media_features(df).collect()
    }
    assert out[1].decode_error is None
    assert (out[1].width, out[1].height) == (3, 2)
    assert abs(out[1].feat[0] - 200 / 255.0) < 1e-6
    assert out[2].decode_error is not None


def test_resize_media_routes_bmp(spark):
    rows = [(1, multimodal.synth_bmp(6, 5, 42), "image/bmp", None, None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.resize_media(df, 3, 2).collect()[0]
    assert (out.width, out.height) == (3, 2) and out.resize_error is None
    d = multimodal.decode_bmp_features(bytes(out.payload))
    assert (d["width"], d["height"]) == (3, 2)
    assert abs(d["feat"][3] - 42 / 255.0) < 1e-9


# ------------------------------------------------------------------ #
# PGM (P5 grayscale) — the Netpbm single-channel sibling              #
# ------------------------------------------------------------------ #


def test_pgm_roundtrip_and_dispatch(spark):
    for w, h, v in [(3, 2, 0), (5, 4, 255), (1, 1, 128)]:
        d = multimodal.decode_pgm_features(multimodal.synth_pgm(w, h, v))
        assert (d["width"], d["height"]) == (w, h)
        assert abs(d["feat"][0] - v / 255.0) < 1e-12
        assert d["feat"] == [d["feat"][0]] * 4  # gray == luma
    rows = [
        (1, multimodal.synth_pgm(4, 3, 60), "image/pgm", None, None, None),
        (2, b"P5 broken", "image/pgm", None, None, None),
        # a PPM payload declared as PGM must be a per-row error, not
        # a silent 3x-wide mis-decode
        (3, multimodal.synth_ppm(2, 2, 9), "image/pgm", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.decode_media_features(df).collect()
    }
    assert out[1].decode_error is None
    assert (out[1].width, out[1].height) == (4, 3)
    assert out[2].decode_error is not None
    assert out[3].decode_error is not None


def test_pgm_resize_matches_ppm_center_rule(spark):
    import numpy as np

    w, h = 4, 2
    gray = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    pgm = b"P5\n4 2\n255\n" + gray.tobytes()
    out = multimodal.resize_pgm(pgm, 2, 1)
    _, _, _, g = multimodal._parse_pgm(out)
    # row floor((0+.5)*2/1)=1; cols floor((i+.5)*4/2) = 1, 3
    assert g.reshape(1, 2).tolist() == [[gray[1, 1], gray[1, 3]]]
    rows = [(1, multimodal.synth_pgm(6, 5, 42), "image/pgm", None, None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    r = multimodal.resize_media(df, 3, 2).collect()[0]
    assert (r.width, r.height) == (3, 2) and r.resize_error is None


# ------------------------------------------------------------------ #
# PNG (zlib-compressed, filtered) — the third lib-free image          #
# container and the first COMPRESSED one                              #
# ------------------------------------------------------------------ #


def test_png_roundtrip_all_color_types_and_filters():
    """_png_encode -> _parse_png is pixel-exact for random grids in
    every supported color type, with the rotating y%5 filter
    schedule exercising all five reconstruction paths."""
    import numpy as np

    rng = np.random.RandomState(7)
    for ct, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        for h, w in [(1, 1), (2, 3), (7, 5), (11, 13)]:
            g = rng.randint(0, 256, (h, w, ch), dtype=np.uint8)
            p = multimodal._png_encode(g, color_type=ct)
            W, H, C, out = multimodal._parse_png(p)
            assert (W, H, C) == (w, h, ch)
            assert np.array_equal(out, g)


def test_png_each_filter_type_alone():
    """Pin each filter type individually — a broken Paeth must not
    hide behind a passing Sub on the same image."""
    import numpy as np

    rng = np.random.RandomState(11)
    g = rng.randint(0, 256, (6, 9, 3), dtype=np.uint8)
    for f in range(5):
        p = multimodal._png_encode(g, color_type=2, filters=[f] * 6)
        _, _, _, out = multimodal._parse_png(p)
        assert np.array_equal(out, g), f"filter {f}"


def test_png_synth_decode_features():
    payload = multimodal.synth_png(5, 6, 200)
    d = multimodal.decode_png_features(payload)
    assert (d["width"], d["height"]) == (5, 6)
    assert abs(d["feat"][0] - 200 / 255.0) < 1e-12
    assert abs(d["feat"][3] - 200 / 255.0) < 1e-9


def test_png_grayscale_replicates_mean():
    import numpy as np

    g = np.full((4, 4), 60, dtype=np.uint8)
    p = multimodal._png_encode(g, color_type=0)
    d = multimodal.decode_png_features(p)
    assert d["feat"][0] == d["feat"][1] == d["feat"][2]
    assert abs(d["feat"][0] - 60 / 255.0) < 1e-12


def test_png_crc_and_truncation_rejected():
    import pytest as _pytest

    good = multimodal.synth_png(4, 5, 9)
    flipped = bytearray(good)
    flipped[20] ^= 0xFF  # inside IHDR data -> CRC mismatch
    with _pytest.raises(ValueError, match="CRC mismatch"):
        multimodal._parse_png(bytes(flipped))
    with _pytest.raises(ValueError, match="not a PNG"):
        multimodal._parse_png(b"\x89PNX" + good[4:])
    with _pytest.raises(ValueError, match="truncated|missing"):
        multimodal._parse_png(good[:30])
    with _pytest.raises(ValueError, match="missing IHDR or IEND"):
        multimodal._parse_png(good[: len(good) - 4])


def test_png_rejects_unsupported_variants():
    import struct

    import numpy as np
    import pytest as _pytest

    g = np.zeros((2, 2, 3), dtype=np.uint8)
    good = multimodal._png_encode(g, color_type=2)
    # corrupt IHDR fields and re-CRC so only the semantic gate fires
    ihdr = bytearray(good[16:29])

    def rebuilt(mut):
        d = bytearray(ihdr)
        mut(d)
        return (
            good[:8]
            + multimodal._png_chunk(b"IHDR", bytes(d))
            + good[33:]
        )

    with _pytest.raises(ValueError, match="unsupported PNG"):
        multimodal._parse_png(rebuilt(lambda d: d.__setitem__(8, 16)))  # depth
    with _pytest.raises(ValueError, match="unsupported PNG"):
        multimodal._parse_png(rebuilt(lambda d: d.__setitem__(9, 3)))  # palette
    with _pytest.raises(ValueError, match="filter method"):
        multimodal._parse_png(rebuilt(lambda d: d.__setitem__(11, 1)))
    # interlace flag flipped WITHOUT re-laying-out the stream: the
    # Adam7 pass accounting must reject the sequential byte layout
    with _pytest.raises(ValueError, match="Adam7"):
        multimodal._parse_png(rebuilt(lambda d: d.__setitem__(12, 1)))
    # declared dims inconsistent with the inflated stream
    with _pytest.raises(ValueError, match="scanlines"):
        multimodal._parse_png(
            rebuilt(lambda d: struct.pack_into(">I", d, 0, 3))
        )


def test_png_resize_matches_bmp_kernel():
    """PNG resize must pick the SAME nearest-neighbor samples as the
    BMP/PPM kernels (shared center rule)."""
    import numpy as np

    rng = np.random.RandomState(3)
    g = rng.randint(0, 256, (9, 7, 3), dtype=np.uint8)
    png = multimodal._png_encode(g, color_type=2)
    out = multimodal.resize_png(png, 3, 4)
    _, _, C, gp = multimodal._parse_png(out)
    rows = np.minimum(((np.arange(4) + 0.5) * 9 / 4).astype(int), 8)
    cols = np.minimum(((np.arange(3) + 0.5) * 7 / 3).astype(int), 6)
    assert C == 3 and np.array_equal(gp, g[rows][:, cols])


def test_png_resize_preserves_color_type():
    import numpy as np

    g = np.random.RandomState(5).randint(0, 256, (4, 4, 4), dtype=np.uint8)
    out = multimodal.resize_png(
        multimodal._png_encode(g, color_type=6), 2, 2
    )
    _, _, C, _ = multimodal._parse_png(out)
    assert C == 4


def test_decode_dispatch_routes_png(spark):
    rows = [
        (1, multimodal.synth_png(3, 5, 200), "image/png", None, None, None),
        (2, b"\x89PNG broken", "image/png", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.decode_media_features(df).collect()
    }
    assert out[1].decode_error is None
    assert (out[1].width, out[1].height) == (3, 5)
    assert abs(out[1].feat[0] - 200 / 255.0) < 1e-6
    assert out[2].decode_error is not None


def test_resize_media_routes_png(spark):
    rows = [(1, multimodal.synth_png(6, 5, 42), "image/png", None, None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.resize_media(df, 3, 2).collect()[0]
    assert (out.width, out.height) == (3, 2) and out.resize_error is None
    d = multimodal.decode_png_features(bytes(out.payload))
    assert abs(d["feat"][0] - 42 / 255.0) < 1e-12


# ------------------------------------------------------------------ #
# GIF (LZW entropy-coded, palette) — the fourth lib-free image        #
# container                                                           #
# ------------------------------------------------------------------ #


def test_gif_roundtrip_random_grids():
    """_gif_encode -> _parse_gif is index-exact across palette sizes
    — the LZW encode/decode pair must agree through code-width
    widening and dictionary growth."""
    import numpy as np

    rng = np.random.RandomState(9)
    for npal in (2, 4, 16, 100, 256):
        for h, w in [(1, 1), (3, 5), (17, 23)]:
            pal = rng.randint(0, 256, (npal, 3), dtype=np.uint8)
            g = rng.randint(0, npal, (h, w)).astype(np.uint8)
            W, H, P, out = multimodal._parse_gif(multimodal._gif_encode(g, pal))
            assert (W, H) == (w, h)
            assert np.array_equal(out, g)
            assert np.array_equal(P[:npal], pal)


def test_gif_lzw_dictionary_overflow_and_clear():
    """An 80x80 random 256-color frame forces the dictionary past
    4096 — the encoder must emit CLEAR and the decoder must reset
    its table and code width mid-stream."""
    import numpy as np

    rng = np.random.RandomState(13)
    g = rng.randint(0, 256, (80, 80)).astype(np.uint8)
    pal = rng.randint(0, 256, (256, 3), dtype=np.uint8)
    _, _, _, out = multimodal._parse_gif(multimodal._gif_encode(g, pal))
    assert np.array_equal(out, g)


def test_gif_lzw_kwkwk_case():
    """aaa... runs hit the code==len(table) self-reference case."""
    import numpy as np

    g = np.zeros((1, 50), dtype=np.uint8)
    pal = np.array([[7, 7, 7], [0, 0, 0]], dtype=np.uint8)
    _, _, _, out = multimodal._parse_gif(multimodal._gif_encode(g, pal))
    assert np.array_equal(out, g)


def test_gif_synth_decode_features():
    payload = multimodal.synth_gif(6, 5, 200)
    d = multimodal.decode_gif_features(payload)
    assert (d["width"], d["height"]) == (6, 5)
    assert abs(d["feat"][0] - 200 / 255.0) < 1e-12
    assert abs(d["feat"][3] - 200 / 255.0) < 1e-9


def test_gif_rejects_corrupt_and_unsupported():
    import pytest as _pytest

    good = multimodal.synth_gif(4, 3, 9)
    with _pytest.raises(ValueError, match="not a GIF"):
        multimodal._parse_gif(b"GIF89x" + good[6:])
    with _pytest.raises(ValueError, match="truncated"):
        multimodal._parse_gif(good[:20])
    with _pytest.raises(ValueError, match="truncated"):
        multimodal._parse_gif(good[:-5])
    # interlace flag must be refused, not mis-decoded
    flipped = bytearray(good)
    # image descriptor starts after header(6)+lsd(7)+gct(2*3)
    desc = 6 + 7 + 6
    assert flipped[desc] == 0x2C
    flipped[desc + 9] |= 0x40
    with _pytest.raises(ValueError, match="interlaced"):
        multimodal._parse_gif(bytes(flipped))


def test_gif_resize_palette_space_matches_center_rule():
    import numpy as np

    rng = np.random.RandomState(3)
    g = rng.randint(0, 16, (9, 7)).astype(np.uint8)
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    out = multimodal.resize_gif(multimodal._gif_encode(g, pal), 3, 4)
    _, _, P, g2 = multimodal._parse_gif(out)
    rows = np.minimum(((np.arange(4) + 0.5) * 9 / 4).astype(int), 8)
    cols = np.minimum(((np.arange(3) + 0.5) * 7 / 3).astype(int), 6)
    assert np.array_equal(g2, g[rows][:, cols])
    assert np.array_equal(P[:16], pal)


def test_decode_dispatch_routes_gif(spark):
    rows = [
        (1, multimodal.synth_gif(3, 5, 200), "image/gif", None, None, None),
        (2, b"GIF87a broken", "image/gif", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.decode_media_features(df).collect()
    }
    assert out[1].decode_error is None
    assert (out[1].width, out[1].height) == (3, 5)
    assert abs(out[1].feat[0] - 200 / 255.0) < 1e-6
    assert out[2].decode_error is not None


def test_resize_media_routes_gif(spark):
    rows = [(1, multimodal.synth_gif(6, 5, 42), "image/gif", None, None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.resize_media(df, 3, 2).collect()[0]
    assert (out.width, out.height) == (3, 2) and out.resize_error is None
    d = multimodal.decode_gif_features(bytes(out.payload))
    assert abs(d["feat"][0] - 42 / 255.0) < 1e-12


def test_gif_anim_multi_frame_roundtrip():
    """synth_gif_anim -> _parse_gif_frames yields one constant frame
    per value, in order, through the interleaved GCE/application
    extension blocks."""
    import numpy as np

    p = multimodal.synth_gif_anim(5, 4, [10, 200, 77])
    frames = multimodal._parse_gif_frames(p)
    assert len(frames) == 3
    for want, (w, h, pal, g) in zip([10, 200, 77], frames):
        assert (w, h) == (5, 4)
        assert (pal[g] == want).all()
    # max_frames stops decode early; single-frame API = frame 0
    assert len(multimodal._parse_gif_frames(p, max_frames=2)) == 2
    w, h, pal, g = multimodal._parse_gif(p)
    assert (pal[g] == 10).all()


def test_gif_frame_features_operator(spark):
    rows = [
        (1, multimodal.synth_gif_anim(3, 2, [0, 128, 255]), "image/gif",
         None, None, None),
        (2, b"GIF89a broken", "image/gif", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.gif_frame_features(df).collect()
    ok = sorted(
        (r for r in out if r.media_id == 1), key=lambda r: r.frame_idx
    )
    assert [r.frame_idx for r in ok] == [0, 1, 2]
    assert [round(r.r * 255) for r in ok] == [0, 128, 255]
    assert all((r.width, r.height) == (3, 2) for r in ok)
    bad = [r for r in out if r.media_id == 2]
    assert len(bad) == 1 and bad[0].frame_error is not None
    assert bad[0].frame_idx is None


def test_gif_frame_features_max_frames_cap(spark):
    rows = [(1, multimodal.synth_gif_anim(3, 2, list(range(4))),
             "image/gif", None, None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.gif_frame_features(df, max_frames=2).collect()
    assert sorted(r.frame_idx for r in out) == [0, 1]


# ------------------------------------------------------------------ #
# G.711 mu-law — REAL compressed-audio decode                         #
# ------------------------------------------------------------------ #


def test_ulaw_table_is_g711():
    """Spot-check the expansion table against hand-computed ITU-T
    G.711 values and its structural properties."""
    import numpy as np

    t = multimodal._ulaw_table()
    assert t[0xFF] == 0          # +0
    assert t[0x80] == 32124      # most positive
    assert t[0x00] == -32124     # most negative
    assert t.max() == 32124 and t.min() == -32124
    # complement symmetry: byte b and b^0x80 differ only in sign
    b = np.arange(256)
    assert (t[b] == -t[b ^ 0x80]).all()
    # monotone within the positive half (0xFF down to 0x80 ascends)
    pos = t[np.arange(0xFF, 0x7F, -1)]
    assert (np.diff(pos) > 0).all()


def test_ulaw_roundtrip_and_features():
    p = multimodal.synth_ulaw_wav(200, 8000, 160)
    code, ch, sr, bits, data = multimodal._parse_riff_wav(p)
    assert (code, ch, sr, bits) == (7, 1, 8000, 8) and len(data) == 160
    f = multimodal.decode_ulaw_features(p)
    inv = 200 ^ 0xFF
    mag = (((inv & 15) * 8 + 132) << ((inv >> 4) & 7)) - 132
    assert abs(f["feat"][0] - mag / 32124.0) < 1e-12
    assert f["feat"][1] == 0.0
    assert (f["sample_rate"], f["n_samples"]) == (8000, 160)


def test_riff_parser_reads_pcm_and_rejects_corrupt():
    import pytest as _pytest

    w = multimodal.synth_wav(440.0)
    code, ch, sr, bits, _ = multimodal._parse_riff_wav(w)
    assert (code, ch, sr, bits) == (1, 1, 8000, 16)
    p = multimodal.synth_ulaw_wav(7)
    with _pytest.raises(ValueError, match="not a RIFF"):
        multimodal._parse_riff_wav(b"RIFX" + p[4:])
    with _pytest.raises(ValueError, match="truncated"):
        multimodal._parse_riff_wav(p[:-3])
    with _pytest.raises(ValueError, match="expected mu-law"):
        multimodal.decode_ulaw_samples(w)  # PCM into the mu-law kernel


def test_ulaw_stereo_downmix():
    """Interleaved L/R codewords decode then downmix like PCM."""
    import struct

    import numpy as np

    la, rb = 0x80, 0xFF  # +32124 and 0
    data = bytes([la, rb]) * 50
    fmt = struct.pack("<HHIIHH", 7, 2, 8000, 16000, 2, 8)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    p = b"RIFF" + struct.pack("<I", len(body)) + body
    sr, x = multimodal.decode_ulaw_samples(p)
    assert len(x) == 50
    assert np.allclose(x, (32124 / 32124.0 + 0.0) / 2.0)


def test_decode_dispatch_routes_ulaw(spark):
    rows = [
        (1, multimodal.synth_ulaw_wav(42, 1000, 120), "audio/ulaw",
         None, None, None),
        (2, b"RIFF broken", "audio/ulaw", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.decode_media_features(df).collect()}
    assert out[1].decode_error is None
    assert (out[1].n_samples, out[1].duration_ms) == (120, 120)
    assert out[2].decode_error is not None


def test_png_adam7_interlaced_roundtrip():
    """Adam7 seven-pass encode -> decode is pixel-exact, including
    dimensions where late passes are empty (w or h = 1) and odd
    sizes that exercise every pass lattice."""
    import numpy as np

    rng = np.random.RandomState(21)
    for ct, ch in [(0, 1), (2, 3), (6, 4)]:
        for h, w in [(1, 1), (1, 9), (9, 1), (8, 8), (13, 11), (5, 17)]:
            g = rng.randint(0, 256, (h, w, ch), dtype=np.uint8)
            p = multimodal._png_encode(g, color_type=ct, interlace=True)
            W, H, C, out = multimodal._parse_png(p)
            assert (W, H, C) == (w, h, ch)
            assert np.array_equal(out, g), (ct, h, w)


def test_png_adam7_equals_sequential_pixels():
    """The same grid encoded both ways decodes to identical pixels —
    interlacing is a layout, not a transform."""
    import numpy as np

    g = np.random.RandomState(4).randint(0, 256, (10, 10, 3), dtype=np.uint8)
    _, _, _, a = multimodal._parse_png(multimodal._png_encode(g))
    _, _, _, b = multimodal._parse_png(
        multimodal._png_encode(g, interlace=True)
    )
    assert np.array_equal(a, b)


# ------------------------------------------------------------------ #
# MP4 (ISO BMFF) container metadata                                   #
# ------------------------------------------------------------------ #


def test_mp4_box_tree_roundtrip():
    m = multimodal.parse_mp4_meta(
        multimodal.synth_mp4(5500, 1000, 320, 240, b"avc1")
    )
    assert m == {
        "brand": "isom", "timescale": 1000, "duration_ms": 5500,
        "n_tracks": 1, "codecs": ["avc1"], "width": 320, "height": 240,
    }
    # audio track: no dimensions, non-trivial timescale rescaling
    m2 = multimodal.parse_mp4_meta(
        multimodal.synth_mp4(98765, 48000, 0, 0, b"mp4a")
    )
    assert m2["duration_ms"] == 98765 and m2["codecs"] == ["mp4a"]
    assert m2["width"] is None and m2["height"] is None


def test_mp4_rejects_corrupt():
    import pytest as _pytest

    good = multimodal.synth_mp4(1000, 1000, 0, 0, b"mp4a")
    with _pytest.raises(ValueError, match="not an MP4|truncated|invalid"):
        multimodal.parse_mp4_meta(b"\x00\x01\x02")
    with _pytest.raises(ValueError, match="truncated|invalid"):
        multimodal.parse_mp4_meta(good[:30])
    # a box that claims to run past end-of-file
    bad = bytearray(good)
    bad[0:4] = (len(good) + 99).to_bytes(4, "big")
    with _pytest.raises(ValueError, match="invalid MP4 box size"):
        multimodal.parse_mp4_meta(bytes(bad))
    # ftyp missing
    with _pytest.raises(ValueError, match="no ftyp"):
        multimodal.parse_mp4_meta(
            b"\x00\x00\x00\x10free" + b"\x00" * 8
        )


def test_decode_dispatch_routes_mp4(spark):
    rows = [
        (1, multimodal.synth_mp4(2500, 90000, 176, 144, b"avc1"),
         "video/mp4", None, None, None),
        (2, b"mp4 garbage!", "video/mp4", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.decode_media_features(df).collect()}
    assert out[1].decode_error is None
    assert (out[1].width, out[1].height, out[1].duration_ms) == (176, 144, 2500)
    assert out[1].feat == [1.0, 90000.0]
    assert out[2].decode_error is not None


# ------------------------------------------------------------------ #
# MP3 frame-header census                                             #
# ------------------------------------------------------------------ #


def test_mp3_frame_walk_roundtrip():
    for n, br, sr, id3 in [
        (10, 128, 44100, False), (3, 320, 48000, True), (7, 32, 32000, False),
    ]:
        p = multimodal.synth_mp3(n, br, sr, with_id3=id3)
        rate, frames = multimodal.parse_mp3_frames(p)
        assert rate == sr and len(frames) == n
        assert all(f == 144 * br * 1000 // sr for f in frames)
        d = multimodal.decode_mp3_features(p)
        assert d["n_samples"] == n * 1152
        assert d["duration_ms"] == n * 1152 * 1000 // sr
    assert len(multimodal.parse_mp3_frames(
        multimodal.synth_mp3(9), max_frames=2)[1]) == 2


def test_mp3_rejects_corrupt():
    import pytest as _pytest

    p = multimodal.synth_mp3(5)
    with _pytest.raises(ValueError, match="truncated final"):
        multimodal.parse_mp3_frames(p[:-3])
    with _pytest.raises(ValueError, match="lost MP3 sync"):
        multimodal.parse_mp3_frames(b"\x00\x01" + p)
    with _pytest.raises(ValueError, match="no MP3 frames"):
        multimodal.parse_mp3_frames(p[:2])
    # free-format / reserved bitrate index must be refused
    bad = bytearray(p)
    bad[2] = 0x00  # bitrate index 0 (free) + sr 44100
    with _pytest.raises(ValueError, match="invalid MP3 header"):
        multimodal.parse_mp3_frames(bytes(bad))


def test_decode_dispatch_routes_mp3(spark):
    rows = [
        (1, multimodal.synth_mp3(6, 128, 44100), "audio/mpeg",
         None, None, None),
        (2, b"not mp3 at all", "audio/mpeg", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.decode_media_features(df).collect()}
    assert out[1].decode_error is None
    assert out[1].n_samples == 6 * 1152 and out[1].sample_rate == 44100
    assert out[2].decode_error is not None


def test_media_embedding_spectral_and_histogram(spark):
    """Real DSP attestation: a sine lands its energy in the right
    FFT band for all 8 bands; a constant image is one-hot in the
    right luma bin; a two-tone image splits exactly; errors are
    per-row."""
    import numpy as np

    sr = 8000
    rows = []
    for b in range(8):
        f = (b + 0.5) * (sr / 2) / 8
        rows.append(
            (b, multimodal.synth_wav(f, sr, 800), "audio/wav",
             None, None, None)
        )
    rows.append((100, multimodal.synth_png(4, 4, 40), "image/png",
                 None, None, None))
    # half pixels at luma 16 (bin 0), half at 240 (bin 7)
    g = np.zeros((2, 4, 3), dtype=np.uint8)
    g[0] = 16
    g[1] = 240
    rows.append((101, multimodal._png_encode(g), "image/png",
                 None, None, None))
    rows.append((102, b"junk", "image/png", None, None, None))
    rows.append((103, multimodal.synth_mp3(3), "audio/mpeg",
                 None, None, None))  # unsupported for embeddings
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.media_embedding(df, n_bands=8).collect()
    }
    for b in range(8):
        e = out[b].embedding
        assert int(np.argmax(e)) == b and max(e) > 0.5
        assert abs(sum(e) - 1.0) < 1e-9
    e100 = out[100].embedding
    assert e100[40 * 8 // 256] == 1.0
    e101 = out[101].embedding
    assert e101[0] == 0.5 and e101[7] == 0.5
    assert out[102].embed_error is not None
    assert out[103].embed_error is not None and "unsupported" in out[103].embed_error


def test_media_embedding_luma_bin_boundaries(spark):
    """Constant gray value v must land in bin v*n_bands//256 even at
    multiple-of-32 boundaries — float Rec.601 luma rounds 32 to
    31.999999999999996 and truncates into the wrong bin; the integer
    (299r+587g+114b)//1000 arithmetic must not."""
    fills = [0, 31, 32, 63, 64, 127, 128, 224, 255]
    rows = [
        (v, multimodal.synth_png(4, 4, v), "image/png", None, None, None)
        for v in fills
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.media_embedding(df, n_bands=8).collect()
    }
    for v in fills:
        e = out[v].embedding
        want = min(v * 8 // 256, 7)
        assert e[want] == 1.0, (v, e)


def test_mjpeg_mp4_frame_roundtrip(spark):
    """MJPEG-in-MP4: real sample-table demux + real T.81 decode must
    recover every frame's even fill exactly; corrupt payloads are
    per-row errors; max_frames caps decode work."""
    rows = [
        (1, multimodal.synth_mjpeg_mp4(5, 4, [10, 52, 104]), "video/mp4",
         None, None, None),
        (2, multimodal.synth_mjpeg_mp4(3, 2, [200]), "video/mp4",
         None, None, None),
        (3, b"not an mp4", "video/mp4", None, None, None),
        (4, multimodal.synth_mp4(1000), "video/mp4", None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {}
    for r in multimodal.mp4_jpeg_frame_features(df).collect():
        out.setdefault(r.media_id, []).append(r)
    f1 = sorted(out[1], key=lambda r: r.frame_idx)
    assert [round(r.r * 255) for r in f1] == [10, 52, 104]
    assert all((r.width, r.height) == (5, 4) for r in f1)
    assert all(abs(r.r - r.g) < 1e-12 and abs(r.g - r.b) < 1e-12 for r in f1)
    assert [round(r.r * 255) for r in out[2]] == [200]
    assert out[3][0].frame_error is not None
    # an avc1-only container has no jpeg track — error, not silence
    assert out[4][0].frame_error is not None and "jpeg" in out[4][0].frame_error
    capped = multimodal.mp4_jpeg_frame_features(df, max_frames=2)
    assert (
        capped.where("media_id = 1 AND frame_error IS NULL").count() == 2
    )


def test_mp4_sample_table_multichunk_stsc():
    """_mp4_sample_table must expand general stsc runs — multiple
    chunks with different samples-per-chunk, each chunk's samples
    packed back-to-back from its stco offset — not just the
    single-chunk layout synth_mjpeg_mp4 writes."""
    import struct

    from cr_data_pipeline_project_spark.operators import jpeg

    def box(tag, body):
        return struct.pack(">I", 8 + len(body)) + tag + body

    frames = [jpeg.synth_jpeg(3, 2, v) for v in (10, 20, 30, 40, 50)]
    sizes = [len(f) for f in frames]
    entry = box(b"jpeg", b"\x00" * 8)
    stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
    stts = box(b"stts", b"\x00" * 4 + struct.pack(">I", 1)
               + struct.pack(">II", 5, 100))
    # chunk 1: 2 samples; chunks 2..3: 1 sample; chunk 3 run ends;
    # last run (first_chunk=4): 1 chunk with 2 samples
    stsc = box(
        b"stsc",
        b"\x00" * 4 + struct.pack(">I", 3)
        + struct.pack(">III", 1, 2, 1)
        + struct.pack(">III", 2, 1, 1)
        + struct.pack(">III", 4, 2, 1),
    )
    stsz = box(b"stsz", b"\x00" * 4 + struct.pack(">II", 0, 5)
               + b"".join(struct.pack(">I", s) for s in sizes))

    def build(offsets):
        stco = box(b"stco", b"\x00" * 4 + struct.pack(">I", len(offsets))
                   + b"".join(struct.pack(">I", o) for o in offsets))
        tkhd = box(b"tkhd", b"\x00" * 4 + b"\x00" * 72
                   + struct.pack(">II", 3 << 16, 2 << 16))
        stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
        trak = box(b"trak", tkhd + box(b"mdia", box(b"minf", stbl)))
        mvhd = box(b"mvhd", b"\x00" * 4 + struct.pack(">II", 0, 0)
                   + struct.pack(">II", 1000, 500) + b"\x00" * 80)
        moov = box(b"moov", mvhd + trak)
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
        # chunk layout inside mdat: [f0 f1] [f2] [f3] [f4] but we
        # scatter chunks NON-contiguously (reverse order) to prove
        # offsets are honored, not assumed sequential
        mdat_body = frames[4] + frames[3] + frames[2] + frames[0] + frames[1]
        mdat = box(b"mdat", mdat_body)
        return ftyp + moov + mdat, len(ftyp + moov) + 8

    payload, base = build([0, 0, 0, 0])
    offs = [
        base + sizes[4] + sizes[3] + sizes[2],  # chunk1: f0,f1
        base + sizes[4] + sizes[3],             # chunk2: f2
        base + sizes[4],                        # chunk3: f3
        base,                                   # chunk4: f4 (+would-be 6th)
    ]
    # chunk 4 declares 2 samples but stsz only has 5 → the expansion
    # must stop at the declared sample count
    payload, _ = build(offs)
    w, h, samples = multimodal._mp4_sample_table(payload, "jpeg")
    assert (w, h) == (3, 2)
    assert len(samples) == 5
    got = []
    for off, size in samples:
        _w, _h, _c, grid = jpeg._parse_jpeg(payload[off : off + size])
        got.append(int(round(float(grid.mean()))))
    assert got == [10, 20, 30, 40, 50]


# ------------------------------------------------------------------ #
# one harness, one image table, three shared rules                    #
# ------------------------------------------------------------------ #


def test_error_text_is_cut_at_200_characters(spark):
    """Every entry point cuts its per-row error text at 200
    characters — decode_media_features too — and an unknown image
    type reads the same in decode_media_features and media_embedding."""
    mtype = "image/" + "x" * 250
    df = spark.createDataFrame(
        [
            (1, b"P6\n1 1\n255\n\x00\x00\x00", mtype, None, None, None),
            (2, b"II*\x00", "image/tiff", None, None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    want = {
        r.media_id: f"ValueError: unsupported media_type: {r.media_type}"[:200]
        for r in df.collect()
    }
    assert len(want[1]) == 200
    for out, col in (
        (multimodal.decode_media_features(df), "decode_error"),
        (multimodal.media_embedding(df), "embed_error"),
    ):
        assert {r.media_id: r[col] for r in out.collect()} == want, col


def test_gray_luma_is_the_gray_mean():
    """A gray image's four feature slots are its gray mean — PGM's
    rule, now PNG's too — including the fills where the float
    0.299g+0.587g+0.114g sum is not g."""
    import numpy as np

    differing = [
        v for v in range(256)
        if 0.299 * (v / 255) + 0.587 * (v / 255) + 0.114 * (v / 255) != v / 255
    ]
    assert len(differing) == 89
    for v in differing:
        png = multimodal._png_encode(
            np.full((1, 1), v, dtype=np.uint8), color_type=0
        )
        feat = multimodal.decode_png_features(png)["feat"]
        assert feat == [feat[0]] * 4 == [v / 255] * 4
        pgm = multimodal.decode_pgm_features(multimodal.synth_pgm(1, 1, v))
        assert pgm["feat"] == feat


def test_ulaw_duration_is_floored():
    """duration_ms = n·1000 // sr for μ-law as for WAV: 5 samples at
    7 kHz are 714.3 µs, so 0 ms (rounding gave 1)."""
    clip = multimodal.synth_ulaw_wav(0x55, 7000, 5)
    d = multimodal.decode_ulaw_features(clip)
    assert d["n_samples"] == 5 and d["duration_ms"] == 5 * 1000 // 7000 == 0
    wav = multimodal.decode_wav_features(multimodal.synth_wav(50.0, 7000, 5))
    assert wav["duration_ms"] == d["duration_ms"]


def _image_payload(mtype: str, w: int, h: int, v: int) -> bytes:
    from cr_data_pipeline_project_spark.operators import jpeg

    synth = {
        "image/ppm": multimodal.synth_ppm,
        "image/pgm": multimodal.synth_pgm,
        "image/bmp": multimodal.synth_bmp,
        "image/png": multimodal.synth_png,
        "image/gif": multimodal.synth_gif,
        "image/jpeg": jpeg.synth_jpeg,
    }
    assert set(synth) == set(multimodal._IMAGE_FORMATS)
    return synth[mtype](w, h, v)


@pytest.mark.parametrize(
    "mtype", sorted(multimodal._IMAGE_FORMATS), ids=lambda t: t.split("/")[1]
)
def test_image_table_resize_then_decode(spark, mtype):
    """For every type in the image table: resize_media then
    decode_media_features keeps the target size and the fill (an
    even fill survives JPEG's requantization exactly), and a payload
    with a broken magic is a per-row error in both stages (resize
    keeps the original bytes)."""
    good = _image_payload(mtype, 6, 5, 42)
    bad = b"XX" + good[2:]
    df = spark.createDataFrame(
        [(1, good, mtype, 6, 5, None), (2, bad, mtype, 6, 5, None)],
        multimodal.MEDIA_SCHEMA,
    )
    resized = {
        r.media_id: r for r in multimodal.resize_media(df, 3, 2).collect()
    }
    assert (resized[1].width, resized[1].height) == (3, 2)
    assert resized[1].resize_error is None
    assert resized[2].resize_error is not None
    assert bytes(resized[2].payload) == bad and resized[2].width == 6
    dec = {
        r.media_id: r
        for r in multimodal.decode_media_features(
            multimodal.resize_media(df, 3, 2).drop("resize_error")
        ).collect()
    }
    assert dec[1].decode_error is None
    assert (dec[1].width, dec[1].height) == (3, 2)
    assert dec[1].feat == pytest.approx([42 / 255] * 4, abs=1e-12)
    assert dec[2].decode_error is not None and dec[2].feat is None


def test_multimodal_has_one_harness():
    """``operators/multimodal.py`` has one ``mapInPandas`` call and
    one per-row ``except Exception`` capture site (the harness);
    the only other broad catch is payload_features' raw-byte
    fallback."""
    import ast

    with open(multimodal.__file__) as f:
        tree = ast.parse(f.read())
    calls = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "mapInPandas"
    ]
    assert len(calls) == 1

    def broad(handler):
        return handler.type is None or any(
            isinstance(n, ast.Name) and n.id in ("Exception", "BaseException")
            for n in ast.walk(handler.type)
        )

    sites = [
        fn.name
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.ExceptHandler) and broad(node)
    ]
    module_level = [
        node
        for stmt in tree.body
        if not isinstance(stmt, ast.FunctionDef)
        for node in ast.walk(stmt)
        if isinstance(node, ast.ExceptHandler)
    ]
    assert sorted(sites) == ["_per_row", "payload_features"]
    assert not module_level
