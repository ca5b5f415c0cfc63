"""Multimodal column plumbing: schema stability, determinism across
partitionings, and the decode/resize operator contracts."""

import pytest
from pyspark.sql import functions as F

from dq import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.synthetic_images(spark, 200, num_partitions=4).cache()


def test_media_meta_columns(media):
    row = media.filter(F.col("media_id") == 7).collect()[0]
    assert row["meta"]["media_type"] == "image"
    assert row["meta"]["n_bytes"] == len(row["payload"])
    assert len(row["meta"]["sha1"]) == 40


def test_decode_images_deterministic_across_partitions(spark):
    a = mm.decode_images(mm.synthetic_images(spark, 100, num_partitions=2))
    b = mm.decode_images(mm.synthetic_images(spark, 100, num_partitions=16))
    ra = {r["media_id"]: r["img"] for r in a.collect()}
    rb = {r["media_id"]: r["img"] for r in b.collect()}
    assert ra == rb and len(ra) == 100
    assert all(16 <= v["width"] <= 39 for v in ra.values())
    assert all(v["channels"] == 3 for v in ra.values())


@pytest.mark.parametrize("decode, col, synth", [
    (mm.decode_images, "img", mm.synthesize_ppm),
    (mm.decode_pngs, "png", mm.synthesize_png),
    (mm.decode_audio, "audio", mm.synthesize_wav),
], ids=["decode_images", "decode_pngs", "decode_audio"])
def test_decode_images_null_payload(spark, decode, col, synth):
    """Every decode operator maps a NULL or undecodable payload to a
    NULL struct and leaves the valid rows of the same batch decoded."""
    df = spark.createDataFrame(
        [(1, None), (2, b"garbage"), (3, synth(3))],
        "media_id long, payload binary")
    out = {r["media_id"]: r[col] for r in decode(df).collect()}
    assert out[1] is None and out[2] is None
    assert out[3] is not None and out[3]["channels"] in (1, 3)


# ------------------------------------------------------- real WAV codec

def test_wav_decode_end_to_end(spark):
    """REAL codec path: synthesize_wav writes genuine RIFF/WAVE bytes
    executor-side; decode_audio parses them back with the stdlib wave
    module. Asserts header fields, the id-derived frame count, and a
    physically sane RMS for a 12000/32768-amplitude sine."""
    out = {r["media_id"]: r["audio"]
           for r in mm.decode_audio(mm.synthetic_audio(spark, 60, 4))
           .collect()}
    assert len(out) == 60
    for mid, a in out.items():
        assert a["sample_rate"] == 8000
        assert a["channels"] == 1 and a["sample_width"] == 2
        expected_frames = 800 + (mid % 7) * 80
        assert a["n_frames"] == expected_frames
        assert a["duration_ms"] == expected_frames * 1000 // 8000
        # sine RMS = amp/sqrt(2) = (12000/32768)/1.414 ≈ 0.259, modulo
        # truncation at a non-integer number of periods
        assert 0.2 < a["rms"] < 0.32, (mid, a["rms"])


def test_wav_synthesis_partition_invariant(spark):
    """Payload bytes are a pure function of media_id: any partitioning
    yields identical WAVs (the scale contract every synthetic table in
    this repo keeps)."""
    a = {r["media_id"]: bytes(r["payload"])
         for r in mm.synthetic_audio(spark, 30, 2).collect()}
    b = {r["media_id"]: bytes(r["payload"])
         for r in mm.synthetic_audio(spark, 30, 16).collect()}
    assert a == b
    # and they are real WAV files: RIFF....WAVE magic
    assert all(p[:4] == b"RIFF" and p[8:12] == b"WAVE" for p in a.values())


def test_decode_wav_meta_handles_nulls_and_garbage(spark):
    assert mm.decode_wav_meta(None) is None
    assert mm.decode_wav_meta(b"definitely not a wav stream") is None
    df = spark.createDataFrame(
        [(1, mm.synthesize_wav(1)), (2, None), (3, b"garbage")],
        "media_id long, payload binary")
    rows = {r["media_id"]: r["audio"]
            for r in mm.decode_audio(df).collect()}
    assert rows[1] is not None and rows[1]["sample_rate"] == 8000
    assert rows[2] is None and rows[3] is None


# ------------------------------------------------------- real PPM codec

def test_ppm_decode_end_to_end(spark):
    """REAL image codec path: synthesize_ppm writes genuine binary P6
    bytes executor-side; decode_images (decode_ppm_meta) parses the
    header and validates the raster. Dims must match the id arithmetic
    the synthesizer embeds (the same invariant the DuckDB oracle of the
    image_decode driver query recomputes)."""
    rows = {r["media_id"]: r["img"]
            for r in mm.decode_images(mm.synthetic_images(spark, 60, 4))
            .collect()}
    assert len(rows) == 60
    for mid, img in rows.items():
        assert img["width"] == 16 + mid % 24
        assert img["height"] == 16 + (mid * 7) % 24
        assert img["channels"] == 3


def test_ppm_synthesis_partition_invariant(spark):
    a = {r["media_id"]: bytes(r["payload"])
         for r in mm.synthetic_images(spark, 30, 2).collect()}
    b = {r["media_id"]: bytes(r["payload"])
         for r in mm.synthetic_images(spark, 30, 16).collect()}
    assert a == b
    assert all(p[:3] == b"P6\n" for p in a.values())
    # payload length is exactly header + raster for the 2-digit dims
    for mid, p in a.items():
        w, h = 16 + mid % 24, 16 + (mid * 7) % 24
        assert len(p) == 13 + 3 * w * h


def test_decode_ppm_meta_rejects_malformed():
    assert mm.decode_ppm_meta(None) is None
    assert mm.decode_ppm_meta(b"not a ppm") is None
    assert mm.decode_ppm_meta(b"P5\n2 2\n255\n" + b"\x00" * 4) is None
    good = mm.synthesize_ppm(7)
    assert mm.decode_ppm_meta(good) == (16 + 7 % 24, 16 + 49 % 24, 3)
    # truncated raster and trailing junk both decode to None, not a guess
    assert mm.decode_ppm_meta(good[:-1]) is None
    assert mm.decode_ppm_meta(good + b"x") is None
    # 16-bit raster (maxval > 255) is unsupported -> None
    assert mm.decode_ppm_meta(b"P6\n2 2\n65535\n" + b"\x00" * 24) is None


# ------------------------------------------------------- real PNG codec

def test_png_roundtrip_pixel_exact():
    """decode(synthesize(id)) must reproduce the gradient pixel sum for
    ids covering every (filter-row pattern, dims) combination — the
    synthesizer cycles filters 0..4 by row, so each image exercises the
    full five-filter reconstruction."""
    import numpy as np
    for mid in list(range(40)) + [100, 299, 599]:
        w = 12 + (mid * 5) % 29
        h = 12 + (mid * 11) % 29
        want = int(mm._gradient_rgb(w, h, mid).astype(np.int64).sum())
        got = mm.decode_png_meta(mm.synthesize_png(mid))
        assert got == {"width": w, "height": h, "channels": 3,
                       "pixel_sum": want}, (mid, got)


def test_decode_png_meta_rejects_malformed():
    import struct
    import zlib
    good = mm.synthesize_png(3)
    assert mm.decode_png_meta(None) is None
    assert mm.decode_png_meta(b"not a png") is None
    assert mm.decode_png_meta(good[:-6]) is None       # missing IEND
    bad = bytearray(good)
    bad[50] ^= 0xFF                                    # CRC / inflate break
    assert mm.decode_png_meta(bytes(bad)) is None
    # unsupported shape (RGBA colour type) decodes to None, not a guess
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 6, 0, 0, 0)
    fake = (mm._PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(b"\x00" * 68))
            + mm._png_chunk(b"IEND", b""))
    assert mm.decode_png_meta(fake) is None


def test_png_decode_spark_end_to_end(spark):
    import numpy as np
    rows = {r["media_id"]: r["png"]
            for r in mm.decode_pngs(mm.synthetic_pngs(spark, 40, 4))
            .collect()}
    assert len(rows) == 40
    for mid, png in rows.items():
        w = 12 + (mid * 5) % 29
        h = 12 + (mid * 11) % 29
        assert png["width"] == w and png["height"] == h
        assert png["pixel_sum"] == int(
            mm._gradient_rgb(w, h, mid).astype(np.int64).sum())
    a = {r["media_id"]: bytes(r["payload"])
         for r in mm.synthetic_pngs(spark, 20, 2).collect()}
    b = {r["media_id"]: bytes(r["payload"])
         for r in mm.synthetic_pngs(spark, 20, 16).collect()}
    assert a == b                        # partition-invariant payloads


def test_resize_ppm_real_pixels_and_roundtrip():
    import numpy as np
    for mid in (0, 5, 23, 777):
        payload = mm.synthesize_ppm(mid)
        out = mm.resize_ppm(payload, 7, 5)
        assert out is not None
        resized, psum = out
        # the resized payload is itself a valid P6 the decoder accepts
        assert mm.decode_ppm_meta(resized) == (7, 5, 3)
        # reference: numpy floor-mapped gather over the source gradient
        w = 16 + mid % 24
        h = 16 + (mid * 7) % 24
        img = mm._gradient_rgb(w, h, mid)
        sy = (np.arange(5) * h) // 5
        sx = (np.arange(7) * w) // 7
        ref = img[sy[:, None], sx[None, :]]
        assert psum == int(ref.astype(np.int64).sum())
        assert resized[11:] == ref.tobytes()
    # codec-error contract: garbage and None resize to None
    assert mm.resize_ppm(None, 7, 5) is None
    assert mm.resize_ppm(b"nope", 7, 5) is None


def test_resize_images_spark_end_to_end(spark):
    import numpy as np
    rows = {r["media_id"]: r for r in
            mm.resize_images(mm.synthetic_images(spark, 30, 4), 7, 5)
            .collect()}
    assert len(rows) == 30
    for mid, r in rows.items():
        w = 16 + mid % 24
        h = 16 + (mid * 7) % 24
        img = mm._gradient_rgb(w, h, mid)
        ref = img[(np.arange(5) * h) // 5][:, (np.arange(7) * w) // 7]
        assert r["resized_w"] == 7 and r["resized_h"] == 5
        assert r["resized_pixel_sum"] == int(ref.astype(np.int64).sum())
        assert bytes(r["resized"])[11:] == ref.tobytes()
