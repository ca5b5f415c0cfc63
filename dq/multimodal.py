"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media ride as opaque ``binary`` columns with a typed metadata struct —
the Spark-side contract (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested. Codec status:

- **audio/WAV is REAL**: :func:`synthesize_wav` writes genuine PCM16
  RIFF/WAVE bytes and :func:`decode_audio` parses them back (header +
  frames + an RMS feature) with the stdlib ``wave`` module — no new
  dependencies, deterministic, end-to-end tested;
- **image/PPM is REAL**: :func:`synthesize_ppm` writes genuine binary
  P6 (portable pixmap) bytes and :func:`decode_ppm_meta` parses header
  + validates the raster — plugs into :func:`decode_images` as a real
  decoder, oracle-checked (the synthesized dims are pure arithmetic of
  the id, so DuckDB predicts the decode output independently);
- other image formats stay import-gated (``real_image_decoder`` raises
  ``NotImplementedError`` until PIL ships in the container);
- ``fake_decode_meta`` is the deterministic image-decode stand-in the
  tests and the synthetic corpus use: width/height derived from a
  stable hash of the bytes, so every partitioning produces identical
  output (and the driver's SQL oracle can reproduce it).

All bulk operators are ``mapInPandas`` (iterator-of-batches: one model /
decoder init per PARTITION, not per row — the same executor-lifetime
amortization the langid/perplexity UDFs get via broadcast).
"""

from __future__ import annotations

import hashlib
import io
import re
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401
    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType()),      # image|audio|video
    T.StructField("mime", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sha1", T.StringType()),
])

IMAGE_META_SCHEMA = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_index", T.IntegerType()),
    T.StructField("frame_ts_ms", T.LongType()),
    T.StructField("frame_sha1", T.StringType()),
])


def media_table_schema() -> T.StructType:
    """Canonical multimodal table shape: id + opaque payload + metadata."""
    return T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ])


def with_media_meta(df: DataFrame, payload_col: str = "payload",
                    media_type: str = "image",
                    mime: str = "image/png") -> DataFrame:
    """Attach the typed metadata struct — pure Column expressions
    (length / sha1 are JVM built-ins; no decode needed)."""
    p = F.col(payload_col)
    return df.withColumn("meta", F.struct(
        F.lit(media_type).alias("media_type"),
        F.lit(mime).alias("mime"),
        F.coalesce(F.length(p).cast("long"), F.lit(0).cast("long"))
        .alias("n_bytes"),
        F.sha1(F.coalesce(p, F.lit(b""))).alias("sha1"),
    ))


def _stable_u32(data: bytes, salt: bytes) -> int:
    """First 4 digest bytes (big-endian) of md5(salt + first 64 payload
    bytes). md5 deliberately (not sha1): DuckDB exposes md5 natively, so
    the fake-decode dimensions are reproducible in the driver's SQL
    oracle (dq/queries.py ORACLE_MULTIMODAL) — the surrogate hash choice
    is what makes the whole decode query oracle-checkable."""
    return int.from_bytes(hashlib.md5(salt + data[:64]).digest()[:4], "big")


def fake_decode_meta(payload: bytes | None) -> tuple[int, int, int] | None:
    """Deterministic stand-in for image decode: (width, height, channels)
    as a pure function of the bytes. Replace with a real decoder by
    passing ``decoder=`` to :func:`decode_images`."""
    if payload is None:
        return None
    w = 64 + _stable_u32(payload, b"w") % 1984          # 64..2047
    h = 64 + _stable_u32(payload, b"h") % 1984
    return (w, h, 3)


def real_image_decoder(payload: bytes | None):  # pragma: no cover
    """PIL-backed decode → (width, height, channels); raises until the
    container ships PIL (import-gated, NOT silently faked)."""
    if not _HAS_PIL:
        raise NotImplementedError(
            "image decoding requires PIL; this container has no image "
            "libraries - use fake_decode_meta or install pillow")
    import io
    with Image.open(io.BytesIO(payload)) as im:
        return (im.width, im.height, len(im.getbands()))


def decode_images(df: DataFrame, payload_col: str = "payload",
                  decoder=fake_decode_meta) -> DataFrame:
    """Append ``img`` struct (width/height/channels) via ``mapInPandas``.

    Iterator-of-batches form: per-partition setup happens once (a real
    decoder would open its codec context here), then each Arrow batch is
    processed vectorized. Output schema = input schema + ``img`` struct,
    so the operator is schema-stable for Catalyst.
    """
    out_schema = T.StructType(df.schema.fields
                              + [T.StructField("img", IMAGE_META_SCHEMA)])
    names = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = decoder                 # per-partition init point
        for pdf in batches:
            metas = [dec(p) for p in pdf[payload_col]]
            pdf = pdf.copy()
            pdf["img"] = [
                None if m is None
                else {"width": m[0], "height": m[1], "channels": m[2]}
                for m in metas]
            yield pdf[names]

    return df.mapInPandas(run, out_schema)


_PPM_HEADER_RE = re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)[ \t\r\n]")


def _gradient_rgb(w: int, h: int, media_id: int) -> np.ndarray:
    """(h, w, 3) uint8 deterministic RGB gradient — pure arithmetic of
    (row, col, id), shared by the PPM and PNG synthesizers so both
    drivers' oracles predict pixels with the same SQL arithmetic."""
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    base = r * 31 + c * 17 + media_id
    return np.stack([base % 256, (base * 3 + 1) % 256,
                     (base * 5 + 2) % 256], axis=-1).astype(np.uint8)


def synthesize_ppm(media_id: int) -> bytes:
    """REAL binary PPM (P6) bytes: a deterministic RGB gradient whose
    dimensions are pure ARITHMETIC of the id (w = 16 + id % 24,
    h = 16 + id*7 % 24) — which is what lets the driver's DuckDB oracle
    predict the decode output without running the codec."""
    w = 16 + media_id % 24
    h = 16 + (media_id * 7) % 24
    return b"P6\n%d %d\n255\n" % (w, h) + _gradient_rgb(w, h, media_id).tobytes()


def decode_ppm_meta(payload: bytes | None) -> tuple[int, int, int] | None:
    """Real binary-PPM decode: parse the P6 header and validate that the
    raster carries exactly width*height*3 one-byte samples. Returns
    ``(width, height, 3)`` or None for NULL/non-PPM/truncated payloads
    (schema-stable codec-error rows, like :func:`decode_wav_meta`).
    Comments and 2-byte (maxval>255) rasters are not supported and
    decode to None rather than silently guessing."""
    if payload is None:
        return None
    b = bytes(payload)
    m = _PPM_HEADER_RE.match(b)
    if not m:
        return None
    w, h, maxval = (int(g) for g in m.groups())
    if maxval != 255 or w <= 0 or h <= 0:
        return None
    if len(b) - m.end() != w * h * 3:
        return None
    return (w, h, 3)


# -------------------------------------------------- PNG codec (stdlib) ---
# A real, dependency-free PNG path: zlib for the IDAT stream, struct for
# chunk framing, and the full five-filter scanline reconstruction
# (None/Sub/Up/Average/Paeth — PNG spec §6, public W3C standard). The
# synthesizer cycles through all five filters row-by-row so the decoder's
# reconstruction logic is genuinely exercised, and the pixel content is
# the same id-arithmetic gradient as PPM, so a DuckDB oracle can predict
# the decoded PIXEL SUM (not just the header) without running a codec.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, elementwise on int arrays."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def synthesize_png(media_id: int) -> bytes:
    """REAL PNG bytes (8-bit RGB, colour type 2): dims are pure
    arithmetic of the id (w = 12 + id*5 % 29, h = 12 + id*11 % 29),
    pixels are the shared :func:`_gradient_rgb`, and the scanline
    filter cycles 0..4 by row so every reconstruction branch of
    :func:`decode_png_meta` runs on every image."""
    import struct
    import zlib
    w = 12 + (media_id * 5) % 29
    h = 12 + (media_id * 11) % 29
    px = _gradient_rgb(w, h, media_id).astype(np.int64)   # (h, w, 3)
    bpp = 3
    prev = np.zeros((w, bpp), dtype=np.int64)
    lines = []
    for r in range(h):
        row = px[r]
        left = np.vstack([np.zeros((1, bpp), np.int64), row[:-1]])
        upleft = np.vstack([np.zeros((1, bpp), np.int64), prev[:-1]])
        ft = r % 5
        if ft == 0:
            filt = row
        elif ft == 1:
            filt = row - left
        elif ft == 2:
            filt = row - prev
        elif ft == 3:
            filt = row - (left + prev) // 2
        else:
            filt = row - _paeth(left, prev, upleft)
        lines.append(bytes([ft]) + (filt % 256).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + _png_chunk(b"IEND", b""))


def decode_png_meta(payload: bytes | None) -> dict | None:
    """Real stdlib PNG decode: chunk walk with CRC validation, IHDR
    parse, zlib-inflate of the concatenated IDAT stream, and full
    five-filter scanline reconstruction. Returns ``{width, height,
    channels, pixel_sum}`` where ``pixel_sum`` is the sum of every
    reconstructed sample byte — the feature that makes pixel-level
    correctness oracle-checkable. Unsupported shapes (bit depth ≠ 8,
    colour type ≠ 2/truecolour, interlaced) and any malformed stream
    (bad CRC, bad inflate, wrong raster size) decode to None rather
    than silently guessing — the schema-stable codec-error row."""
    if payload is None:
        return None
    import struct
    import zlib
    b = bytes(payload)
    if not b.startswith(_PNG_SIG):
        return None
    pos = len(_PNG_SIG)
    ihdr = None
    idat = []
    end_seen = False
    try:
        while pos + 8 <= len(b):
            (ln,) = struct.unpack_from(">I", b, pos)
            tag = b[pos + 4: pos + 8]
            body = b[pos + 8: pos + 8 + ln]
            if len(body) != ln or pos + 12 + ln > len(b):
                return None
            (crc,) = struct.unpack_from(">I", b, pos + 8 + ln)
            if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
                return None
            if tag == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", body)
            elif tag == b"IDAT":
                idat.append(body)
            elif tag == b"IEND":
                end_seen = True
                break
            pos += 12 + ln
        if ihdr is None or not idat or not end_seen:
            return None
        w, h, depth, ctype, comp, filt_m, interlace = ihdr
        if depth != 8 or ctype != 2 or comp != 0 or filt_m != 0 \
                or interlace != 0 or w <= 0 or h <= 0:
            return None
        raw = zlib.decompress(b"".join(idat))
    except (struct.error, zlib.error):
        return None
    bpp = 3
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        return None
    data = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    prev = np.zeros((w, bpp), dtype=np.int64)
    total = 0
    for r in range(h):
        ft = int(data[r, 0])
        filt = data[r, 1:].astype(np.int64).reshape(w, bpp)
        if ft == 0:
            recon = filt
        elif ft == 1:      # Sub: per-lane prefix sum mod 256
            recon = np.cumsum(filt, axis=0) % 256
        elif ft == 2:      # Up
            recon = (filt + prev) % 256
        elif ft == 3:      # Average: sequential in x (left-dependency)
            recon = np.empty_like(filt)
            left = np.zeros(bpp, dtype=np.int64)
            for x in range(w):
                left = (filt[x] + (left + prev[x]) // 2) % 256
                recon[x] = left
        elif ft == 4:      # Paeth: sequential in x
            recon = np.empty_like(filt)
            left = np.zeros(bpp, dtype=np.int64)
            upleft = np.zeros(bpp, dtype=np.int64)
            for x in range(w):
                left = (filt[x] + _paeth(left, prev[x], upleft)) % 256
                recon[x] = left
                upleft = prev[x]
        else:
            return None
        total += int(recon.sum())
        prev = recon
    return {"width": int(w), "height": int(h), "channels": bpp,
            "pixel_sum": total}


PNG_META_SCHEMA = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("pixel_sum", T.LongType()),
])


def decode_pngs(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Append a ``png`` struct (width/height/channels/pixel_sum) via the
    real stdlib PNG decoder — same iterator-of-batches shape as
    :func:`decode_images`/:func:`decode_audio`."""
    out_schema = T.StructType(df.schema.fields
                              + [T.StructField("png", PNG_META_SCHEMA)])
    names = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = decode_png_meta         # per-partition init point
        for pdf in batches:
            pdf = pdf.copy()
            pdf["png"] = [dec(p) for p in pdf[payload_col]]
            yield pdf[names]

    return df.mapInPandas(run, out_schema)


def synthetic_pngs(spark, n_rows: int, num_partitions: int | None = None
                   ) -> DataFrame:
    """Deterministic image media table carrying REAL PNG payloads."""
    return _synthetic_payload_table(
        spark, n_rows, num_partitions, synthesize_png, "image", "image/png")


def _synthetic_payload_table(spark, n_rows: int,
                             num_partitions: int | None,
                             synth_fn, media_type: str,
                             mime: str) -> DataFrame:
    """Shared scaffold for the real-codec synthetic tables: id range →
    per-id payload bytes generated EXECUTOR-SIDE in Arrow batches (the
    payload never passes through the driver) → typed meta struct."""
    base = spark.range(0, n_rows, 1,
                       num_partitions
                       or spark.sparkContext.defaultParallelism)
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["id"],
                "payload": [synth_fn(int(i)) for i in pdf["id"]],
            })

    media = base.mapInPandas(gen, out_schema)
    return with_media_meta(media, media_type=media_type, mime=mime)


def synthetic_images(spark, n_rows: int, num_partitions: int | None = None
                     ) -> DataFrame:
    """Deterministic image media table carrying REAL binary-PPM payloads."""
    return _synthetic_payload_table(
        spark, n_rows, num_partitions, synthesize_ppm,
        "image", "image/x-portable-pixmap")


def resize_ppm(payload: bytes | None, width: int, height: int
               ) -> tuple[bytes, int] | None:
    """REAL nearest-neighbor resize of a binary-PPM payload: decode the
    P6 raster, gather source pixels at ``src = (dst * src_size) //
    dst_size`` (integer floor mapping — pure arithmetic, which is what
    lets the driver's DuckDB oracle predict every resized pixel), and
    re-encode as P6. Returns ``(resized_p6_bytes, pixel_byte_sum)`` or
    None for NULL/non-PPM/truncated payloads (same codec-error contract
    as :func:`decode_ppm_meta`)."""
    meta = decode_ppm_meta(payload)
    if meta is None:
        return None
    w, h, _ = meta
    b = bytes(payload)
    raster = np.frombuffer(b, dtype=np.uint8,
                           count=w * h * 3, offset=len(b) - w * h * 3)
    img = raster.reshape(h, w, 3)
    sy = (np.arange(height, dtype=np.int64) * h) // height
    sx = (np.arange(width, dtype=np.int64) * w) // width
    out = img[sy[:, None], sx[None, :]]
    return (b"P6\n%d %d\n255\n" % (width, height) + out.tobytes(),
            int(out.sum(dtype=np.int64)))


def resize_images(df: DataFrame, width: int, height: int,
                  payload_col: str = "payload") -> DataFrame:
    """Distributed REAL resize over a binary media column: mapInPandas
    (iterator form, codec loop per payload — the resize IS the per-
    payload work) appending the resized P6 payload, its dims, and its
    pixel-byte sum; an undecodable payload gets NULL ``resized`` and
    ``resized_pixel_sum`` instead of failing the batch (``resized_w`` /
    ``resized_h`` are the requested size on every row). 100-TB shape:
    row-local, no shuffle, payload column stays binary end-to-end."""
    out_schema = T.StructType(df.schema.fields + [
        T.StructField("resized", T.BinaryType()),
        T.StructField("resized_w", T.IntegerType()),
        T.StructField("resized_h", T.IntegerType()),
        T.StructField("resized_pixel_sum", T.LongType()),
    ])
    names = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            res = [resize_ppm(p, width, height) for p in pdf[payload_col]]
            pdf["resized"] = [r[0] if r else None for r in res]
            pdf["resized_w"] = np.int32(width)
            pdf["resized_h"] = np.int32(height)
            pdf["resized_pixel_sum"] = pd.array(
                [r[1] if r else None for r in res], dtype="Int64")
            yield pdf[names]

    return df.mapInPandas(run, out_schema)


def resize_stub(df: DataFrame, width: int, height: int,
                payload_col: str = "payload") -> DataFrame:
    """Resize plumbing: emits a deterministic surrogate payload
    (sha1 of original + target dims) with the same schema a real resize
    would produce; the pixel work is the stub."""
    out_schema = T.StructType(df.schema.fields + [
        T.StructField("resized", T.BinaryType()),
        T.StructField("resized_w", T.IntegerType()),
        T.StructField("resized_h", T.IntegerType()),
    ])
    names = [f.name for f in out_schema.fields]
    tag = f"{width}x{height}".encode()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["resized"] = [
                None if p is None else hashlib.sha1(tag + p[:64]).digest()
                for p in pdf[payload_col]]
            pdf["resized_w"] = np.int32(width)
            pdf["resized_h"] = np.int32(height)
            yield pdf[names]

    return df.mapInPandas(run, out_schema)


def sample_frames(df: DataFrame, every_ms: int = 1000,
                  duration_ms_col: str | None = None,
                  id_col: str = "media_id",
                  payload_col: str = "payload") -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled frame.

    Duration comes from ``duration_ms_col`` if given, else a
    deterministic fake derived from the payload bytes. A real
    implementation swaps the per-frame sha1 surrogate for decoded frame
    tensors; the fan-out shape (explode to frame grain, frame_ts
    monotone per media) is what downstream operators contract on.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col].to_numpy()
            mask = np.array([p is not None for p in payloads])
            if not mask.any():
                yield pd.DataFrame(
                    columns=[f.name for f in FRAME_SCHEMA])
                continue
            ids = pdf[id_col].to_numpy()[mask]
            pl = payloads[mask]
            if duration_ms_col:
                raw = pdf[duration_ms_col].to_numpy()[mask]
                # NULL/NaN → 0 frames (skip), negative → 0 frames: the
                # row-loop predecessor's range() semantics, which a bare
                # astype would turn into a crash (negative repeats) or
                # INT64_MIN garbage (NaN)
                raw = np.nan_to_num(raw.astype(np.float64), nan=0.0)
                durs = np.maximum(raw, 0).astype(np.int64)
            else:
                durs = np.array([1000 + _stable_u32(p, b"dur") % 29000
                                 for p in pl], dtype=np.int64)
            # vectorized fan-out: per-media frame counts → repeated ids +
            # a single ragged frame-index vector (sha1 per frame remains
            # the only per-frame Python — it IS the decode surrogate)
            counts = (durs + every_ms - 1) // every_ms
            media_idx = np.repeat(np.arange(len(pl)), counts)
            frame_idx = (np.arange(len(media_idx))
                         - np.repeat(np.cumsum(counts) - counts, counts))
            ts = frame_idx * every_ms
            sha = [hashlib.sha1(pl[m][:64] + int(t).to_bytes(8, "big"))
                   .hexdigest() for m, t in zip(media_idx, ts)]
            yield pd.DataFrame({
                "media_id": ids[media_idx],
                "frame_index": frame_idx.astype(np.int32),
                "frame_ts_ms": ts.astype(np.int64),
                "frame_sha1": sha,
            })

    return df.mapInPandas(run, FRAME_SCHEMA)


AUDIO_META_SCHEMA = T.StructType([
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_width", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("rms", T.DoubleType()),
])


def synthesize_wav(media_id: int, sample_rate: int = 8000) -> bytes:
    """REAL RIFF/WAVE bytes (stdlib ``wave`` writer): a PCM16 mono sine
    tone whose frequency and length are pure functions of the id, so
    the synthetic audio table is deterministic under any partitioning
    (same scheme as dq.synth.webpages)."""
    freq = 110.0 + (media_id % 32) * 55.0
    n = sample_rate // 10 + (media_id % 7) * (sample_rate // 100)
    t = np.arange(n, dtype=np.float64)
    samples = np.rint(
        np.sin(2.0 * np.pi * freq * t / sample_rate) * 12000.0
    ).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def decode_wav_meta(payload: bytes | None) -> dict | None:
    """Real WAV decode (stdlib ``wave``): header fields + frame count +
    an RMS amplitude feature computed from the decoded PCM samples.
    Returns None for NULL payloads and for bytes that are not a valid
    WAV stream (the schema-stable analog of a codec error row)."""
    if payload is None:
        return None
    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            sr = w.getframerate()
            ch = w.getnchannels()
            sw = w.getsampwidth()
            nf = w.getnframes()
            frames = w.readframes(nf)
    except (wave.Error, EOFError):
        return None
    if sw == 2 and frames:
        arr = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
        rms = float(np.sqrt(np.mean(arr * arr)))
    else:
        # rms is only computed for PCM16; other sample widths decode
        # their header honestly but carry a NULL feature — 0.0 would be
        # indistinguishable from true digital silence downstream
        rms = None
    return {"sample_rate": sr, "channels": ch, "sample_width": sw,
            "n_frames": nf,
            "duration_ms": (nf * 1000) // sr if sr else 0,
            "rms": rms}


def decode_audio(df: DataFrame, payload_col: str = "payload",
                 decoder=decode_wav_meta) -> DataFrame:
    """Append an ``audio`` struct via ``mapInPandas`` — same
    iterator-of-batches shape as :func:`decode_images`, but the default
    decoder is the REAL stdlib WAV codec (no stub)."""
    out_schema = T.StructType(df.schema.fields
                              + [T.StructField("audio", AUDIO_META_SCHEMA)])
    names = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = decoder                 # per-partition init point
        for pdf in batches:
            pdf = pdf.copy()
            pdf["audio"] = [dec(p) for p in pdf[payload_col]]
            yield pdf[names]

    return df.mapInPandas(run, out_schema)


def synthetic_audio(spark, n_rows: int, num_partitions: int | None = None,
                    sample_rate: int = 8000) -> DataFrame:
    """Deterministic audio media table carrying REAL WAV payloads
    (``synthesize_wav`` per id)."""
    return _synthetic_payload_table(
        spark, n_rows, num_partitions,
        lambda i: synthesize_wav(i, sample_rate), "audio", "audio/wav")


def synthetic_media(spark, n_rows: int, num_partitions: int | None = None
                    ) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes), same
    pure-function-of-id scheme as dq.synth.webpages."""
    df = spark.range(0, n_rows, 1,
                     num_partitions
                     or spark.sparkContext.defaultParallelism)
    payload = F.encode(
        F.concat(F.lit("MEDIA"), F.sha2(F.col("id").cast("string"), 256)),
        "UTF-8").cast("binary")
    df = df.select(F.col("id").alias("media_id"),
                   payload.alias("payload"))
    return with_media_meta(df)
