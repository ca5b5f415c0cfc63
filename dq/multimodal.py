"""Multimodal (image/audio) column plumbing for training-data pipelines.

Media ride as opaque ``binary`` columns with a typed metadata struct
(:func:`with_media_meta`). Every codec is real, dependency-free and
deterministic, with a synthesizer whose output is a pure function of
the media id, so decoded values are predictable from the id alone (the
PPM, PNG and resize queries in dq/queries.py have exact DuckDB oracles):

- **audio/WAV**: :func:`synthesize_wav` writes PCM16 RIFF/WAVE bytes and
  :func:`decode_audio` parses them back (header + frames + an RMS
  feature) with the stdlib ``wave`` module;
- **image/PPM**: :func:`synthesize_ppm` writes binary P6 bytes and
  :func:`decode_images` parses the header and validates the raster
  (:func:`decode_ppm_meta`); :func:`resize_images` is a real
  nearest-neighbour resize that re-encodes P6;
- **image/PNG**: :func:`synthesize_png` / :func:`decode_pngs` — zlib
  IDAT, CRC'd chunks and all five scanline filters (stdlib only).

A NULL or undecodable payload yields a NULL struct, not a failed batch.
All bulk operators are ``mapInPandas`` (iterator-of-batches: one codec
loop per Arrow batch, no per-row JVM round trip).
"""

from __future__ import annotations

import io
import re
import wave
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
])


def with_media_meta(df: DataFrame, media_type: str = "image",
                    mime: str = "image/png") -> DataFrame:
    """Attach the typed metadata struct of the ``payload`` column — pure
    Column expressions (length / sha1 are JVM built-ins; no decode
    needed)."""
    p = F.col("payload")
    return df.withColumn("meta", F.struct(
        F.lit(media_type).alias("media_type"),
        F.lit(mime).alias("mime"),
        F.coalesce(F.length(p).cast("long"), F.lit(0).cast("long"))
        .alias("n_bytes"),
        F.sha1(F.coalesce(p, F.lit(b""))).alias("sha1"),
    ))


def _decode_column(df: DataFrame, out_col: str, out_type: T.StructType,
                   decode: Callable[[bytes | None], dict | None]
                   ) -> DataFrame:
    """Append ``out_col`` = ``decode(payload)`` per row via
    ``mapInPandas``. Output schema = input schema + the struct, so the
    operator is schema-stable for Catalyst; ``decode`` returns a dict
    of the struct's fields or None (NULL payload / codec error)."""
    out_schema = T.StructType(df.schema.fields
                              + [T.StructField(out_col, out_type)])
    names = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [decode(p) for p in pdf["payload"]]
            yield pdf[names]

    return df.mapInPandas(run, out_schema)


def _ppm_struct(payload: bytes | None) -> dict | None:
    m = decode_ppm_meta(payload)
    return None if m is None else {"width": m[0], "height": m[1],
                                   "channels": m[2]}


def decode_images(df: DataFrame) -> DataFrame:
    """Append an ``img`` struct (width/height/channels) decoded from
    binary-PPM ``payload`` bytes by :func:`decode_ppm_meta`."""
    return _decode_column(df, "img", IMAGE_META_SCHEMA, _ppm_struct)


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


def decode_pngs(df: DataFrame) -> DataFrame:
    """Append a ``png`` struct (width/height/channels/pixel_sum) decoded
    from ``payload`` by the stdlib PNG codec :func:`decode_png_meta`."""
    return _decode_column(df, "png", PNG_META_SCHEMA, decode_png_meta)


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


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Distributed REAL resize over the binary ``payload`` column: mapInPandas
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
            res = [resize_ppm(p, width, height) for p in pdf["payload"]]
            pdf["resized"] = [r[0] if r else None for r in res]
            pdf["resized_w"] = np.int32(width)
            pdf["resized_h"] = np.int32(height)
            pdf["resized_pixel_sum"] = pd.array(
                [r[1] if r else None for r in res], dtype="Int64")
            yield pdf[names]

    return df.mapInPandas(run, out_schema)


AUDIO_META_SCHEMA = T.StructType([
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_width", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("rms", T.DoubleType()),
])


def synthesize_wav(media_id: int) -> bytes:
    """REAL RIFF/WAVE bytes (stdlib ``wave`` writer): a PCM16 mono 8 kHz sine
    tone whose frequency and length are pure functions of the id, so
    the synthetic audio table is deterministic under any partitioning
    (same scheme as dq.synth.webpages)."""
    sample_rate = 8000
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


def decode_audio(df: DataFrame) -> DataFrame:
    """Append an ``audio`` struct decoded from WAV ``payload`` bytes by
    the stdlib codec :func:`decode_wav_meta`."""
    return _decode_column(df, "audio", AUDIO_META_SCHEMA, decode_wav_meta)


def synthetic_audio(spark, n_rows: int, num_partitions: int | None = None
                    ) -> DataFrame:
    """Deterministic audio media table carrying REAL WAV payloads
    (``synthesize_wav`` per id)."""
    return _synthetic_payload_table(
        spark, n_rows, num_partitions, synthesize_wav, "audio", "audio/wav")
