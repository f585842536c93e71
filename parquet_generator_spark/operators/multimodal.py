"""Multimodal column plumbing: opaque binary payloads + typed
metadata, with decode / feature-extract / frame-sample as
Arrow-batched ``mapInPandas`` stages.

The Spark-side contract is fully real — schemas, partitioning, UDF
signatures, batch shapes are what a production pipeline would use at
100 TB (binary columns stream through Arrow in bounded batches;
decode is a narrow map, no shuffle). Pixel decode is REAL for two
formats via pure stdlib + numpy — 24-bit BI_RGB BMP and 8-bit
non-interlaced PNG (zlib-inflated IDAT, all five scanline filters) —
with a BMP encoder for round-trips; other formats fall back to PIL
when present, else raise NotImplementedError (the honest lib gate).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # decode libs are absent in this environment; gate them
    from PIL import Image  # noqa: F401
    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

MEDIA_TYPES = ("image", "audio", "video")

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
])


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from the documents corpus:
    payload = utf-8 bytes of the text, metadata derived from
    n_chars. Exercises the binary + struct column plumbing."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(*[F.lit(m) for m in MEDIA_TYPES]),
                     (F.col("doc_id") % 3 + 1).cast("int"))
        .alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
            F.lit(16000).alias("sample_rate"),
        ).alias("meta"))


def extract_features(media: DataFrame,
                     batch_size_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Real decode is stubbed (no PIL/librosa in the container): features
    are a deterministic 8-dim digest of the payload bytes, which keeps
    the batch shape, schema, and Arrow transfer identical to a real
    extractor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_features(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [len(p) if p is not None else 0
                            for p in pdf["payload"]],
                "features": feats,
            })

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def fake_features(payload: bytes | None, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a decoded-feature vector."""
    if not payload:
        return [0.0] * dim
    import hashlib
    digest = hashlib.md5(payload).digest()
    return [digest[i] / 255.0 for i in range(dim)]


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB array -> 24-bit BI_RGB BMP bytes
    (bottom-up rows, BGR byte order, 4-byte row padding)."""
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                      2835, 2835, 0, 0)
    rows = []
    for y in range(h - 1, -1, -1):
        row = arr[y][:, ::-1].astype(np.uint8).tobytes()
        rows.append(row + b"\x00" * (row_size - len(row)))
    return header + dib + b"".join(rows)


def _decode_bmp(b: bytes) -> np.ndarray:
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", b, 10)[0]
    _hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", b, 14)
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only 24-bit BI_RGB BMP supported (bpp={bpp}, comp={comp})")
    bottom_up = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    out = np.empty((h, w, 3), np.uint8)
    for i in range(h):
        y = h - 1 - i if bottom_up else i
        row = np.frombuffer(b, np.uint8, w * 3,
                            off + i * row_size).reshape(w, 3)
        out[y] = row[:, ::-1]  # BGR -> RGB
    return out


def _png_unfilter(raw: bytes, w: int, h: int, ch: int) -> np.ndarray:
    """Reverse the per-scanline PNG filters (0 None, 1 Sub, 2 Up,
    3 Average, 4 Paeth) on the inflated IDAT stream."""
    stride = w * ch
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int64)
    pos = 0
    for y in range(h):
        f = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride,
                             pos + 1).astype(np.int64)
        pos += 1 + stride
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prev) % 256
        else:  # Sub / Average / Paeth carry a left dependency
            cur = np.zeros(stride, np.int64)
            for i in range(stride):
                a = cur[i - ch] if i >= ch else 0  # left
                bb = prev[i]                       # up
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + bb) // 2
                elif f == 4:
                    c = prev[i - ch] if i >= ch else 0
                    p = a + bb - c
                    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                    pred = a if pa <= pb and pa <= pc \
                        else (bb if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter {f}")
                cur[i] = (line[i] + pred) % 256
        out[y] = cur
        prev = cur
    return out


def _decode_png(b: bytes) -> np.ndarray:
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat = 8, b""
    w = h = depth = color = None
    palette = None
    while pos + 8 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, pos)
        data = b[pos + 8:pos + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data)
            if depth != 8 or interlace != 0 or color not in (0, 2, 3, 6):
                raise NotImplementedError(
                    "only 8-bit non-interlaced gray/RGB/palette/RGBA "
                    f"PNG supported (depth={depth}, color={color})")
        elif typ == b"PLTE":
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    ch = {0: 1, 2: 3, 3: 1, 6: 4}[color]
    arr = _png_unfilter(zlib.decompress(idat), w, h, ch)
    if color == 3:
        if palette is None:
            raise ValueError("palette PNG without PLTE chunk")
        # indexed -> RGB lookup (round 9): web PNGs are commonly
        # palettized; the index plane unfilters like a 1-channel image
        return palette[arr.reshape(h, w)]
    return arr.reshape(h, w, ch) if ch > 1 else arr.reshape(h, w)


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to a numpy array — REAL (pure
    stdlib + numpy) for 24-bit BMP, 8-bit PNG, and baseline 4:4:4
    JPEG (operators/jpeg_codec.py, round 9); other formats use PIL
    when importable, else the honest NotImplementedError gate.
    Progressive/subsampled JPEGs fall through to the PIL gate (the
    numpy decoder raises its scope ValueError loudly)."""
    b = bytes(payload)
    if b[:2] == b"BM":
        return _decode_bmp(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(b)
    if b[:2] == b"\xff\xd8":
        from parquet_generator_spark.operators.jpeg_codec import (
            decode_jpeg_baseline,
        )
        try:
            return decode_jpeg_baseline(b)
        except ValueError:
            if not HAVE_PIL:
                raise
    if not HAVE_PIL:
        raise NotImplementedError(
            "decode beyond BMP/PNG/baseline-JPEG requires PIL; "
            "not present here")
    import io
    return np.asarray(Image.open(io.BytesIO(b)))


IMAGE_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("mean_px", T.DoubleType()),
])


def decode_image_stats(media: DataFrame) -> DataFrame:
    """Real decoded-pixel statistics via mapInPandas: dimensions +
    mean pixel value from the ACTUAL decoded array (header lies or
    parser bugs change the numbers). Narrow Arrow-batched map, no
    shuffle — the 100 TB shape for any per-image featurizer."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    # null payloads are in-contract (fake_features
                    # handles them too) — emit null stats, don't crash
                    # the whole Arrow batch
                    recs.append((mid, None, None, None, None))
                    continue
                arr = decode_image(payload)
                ch = arr.shape[2] if arr.ndim == 3 else 1
                recs.append((mid, arr.shape[1], arr.shape[0], ch,
                             round(float(arr.mean()), 4)))
            yield pd.DataFrame(recs, columns=[
                "media_id", "width", "height", "channels", "mean_px"])

    return media.mapInPandas(run, schema=IMAGE_STATS_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int) -> DataFrame:
    """Frame sampling plan for video payloads: one output row per
    sampled frame timestamp. Timestamps come from metadata (JVM-side
    sequence explode); frame pixel extraction itself is the stubbed
    decode step."""
    frames = media.filter(F.col("media_type") == "video").select(
        "media_id",
        F.explode(F.sequence(
            F.lit(0),
            F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
            F.lit(every_ms))).alias("frame_ms"))
    return frames


# ------------------------------------------------------------------
# real WAV/PCM decode (the audio sibling of decode_image: pure
# stdlib RIFF chunk walk + numpy int16 view; header lies or parser
# bugs shift the sample statistics and fail the analytic oracle)
# ------------------------------------------------------------------

def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """(sample_rate, channels, samples[int16, shape (n, channels)])
    from canonical PCM WAV bytes. RIFF chunks are walked (not
    fixed-offset), so extra chunks before ``data`` parse fine;
    non-PCM or non-16-bit payloads raise loudly."""
    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        sz = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only PCM-16 supported, got "
                         f"format={audio_format} bits={bits}")
    samples = np.frombuffer(data, dtype="<i2").reshape(-1, channels)
    return rate, channels, samples


WAV_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("peak", T.LongType()),
    T.StructField("dc_offset", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
])


def decode_wav_pcm_stats(media: DataFrame) -> DataFrame:
    """Real decoded-sample statistics via mapInPandas: peak /
    DC offset / RMS from the ACTUAL int16 samples. Integer sums are
    exact in float64, so dc/rms are bit-deterministic across
    engines. Narrow Arrow-batched map, no shuffle — the 100 TB
    shape for any per-clip featurizer."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    recs.append((mid, None, None, None, None, None))
                    continue
                rate, _, samples = decode_wav(bytes(payload))
                v = samples.astype(np.int64).ravel()
                n = v.size
                s = int(v.sum())
                ss = int((v * v).sum())
                recs.append((
                    mid, rate, n, int(np.abs(v).max()),
                    round(s / n, 4),
                    round(float(np.sqrt(ss / n)), 4)))
            yield pd.DataFrame(recs, columns=[
                "media_id", "sample_rate", "n_samples", "peak",
                "dc_offset", "rms"])

    return media.mapInPandas(run, schema=WAV_STATS_SCHEMA)
