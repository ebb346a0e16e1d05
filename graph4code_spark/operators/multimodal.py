"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a
typed metadata struct; decode / feature-extract / resize / frame-sample
run as Arrow-batched UDFs over `mapInPandas`.

Decode status: binary **PPM (P6)** images and **WAV (RIFF/PCM16)**
audio are decoded for REAL by vendored dependency-free parsers
(`_decode_ppm`, `_decode_wav`) — header/chunk parse, raw sample plane,
integer-valued feature vectors (grid/window sums + histograms + zero
crossings) that float32 carries exactly.  Remaining formats (JPEG, MP3,
video codecs) still need PIL/torchaudio/ffmpeg (absent in this
container): they raise `NotImplementedError` unless `fake=True`, in
which case a deterministic hash-derived vector stands in.  The
Spark-side plumbing (schema, batch shape, partitioning, UDF signature)
is identical for both paths.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from graph4code_spark.session import local_df

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("meta", StructType([
            StructField("width", IntegerType(), True),
            StructField("height", IntegerType(), True),
            StructField("duration_ms", IntegerType(), True),
            StructField("mime", StringType(), True),
        ]), True),
    ]
)

FEATURE_DIM = 64

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)


import re as _re

_PPM_HEADER = _re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s")


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Real decode of a binary PPM (P6): 64 integer-valued features =
    4×4 grid × RGB per-channel pixel sums (48) + 16-bin grayscale
    histogram (16).  Pure numpy, no imaging library."""
    m = _PPM_HEADER.match(payload)
    if m is None:
        raise ValueError("not a binary PPM (P6) payload")
    w, h, maxv = (int(m.group(k)) for k in (1, 2, 3))
    if maxv > 255:
        raise ValueError("16-bit PPM not supported")
    n = w * h * 3
    data = payload[m.end() : m.end() + n]
    if len(data) < n:
        raise ValueError("truncated PPM pixel data")
    arr = np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    feats = np.zeros(FEATURE_DIM, dtype=np.float32)
    row_b = [round(i * h / 4) for i in range(5)]
    col_b = [round(j * w / 4) for j in range(5)]
    k = 0
    for i in range(4):
        for j in range(4):
            block = arr[row_b[i]:row_b[i + 1], col_b[j]:col_b[j + 1]]
            sums = block.reshape(-1, 3).sum(axis=0) if block.size else np.zeros(3)
            feats[k:k + 3] = sums
            k += 3
    gray = arr.astype(np.int64).sum(axis=2) // 3
    hist = np.bincount((gray // 16).ravel(), minlength=16)[:16]
    feats[48:64] = hist
    return feats


def _decode_wav(payload: bytes) -> np.ndarray:
    """Real decode of a RIFF/WAVE PCM16 payload: 64 integer-valued
    features = 32-window sums of |sample| (envelope) + 16-bin |sample|
    histogram (bin = |s|//2048, clipped) + 16-window zero-crossing
    counts.  Pure numpy chunk walk, no audio library."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_ok, data = 12, False, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            audio_fmt = int.from_bytes(body[0:2], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_fmt != 1 or bits != 16:
                raise ValueError("only PCM16 WAV supported")
            fmt_ok = True
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if not fmt_ok or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    x = np.frombuffer(data[: len(data) - (len(data) % 2)], dtype="<i2").astype(
        np.int64
    )
    n = len(x)
    if n == 0:
        raise ValueError("empty WAV data chunk")
    feats = np.zeros(FEATURE_DIM, dtype=np.float32)
    absx = np.abs(x)
    b32 = [round(i * n / 32) for i in range(33)]
    for i in range(32):
        feats[i] = absx[b32[i] : b32[i + 1]].sum()
    hist = np.bincount(np.minimum(absx // 2048, 15), minlength=16)[:16]
    feats[32:48] = hist
    neg = x < 0
    b16 = [round(i * n / 16) for i in range(17)]
    for i in range(16):
        seg = neg[b16[i] : b16[i + 1]]
        feats[48 + i] = int((seg[1:] != seg[:-1]).sum()) if len(seg) > 1 else 0
    return feats


def _decode_one(payload: bytes, media_type: str, fake: bool) -> np.ndarray:
    if media_type == "image" and payload[:2] == b"P6":
        return _decode_ppm(payload)  # real decode, no stub
    if media_type == "audio" and payload[:4] == b"RIFF":
        return _decode_wav(payload)  # real decode, no stub
    if not fake:
        raise NotImplementedError(
            "real decode beyond PPM/WAV requires PIL/torchaudio/ffmpeg — not "
            "available in this container; pass fake=True for the "
            "deterministic stand-in"
        )
    # deterministic fake: hash-expanded pseudo-features
    h = hashlib.sha256(payload or b"").digest()
    seed = int.from_bytes(h[:8], "big") % (2**32)
    rs = np.random.RandomState(seed)
    return rs.normal(size=FEATURE_DIM).astype(np.float32)


def extract_media_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """(media_id, media_type, n_bytes, features[64]) via one Arrow pass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mtype, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                feats = _decode_one(payload, mtype, fake)
                rows.append((mid, mtype, len(payload), feats.tolist()))
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "n_bytes", "features"]
            )

    return media.select("media_id", "media_type", "payload").mapInPandas(
        run, schema=FEATURES_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per planned frame timestamp —
    pure column math (`sequence`), the decode of each frame is the
    stubbed step."""
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0))
    return (
        media.where(F.col("media_type") == "video")
        .select(
            "media_id",
            F.explode(
                F.when(dur > 0, F.sequence(F.lit(0), dur - 1, F.lit(every_ms)))
                .otherwise(F.array().cast("array<int>"))
            ).alias("frame_ts_ms"),
        )
    )


#: dimensions of the synthetic PPM images
PPM_W, PPM_H = 8, 8


def synth_ppm_payload(seed: int, i: int) -> bytes:
    """Deterministic 8×8 binary PPM: md5-stream pixel bytes."""
    pix = b""
    k = 0
    while len(pix) < PPM_W * PPM_H * 3:
        pix += hashlib.md5(f"{seed}|px|{i}|{k}".encode()).digest()
        k += 1
    pix = pix[: PPM_W * PPM_H * 3]
    return b"P6\n%d %d\n255\n" % (PPM_W, PPM_H) + pix


#: samples per synthetic WAV clip (and its sample rate)
WAV_N, WAV_RATE = 320, 8000


def synth_wav_payload(seed: int, i: int) -> bytes:
    """Deterministic RIFF/PCM16 mono WAV: md5-stream sample bytes."""
    pcm = b""
    k = 0
    while len(pcm) < WAV_N * 2:
        pcm += hashlib.md5(f"{seed}|wav|{i}|{k}".encode()).digest()
        k += 1
    pcm = pcm[: WAV_N * 2]
    hdr = (
        b"RIFF"
        + (36 + len(pcm)).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")          # PCM
        + (1).to_bytes(2, "little")          # mono
        + WAV_RATE.to_bytes(4, "little")
        + (WAV_RATE * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little")          # block align
        + (16).to_bytes(2, "little")         # bits
        + b"data"
        + len(pcm).to_bytes(4, "little")
    )
    return hdr + pcm


def synth_media(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests/benchmarks.  Image rows
    carry REAL binary-PPM payloads and audio rows REAL RIFF/PCM16 WAV
    payloads (both decoded for real); video payloads stay opaque hash
    bytes behind the fake path."""
    rows = []
    for i in range(n):
        h = hashlib.md5(f"{seed}|media|{i}".encode()).digest()
        mtype = ["image", "audio", "video"][i % 3]
        if mtype == "image":
            meta = (PPM_W, PPM_H, None, "image/x-portable-pixmap")
            payload = synth_ppm_payload(seed, i)
        elif mtype == "audio":
            meta = (None, None, WAV_N * 1000 // WAV_RATE, "audio/wav")
            payload = synth_wav_payload(seed, i)
        else:
            meta = (None, None, 1000 * (1 + h[2] % 10), f"{mtype}/bin")
            payload = h * 4
        rows.append((f"m{i}", mtype, payload, meta))
    return local_df(spark, rows, MEDIA_SCHEMA)
