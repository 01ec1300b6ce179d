"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The container has no image/audio codecs, so the DECODE step is stubbed
behind `set_decoder(...)` (default: deterministic fake that derives pixel
stats from the bytes; a real deployment plugs in PIL/ffmpeg).  Everything
Spark-side — schemas, batching, mapInPandas signatures, partition-size
control — is real and tested (per round-1 instructions: stub the codec,
make the plumbing real).

Operators:
  attach_media     — wrap a binary column with typed metadata struct
  decode_features  — mapInPandas batch decode -> fixed-size feature vector
  frame_sample     — deterministic frame/chunk offsets for av payloads
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FEATURE_DIM = 16


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a real decoder: feature vector derived
    from a SHA-256 of the bytes.  Raises on empty payload like a codec
    would on a truncated file."""
    if not payload:
        raise ValueError("empty media payload")
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer(digest * ((_FEATURE_DIM * 4) // len(digest) + 1),
                        dtype=np.uint32)[:_FEATURE_DIM]
    return (raw / np.float64(2 ** 32)).astype(np.float32)


_decoder: Callable[[bytes], np.ndarray] = _fake_decode


def set_decoder(fn: Callable[[bytes], np.ndarray]) -> None:
    """Plug in a real decoder (PIL/torchvision/ffmpeg wrapper).  Must map
    bytes -> float32 feature vector of length 16."""
    global _decoder
    _decoder = fn


def attach_media(df: DataFrame, binary_col: str = "html",
                 media_type: str = "text/html") -> DataFrame:
    """Typed media metadata (struct) next to the opaque binary column —
    native exprs only (sha2 + length stay JVM-side)."""
    meta = F.struct(
        F.lit(media_type).alias("media_type"),
        F.length(F.col(binary_col)).cast("long").alias("n_bytes"),
        F.sha2(F.col(binary_col), 256).alias("sha256"))
    return df.withColumn("media_meta", meta)


def decode_features(df: DataFrame, binary_col: str = "html",
                    id_col: str = "url",
                    batch_rows: int = 1024) -> DataFrame:
    """mapInPandas batch decode: (id, binary) -> (id, features array<float>,
    decode_error string nullable).  Errors are captured per row, never
    fail the task — at 10^12 rows some payloads WILL be corrupt."""
    schema = T.StructType([
        T.StructField(id_col, T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("decode_error", T.StringType()),
    ])

    def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start:start + batch_rows]
                feats, errs = [], []
                for payload in chunk[binary_col]:
                    try:
                        feats.append(_decoder(bytes(payload)).tolist())
                        errs.append(None)
                    except Exception as exc:  # noqa: BLE001 codec errors vary
                        feats.append(None)
                        errs.append(f"{type(exc).__name__}: {exc}")
                yield pd.DataFrame({id_col: chunk[id_col].to_numpy(),
                                    "features": feats,
                                    "decode_error": errs})

    return df.select(id_col, binary_col).mapInPandas(decode_batches, schema)


def frame_sample(df: DataFrame, n_bytes_col: str = "media_meta.n_bytes",
                 every_bytes: int = 4096, max_frames: int = 8) -> DataFrame:
    """Deterministic frame/chunk sample offsets for a/v payloads — pure
    native exprs (sequence + slice); the actual frame decode goes through
    decode_features on the sliced bytes in a real deployment."""
    n = F.col(n_bytes_col)
    n_frames = F.least(F.greatest((n / every_bytes).cast("int"), F.lit(1)),
                       F.lit(max_frames))
    offsets = F.transform(F.sequence(F.lit(0), n_frames - 1),
                          lambda i: (i * (n / n_frames.cast("double")))
                          .cast("long"))
    return df.withColumn("frame_offsets", offsets)


def perceptual_hash(df: DataFrame, binary_col: str = "html",
                    id_col: str = "url",
                    batch_rows: int = 1024) -> DataFrame:
    """aHash-style perceptual fingerprint over decoded media features —
    the image near-dup primitive (mean-threshold bit signature, one bit
    per feature dimension, Hamming distance == visual distance under a
    real decoder).  Emits (id, phash long, n_set long, decode_error).

    Bit rule, integer-exact by construction: quantize each feature to
    q_i = floor(float64(f_i) * 2^24) (exact for f in [0,1) — the scale
    is a power of two, so no rounding enters), then set bit i iff
    dim * q_i > sum(q) STRICTLY — the mean threshold without a float
    division.  Under the deterministic fake decoder the whole chain is
    arithmetic-reproducible from sha256 of the payload, which is what
    the driver oracle replays bit for bit; under a real decoder the
    same rule applies to real features.

    100-TB shape: same contract as decode_features — one Arrow-batched
    mapInPandas pass, per-row error capture (corrupt payloads flag, not
    fail), binary never outlives the kernel projection.
    """
    schema = T.StructType([
        T.StructField(id_col, T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("n_set", T.LongType()),
        T.StructField("decode_error", T.StringType()),
    ])

    def hash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start:start + batch_rows]
                ph, ns, errs = [], [], []
                for payload in chunk[binary_col]:
                    try:
                        f = _decoder(bytes(payload))
                        q = np.floor(f.astype(np.float64)
                                     * (1 << 24)).astype(np.int64)
                        bits = (len(q) * q) > int(q.sum())
                        ph.append(int(sum(1 << i
                                          for i, b in enumerate(bits) if b)))
                        ns.append(int(bits.sum()))
                        errs.append(None)
                    except Exception as exc:  # noqa: BLE001
                        ph.append(None)
                        ns.append(None)
                        errs.append(f"{type(exc).__name__}: {exc}")
                yield pd.DataFrame({id_col: chunk[id_col].to_numpy(),
                                    "phash": pd.array(ph, dtype="Int64"),
                                    "n_set": pd.array(ns, dtype="Int64"),
                                    "decode_error": errs})

    return df.select(id_col, binary_col).mapInPandas(hash_batches, schema)
