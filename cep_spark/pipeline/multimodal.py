"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A 100-TB training-data pipeline carries image/audio/video as `binary`
columns beside typed metadata, and runs decode / feature-extraction /
resize / frame-sampling as Arrow-batched Pandas UDFs over
`mapInPandas`.  The image/audio codec libraries are NOT in this
container, so the decode kernels are STUBBED — `decode_image` raises
`NotImplementedError` unless the deterministic fake decoder is chosen —
while everything Spark-side (schema, batch iteration, partition-size
control, UDF signatures) is real and tested.

Design rules encoded here:
* binary payloads NEVER pass through a row-at-a-time Python UDF — only
  `mapInPandas` (Arrow batches) touches them;
* metadata-only predicates are evaluated BEFORE the decode stage so
  Catalyst prunes/filters on the cheap columns and the binary column is
  only materialized for surviving rows (`spark.sql.parquet.columnIndex`
  + column pruning make this nearly free on Parquet);
* `spark.sql.execution.arrow.maxRecordsPerBatch` bounds decode batch
  memory: payload_size x batch_rows is the working set.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd

MEDIA_SCHEMA_DDL = (
    "media_id bigint, kind string, width int, height int, "
    "duration_ms int, payload binary"
)
FEATURE_DIM = 8


def synth_media(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic fake media table (no real codecs in the sandbox):
    payload = seeded pseudo-random bytes, metadata consistent."""
    rng = np.random.default_rng(seed)
    kinds = np.array(["image", "audio", "video"])[rng.integers(0, 3, n)]
    width = np.where(kinds == "audio", 0, rng.integers(16, 256, n)).astype("int32")
    height = np.where(kinds == "audio", 0, rng.integers(16, 256, n)).astype("int32")
    duration = np.where(kinds == "image", 0, rng.integers(100, 60000, n)).astype("int32")
    payloads = [rng.integers(0, 256, int(64 + rng.integers(0, 192)), dtype=np.uint8).tobytes() for _ in range(n)]
    return pd.DataFrame(
        {
            "media_id": np.arange(n, dtype=np.int64),
            "kind": kinds,
            "width": width,
            "height": height,
            "duration_ms": duration,
            "payload": payloads,
        }
    )


# ---------------------------------------------------------------------------
# decode kernels (Pandas-level; called from mapInPandas)


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode an image payload to HxWx3 uint8.

    The real path needs an image codec (Pillow / libjpeg) which is not
    installed in this container — STUB.  ``fake=True`` yields a
    deterministic pseudo-decode so the downstream plumbing is testable.
    """
    if not fake:
        raise NotImplementedError(
            "image codecs are not available in this environment; "
            "use fake=True for the deterministic test decoder"
        )
    h = hashlib.sha256(payload).digest()
    side = 4
    arr = np.frombuffer((h * ((side * side * 3) // len(h) + 1))[: side * side * 3], dtype=np.uint8)
    return arr.reshape(side, side, 3)


def extract_features(payload: bytes) -> list[float]:
    """Deterministic FEATURE_DIM-dim feature vector from the payload
    bytes (sha256-seeded) — the stand-in for a real embedding model."""
    h = hashlib.sha256(payload).digest()
    vals = struct.unpack("<8f", h[:32])
    # normalize to finite small floats (raw bit patterns can be inf/nan)
    out = []
    for i, v in enumerate(vals):
        if not np.isfinite(v):
            v = float(h[i]) / 255.0
        out.append(round(float(max(min(v, 1e6), -1e6)), 6))
    return out


# ---------------------------------------------------------------------------
# Spark-side stages


def media_features(df):
    """mapInPandas feature extraction: binary in, compact features out.

    Output drops the payload (the heavy column dies at this stage — at
    scale this is the column-pruning boundary)."""
    from pyspark.sql import types as T

    from .._serde import ensure_shippable

    ensure_shippable(df.sparkSession)

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "features": pdf["payload"].map(extract_features),
                }
            )

    return df.mapInPandas(gen, schema=out_schema)


def sample_frames(df, every_ms: int = 1000):
    """Frame-sampling plumbing for video rows: one output row per
    sampled frame offset (the decode itself is the stubbed kernel).
    Metadata-only math — computed BEFORE any decode, so the planner can
    size the decode stage by the exploded row count."""
    from pyspark.sql import functions as F

    v = df.filter(F.col("kind") == "video")
    return v.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
        ).alias("frame_ms"),
    )


def resize_plan(df, max_side: int = 64):
    """Resize planning: pure metadata arithmetic (built-in functions);
    the actual pixel resample would live in the decode mapInPandas."""
    from pyspark.sql import functions as F

    scale = F.least(
        F.lit(1.0),
        F.lit(max_side) / F.greatest(F.col("width"), F.col("height"), F.lit(1)),
    )
    return df.filter(F.col("kind") != "audio").select(
        "media_id",
        "width",
        "height",
        F.floor(F.col("width") * scale).cast("int").alias("out_w"),
        F.floor(F.col("height") * scale).cast("int").alias("out_h"),
    )
