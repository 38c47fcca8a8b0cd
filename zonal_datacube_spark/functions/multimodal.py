"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The container has no image/audio codecs, so the *decode* kernel is a
deterministic fake — what is real and tested is everything Spark-side:

- schema: ``binary`` payload + typed metadata struct;
- partition-safe batch iteration via ``mapInPandas`` (one Arrow batch in,
  one out — payloads never concatenated into a single driver object);
- UDF signatures shaped so a real codec drops in without touching the
  plan (swap ``_fake_decode_rgb_stats`` for a PIL/libsndfile call).

At 100 TB: binary payloads dominate row size → keep
``spark.sql.files.maxPartitionBytes`` sized so one partition of payloads
fits executor memory, and select metadata columns *before* shuffles so the
binary never travels through an exchange it doesn't need to.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

MEDIA_SCHEMA = (
    "media_id BIGINT, kind STRING, payload BINARY, "
    "meta STRUCT<width INT, height INT, sample_rate INT, n_frames INT>"
)

DECODE_OUT_SCHEMA = (
    "media_id BIGINT, kind STRING, n_bytes BIGINT, "
    "mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE"
)


def synthetic_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes) standing in
    for an object-store-backed binary column."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = hashlib.sha256(f"media-{i}".encode()).digest() * 4  # 128 B
        meta = (64, 48, None, None) if kind == "image" else (
            (None, None, 16000, None) if kind == "audio" else (None, None, None, 120)
        )
        rows.append((i, kind, bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_decode_rgb_stats(payload: bytes) -> tuple[float, float, float]:
    """STUB decode: a real implementation would decode the image and
    average channels; the deterministic fake folds bytes mod 3 so tests
    have stable expected values. Swap body for PIL/cv2 when available."""
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    return (
        float(arr[0::3].mean()),
        float(arr[1::3].mean()),
        float(arr[2::3].mean()),
    )


def decode_media_stats(df: DataFrame) -> DataFrame:
    """mapInPandas decode pipeline: Arrow-batched, per-partition streaming —
    the pattern for any per-payload feature extraction."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            stats = pdf["payload"].map(_fake_decode_rgb_stats)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "mean_r": stats.map(lambda t: t[0]),
                    "mean_g": stats.map(lambda t: t[1]),
                    "mean_b": stats.map(lambda t: t[2]),
                }
            )

    return df.mapInPandas(batches, DECODE_OUT_SCHEMA)
