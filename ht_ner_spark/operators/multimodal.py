"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schemas, partition-preserving
Arrow batches, UDF signatures, batch shapes. The actual codec work is stubbed
(this container has no image/audio libraries): ``decode_media(real=True)``
raises NotImplementedError; the default path produces DETERMINISTIC fake
features derived from the bytes, so downstream operators (dedup by content
digest, feature joins) are exercised end-to-end.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),      # image | audio | video
        StructField("mime", StringType(), False),
        StructField("payload", BinaryType(), False),    # opaque bytes
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURES = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("content_sha256", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(DoubleType()), False),  # 16-dim
    ]
)


def synthetic_media(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: payload = repeated sha256 stream."""
    kinds = ["image", "audio", "video"]
    mimes = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        base = hashlib.sha256(f"{seed}:{i}".encode()).digest()
        payload = (base * (4 + i % 4))[: 64 + (i % 96)]
        rows.append(
            (
                i, kind, mimes[kind], bytearray(payload),
                64 + i % 512 if kind != "audio" else None,
                64 + (i * 7) % 512 if kind != "audio" else None,
                1000 + i * 33 if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA)


def extract_features(media: DataFrame, real_decode: bool = False) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches.

    real_decode=True is the production path (PIL/torchaudio/ffmpeg, loaded
    once per executor) — STUB: raises NotImplementedError in this container.
    The default path computes a deterministic 16-bin byte histogram, so the
    batch shape, schema, and partitioning behavior are fully exercised.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if real_decode:
            raise NotImplementedError(
                "media decode requires PIL/torchaudio/ffmpeg — unavailable in "
                "this container; production deployments plug the codec in here"
            )
        for pdf in batches:
            feats, shas, sizes = [], [], []
            for payload in pdf["payload"]:
                b = bytes(payload)
                shas.append(hashlib.sha256(b).hexdigest())
                sizes.append(len(b))
                # vectorized over the payload: real media rows are MBs each,
                # so a per-byte Python loop here would be the row-at-a-time
                # anti-pattern inside an otherwise Arrow-batched UDF
                hist = np.bincount(
                    np.frombuffer(b, dtype=np.uint8) >> 4, minlength=16
                ).astype(np.float64)
                feats.append((hist / max(len(b), 1)).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "content_sha256": shas,
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "features": feats,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(run, FEATURES)
