"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode/feature extraction as an Arrow-batched
``mapInPandas`` stage.

The sandbox has no image/audio codecs, so the *decode* step is a
deterministic fake (clearly marked) — the Spark-side plumbing (schema,
partition flow, UDF signatures, Arrow batch shapes) is real and tested.
Swap ``_decode_fake`` for a PIL/libav call in production; nothing else
changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),      # image | audio | video
        StructField("payload", BinaryType()),   # opaque encoded bytes
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.integers(0, 256, size=128 + (i % 5) * 64, dtype=np.uint8).tobytes()
        rows.append(
            (
                f"m{i:05d}",
                kind,
                bytearray(payload),
                int(rng.integers(64, 1920)) if kind != "audio" else 0,
                int(rng.integers(64, 1080)) if kind != "audio" else 0,
                int(rng.integers(1000, 60000)) if kind != "image" else 0,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _decode_fake(payload: bytes, out_dim: int) -> np.ndarray:
    """DETERMINISTIC FAKE decode: sha256-seeded pseudo-features.

    Production: replace with a real codec (PIL.Image.open /
    soundfile.read / av.open). NotImplementedError intentionally NOT
    raised so the distributed plumbing stays exercisable end-to-end.
    """
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "little")
    rng = np.random.default_rng(seed)
    return rng.normal(size=out_dim).astype("float32")


def extract_features(media: DataFrame, out_dim: int = 32) -> DataFrame:
    """Decode + feature-extract per Arrow batch → (media_id, kind, feat)."""
    schema = "media_id string, kind string, feat array<float>"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats = [
                _decode_fake(bytes(p), out_dim).tolist() for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": pdf["kind"], "feat": feats}
            )

    return media.select("media_id", "kind", "payload").mapInPandas(fn, schema)
