"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed through Arrow-batched mapInPandas.

There is no media codec: the feature vector is a deterministic stand-in
derived from the payload's sha256 (``_feature``). The Spark-side plumbing
— binary schema, metadata columns, partition-preserving UDF signature,
Arrow batch shape — is what the ``media_features_meta`` query checks; a
real decoder would replace ``_feature`` only.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 8


def asset_table(documents: DataFrame) -> DataFrame:
    """Synthesize a media table from documents: text bytes stand in for
    encoded media payloads (binary column, typed metadata)."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return documents.select(
        F.concat(F.lit("m"), F.col("doc_id")).alias("media_id"),
        kind.alias("kind"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),  # binary
    )


def _feature(payload: bytes) -> np.ndarray:
    """Deterministic stand-in decode: the payload's sha256 as FEATURE_DIM
    floats in [0, 1)."""
    import hashlib

    h = hashlib.sha256(payload or b"").digest()
    return np.frombuffer(h[: FEATURE_DIM * 4], dtype="<u4").astype("float32") / 2**32


def extract_features(media: DataFrame) -> DataFrame:
    """Binary -> fixed-dim feature vector via Arrow-batched mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_feature(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "feature": [f.tolist() for f in feats],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )
