"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode / feature-extract / resize / frame-sample as Arrow-batched
``mapInPandas`` stages.

The decode is a deterministic fake: geometry and an 8-dim feature come
from the payload's byte length, so the DuckDB oracles can reproduce
them from ``n_chars`` arithmetic.  The Spark-side plumbing is real and
tested: the binary column schema, the mapInPandas batch shape, the
metadata struct, and the partitioning all match what a production
decode stage needs; a real codec would replace ``_fake_decode`` inside
the same ``mapInPandas`` stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, payload binary, media_type string, "
    "meta struct<n_bytes:long, declared_kind:string>"
)

DECODED_SCHEMA = (
    "media_id long, media_type string, n_bytes long, "
    "width int, height int, n_frames int, feature array<float>"
)


def pack_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build an opaque binary media table from a text column (stand-in
    payload): payload = utf-8 bytes, typed metadata struct alongside."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col(id_col).cast("long"), F.lit(3)) + 1).cast("int"),
        ).alias("media_type"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lit("synthetic").alias("declared_kind"),
        ).alias("meta"),
    )


def _fake_decode(payload: pd.Series, media_type: pd.Series) -> pd.DataFrame:
    """Deterministic fake decode: geometry derived from byte length so the
    DuckDB oracle can reproduce it from n_chars arithmetic."""
    n_bytes = payload.str.len().astype("int64")
    width = (n_bytes % 640 + 16).astype("int32")
    height = (n_bytes % 480 + 16).astype("int32")
    n_frames = np.where(media_type.to_numpy() == "video", (n_bytes % 30 + 1), 1).astype(
        "int32"
    )
    return pd.DataFrame(
        {"n_bytes": n_bytes, "width": width, "height": height, "n_frames": n_frames}
    )


def decode_media(df: DataFrame) -> DataFrame:
    """Decode + feature-extract stage over ``mapInPandas``: the
    deterministic fake decode, so the plumbing (schema, batching,
    vectorization) is exercised end-to-end with byte-reproducible
    output."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            geo = _fake_decode(pdf["payload"], pdf["media_type"])
            # 8-dim fake feature vector: scaled byte-length harmonics
            base = geo["n_bytes"].to_numpy(dtype=np.float64)
            feats = np.stack(
                [np.cos(base / (i + 1.0)) for i in range(8)], axis=1
            ).astype(np.float32)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": geo["n_bytes"],
                    "width": geo["width"],
                    "height": geo["height"],
                    "n_frames": geo["n_frames"],
                    "feature": list(feats),
                }
            )

    # ship ONLY the columns the decoder touches across the Arrow
    # boundary — Spark cannot see inside the Python function, so an
    # un-projected mapInPandas would serialize every input column
    # (e.g. the meta struct) per row for nothing (guide §4 rule)
    return df.select("media_id", "payload", "media_type").mapInPandas(
        decode, schema=DECODED_SCHEMA
    )


def frame_sample(decoded: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: explode sampled frame indexes
    (0, n, 2n, ...) — pure Spark, no Python."""
    return (
        decoded.filter(F.col("media_type") == "video")
        .withColumn(
            "frame_idx",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_frames") - 1, F.lit(every_n)
                )
            ),
        )
        .select("media_id", "frame_idx", "width", "height")
    )
