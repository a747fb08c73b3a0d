"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed via Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the decode kernels are STUBS:
``decode='fake'`` produces a deterministic feature vector from the bytes
(xxhash-seeded — stable for tests), ``decode='real'`` raises
NotImplementedError with the library it would use.  Everything around the
kernel — schema, batch iteration, partition sizing, output contract — is
real Spark plumbing and is tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)


def synthesize_media(spark, n: int = 100) -> DataFrame:
    """Deterministic fake media table (binary payload = hash bytes)."""
    df = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.xxhash64("id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.sha2(F.col("id").cast("string"), 256).cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.pmod(F.xxhash64("id", F.lit("w")), F.lit(1920)) + 1).cast("int").alias("width"),
        (F.pmod(F.xxhash64("id", F.lit("h")), F.lit(1080)) + 1).cast("int").alias("height"),
        (F.pmod(F.xxhash64("id", F.lit("d")), F.lit(600000)) + 1).cast("int").alias("duration_ms"),
    )
    return df


def _fake_features(payload: bytes, dim: int) -> list:
    """Deterministic unit-norm feature vector derived from payload bytes."""
    h = hashlib.sha256(payload or b"").digest()
    vals = []
    for i in range(dim):
        b = h[(i * 2) % len(h)] << 8 | h[(i * 2 + 1) % len(h)]
        vals.append((b / 32767.5) - 1.0)
    norm = sum(v * v for v in vals) ** 0.5 or 1.0
    return [v / norm for v in vals]


def extract_features(
    media: DataFrame, dim: int = 16, decode: str = "fake", batch_note: bool = False
) -> DataFrame:
    """media → (media_id, kind, feature array<double>) via mapInPandas.

    Real Spark plumbing: Arrow batch iteration, stable output schema,
    per-batch vectorized kernel.  ``decode='real'`` documents the codec
    dependency without pretending it exists here.
    """
    if decode == "real":
        raise NotImplementedError(
            "media decode requires Pillow/torchaudio/ffmpeg — not present in "
            "this container; run with decode='fake' for the deterministic stub"
        )

    out_schema = "media_id bigint, kind string, feature array<double>"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [ _fake_features(p, dim) for p in pdf["payload"] ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(gen, out_schema)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: (media_id, frame_ts_ms) rows — JVM-side
    sequence explode; the decode of each frame is the stubbed kernel."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )
