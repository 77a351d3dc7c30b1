"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio decode libraries are absent in this container, so the decode
kernel is a deterministic stub (clearly marked) — but the Spark-side
plumbing is real and tested: binary columns, Arrow-batched mapInPandas with
a struct schema, partition-preserving flow, bounded batch sizes (binary
payloads make record-count batching matter).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .qreg import load, register

MEDIA_META = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("media_type", StringType(), False),
        StructField("checksum", LongType(), False),
        StructField("feature", ArrayType(FloatType(), False), False),
    ]
)


def _decode_stub(payload: bytes) -> tuple[str, list[float]]:
    """STUB — stands in for PIL/librosa/ffmpeg decode (libs absent in this
    container). Deterministic fake: media type from magic-byte heuristic,
    'feature' = 4 byte-histogram moments. Swap this single function for the
    real decoder in production; everything around it (schema, batching,
    partitioning) is the real pipeline."""
    mt = "image/png" if payload[:4] == b"\x89PNG" else "application/octet-stream"
    if not payload:
        return mt, [0.0, 0.0, 0.0, 0.0]
    n = float(len(payload))
    s = sum(payload)
    mean = s / n
    var = sum((b - mean) ** 2 for b in payload[:256]) / min(n, 256.0)
    return mt, [n, float(s % 65521), round(mean, 3), round(var, 3)]


def extract_media_meta(df: DataFrame) -> DataFrame:
    """mapInPandas over (doc_id, payload binary) -> typed metadata + feature vector.
    Arrow ships binary columns zero-copy; batches stay bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            metas = [_decode_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "media_type": [m[0] for m in metas],
                    "checksum": [zlib.crc32(p) for p in pdf["payload"]],
                    "feature": [m[1] for m in metas],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(run, MEDIA_META)


@register("multimodal_media_meta", sql=None)  # binary plumbing -> rows-only
def multimodal_media_meta(spark, sf):
    # synthesize the binary column from text (no media files in sandbox);
    # the downstream plumbing is exactly what a real image column would use.
    # The driver canonicalizes collected results via pandas hashing, which
    # cannot hash a bare array<float> (round-2 'unhashable type: list'
    # error) — so the registry entry surfaces the feature vector as a
    # deterministic fixed-format string, exactly like scan_dict's
    # aliases_str. Library users call extract_media_meta and keep the array.
    d = load(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    out = extract_media_meta(d)
    return out.select(
        "doc_id",
        "n_bytes",
        "media_type",
        "checksum",
        F.array_join(
            F.transform("feature", lambda x: F.format_string("%.3f", x.cast("double"))),
            "|",
        ).alias("feature_str"),
    )
