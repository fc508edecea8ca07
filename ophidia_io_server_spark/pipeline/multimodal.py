"""Multimodal columns: opaque binary payloads with typed metadata, processed
through Arrow-batched ``mapInPandas`` pipelines.

No image/audio codec is a dependency, so the *decode* kernels are
explicitly stubbed with deterministic fake features, while
everything Spark-side — schema, batching, partitioning, UDF signatures — is
real and tested.  Swapping the stub for PIL/librosa is a one-function change.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("payload_bytes", LongType()),
    StructField("features", ArrayType(DoubleType())),
])


def attach_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 payload as an opaque binary column
    plus typed metadata (media_type, payload length).  In production this is
    the image/audio bytes column of the lakehouse table."""
    from ophidia_io_server_spark.sources.tables import spread

    payload = F.encode(F.col(text_col), "utf-8")
    return spread(docs).select(
        "doc_id",
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
        F.length(payload).cast("bigint").alias("payload_bytes"),
    )


def _stub_features(payload: bytes) -> list[float]:
    """Deterministic fake feature vector standing in for decode+embed:
    [byte length, first byte, last byte, byte-sum mod 997]."""
    if len(payload) == 0:
        return [0.0, 0.0, 0.0, 0.0]
    arr = np.frombuffer(payload, dtype=np.uint8)
    return [
        float(arr.size),
        float(arr[0]),
        float(arr[-1]),
        float(int(arr.sum()) % 997),
    ]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    The Arrow batch iteration, output schema and per-partition processing are
    the production shape; only the per-payload kernel is stubbed.  Batch size
    is governed by ``spark.sql.execution.arrow.maxRecordsPerBatch``
    (session.py sets 10k — for multi-MB media payloads tune it down so a
    batch stays within executor memory)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "payload_bytes": pdf["payload_bytes"],
                "features": pdf["payload"].map(lambda b: _stub_features(bytes(b))),
            })

    return media.mapInPandas(process, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_nth: int = 10) -> DataFrame:
    """Video-frame-sampling plumbing: emit (doc_id, frame_idx) rows for every
    n-th 1KB chunk of the payload — the partition/explode shape of real frame
    extraction with the decoder stubbed out."""
    n_frames = F.greatest((F.col("payload_bytes") / 1024).cast("long"), F.lit(1))
    idx = F.sequence(F.lit(0), n_frames - 1)
    return media.select(
        "doc_id",
        F.explode(F.filter(idx, lambda i: i % every_nth == 0)).alias("frame_idx"),
    )


RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("out_h", LongType()),
    StructField("out_w", LongType()),
    StructField("channels", LongType()),
    StructField("resized", BinaryType()),
])


def _stub_resize(payload: bytes, h: int, w: int, channels: int = 3) -> bytes:
    """Deterministic fake of decode→resize→re-encode: nearest-neighbour
    sample of the raw payload bytes onto an h×w×c grid (so output size and
    content are a pure function of the input — testable plumbing).  The real
    kernel replaces this with PIL/opencv decode + interpolation."""
    n = h * w * channels
    if len(payload) == 0:
        return bytes(n)
    src = np.frombuffer(payload, dtype=np.uint8)
    idx = (np.arange(n, dtype=np.int64) * len(src)) // n
    return src[idx].tobytes()


def resize_media(media: DataFrame, height: int = 32, width: int = 32,
                 channels: int = 3) -> DataFrame:
    """mapInPandas resize over binary payloads — the batch-transform shape of
    image preprocessing at scale: payloads stay executor-side (never a
    driver collect), each Arrow batch maps to fixed-size output buffers of
    h·w·c bytes, and typed output metadata travels with the bytes.  Only the
    pixel kernel is stubbed (no codec libs in this container); the schema,
    batching and size contracts are the production ones."""
    if height <= 0 or width <= 0 or channels <= 0:
        raise ValueError("resize dimensions must be positive")

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "out_h": np.full(len(pdf), height, dtype=np.int64),
                "out_w": np.full(len(pdf), width, dtype=np.int64),
                "channels": np.full(len(pdf), channels, dtype=np.int64),
                "resized": pdf["payload"].map(
                    lambda b: _stub_resize(bytes(b), height, width, channels)),
            })

    return media.mapInPandas(process, schema=RESIZE_SCHEMA)
