"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched ``mapInPandas`` stages.

North-star extension (BASELINE.json). No image/audio codec is in the
dependency set, so the DECODE step is ``decode_features``, a
deterministic byte-level stand-in — but everything Spark-side is real
and tested: the binary schema, the Arrow batch transfer, the
mapInPandas signature, partitioning behavior, and the explode shape for
frame sampling.

Scale design: binary payloads never pass through Python row-at-a-time —
mapInPandas streams Arrow record batches, so a 100 TB asset table is
processed at batch granularity with bounded memory
(spark.sql.execution.arrow.maxRecordsPerBatch controls peak batch size).
Metadata-only predicates (format, n_bytes) stay relational and push down
to the scan without touching payload bytes (parquet column pruning).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("head_byte", T.LongType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def attach_payload(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Materialize an asset table (asset_id, format, payload BINARY) from the
    documents fixture — the stand-in for reading real image/audio bytes.
    ``format`` is metadata a real ingest would carry alongside the blob."""
    return df.select(
        F.col(id_col).alias("asset_id"),
        F.when(F.col(id_col) % 3 == 0, "png")
        .when(F.col(id_col) % 3 == 1, "jpeg")
        .otherwise("wav")
        .alias("format"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def decode_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (the decode /
    feature-extract stage shape). Deterministic stand-in features:
    byte length, md5 digest, first byte."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "format": pdf["format"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "payload_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                    "head_byte": payloads.map(lambda b: b[0] if len(b) else -1).astype("int64"),
                }
            )

    return assets.mapInPandas(extract, FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes_resized", T.LongType()),
        T.StructField("resized_md5", T.StringType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def resize_assets(assets: DataFrame, stride: int = 4) -> DataFrame:
    """Resize/downsample stage shape: a codec-backed deployment decodes
    and rescales pixels here (after ``decode_features``); the deterministic
    stand-in keeps every ``stride``-th payload byte — same Arrow-batched
    plumbing, same output contract (smaller binary + metadata)."""

    def shrink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pdf["payload"].map(lambda b: bytes(b[::stride]))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "format": pdf["format"],
                    "n_bytes_resized": resized.map(len).astype("int64"),
                    "resized_md5": resized.map(lambda b: hashlib.md5(b).hexdigest()),
                    "resized": resized,
                }
            )

    return assets.mapInPandas(shrink, RESIZE_SCHEMA)


def frame_sample(assets: DataFrame, frame_size: int = 64, every: int = 4) -> DataFrame:
    """Frame-sampling stage shape for video-like payloads: split the blob
    into fixed-size frames, keep every k-th, explode to one row per frame."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "frame_md5": [], "frame_bytes": []}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                for idx in range(0, max(1, len(payload) // frame_size), every):
                    chunk = bytes(payload[idx * frame_size : (idx + 1) * frame_size])
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(idx)
                    out["frame_md5"].append(hashlib.md5(chunk).hexdigest())
                    out["frame_bytes"].append(chunk)
            yield pd.DataFrame(out)

    return assets.mapInPandas(frames, FRAME_SCHEMA)
