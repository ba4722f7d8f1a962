"""Multimodal plumbing: binary schema, Arrow batch transfer, frame explode."""

from __future__ import annotations

import hashlib

from flink_uba_spark.operators.multimodal import (
    attach_payload,
    decode_features,
    frame_sample,
)
from flink_uba_spark.queries import datapipe
from flink_uba_spark.sources.readers import load_testdata
from tests.conftest import assert_matches_oracle


def test_decode_features_matches_oracle(spark, duck, sf_dir):
    assert_matches_oracle(
        datapipe.multimodal_decode(spark, sf_dir), duck, datapipe.ORACLES["multimodal_decode"]
    )


def test_payload_is_binary(spark, sf_dir):
    assets = attach_payload(load_testdata(spark, sf_dir, ("documents",))["documents"])
    assert dict(assets.dtypes)["payload"] == "binary"
    row = assets.orderBy("asset_id").first()
    assert isinstance(row.payload, bytearray | bytes)


def test_frame_sample_shape(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, ("documents",))["documents"].limit(5)
    assets = attach_payload(docs)
    frames = frame_sample(assets, frame_size=16, every=2).collect()
    assert len(frames) > 5  # multiple frames per asset
    f0 = next(f for f in frames if f.frame_idx == 0)
    payload = next(a.payload for a in assets.collect() if a.asset_id == f0.asset_id)
    assert f0.frame_md5 == hashlib.md5(bytes(payload[:16])).hexdigest()
    assert f0.frame_bytes == bytes(payload[:16])

