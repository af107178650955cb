"""Multimodal plumbing: binary payload columns through mapInPandas.

There is no decode step (no codec library is available); what's under
test is the Spark-side contract — schema, payload pruning before
the Python boundary, Arrow batch iteration, deterministic byte-level
features, frame-plan/frame-bytes agreement.
"""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.multimodal import (
    frame_offsets,
    frame_sample,
    media_features,
)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "media.parquet"))


def test_media_features_match_python(media):
    out = media_features(media).collect()
    raw = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert len(out) == len(raw)
    for r in out:
        buf = raw[r["media_id"]]
        assert r["n_bytes"] == len(buf)
        assert r["payload_hash"] == hashlib.md5(buf.hex().encode()).hexdigest()
        assert abs(r["mean_byte"] - sum(buf) / len(buf)) < 1e-9


def test_feature_output_drops_payload(media):
    # downstream shuffles must not carry media bytes
    assert "payload" not in media_features(media).columns


def test_frame_sample_agrees_with_offset_plan(media):
    plan = {
        (r["media_id"], r["frame_no"]): (r["byte_offset"], r["frame_len"])
        for r in frame_offsets(media, k=4).collect()
    }
    frames = frame_sample(media, k=4).collect()
    assert len(frames) == len(plan)
    raw = {
        r["media_id"]: bytes(r["payload"])
        for r in media.filter(F.col("media_type") == "video").collect()
    }
    for fr in frames:
        off, flen = plan[(fr["media_id"], fr["frame_no"])]
        assert fr["byte_offset"] == off
        assert fr["frame_len"] == flen
        buf = raw[fr["media_id"]]
        assert bytes(fr["frame_bytes"]) == buf[off : off + flen]


def test_frame_counts_bounded_by_k_and_n_frames(media):
    per = (
        frame_sample(media, k=4)
        .groupBy("media_id")
        .count()
        .collect()
    )
    nf = {
        r["media_id"]: r["n_frames"]
        for r in media.filter(F.col("media_type") == "video").collect()
    }
    for r in per:
        assert 1 <= r["count"] <= min(4, nf[r["media_id"]])
