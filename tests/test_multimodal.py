"""Multimodal plumbing tests: schema, Arrow batch shape, resize header
and meta update, feature extraction, frame sampling."""

from __future__ import annotations

import struct

import pytest

from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    MEDIA_SCHEMA,
    extract_features,
    resize_media,
    sample_frames,
)


def synth_media(spark, n: int = 64, partitions: int = 4):
    """Deterministic fake media table: payload bytes derived from asset_id,
    a ``SYNT`` + big-endian u16 width/height header the operators rewrite.
    Stands in for a parquet table with a binary column."""
    rows = []
    for i in range(n):
        w, h = 16 + (i % 8) * 4, 16 + (i % 5) * 4
        kind = ("image", "audio", "video")[i % 3]
        body = bytes((i * 31 + j * 7) % 256 for j in range(w * h % 97 + 32))
        content = b"SYNT" + struct.pack(">HH", w, h) + body
        meta = (w, h, 16000 if kind == "audio" else None, 30 if kind == "video" else None, "synt")
        rows.append((i, kind, bytearray(content), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(partitions, "asset_id")


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, n=30, partitions=3).cache()


def test_media_schema(media):
    assert media.schema == MEDIA_SCHEMA
    assert media.rdd.getNumPartitions() == 3


def test_resize_media(media):
    out = resize_media(media, 8, 8)
    assert out.schema == MEDIA_SCHEMA
    rows = out.collect()
    assert len(rows) == 30
    for r in rows:
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 8
        # the rewritten header agrees with meta; the body is resized to
        # the target length
        content = bytes(r["content"])
        assert content[:4] == b"SYNT"
        assert struct.unpack(">HH", content[4:8]) == (8, 8)
        assert len(content) == 8 + 8 * 8 % 97 + 32


def test_extract_features(media):
    out = extract_features(media, dim=8)
    assert out.schema == FEATURE_SCHEMA
    rows = {r["asset_id"]: r["features"] for r in out.collect()}
    assert len(rows) == 30
    for feats in rows.values():
        assert len(feats) == 8
        # L1-normalized histogram
        assert abs(sum(feats) - 1.0) < 1e-9
        assert all(f >= 0.0 for f in feats)
    # deterministic: same input → same vector
    again = {r["asset_id"]: r["features"] for r in extract_features(media, dim=8).collect()}
    assert rows == again


def test_sample_frames(media):
    out = sample_frames(media, every_n=10)
    rows = out.collect()
    n_videos = media.filter(F.col("kind") == "video").count()
    # 30 frames per video, every 10th → indices 0,10,20
    assert len(rows) == n_videos * 3
    assert {r["frame_idx"] for r in rows} == {0, 10, 20}
    assert all(r["frame_ref"] == f"{r['asset_id']}:{r['frame_idx']}" for r in rows)
