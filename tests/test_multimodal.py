"""Multimodal binary-column plumbing: schema, Arrow batch shape,
mapInPandas signatures, UDTF fan-out (operators/multimodal.py)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.operators.multimodal import (
    FRAME_SCHEMA,
    IMAGE_FEATURES_SCHEMA,
    extract_image_features,
    sample_frames,
    synth_media,
)


def _docs(spark):
    rows = [
        (0, "a" * 100, "en", "web"),
        (1, "hello world " * 20, "en", "web"),
        (2, "b" * 300, "en", "pdf"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_synth_media_schema_and_modality(spark):
    media = synth_media(_docs(spark))
    assert [f.name for f in media.schema.fields] == [
        "media_id",
        "modality",
        "content",
        "meta",
    ]
    assert dict(media.select("media_id", "modality").collect()) == {
        0: "image",
        1: "audio",
        2: "video",
    }
    row = media.filter(F.col("media_id") == 1).select("meta.sample_rate").first()
    assert row[0] == 16000  # audio rows carry a sample rate


def test_extract_image_features_matches_reference_decode(spark):
    media = synth_media(_docs(spark))
    feats = extract_image_features(media).orderBy("media_id").collect()
    assert extract_image_features(media).schema == IMAGE_FEATURES_SCHEMA
    for r, text in zip(feats, ["a" * 100, "hello world " * 20, "b" * 300]):
        dig = hashlib.md5(text.encode()).digest()
        assert r.n_bytes == len(text)
        assert r.content_md5 == hashlib.md5(text.encode()).hexdigest()
        assert r.width == 16 + dig[0] % 240
        assert r.height == 16 + dig[1] % 240
        assert len(r.feat) == 8
        assert abs(r.feat[0] - dig[0] / 255.0) < 1e-12


def test_sample_frames_udtf_fanout(spark):
    media = synth_media(_docs(spark)).filter(F.col("media_id") == 2)
    frames = sample_frames(media, frame_bytes=64, every=2).collect()
    assert sample_frames(media).schema == FRAME_SCHEMA
    # 300 bytes → 5 frames (64*4+44) → kept idx 0,2,4
    assert [f.frame_idx for f in sorted(frames, key=lambda r: r.frame_idx)] == [
        0,
        2,
        4,
    ]
    b = ("b" * 300).encode()
    expect = hashlib.md5(b[128:192]).hexdigest()
    got = {f.frame_idx: f.frame_md5 for f in frames}
    assert got[2] == expect


def test_extract_runs_batched_not_per_row(spark):
    # 50 rows through one partition must arrive in >= 1 Arrow batch whose
    # DataFrame has many rows (i.e., the UDF sees batches, not rows)
    rows = [(i, f"text {i} " * 10, "en", "x") for i in range(50)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).coalesce(1)
    out = extract_image_features(synth_media(docs))
    assert out.count() == 50
