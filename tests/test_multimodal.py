"""Tests for multimodal binary-column plumbing (schema, mapInPandas batch
shapes, frame-sampling plans, stub gating)."""

from __future__ import annotations

import hashlib

import pytest

from harvester_database_and_automation_spark.sources.multimodal import (
    MEDIA_SCHEMA,
    PIL_AVAILABLE,
    decode_media,
    extract_features,
    sample_frames,
)


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", b"\x00\x10\x20\x30", ("png", 2, 2, None, None)),
        (2, "audio", b"\xff" * 8, ("wav", None, None, 16000, None)),
        (3, "video", b"\x01\x02", ("mp4", 640, 480, None, 25)),
        (4, "video", b"", ("mp4", 640, 480, None, 3)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_media_schema_roundtrip(spark, media, tmp_path):
    p = str(tmp_path / "media_parquet")
    media.write.parquet(p)
    back = spark.read.parquet(p)
    assert back.schema == MEDIA_SCHEMA
    assert back.count() == 4


def test_decode_requires_explicit_fake(media):
    """Without Pillow the real path must refuse loudly (never silently
    fake); with Pillow the same call routes to the real decoder — the
    next test asserts what it produces. No environment skips."""
    if PIL_AVAILABLE:
        assert decode_media(media) is not None
        return
    with pytest.raises(NotImplementedError, match="fake=True"):
        decode_media(media)


def test_real_decode_parity_where_pillow_exists(spark, media):
    """Fallback-free coverage of the real path: where Pillow imports, a
    genuine 2x2 PNG decodes to its known pixel bytes; non-image rows
    must take the SAME
    byte-stat path the fake decoder defines (real ≡ fake on them).
    Where Pillow is absent, the gate itself is the asserted behavior."""
    if not PIL_AVAILABLE:
        with pytest.raises(NotImplementedError):
            decode_media(media)
        return
    import io

    from PIL import Image

    img = Image.new("L", (2, 2))
    img.putdata([0, 64, 128, 255])
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    rows = [
        (1, "image", buf.getvalue(), ("png", 2, 2, None, None)),
        (2, "audio", b"\xff" * 8, ("wav", None, None, 16000, None)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    real = {r["media_id"]: r for r in decode_media(df).collect()}
    assert real[1]["n_bytes"] == 4
    assert real[1]["byte_sum"] == 0 + 64 + 128 + 255
    assert real[1]["content_sha256"] == hashlib.sha256(bytes([0, 64, 128, 255])).hexdigest()
    # audio rows: real path == fake path (codec stubbed, byte stats)
    fake = {r["media_id"]: r for r in decode_media(df, fake=True).collect()}
    assert real[2] == fake[2]


def test_fake_decode_deterministic(media):
    rows = {r["media_id"]: r for r in decode_media(media, fake=True).collect()}
    assert rows[1]["n_bytes"] == 4
    assert rows[1]["mean_byte"] == pytest.approx((0x00 + 0x10 + 0x20 + 0x30) / 4)
    assert rows[1]["content_sha256"] == hashlib.sha256(b"\x00\x10\x20\x30").hexdigest()
    assert rows[2]["mean_byte"] == pytest.approx(255.0)
    assert rows[4]["mean_byte"] == 0.0  # empty blob guarded


def test_extract_features_fixed_width(media):
    rows = extract_features(media, dim=16).collect()
    assert all(len(r["features"]) == 16 for r in rows)
    # Deterministic: same bytes -> same vector.
    expected = [b / 255.0 for b in hashlib.sha256(b"\x01\x02").digest()[:16]]
    by_id = {r["media_id"]: list(r["features"]) for r in rows}
    assert by_id[3] == pytest.approx(expected)


def test_extract_features_batch_shape(spark):
    # Many rows across partitions: mapInPandas must see pandas batches and
    # produce exactly one output row per input row.
    df = spark.createDataFrame(
        [(i, "image", bytes([i % 256]) * 3, None) for i in range(500)], MEDIA_SCHEMA
    ).repartition(8)
    out = extract_features(df)
    assert out.count() == 500
    assert out.select("media_id").distinct().count() == 500


def test_sample_frames_plan(media):
    got = {(r["media_id"], r["frame_idx"]) for r in sample_frames(media, every_n=10).collect()}
    assert got == {(3, 0), (3, 10), (3, 20), (4, 0)}


def test_media_stages_tolerate_null_payload_and_meta(spark):
    """One dirty row (null content/meta) must not kill the stage."""
    from harvester_database_and_automation_spark.sources.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        extract_features,
    )

    rows = [
        (1, "image", b"abc", {"format": "f", "width": 2, "height": 2, "sample_rate": 0, "n_frames": 0}),
        (2, "image", None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    decoded = {r["media_id"]: r["n_bytes"] for r in decode_media(df, fake=True).collect()}
    assert decoded == {1: 3, 2: 0}
    feats = extract_features(df).collect()
    assert len(feats) == 2 and all(len(r["features"]) > 0 for r in feats)
