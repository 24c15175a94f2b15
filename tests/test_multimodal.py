"""Multimodal plumbing fixtures: schema, Arrow batch shape, stubbed decode."""

import hashlib

import pytest

from docling_translate_spark.operators.multimodal import (
    decode_image,
    extract_media_features,
    frame_sample_plan,
    synth_media_df,
)


@pytest.fixture(scope="module")
def media(spark):
    return synth_media_df(spark, n=30).cache()


def test_decode_real_path_or_stub():
    """With Pillow installed the real path decodes an actual PNG to its
    grayscale pixels; without it (this container) the real path raises
    the documented NotImplementedError."""
    try:
        from PIL import Image
    except ImportError:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG...")
        return
    import io

    import numpy as np

    im = Image.fromarray(
        np.arange(64, dtype=np.uint8).reshape(8, 8), mode="L"
    )
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    out = decode_image(buf.getvalue())
    assert out.shape == (8, 8)
    assert (out == np.arange(64, dtype=np.uint8).reshape(8, 8)).all()


def test_decode_fake_deterministic():
    a = decode_image(b"same bytes", fake=True)
    b = decode_image(b"same bytes", fake=True)
    assert (a == b).all()
    assert a.shape == (8, 8)


def test_media_schema(spark, media):
    rows = media.collect()
    assert len(rows) == 30
    kinds = {r["kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}
    assert all(isinstance(r["payload"], (bytes, bytearray)) for r in rows)


def test_feature_extraction(spark, media):
    feats = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert len(feats) == 30
    raw = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, r in feats.items():
        assert r["n_bytes"] == len(raw[mid])
        # fingerprint is over the canonical uppercase-hex text (see
        # extract_media_features: keeps the value SQL-oracle-reproducible)
        assert (
            r["hex_sha256"]
            == hashlib.sha256(raw[mid].hex().upper().encode()).hexdigest()
        )
        assert len(r["features"]) == 4
        assert all(v == v for v in r["features"])  # no NaNs


def test_frame_sample_plan(spark, media):
    plan = frame_sample_plan(media, every_ms=250).collect()
    vids = {r["media_id"] for r in media.filter("kind = 'video'").collect()}
    assert {r["media_id"] for r in plan} == vids
    for r in plan:
        assert r["sample_ms"] == r["frame_no"] * 250


def test_resize_images(spark, media):
    """Resize kernel: image rows only, target grid shape, pooled values
    match a driver-side recompute of the same fake decode; a batch
    without images yields no rows."""
    import numpy as np

    from docling_translate_spark.operators.multimodal import (
        decode_image,
        resize_images,
    )

    rows = {r["media_id"]: r for r in resize_images(media, 4, 4).collect()}
    raw = {r["media_id"]: (r["kind"], bytes(r["payload"])) for r in media.collect()}
    n_images = sum(1 for kind, _ in raw.values() if kind == "image")
    assert len(rows) == n_images
    for mid, r in rows.items():
        kind, payload = raw[mid]
        assert kind == "image"
        assert r["width"] == 4 and r["height"] == 4 and len(r["pixels"]) == 16
        px = decode_image(payload, fake=True).astype(np.float64)
        expected = px.reshape(4, 2, 4, 2).mean(axis=(1, 3)).reshape(-1)
        assert np.allclose(r["pixels"], expected), mid
    assert resize_images(media.filter("kind <> 'image'")).collect() == []
