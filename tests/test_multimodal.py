"""Multimodal plumbing: metadata sniff, fake-decode featurizer,
frame sampling, resize — the Spark-side shapes are real (schema,
Arrow batching, one-row-per-frame explosion); decoding is env-gated."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdp_spark.datapipe.multimodal import (
    extract_features,
    resize_images,
    with_media_meta,
)


def _media(spark):
    rows = [
        (1, b"\xff\xd8\xff" + b"j" * 61),             # jpeg magic
        (2, b"\x89PNG\r\n" + b"p" * 100),             # png magic
        (3, b"RIFFxxxxWAVE" + b"a" * 52),             # wav magic
        (4, b"plain bytes without any magic header"),
        (5, None),
    ]
    return spark.createDataFrame(rows, "id long, media binary")


def test_media_meta_sniff(spark):
    out = {r["id"]: (r["media_mime"], r["media_bytes"]) for r in with_media_meta(_media(spark)).collect()}
    assert out[1] == ("image/jpeg", 64)
    assert out[2] == ("image/png", 106)
    assert out[3] == ("audio/wav", 64)
    assert out[4][0] == "application/octet-stream"
    assert out[5] == ("application/octet-stream", None)


def test_extract_features_fake_deterministic(spark):
    df = _media(spark).filter(F.col("media").isNotNull())
    a = {r["id"]: (r["n_bytes"], r["mean_byte"], r["feature"]) for r in extract_features(df, fake=True).collect()}
    b = {r["id"]: (r["n_bytes"], r["mean_byte"], r["feature"]) for r in extract_features(df, fake=True).collect()}
    assert a == b
    assert a[1][0] == 64
    assert len(a[1][2]) == 8  # feature_dim


def test_extract_features_real_decode_gated(spark):
    with pytest.raises(Exception, match="fake=True"):
        extract_features(_media(spark), fake=False).collect()


def test_resize_images_fixed_output_size(spark):
    df = _media(spark)
    out = {r["id"]: r for r in resize_images(df, 8, 4, fake=True).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    for r in out.values():
        assert (r["width"], r["height"]) == (8, 4)
        assert len(bytes(r["pixels"])) == 32  # fixed size even for null input
    # deterministic
    again = {r["id"]: bytes(r["pixels"]) for r in resize_images(df, 8, 4, fake=True).collect()}
    assert all(bytes(out[i]["pixels"]) == again[i] for i in out)


def test_resize_real_decode_gated(spark):
    with pytest.raises(Exception, match="fake=True"):
        resize_images(_media(spark), 8, 8, fake=False).collect()
