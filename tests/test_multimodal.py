from __future__ import annotations

import importlib.util

import pytest
from pyspark.sql import functions as F

from minarrow_spark.operators.multimodal import (
    decode_image_real,
    extract_features,
    synthesize_media,
)
from minarrow_spark.sources.catalog import load_table

HAS_PIL = importlib.util.find_spec("PIL") is not None


@pytest.mark.skipif(HAS_PIL, reason="Pillow installed — gate opens instead")
def test_decode_real_gated_without_pil():
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG")


def _png_bytes(width: int, height: int, value: int) -> bytes:
    """A real solid-gray PNG built with Pillow (callers are skip-gated)."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (width, height), value).save(buf, format="PNG")
    return buf.getvalue()


@pytest.mark.skipif(not HAS_PIL, reason="Pillow not installed in this container")
def test_real_decode_local():
    w, h, mean = decode_image_real(_png_bytes(12, 7, 200))
    assert (w, h, mean) == (12, 7, 200.0)
    assert decode_image_real(None) == (0, 0, 0.0)


@pytest.mark.skipif(not HAS_PIL, reason="Pillow not installed in this container")
def test_real_decode_distributed(spark):
    """The real codec through the same mapInPandas plumbing the fake tier
    uses: true width/height/mean land in the feature columns."""
    rows = [(i, _png_bytes(8 + i, 5 + i, 10 * i), "image/png", None, None)
            for i in range(1, 5)]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, mime string, "
              "meta_width int, meta_height int")
    feats = {r.media_id: r for r in
             extract_features(media, decoder="real").collect()}
    for i in range(1, 5):
        assert (feats[i].fake_width, feats[i].fake_height,
                feats[i].fake_mean_px) == (8 + i, 5 + i, float(10 * i))


def test_features_match_expressions(spark, sf_dir):
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    check = media.select(
        "media_id",
        F.octet_length("payload").cast("bigint").alias("n_bytes_expr"),
        F.md5("payload").alias("digest_expr"),
    )
    j = feats.join(check, "media_id")
    bad = j.filter(
        (F.col("n_bytes") != F.col("n_bytes_expr"))
        | (F.col("digest") != F.col("digest_expr"))
    ).count()
    assert bad == 0
    assert feats.count() == media.count()
