"""Kernels U5 (perceptual hashes) and U6 (EXIF)."""

import numpy as np
import pytest

from notjusthtml_searchengine_spark.media.exif import extract_exif
from notjusthtml_searchengine_spark.media.phash import (
    average_hash,
    difference_hash,
    perception_hash,
    perceptual_hashes,
    resize_area,
    to_gray,
)
from notjusthtml_searchengine_spark.media.png import PngError, decode_png
from notjusthtml_searchengine_spark.sources.corpus import (
    encode_jpeg_with_exif,
    encode_png,
)


def _grad_png(n=16, phase=0):
    return encode_png(
        [[((x * 16 + phase) % 256, (y * 16) % 256, 128) for x in range(n)] for y in range(n)]
    )


def test_png_roundtrip():
    img = decode_png(_grad_png())
    assert img.shape == (16, 16, 3)
    assert img[0, 1, 0] == 16


def test_hashes_deterministic_and_64bit():
    a1 = perceptual_hashes(_grad_png(), "image/png")
    a2 = perceptual_hashes(_grad_png(), "image/png")
    assert a1 == a2
    for h in a1:
        assert -(2**63) <= h < 2**63


def test_similar_images_close_hamming():
    h1 = perceptual_hashes(_grad_png(phase=0), "image/png")
    h2 = perceptual_hashes(_grad_png(phase=4), "image/png")  # small shift
    flat = encode_png([[(255, 255, 255)] * 16] * 16)
    h3 = perceptual_hashes(flat, "image/png")

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert ham(h1[2], h2[2]) < ham(h1[2], h3[2])


def test_jpeg_hashes_real_decode():
    """U5 parity: real corpus JPEGs decode and hash (reference hashes
    JPEGs via image.Decode, perceptualHashing.go:33-49)."""
    body = encode_jpeg_with_exif("Cam", None, None, None, seed=3)
    h1 = perceptual_hashes(body, "image/jpeg")
    h2 = perceptual_hashes(body, "image/jpeg")
    assert h1 == h2
    for h in h1:
        assert -(2**63) <= h < 2**63


def test_jpeg_undecodable_raises():
    with pytest.raises(PngError):
        perceptual_hashes(b"\xff\xd8\xffjunk", "image/jpeg")
    with pytest.raises(PngError):  # corrupt container (old junk scan)
        perceptual_hashes(
            encode_jpeg_with_exif("Cam", None, None, None, corrupt=True),
            "image/jpeg",
        )


def test_resize_area_mean_preserved():
    g = np.arange(64, dtype=float).reshape(8, 8)
    r = resize_area(g, 2, 2)
    assert r.shape == (2, 2)
    assert abs(r.mean() - g.mean()) < 1e-9


def test_ahash_dhash_structure():
    g = to_gray(decode_png(_grad_png()))
    # horizontal gradient → dHash all-ones in each row except wrap
    d = difference_hash(g)
    a = average_hash(g)
    p = perception_hash(g)
    assert d != a != p


def test_exif_full_and_partial_and_none():
    full = extract_exif(encode_jpeg_with_exif("CamX", "2023:01:02 03:04:05", -10.5, 20.25))
    assert full["camera"] == "CamX"
    assert full["lat"] == pytest.approx(-10.5)
    assert full["long"] == pytest.approx(20.25)
    assert full["ts"] == 1672628645000000

    partial = extract_exif(encode_jpeg_with_exif("OnlyCam", None, None, None))
    assert partial["camera"] == "OnlyCam" and partial["ts"] == 0

    assert extract_exif(encode_jpeg_with_exif(None, None, None, None)) is None
    assert extract_exif(b"\xff\xd8no exif here") is None
    assert extract_exif(b"not a jpeg") is None


def test_phash_udf_keeps_64_bits_beside_error_rows(spark):
    """A batch holding an undecodable image next to a good one returns
    the good one's hashes exactly; a null in a plain int64 pandas column
    turned it into float64 and rounded the hashes' low bits."""
    from notjusthtml_searchengine_spark.media.udfs import phash_udf

    body = encode_jpeg_with_exif("Cam", None, None, None, seed=3)
    df = spark.createDataFrame(
        [(b"\xff\xd8\xffjunk", "image/jpeg"), (body, "image/jpeg")],
        "html binary, content_type string",
    ).coalesce(1)
    rows = df.select(phash_udf("html", "content_type").alias("ph")).collect()
    assert rows[0]["ph"]["error"] and rows[0]["ph"]["phash"] is None
    assert tuple(rows[1]["ph"][:3]) == perceptual_hashes(body, "image/jpeg")
    assert rows[1]["ph"]["error"] is None
