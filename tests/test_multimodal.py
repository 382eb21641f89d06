"""Multimodal plumbing (U7 faces stub, media metadata, image
features/resize, video frame sampling) — schemas, batching, error
split all real; codec-dependent decode stubbed where no codec exists."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from notjusthtml_searchengine_spark.media.faces import detect_faces, face_distance
from notjusthtml_searchengine_spark.operators.multimodal import (
    attach_media_meta,
    image_features,
    resize_images,
    sample_frames,
)
from notjusthtml_searchengine_spark.sources.corpus import encode_png


@pytest.fixture(scope="module")
def media_df(spark):
    rows = []
    for i in range(6):
        px = [[(x * 9 + i, y * 7, 64) for x in range(16)] for y in range(16)]
        rows.append((i, bytearray(encode_png([[tuple(v % 256 for v in p) for p in row] for row in px]))))
    rows.append((100, bytearray(b"\xff\xd8\xffjunkjpeg")))  # undecodable
    rows.append((101, bytearray(b"plain text payload")))
    return spark.createDataFrame(rows, "content_id bigint, payload binary")


def test_media_meta(media_df):
    out = {r["content_id"]: r["meta"] for r in attach_media_meta(media_df).collect()}
    assert out[0]["content_type"] == "image/png" and out[0]["decode_ok"]
    assert out[0]["width"] == 16 and out[0]["height"] == 16
    assert out[100]["content_type"] == "image/jpeg" and not out[100]["decode_ok"]
    assert out[101]["content_type"].startswith("text/plain")


def test_image_features_and_error_split(media_df):
    feats = image_features(media_df, "content_id").collect()
    ok = [r for r in feats if r["error"] is None]
    err = [r for r in feats if r["error"] is not None]
    assert len(ok) == 6 and len(err) == 2
    assert all(r["phash"] is not None and r["mean_luma"] > 0 for r in ok)


def test_image_features_keep_64_bits_beside_error_rows(media_df):
    """One batch of good and undecodable images returns the good ones'
    hashes exactly as a batch of good images alone does; a null in an
    int64 pandas column turned it into float64 and rounded the hashes'
    low bits."""
    cols = ["content_id", "ahash", "dhash", "phash"]
    mixed = image_features(media_df.coalesce(1), "content_id").select(cols).collect()
    good = media_df.filter("content_id < 100").coalesce(1)
    alone = image_features(good, "content_id").select(cols).collect()
    assert {r for r in mixed if r["content_id"] < 100} == set(alone)
    assert {r["content_id"] for r in mixed if r["phash"] is None} == {100, 101}


def test_resize_images(media_df):
    out = {r["content_id"]: r for r in resize_images(media_df, "content_id", out_w=8, out_h=8).collect()}
    assert len(bytes(out[0]["resized"])) == 64
    assert out[100]["resized"] is None and out[100]["error"]


def test_sample_frames_explode(media_df):
    frames = sample_frames(media_df, "content_id").collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["content_id"], []).append(r)
    assert all(len(v) >= 1 for v in by_id.values())
    one = sorted(by_id[0], key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in one] == [r["frame_idx"] * 40 for r in one]
    assert all(len(bytes(r["frame"])) == 64 for r in frames)
    # deterministic
    again = sample_frames(media_df, "content_id").collect()
    assert sorted((r["content_id"], r["frame_idx"], bytes(r["frame"])) for r in frames) == sorted(
        (r["content_id"], r["frame_idx"], bytes(r["frame"])) for r in again
    )


def test_faces_stub_modes(spark, media_df):
    none = detect_faces(media_df, body_col="payload", detector="none")
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == ["content_id", "descriptor", "rectangle", "shapes"]

    fake = detect_faces(media_df, body_col="payload", detector="fake")
    rows = fake.collect()
    assert all(len(r["descriptor"]) == 128 for r in rows)
    assert all(r["rectangle"]["x1"] > r["rectangle"]["x0"] for r in rows)
    # deterministic across runs
    assert sorted(r["content_id"] for r in rows) == sorted(
        r["content_id"] for r in detect_faces(media_df, body_col="payload", detector="fake").collect()
    )

    with pytest.raises(Exception):
        detect_faces(media_df, body_col="payload", detector="hog").collect()


def test_face_distance_builtin(spark):
    df = spark.createDataFrame(
        [([0.0] * 128, [0.0] * 127 + [3.0])], "a array<float>, b array<float>"
    )
    got = df.select(face_distance(F.col("a"), F.col("b")).alias("d")).first()["d"]
    assert got == pytest.approx(3.0)
