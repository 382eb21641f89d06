"""Multimodal column operators for a training-data pipeline.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct. The Spark-side plumbing — schemas, Arrow batch
shapes, partition-size control for fat blobs, UDF signatures — is
real and tested; the codec-dependent steps (decode, resample, frame
extraction) are deterministic stubs because no media codecs ship in
this container — EXCEPT PNG and baseline JPEG, which the engine
decodes with its own from-scratch decoders (media/png.py,
media/jpeg.py).

Operators:
  * attach_media_meta   — sniff + size/shape metadata struct
  * image_features      — decode → grayscale stats + perceptual hashes
                          (real for PNG, stubbed for other codecs)
  * resize_images       — decode → area-resample → re-encode (PNG real)
  * sample_frames       — video → every k-th frame (stub: deterministic
                          synthetic frames; the batch/explode plumbing
                          is what's exercised)
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sniff import detect_content_type
from ..media.phash import (
    average_hash,
    difference_hash,
    hash_columns,
    perception_hash,
    resize_area,
    to_gray,
)
from ..media.png import PngError, decode_png

MEDIA_META = T.StructType(
    [
        T.StructField("content_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)

IMAGE_FEATURES = T.StructType(
    [
        T.StructField("ahash", T.LongType(), True),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def _decode(body: bytes):
    """Real PNG + baseline-JPEG decode (both from-scratch, media/);
    other codecs unavailable in this container."""
    ct = detect_content_type(body)
    if ct == "image/png":
        return decode_png(body)
    if ct == "image/jpeg":
        from ..media.jpeg import JpegError, decode_jpeg

        try:
            return decode_jpeg(body)
        except JpegError as e:
            raise PngError(f"jpeg decode: {e}") from e
    raise PngError(f"no codec for {ct} in this environment (stub)")


def attach_media_meta(df: DataFrame, body_col: str = "payload") -> DataFrame:
    """Adds a typed metadata struct column ``meta`` per blob."""

    def gen(batches):
        for pdf in batches:
            metas = []
            for body in pdf[body_col]:
                b = bytes(body) if body is not None else b""
                ct = detect_content_type(b)
                w = h = None
                ok = False
                try:
                    img = _decode(b)
                    h, w = int(img.shape[0]), int(img.shape[1])
                    ok = True
                except Exception:
                    pass
                metas.append(
                    {"content_type": ct, "n_bytes": len(b), "width": w, "height": h, "decode_ok": ok}
                )
            out = pdf.copy()
            out["meta"] = metas
            yield out

    # NOTE: StructType.add mutates in place (and df.schema returns the
    # cached object) — build a fresh StructType instead.
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("meta", MEDIA_META, False)]
    )
    return df.mapInPandas(gen, out_schema)


def image_features(df: DataFrame, id_col: str, body_col: str = "payload") -> DataFrame:
    """(id, payload) → perceptual hashes + luma stats; decode failures
    surface as error rows (E2 pattern), never exceptions."""
    out_schema = T.StructType([df.schema[id_col]] + list(IMAGE_FEATURES.fields))

    def gen(batches):
        for pdf in batches:
            hashes, lumas, errors = [], [], []
            for body in pdf[body_col]:
                try:
                    g = to_gray(_decode(bytes(body)))
                    hashes.append((average_hash(g), difference_hash(g), perception_hash(g)))
                    lumas.append(float(g.mean()))
                    errors.append(None)
                except Exception as e:
                    hashes.append((None, None, None))
                    lumas.append(None)
                    errors.append(str(e))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    **hash_columns(hashes),
                    "mean_luma": lumas,
                    "error": errors,
                }
            )

    return df.select(id_col, body_col).mapInPandas(gen, out_schema)


def resize_images(
    df: DataFrame, id_col: str, body_col: str = "payload", out_w: int = 32, out_h: int = 32
) -> DataFrame:
    """Decode → deterministic area resample → raw grayscale bytes.

    Output payload is the resized grayscale plane (row-major uint8) —
    a codec-free, deterministic representation suitable for feature
    pipelines; swap the tail for a real encoder when codecs exist.
    """
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("resized", T.BinaryType(), True),
            T.StructField("error", T.StringType(), True),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, blobs, errs = [], [], []
            for i, body in zip(pdf[id_col], pdf[body_col]):
                ids.append(i)
                try:
                    g = to_gray(_decode(bytes(body)))
                    small = resize_area(g, out_h, out_w)
                    blobs.append(np.clip(small, 0, 255).astype(np.uint8).tobytes())
                    errs.append(None)
                except Exception as e:
                    blobs.append(None)
                    errs.append(str(e))
            yield pd.DataFrame({id_col: ids, "resized": blobs, "error": errs})

    return df.select(id_col, body_col).mapInPandas(gen, out_schema)


def sample_frames(
    df: DataFrame, id_col: str, body_col: str = "payload", every_k: int = 10, max_frames: int = 4
) -> DataFrame:
    """Video frame sampling — STUB decode, real explode plumbing.

    No video codec exists here, so "frames" are deterministic
    hash-derived 8x8 grayscale tiles; the exercised machinery — one
    input row → N frame rows with (frame_idx, ts_ms, frame payload) —
    is exactly what a real decoder drops into.
    """
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("ts_ms", T.LongType(), False),
            T.StructField("frame", T.BinaryType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for i, body in zip(pdf[id_col], pdf[body_col]):
                b = bytes(body)
                n = min(max_frames, 1 + len(b) % max_frames)
                for f in range(n):
                    seed = hashlib.sha256(b + bytes([f])).digest()
                    ids.append(i)
                    idxs.append(f * every_k)
                    tss.append(f * every_k * 40)  # 25 fps
                    frames.append((seed * 2)[:64])
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "ts_ms": tss, "frame": frames}
            )

    return df.select(id_col, body_col).mapInPandas(gen, out_schema)
