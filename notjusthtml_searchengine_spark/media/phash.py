"""Perceptual hashes (kernel U5) — aHash / dHash / pHash, 64-bit each.

Same published algorithms the reference uses via goimagehash
(/root/reference/perceptualHashing.go:33-49): average hash (8x8 mean
threshold), difference hash (9x8 horizontal gradient), perception
hash (32x32 DCT-II, top-left 8x8, median threshold). Implemented
from the published descriptions (Krawetz, "Looks Like It") in pure
numpy. Bit-for-bit parity with goimagehash is NOT asserted (its
bilinear resampler is library-specific); the algorithms, bit widths
and distance semantics (Hamming via bit_count(xor)) are identical,
and our outputs are pinned by golden tests.

JPEG bodies decode through the from-scratch baseline decoder
(media/jpeg.py, ITU-T T.81); undecodable/progressive bodies raise and
the caller surfaces an ErrorPerceptualHash row, mirroring the
reference's decode-failure path (perceptualHashing.go:26-29).
"""

from __future__ import annotations

import numpy as np

from .jpeg import JpegError, decode_jpeg
from .png import PngError, decode_png


def to_gray(img: np.ndarray) -> np.ndarray:
    """ITU-R 601 luma, float64 (H, W)."""
    if img.ndim == 2 or img.shape[2] == 1:
        return img.reshape(img.shape[0], img.shape[1]).astype(np.float64)
    rgb = img[..., :3].astype(np.float64)
    return rgb @ np.array([0.299, 0.587, 0.114])


def resize_area(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic box/area resampling (no external resize lib)."""
    h, w = gray.shape
    ys = (np.arange(out_h + 1) * h / out_h).astype(int)
    xs = (np.arange(out_w + 1) * w / out_w).astype(int)
    out = np.empty((out_h, out_w), dtype=np.float64)
    for i in range(out_h):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        row = gray[y0:y1]
        for j in range(out_w):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = row[:, x0:x1].mean()
    return out


def _bits_to_int64(bits: np.ndarray) -> int:
    """Row-major, MSB-first 64 bits → signed int64 (Spark LongType)."""
    v = 0
    for b in bits.reshape(-1):
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def average_hash(gray: np.ndarray) -> int:
    small = resize_area(gray, 8, 8)
    return _bits_to_int64(small > small.mean())


def difference_hash(gray: np.ndarray) -> int:
    small = resize_area(gray, 8, 9)
    return _bits_to_int64(small[:, 1:] > small[:, :-1])


_DCT32 = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n)
        _DCT32 = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    return _DCT32


def perception_hash(gray: np.ndarray) -> int:
    small = resize_area(gray, 32, 32)
    m = _dct_matrix(32)
    freq = m @ small @ m.T
    block = freq[:8, :8].copy().reshape(-1)
    med = np.median(block)
    return _bits_to_int64(block > med)


def perceptual_hashes(body: bytes, content_type: str) -> tuple[int, int, int]:
    """(ahash, dhash, phash) for one image body; raises on undecodable."""
    if content_type == "image/png":
        img = decode_png(body)
    elif content_type == "image/jpeg":
        try:
            img = decode_jpeg(body)
        except JpegError as e:
            raise PngError(f"jpeg decode: {e}") from e
    else:
        raise PngError(f"unknown mime-type {content_type}")
    return (
        average_hash(to_gray(img)),
        difference_hash(to_gray(img)),
        perception_hash(to_gray(img)),
    )


def hash_columns(hashes: list) -> dict:
    """(ahash, dhash, phash) triples, ``(None, None, None)`` for a body
    that did not decode, as nullable ``Int64`` pandas columns: an int64
    column holding a null becomes float64 and loses the low bits of the
    64-bit hashes."""
    import pandas as pd

    return {
        name: pd.array([h[i] for h in hashes], dtype="Int64")
        for i, name in enumerate(("ahash", "dhash", "phash"))
    }
