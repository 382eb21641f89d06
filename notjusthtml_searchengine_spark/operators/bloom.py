"""Partition-sharded Bloom filter (kernel U8, SURVEY.md §2.10).

The reference holds one in-process Bloom filter sized for 1e7 URLs at
1% FP (/root/reference/main.go:21,54). At 10^10-frontier scale a
single filter is ~12 GB — instead we shard by
``pmod(xxhash64(url_norm), n_buckets)``, build/merge each shard with
vectorized numpy inside ``applyInPandas`` (Arrow batches, no per-row
Python), and persist shards in the round checkpoint.

The bloom is a *pre-filter only*; exactness always comes from the
seen-table anti-join (J2). Probe protocol (plans/rounds.py):
bloom-NEGATIVE candidates are definitely unseen and skip the exact
join entirely; only bloom-POSITIVE candidates (steady-state: mostly
true duplicates + eps false positives) are checked exactly — via
chained co-partitioned anti-joins against the bucketed seen parts
(crawl_ops.seen_anti_join_parts): the seen side is never exchanged
or broadcast-collected, and the candidate side shuffles once, reused
across the whole chain.

Hash scheme: double hashing h_i = h1 + i*h2 (Kirsch-Mitzenmacher)
over h1 = xxhash64(url_norm), h2 = xxhash64(url_norm, 1) — both
computed JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas

N_HASHES = 7  # k for ~1% FP at BITS_PER_KEY
# shard bits per key the fill assumes: a shard of m bits holds
# m / BITS_PER_KEY keys at ~1% FP (the crawl's bucket count is sized
# from it, plans/rounds.py state_buckets)
BITS_PER_KEY = 10


def bloom_cols(df: DataFrame, url_col: str = "url_norm") -> DataFrame:
    """Attach bucket + the two base hashes (JVM-side, no Python)."""
    return (
        df.withColumn("h1", F.xxhash64(F.col(url_col)))
        .withColumn("h2", F.xxhash64(F.col(url_col), F.lit(1)))
    )


def with_bucket(df: DataFrame, n_buckets: int, hash_col: str = "url_hash") -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int"))


def _positions(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    """(n, k) bit positions, uint64 arithmetic (wrapping, like the JVM)."""
    h1u = h1.astype(np.uint64)
    h2u = h2.astype(np.uint64)
    ks = np.arange(1, N_HASHES + 1, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return ((h1u[:, None] + ks[None, :] * h2u[:, None]) % np.uint64(m_bits)).astype(
            np.int64
        )


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, (pos >> 3).reshape(-1), (1 << (pos & 7)).astype(np.uint8).reshape(-1))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    got = (bits[(pos >> 3)] >> (pos & 7).astype(np.uint8)) & 1
    return got.all(axis=1)


def build_shards(
    new_urls: DataFrame, n_buckets: int, shard_bits: int, old_shards: DataFrame | None = None
) -> DataFrame:
    """Merge new urls (url_norm) into per-bucket shards → BLOOM_SHARDS df.

    One groupBy(bucket) shuffle of the new urls. Without ``old_shards``
    (a crawl's first bloom) each shard starts all-zero and a bucket no
    url hashes to gets no row: the probe reads a missing shard as
    all-zero. With them, the old shards are cogrouped in (copy-on-write
    of touched buckets happens at the write layer — untouched buckets
    pass through unchanged).
    """
    hashed = with_bucket(bloom_cols(new_urls).withColumn("url_hash", F.col("h1")), n_buckets)

    def merge(key, new_pdf: pd.DataFrame, old_pdf: pd.DataFrame | None = None) -> pd.DataFrame:
        bucket = int(key[0])
        if old_pdf is not None and len(old_pdf):
            bits = np.frombuffer(old_pdf.iloc[0]["bits"], dtype=np.uint8).copy()
            n_items = int(old_pdf.iloc[0]["n_items"])
        else:
            bits = np.zeros(shard_bits // 8, dtype=np.uint8)
            n_items = 0
        if len(new_pdf):
            pos = _positions(new_pdf["h1"].to_numpy(), new_pdf["h2"].to_numpy(), shard_bits)
            _set_bits(bits, pos)
            n_items += len(new_pdf)
        return pd.DataFrame(
            [{"bucket": bucket, "n_items": n_items, "bits": bits.tobytes()}]
        )

    grouped = hashed.select("bucket", "h1", "h2").groupBy("bucket")
    if old_shards is None:
        return grouped.applyInPandas(
            lambda key, new_pdf: merge(key, new_pdf), schema=schemas.BLOOM_SHARDS
        )
    return grouped.cogroup(old_shards.groupBy("bucket")).applyInPandas(
        merge, schema=schemas.BLOOM_SHARDS
    )


def probe_shards(cands: DataFrame, shards: DataFrame, n_buckets: int, shard_bits: int) -> DataFrame:
    """cands + boolean ``maybe_seen`` column (bloom positive)."""
    hashed = with_bucket(bloom_cols(cands), n_buckets, hash_col="h1")
    out_schema = hashed.drop("h1", "h2").schema.add("maybe_seen", "boolean", False)
    other_cols = [c for c in hashed.columns if c not in ("h1", "h2")]

    def probe(key, cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand_pdf):
            return pd.DataFrame(columns=[c for c in out_schema.names])
        if len(shard_pdf):
            bits = np.frombuffer(shard_pdf.iloc[0]["bits"], dtype=np.uint8)
            pos = _positions(cand_pdf["h1"].to_numpy(), cand_pdf["h2"].to_numpy(), shard_bits)
            maybe = _test_bits(bits, pos)
        else:
            maybe = np.zeros(len(cand_pdf), dtype=bool)
        out = cand_pdf[other_cols].copy()
        out["maybe_seen"] = maybe
        return out

    return (
        hashed.groupBy("bucket")
        .cogroup(shards.groupBy("bucket"))
        .applyInPandas(probe, schema=out_schema)
    )
