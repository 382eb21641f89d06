"""Bloom shard operator (U8): no false negatives; positives bounded."""

from __future__ import annotations

from pyspark.sql import functions as F

from notjusthtml_searchengine_spark.operators.bloom import (
    build_shards,
    probe_shards,
)

N_BUCKETS = 8
BITS = 1 << 14


def test_bloom_no_false_negatives_and_low_fp(spark):
    seen = spark.createDataFrame(
        [(f"http://h{i % 5}.example/p/{i}",) for i in range(500)], "url_norm string"
    )
    shards = build_shards(seen, N_BUCKETS, BITS)
    assert shards.count() <= N_BUCKETS

    probe_seen = probe_shards(seen, shards, N_BUCKETS, BITS)
    assert probe_seen.filter(~F.col("maybe_seen")).count() == 0  # no false negatives

    fresh = spark.createDataFrame(
        [(f"http://new{i}.example/x/{i}",) for i in range(500)], "url_norm string"
    )
    fp = probe_shards(fresh, shards, N_BUCKETS, BITS).filter(F.col("maybe_seen")).count()
    assert fp < 50  # well under 10% at this sizing


def test_bloom_incremental_merge(spark):
    first = spark.createDataFrame([(f"http://a/{i}",) for i in range(100)], "url_norm string")
    second = spark.createDataFrame([(f"http://b/{i}",) for i in range(100)], "url_norm string")
    shards1 = build_shards(first, N_BUCKETS, BITS)
    shards2 = build_shards(second, N_BUCKETS, BITS, old_shards=shards1)
    both = first.unionByName(second)
    probed = probe_shards(both, shards2, N_BUCKETS, BITS)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    assert shards2.agg(F.sum("n_items")).first()[0] == 200


def test_first_bloom_is_one_grouped_pass(spark):
    """A bloom with no old shards (a crawl's first) is one grouped pass
    over the urls: no cogroup, and no Python-built empty frame to
    cogroup with. A bucket no url hashes to gets no row."""
    urls = spark.range(3).select(
        F.concat(F.lit("http://a/"), F.col("id").cast("string")).alias("url_norm")
    )
    shards = build_shards(urls, N_BUCKETS, BITS)
    plan = shards._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "FlatMapCoGroupsInPandas" not in plan and "ExistingRDD" not in plan
    rows = shards.collect()
    assert 0 < len(rows) <= 3 and sum(r["n_items"] for r in rows) == 3
    assert probe_shards(urls, shards, N_BUCKETS, BITS).filter(~F.col("maybe_seen")).count() == 0
