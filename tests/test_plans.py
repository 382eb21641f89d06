"""Physical-plan audits (SURVEY.md §4): the optimizations we rely on
must actually appear in the executed plan — predicate pushdown into
the parquet scan, column pruning, broadcast joins for dimensions,
broadcast nested-loop for the containment theta-join, and whole-stage
codegen on the JVM paths.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet").filter(F.col("o_totalprice") > 300000)
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,300000.0)]" in p


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    p = plan_of(df)
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in p
    assert "text" not in p.split("ReadSchema")[1].splitlines()[0]


def test_dims_join_is_broadcast(spark):
    import __spark_entry__ as entry

    p = plan_of(entry.q_dims_broadcast_join(spark, SF), mode="simple")
    assert p.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in p


def test_rating_unrolled_projection_no_join(spark):
    """q_rating_theta_join (r6): the config-size flagged list is
    unrolled into one whole-stage-codegen projection + hash aggregate
    — no join node at all (the former BroadcastNestedLoopJoin
    evaluated the same containment terms row-at-a-time outside
    codegen). The general theta-join operator form is still the BNLJ:
    crawl_ops.link_rating plans one below."""
    import __spark_entry__ as entry

    p = plan_of(entry.q_rating_theta_join(spark, SF))
    assert "Join" not in p
    assert "HashAggregate" in p

    from notjusthtml_searchengine_spark.operators import crawl_ops as ops

    kw = spark.createDataFrame(
        [(1, 3, "spark data")], "link_id long, visibility int, text string"
    )
    fl = spark.createDataFrame([("spark", 3)], "word string, priority int")
    p2 = plan_of(ops.link_rating(kw, fl))
    assert "BroadcastNestedLoopJoin" in p2


def test_seen_anti_join_shape(spark):
    import __spark_entry__ as entry

    p = plan_of(entry.q_seen_anti_join(spark, SF))
    assert "LeftAnti" in p


def test_frontier_topk_avoids_global_sort_shuffle(spark):
    """Global top-k via orderBy+limit compiles to TakeOrderedAndProject
    (per-partition top-k then merge) — no full sort of the table."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    df = orders.orderBy(F.desc("o_totalprice"), "o_orderkey").limit(100)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p


def test_whole_stage_codegen_on_jvm_sniff(spark, corpus):
    """The JVM column-expression sniffer must stay inside codegen —
    no Python evaluation node in the plan."""
    from notjusthtml_searchengine_spark.functions.sniff import sniff_col

    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.encode("text", "utf-8").alias("html"))
        .select(sniff_col("html").alias("ct"))
    )
    p = plan_of(df, mode="simple")
    assert "Python" not in p
    assert "*(1)" in p  # whole-stage codegen span covers the projection


def test_fetch_join_broadcasts_batch_builds_right(spark):
    """J6: the fetch must be an inner join with the BATCH broadcast as
    the build side — the corpus side must never be exchanged. (The old
    broadcast-hint-on-left-outer form was silently ignored by Spark
    and degenerated to a full-corpus sort-merge shuffle per round.)"""
    from notjusthtml_searchengine_spark.operators import crawl_ops as ops

    pages = spark.createDataFrame(
        [("http://a.example/x", None, bytearray(b"<html></html>"))],
        "url string, warc_ts timestamp, html binary",
    )
    batch = spark.createDataFrame(
        [("http://a.example/x", "a.example", 90, 0, 1)],
        "url_norm string, host string, priority int, depth int, url_hash long",
    )
    hits = ops.fetch_hits(batch, pages)
    p = plan_of(hits, mode="simple")
    assert "BroadcastHashJoin" in p and "BuildRight" in p
    assert "SortMergeJoin" not in p
    misses = ops.fetch_misses(batch, hits)
    pm = plan_of(misses, mode="simple")
    assert "LeftAnti" in pm


def test_bucketed_seen_anti_join_copartitioned(spark, tmp_path):
    """J2 at scale: seen parts are bucketed tables → the seen side has
    NO Exchange (bucketed scan) even above the broadcast threshold;
    the candidate side exchanges exactly ONCE, and that partitioning
    is reused by every later join in the per-part chain. Also covers
    restart: the catalog entry is dropped and re-registered from DDL
    before reading."""
    from notjusthtml_searchengine_spark.operators.crawl_ops import (
        seen_anti_join_parts,
    )
    from notjusthtml_searchengine_spark.plans.state import SEEN_DDL, CrawlState

    state = CrawlState(str(tmp_path))
    mk = lambda lo, hi: (
        spark.range(lo, hi)
        .select(F.concat(F.lit("http://h.ex/p/"), F.col("id").cast("string")).alias("url_norm"))
        .withColumn("url_hash", F.xxhash64("url_norm"))
        .withColumn("round_seen", F.lit(1))
    )
    rels = [
        state.write_bucketed(mk(0, 3000), 1, "seen_delta", 8),
        state.write_bucketed(mk(3000, 5000), 2, "seen_delta", 8),
    ]
    # simulate a fresh session after restart: catalog entries gone
    for rel in rels:
        spark.sql(f"DROP TABLE IF EXISTS {state.bucketed_table_name(rel, 8)}")
    parts = [state.read_bucketed(spark, rel, SEEN_DDL, 8) for rel in rels]

    cands = (
        spark.range(4000, 9000)
        .select(F.concat(F.lit("http://h.ex/p/"), F.col("id").cast("string")).alias("url_norm"))
        .withColumn("url_hash", F.xxhash64("url_norm"))
        .withColumn("priority", F.lit(90))
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        new = seen_anti_join_parts(cands, parts)
        plan = new._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan  # candidate side only
        assert "Bucketed: true" in plan  # seen side is a bucketed scan
        assert plan.count("LeftAnti") == 2
        assert "BroadcastExchange" not in plan
        assert new.count() == 4000  # 4000..4999 seen; 5000..8999 new
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_read_bucketed_at_another_count_gets_its_own_entry(spark, tmp_path):
    """A state table written at 8 buckets and read at 16 in the same
    session is read at 16: the writer's catalog entry keeps 8 buckets,
    so each count is registered under its own name."""
    from notjusthtml_searchengine_spark.plans.state import SEEN_DDL, CrawlState

    state = CrawlState(str(tmp_path))
    seen = (
        spark.range(0, 500)
        .select(F.concat(F.lit("http://h.ex/p/"), F.col("id").cast("string")).alias("url_norm"))
        .withColumn("url_hash", F.xxhash64("url_norm"))
        .withColumn("round_seen", F.lit(1))
    )
    rel = state.write_bucketed(seen, 1, "seen_delta", 8)
    for n in (16, 8):
        df = state.read_bucketed(spark, rel, SEEN_DDL, n)
        plan = df.groupBy("url_hash").count()._jdf.queryExecution().executedPlan().toString()
        assert f"SelectedBucketsCount: {n} out of {n}" in plan, (n, plan)
        assert df.count() == 500


def test_bucketed_pages_fetch_beyond_broadcast(spark, tmp_path):
    """J6 at 10⁷-row round sizes: with the pages table bucketed by url
    and broadcast off, the fetch is a shuffle-hash join where ONLY the
    batch side is exchanged — the corpus scan stays in place."""
    from notjusthtml_searchengine_spark.operators import crawl_ops as ops

    pages = (
        spark.range(5000)
        .select(
            F.concat(F.lit("http://h.ex/p/"), F.col("id").cast("string")).alias("url"),
            F.current_timestamp().alias("warc_ts"),
            F.encode(F.lit("<html></html>"), "utf-8").alias("html"),
        )
    )
    spark.sql("DROP TABLE IF EXISTS njh_test_pages_bkt")
    (
        pages.write.format("parquet")
        .option("path", str(tmp_path / "pages_bkt"))
        .bucketBy(8, "url")
        .saveAsTable("njh_test_pages_bkt")
    )
    pages_t = spark.table("njh_test_pages_bkt")
    batch = (
        spark.range(1000, 3000)
        .select(
            F.concat(F.lit("http://h.ex/p/"), F.col("id").cast("string")).alias("url_norm")
        )
        .withColumn("host", F.lit("h.ex"))
        .withColumn("priority", F.lit(90))
        .withColumn("depth", F.lit(1))
        .withColumn("url_hash", F.xxhash64("url_norm"))
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        hits = ops.fetch_hits(batch, pages_t, broadcast_batch=False)
        p = hits._jdf.queryExecution().executedPlan().toString()
        assert p.count("Exchange") == 1, p  # batch side only
        assert "Bucketed: true" in p
        assert "BroadcastExchange" not in p
        assert hits.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_extraction_is_single_python_stage(spark):
    """Exactly one Arrow/Python node between the page scan and the
    flat link rows (the fused sniff gate keeps it to one hop)."""
    from notjusthtml_searchengine_spark.extract.udfs import extract_links_flat

    pages = spark.createDataFrame(
        [("http://a.example/", bytearray(b"<html><a href='/x'>t</a></html>"))],
        "origin_url string, html binary",
    )
    flat = extract_links_flat(pages, url_col="origin_url", sniff_gate=True)
    links = flat.filter(F.col("kw_idx").isNull() | (F.col("kw_idx") == 0))
    p = plan_of(links, mode="simple")
    assert p.count("MapInPandas") + p.count("PythonMapInArrow") == 1
    assert "ArrowEvalPython" not in p  # no chained scalar-UDF stage


def test_bucketed_sites_keys_anti_join_copartitioned(spark, tmp_path):
    """The sites dim insert check at scale: site_id key-state parts
    are bucketed tables (like seen), so the growing state side has NO
    Exchange and the per-round new-keys side exchanges exactly once
    across the chain (the old glob read anti-joined the whole
    unbucketed sink history every round)."""
    from notjusthtml_searchengine_spark.operators.crawl_ops import anti_join_parts
    from notjusthtml_searchengine_spark.plans.state import SITES_KEYS_DDL, CrawlState

    state = CrawlState(str(tmp_path))
    mk = lambda lo, hi: (
        spark.range(lo, hi)
        .select(F.xxhash64(F.col("id").cast("string")).alias("site_id"))
    )
    rels = [
        state.write_bucketed(mk(0, 2000), 1, "sites_keys", 8, bucket_col="site_id"),
        state.write_bucketed(mk(2000, 3000), 2, "sites_keys", 8, bucket_col="site_id"),
    ]
    parts = [
        state.read_bucketed(spark, rel, SITES_KEYS_DDL, 8, bucket_col="site_id")
        for rel in rels
    ]
    new = (
        spark.range(2500, 4000)
        .select(
            F.xxhash64(F.col("id").cast("string")).alias("site_id"),
            F.concat(F.lit("http://h.ex/p/"), F.col("id").cast("string")).alias("url"),
        )
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = anti_join_parts(new, parts, key="site_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan  # new-keys side only
        assert "Bucketed: true" in plan
        assert plan.count("LeftAnti") == 2
        assert "BroadcastExchange" not in plan
        assert out.count() == 1000  # ids 3000..3999 are genuinely new
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_drain_budget_topk_two_phase_under_host_caps(spark):
    """W1/O1 with BOTH a per-host cap and a round budget: the global
    top-k must stay TakeOrderedAndProject (per-partition top-k +
    bounded merge) — no SinglePartition exchange that would serialize
    the drain when #hosts × cap is large."""
    from notjusthtml_searchengine_spark.operators.crawl_ops import drain_frontier

    frontier = (
        spark.range(0, 1000)
        .select(
            F.concat(
                F.lit("http://h"), (F.col("id") % 37).cast("string"),
                F.lit(".ex/p/"), F.col("id").cast("string"),
            ).alias("url_norm")
        )
        .withColumn("host", F.regexp_extract("url_norm", r"//([^/]*)/", 1))
        .withColumn("priority", F.lit(50))
        .withColumn("depth", F.lit(0))
        .withColumn("round_added", F.lit(0))
        .withColumn("url_hash", F.xxhash64("url_norm"))
    )
    caps = spark.createDataFrame([("h1.ex", 2)], "host string, host_cap int")
    batch = drain_frontier(
        frontier, round_budget=50, per_host_budget=5, host_caps=caps
    )
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert batch.count() == 50


def test_frontier_view_tombstone_filter_exchange_free(spark, tmp_path):
    """The incremental frontier's live view must NOT shuffle the
    frontier: tombstone filtering happens per bucketed part via
    co-partitioned joins BEFORE the union (a join above a union of the
    bucketed scans still exchanges the union side, so the old
    union-then-join paid one full O(frontier) exchange per round).
    Semantics are unchanged: a row is
    live iff round_added >= every matching tombstone's drained_round
    (the >= keeps the same-round seed re-enqueue quirk)."""
    from notjusthtml_searchengine_spark.plans.rounds import CrawlEngine
    from notjusthtml_searchengine_spark.plans.state import CrawlState

    state = CrawlState(str(tmp_path))
    mk_front = lambda lo, hi, rnd: (
        spark.range(lo, hi)
        .select(F.concat(F.lit("http://h.ex/p/"), F.col("id").cast("string")).alias("url_norm"))
        .withColumn("host", F.lit("h.ex"))
        .withColumn("priority", F.lit(90))
        .withColumn("depth", F.lit(0))
        .withColumn("round_added", F.lit(rnd))
        .withColumn("url_hash", F.xxhash64("url_norm"))
    )
    mk_drained = lambda ids, rnd: (
        spark.createDataFrame([(i,) for i in ids], "id long")
        .select(F.concat(F.lit("http://h.ex/p/"), F.col("id").cast("string")).alias("url_norm"))
        .select(F.xxhash64("url_norm").alias("url_hash"), F.lit(rnd).alias("drained_round"))
    )
    stats = {
        "frontier_parts": [
            state.write_bucketed(mk_front(0, 10, 0), 0, "frontier_full", 8),
            state.write_bucketed(mk_front(10, 16, 1), 1, "frontier_delta", 8),
        ],
        "drained_parts": [
            state.write_bucketed(mk_drained([0, 1, 2, 3, 4], 1), 1, "drained", 8),
            # u5 (added r0) and u10 (added r1) die to the r2 tombstones
            state.write_bucketed(mk_drained([5, 10], 2), 2, "drained", 8),
        ],
    }
    eng = object.__new__(CrawlEngine)
    eng.spark = spark
    eng.state = state
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        view = eng._frontier_view(stats, 8)
        plan = view._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # fully co-bucketed
        assert "Bucketed: true" in plan
        live = {r["url_norm"].rsplit("/", 1)[1] for r in view.collect()}
        # u0-u5 dead (added r0, drained r1/r2), u6-u9 live,
        # u10 dead (added r1, drained r2), u11-u15 live
        assert live == {str(i) for i in [6, 7, 8, 9, 11, 12, 13, 14, 15]}, live
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_frontier_view_same_round_readd_survives(spark, tmp_path):
    """A url drained in round r and re-added in the SAME round r (the
    seed-rediscovery quirk — seeds never enter seen) must stay live:
    round_added == drained_round keeps the row."""
    from notjusthtml_searchengine_spark.plans.rounds import CrawlEngine
    from notjusthtml_searchengine_spark.plans.state import CrawlState

    state = CrawlState(str(tmp_path))
    seed = (
        spark.createDataFrame([("http://h.ex/seed",)], "url_norm string")
        .withColumn("host", F.lit("h.ex"))
        .withColumn("priority", F.lit(90))
        .withColumn("depth", F.lit(0))
        .withColumn("round_added", F.lit(3))
        .withColumn("url_hash", F.xxhash64("url_norm"))
    )
    tomb = spark.createDataFrame([("http://h.ex/seed",)], "url_norm string").select(
        F.xxhash64("url_norm").alias("url_hash"), F.lit(3).alias("drained_round")
    )
    stats = {
        "frontier_parts": [state.write_bucketed(seed, 3, "frontier_delta", 8)],
        "drained_parts": [state.write_bucketed(tomb, 3, "drained", 8)],
    }
    eng = object.__new__(CrawlEngine)
    eng.spark = spark
    eng.state = state
    assert eng._frontier_view(stats, 8).count() == 1


def test_frontier_view_rediscovered_seed_drains_once(spark, tmp_path):
    """A seed still queued in the bootstrap's frontier_full and
    rediscovered into round 1's frontier_delta is live in both parts, and
    the drain over the live view returns it once. Spark 4.1.2 reports the
    parts' bucket partitioning through a union of the raw bucketed scans
    but concatenates their partitions, so the drain's exchange-free
    collapse straight over that union would return the seed twice; the
    view's per-part tombstone joins emit rows, which the union keeps
    together."""
    from notjusthtml_searchengine_spark.operators.crawl_ops import drain_frontier
    from notjusthtml_searchengine_spark.plans.rounds import CrawlEngine
    from notjusthtml_searchengine_spark.plans.state import CrawlState

    state = CrawlState(str(tmp_path))
    url = lambda name: F.concat(F.lit("http://h.ex/"), F.lit(name))
    mk_front = lambda names, rnd: (
        spark.createDataFrame([(n,) for n in names], "name string")
        .select(url(F.col("name")).alias("url_norm"))
        .withColumn("host", F.lit("h.ex"))
        .withColumn("priority", F.lit(90))
        .withColumn("depth", F.lit(0))
        .withColumn("round_added", F.lit(rnd))
        .withColumn("url_hash", F.xxhash64("url_norm"))
    )
    # round 1 drained seed a (per-host budget 1); seed b stayed queued
    # and was rediscovered as a link, as was the new url c
    tomb = spark.createDataFrame([("a",)], "name string").select(
        F.xxhash64(url(F.col("name"))).alias("url_hash"), F.lit(1).alias("drained_round")
    )
    stats = {
        "frontier_parts": [
            state.write_bucketed(mk_front(["a", "b"], 0), 0, "frontier_full", 8),
            state.write_bucketed(mk_front(["b", "c"], 1), 1, "frontier_delta", 8),
        ],
        "drained_parts": [state.write_bucketed(tomb, 1, "drained", 8)],
    }
    eng = object.__new__(CrawlEngine)
    eng.spark = spark
    eng.state = state
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for threshold in (old_bc, "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            batch = drain_frontier(eng._frontier_view(stats, 8), None, None)
            urls = sorted(r["url_norm"] for r in batch.collect())
            assert urls == ["http://h.ex/b", "http://h.ex/c"], (threshold, urls)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_batch_stats_byte_estimate(spark, monkeypatch):
    """Broadcast decisions are BYTE-based: _batch_stats measures
    url+host chars + fixed per-row overhead in one job, and the
    engine broadcasts only under rounds.BROADCAST_MAX_BYTES."""
    from notjusthtml_searchengine_spark.plans import rounds
    from notjusthtml_searchengine_spark.plans.rounds import CrawlEngine

    eng = object.__new__(CrawlEngine)  # no crawl needed — method only
    batch = spark.createDataFrame(
        [("u" * 10, "h" * 5), ("u" * 20, None)], "url_norm string, host string"
    )
    n, est = CrawlEngine._batch_stats(eng, batch)
    assert n == 2
    assert est == (10 + 5) + 20 + 48 * 2
    assert est <= rounds.BROADCAST_MAX_BYTES
    # the per-row overhead is read from the module constant
    monkeypatch.setattr(rounds, "BROADCAST_ROW_OVERHEAD", 100)
    assert CrawlEngine._batch_stats(eng, batch) == (2, (10 + 5) + 20 + 100 * 2)


def test_data_proportional_shuffle_sizing(spark, monkeypatch):
    """The round driver sizes spark.sql.shuffle.partitions to the
    PREDICTED round volume (batch × measured avg page bytes ×
    expansion) / target partition bytes — the sf1 rehearsal showed 8
    fixed partitions collapse N→4N efficiency to 0.685 at 10× data
    (1.5 GB partitions spill hardest at high thread counts) while
    volume-sized partitions restore 0.962."""
    from notjusthtml_searchengine_spark.plans import rounds
    from notjusthtml_searchengine_spark.plans.rounds import CrawlEngine

    eng = object.__new__(CrawlEngine)
    eng.spark = spark
    monkeypatch.setattr(rounds, "TARGET_PARTITION_BYTES", 128 << 20)
    monkeypatch.setattr(rounds, "SHUFFLE_ROW_EXPANSION", 3)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    base = spark.sparkContext.defaultParallelism
    import math

    try:
        # the sf1 case: 494k pages × 7 KB × 3 ≈ 10.4 GB → 78 by the
        # 128 MiB target, capped at max_task_waves full waves (per-task
        # Python-stage overhead measurably beats partition-size relief,
        # BENCH/sf1_ab_r4.jsonl), floored by the 512 MiB spill guard,
        # then quantized UP to a full task wave of the scheduler
        est = 493_540 * 7000.0 * 3
        parts = eng._size_shuffle(493_540, 7000.0)
        expect_raw = max(
            min(math.ceil(est / (128 << 20)), 8 * base),
            math.ceil(est / (512 << 20)),
        )
        assert parts == math.ceil(expect_raw / base) * base, parts
        assert parts % base == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(parts)
        # small rounds never shrink below scheduler parallelism
        assert eng._size_shuffle(100, 7000.0) == base
        # the BENCH_r03 regression case: a volume that lands between one
        # and two waves of an 8-thread scheduler (raw count 12) must
        # round up to a MULTIPLE of the parallelism, never sit at a
        # partial second wave (12 on 8 threads = 4 busy / 4 idle)
        raw_12_bytes = 12 * (128 << 20)  # raw count exactly 12
        parts = eng._size_shuffle(raw_12_bytes // (7000 * 3) + 1, 7000.0)
        assert parts % base == 0, parts
        # beyond the spill guard the count RISES with volume again: a
        # round whose waves-capped partitions would exceed 512 MiB must
        # fan back out (the 100 TB case never collapses onto 8×cores)
        huge = 10_000_000  # pages → est 210 GB
        parts = eng._size_shuffle(huge, 7000.0)
        est_huge = huge * 7000.0 * 3
        assert parts >= math.ceil(est_huge / (512 << 20)), parts
        assert parts % base == 0
        # an empty prediction leaves the conf alone
        assert eng._size_shuffle(0, 7000.0) is None
        # cap respected
        monkeypatch.setattr(rounds, "MAX_SHUFFLE_PARTITIONS", 64)
        assert eng._size_shuffle(10_000_000_000, 7000.0) == 64
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_partition_sizing_helper_and_bucket_rule(monkeypatch):
    """One helper sizes the round shuffle and the state's bucket count:
    a floor of one scheduler wave, whole waves, MAX_SHUFFLE_PARTITIONS
    as the cap. The bucket rule feeds it ceil(rows / keys per shard),
    keys per shard being shard_bits / BITS_PER_KEY."""
    from notjusthtml_searchengine_spark.plans import rounds

    size, buckets = rounds.size_partitions, rounds.state_buckets
    # the parallelism floor
    assert size(0, 8) == size(1, 8) == size(8, 8) == 8
    # rounded up to a multiple of the parallelism
    assert size(9, 8) == 16
    assert size(12.5, 4) == 16
    assert size(13, 6) == 18
    # the cap, read from the module constant
    assert size(10**9, 8) == rounds.MAX_SHUFFLE_PARTITIONS == 4096
    monkeypatch.setattr(rounds, "MAX_SHUFFLE_PARTITIONS", 64)
    assert size(100, 8) == 64
    monkeypatch.undo()
    # 1<<20-bit shards hold 104,857.6 keys each
    assert buckets(0, 1 << 20, 8) == 8
    assert buckets(1200, 1 << 20, 8) == 8  # the 1200-page bench corpus
    assert buckets(838_860, 1 << 20, 8) == 8  # 7.99999 shards
    assert buckets(838_861, 1 << 20, 8) == 16  # 8.00001 shards
    assert buckets(838_861, 1 << 20, 3) == 9
    # design scale: 10^10 urls need 95,368 shards; the cap holds
    assert buckets(10**10, 1 << 20, 8) == rounds.MAX_SHUFFLE_PARTITIONS
    assert buckets(10**10, 1 << 20, 48) == rounds.MAX_SHUFFLE_PARTITIONS


def test_fat_row_spread_rule():
    """The fat rows are spread only behind a broadcast fetch whose scan
    gives fewer non-empty tasks, min(scan partitions, row groups), than
    the scheduler's parallelism; a shuffle-hash fetch is spread by its
    own exchange."""
    from notjusthtml_searchengine_spark.plans.rounds import spread_fat_rows

    # broadcast_fetch, scan_partitions, row_groups, parallelism -> spread
    table = [
        (False, 1, 1, 8, False),  # shuffle-hash fetch: never
        (False, 64, 64, 8, False),
        (True, 8, 8, 8, False),  # one full wave: enough
        (True, 7, 64, 8, True),  # too few scan partitions
        (True, 64, 7, 8, True),  # too few row groups
        (True, 64, 0, 8, False),  # no footers read: the scan decides
        (True, 7, 0, 8, True),
        (True, 2, 2, 1, False),
    ]
    for broadcast, parts, groups, parallelism, expect in table:
        assert spread_fat_rows(broadcast, parts, groups, parallelism) is expect, (
            broadcast, parts, groups, parallelism,
        )
    # crawl_fat: one file of two row groups, split 8 ways, on 4 cores
    assert spread_fat_rows(True, 8, 2, 4)
    # the bench corpus: 48 files of at least one row group on 8 cores
    assert not spread_fat_rows(True, 48, 48, 8)


def test_fat_row_cache_rule():
    """The gated fat rows are cached only when they came out of a
    shuffle of the bodies and their estimated bytes fit in half of
    storage memory; rows straight off the scan are re-derived."""
    from notjusthtml_searchengine_spark.plans.rounds import cache_fat_rows

    storage = 4_535_825_203  # the block manager of an 8g local driver
    # the boundary: just under, at and just over half
    assert cache_fat_rows(True, storage / 2 - 1, storage)
    assert cache_fat_rows(True, storage / 2, storage)
    assert not cache_fat_rows(True, storage / 2 + 1, storage)
    assert not cache_fat_rows(True, 1, 0)
    # straight off a broadcast-fetch scan: never, however small
    assert not cache_fat_rows(False, 1, storage)
    # crawl_fat's first round, spread: 1200 pages at the 8 KB prior
    assert cache_fat_rows(True, 1200 * 8192, storage)
    # design scale: a 10^8-page round of 60 KB pages on 100 executors
    # of 28 GB storage each
    assert not cache_fat_rows(True, 10**8 * 60_000, 100 * 28 * 10**9)


def test_parquet_row_groups_from_footers(tmp_path):
    """The spread rule's row-group count comes from the parquet footers
    of a file or a directory tree, hidden files skipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from notjusthtml_searchengine_spark.plans.state import parquet_row_groups, parquet_rows

    tbl = pa.table({"x": list(range(10))})
    d = tmp_path / "pages.parquet"
    d.mkdir()
    for i in range(3):
        pq.write_table(tbl, d / f"part-{i}.parquet", row_group_size=5)
    pq.write_table(tbl, d / "_hidden.parquet")
    assert parquet_row_groups(str(d / "part-0.parquet")) == 2
    assert (parquet_row_groups(str(d)), parquet_rows(str(d))) == (6, 30)
    assert parquet_row_groups(str(tmp_path / "absent")) == 0
