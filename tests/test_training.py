"""Crawl → training-set pipeline: the engine's own sinks feed the
training-data operators end-to-end — visible text out of the blob
store, clean/dedup/filter/pack, a loader-consumable manifest."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from notjusthtml_searchengine_spark.plans.rounds import CrawlConfig, CrawlEngine
from notjusthtml_searchengine_spark.plans.training import (
    build_training_set,
    corpus_from_state,
)


@pytest.fixture(scope="module")
def crawled_state(spark, corpus_dir, tmp_path_factory):
    state_dir = str(tmp_path_factory.mktemp("train_state"))
    cfg = CrawlConfig(
        state_dir=state_dir, per_host_budget=5, shard_bits=1 << 16,
    )
    eng = CrawlEngine(
        spark,
        pages_path=os.path.join(corpus_dir, "pages.parquet"),
        seeds_path=os.path.join(corpus_dir, "seeds.txt"),
        flagged_path=os.path.join(corpus_dir, "flaggedWords.csv"),
        robots_path=os.path.join(corpus_dir, "robots.parquet"),
        cfg=cfg,
    )
    eng.run(max_rounds=12)
    return state_dir


def test_corpus_from_state(spark, crawled_state):
    docs = corpus_from_state(spark, crawled_state).collect()
    assert len(docs) > 0
    # one doc per body, canonical url, non-degenerate text
    assert len({r["doc_id"] for r in docs}) == len(docs)
    assert any(r["text"] for r in docs)


def test_build_training_set_end_to_end(spark, crawled_state, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("trainset"))
    # permissive knobs: the synthetic pages are not C4-shaped prose,
    # so gate on dedup/quality/ppl only — the plumbing under test
    stats = build_training_set(
        spark, crawled_state, out,
        seq_len=64, clean=False, lang=None,
        min_quality=0.0, max_ppl=1e9,
    )
    assert stats["docs_after_clean_dedup"] > 0
    assert 0 < stats["docs_kept"] <= stats["docs_after_clean_dedup"]
    assert stats["total_tokens"] > 0 and stats["n_sequences"] > 0
    docs = spark.read.parquet(f"{out}/documents.parquet")
    man = spark.read.parquet(f"{out}/packing.parquet")
    # every kept doc has a manifest row; spans tile the token stream
    assert man.count() == stats["docs_kept"]
    rows = sorted(man.collect(), key=lambda r: r["start_pos"])
    pos = 0
    for r in rows:
        assert r["start_pos"] == pos
        pos += r["n_tokens"]
    assert pos == stats["total_tokens"]
    assert stats["n_sequences"] == rows[-1]["last_seq"] + 1
    # the labeled frame carries the signals for every surviving doc
    for c in ("lang_pred", "q", "repetition_ok", "ppl", "keep"):
        assert c in docs.columns


def test_gates_actually_gate(spark, crawled_state, tmp_path_factory):
    """A max_ppl of 0 keeps nothing; C4 cleaning drops the synthetic
    non-prose pages wholesale — both funnels must narrow, not crash."""
    out = str(tmp_path_factory.mktemp("trainset_tight"))
    tight = build_training_set(
        spark, crawled_state, out,
        seq_len=64, clean=False, lang=None,
        min_quality=0.0, max_ppl=0.0,
    )
    assert tight["docs_kept"] == 0 and tight["n_sequences"] == 0
    out2 = str(tmp_path_factory.mktemp("trainset_clean"))
    cleaned = build_training_set(
        spark, crawled_state, out2,
        seq_len=64, clean=True, lang=None,
        min_quality=0.0, max_ppl=1e9,
    )
    assert cleaned["docs_after_clean_dedup"] <= tight["docs_after_clean_dedup"]


def test_text_dedup_collapses_same_text(spark, crawled_state, tmp_path_factory):
    out_a = str(tmp_path_factory.mktemp("ts_a"))
    a = build_training_set(
        spark, crawled_state, out_a, seq_len=64, clean=False,
        lang=None, min_quality=0.0, max_ppl=1e9,
    )
    docs = corpus_from_state(spark, crawled_state)
    n_raw = docs.count()
    n_distinct_text = (
        docs.select(F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))))
        .distinct()
        .count()
    )
    assert a["docs_after_clean_dedup"] == n_distinct_text <= n_raw


def test_near_dedup_stage(spark, crawled_state, tmp_path_factory):
    """The MinHash near-dup stage only ever narrows the funnel and
    keeps exactly the canonical docs dedup_clusters reports."""
    out = str(tmp_path_factory.mktemp("ts_near"))
    near = build_training_set(
        spark, crawled_state, out, seq_len=64, clean=False,
        near_dedup=True, lang=None, min_quality=0.0, max_ppl=1e9,
    )
    out_b = str(tmp_path_factory.mktemp("ts_exact"))
    exact = build_training_set(
        spark, crawled_state, out_b, seq_len=64, clean=False,
        lang=None, min_quality=0.0, max_ppl=1e9,
    )
    assert 0 < near["docs_after_clean_dedup"] <= exact["docs_after_clean_dedup"]
