"""End-to-end crawl equivalence: CrawlEngine vs the pure-Python
reference simulator (SURVEY.md §5.2.3), plus resume semantics
(§5.2.4) over the same deterministic corpus.

Asserts per-round fetched-URL sets, the final seen set, link
relations with ratings, contents rows, and gate errors.
"""

from __future__ import annotations

import collections
import dataclasses
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from notjusthtml_searchengine_spark import schemas
from notjusthtml_searchengine_spark.operators import bloom as bloom_ops
from notjusthtml_searchengine_spark.plans.rounds import (
    CrawlConfig,
    CrawlEngine,
    state_buckets,
)
from notjusthtml_searchengine_spark.plans.state import CrawlState, parquet_rows
from notjusthtml_searchengine_spark.sources.corpus import write_corpus
from tests.sim import Simulator

MAX_ROUNDS = 12


def _mk_engine(spark, corpus_dir, state_dir, flagged_path=None, **cfg_kw):
    cfg = CrawlConfig(state_dir=str(state_dir), **cfg_kw)
    return CrawlEngine(
        spark,
        pages_path=os.path.join(corpus_dir, "pages.parquet"),
        seeds_path=os.path.join(corpus_dir, "seeds.txt"),
        flagged_path=flagged_path or os.path.join(corpus_dir, "flaggedWords.csv"),
        robots_path=os.path.join(corpus_dir, "robots.parquet"),
        cfg=cfg,
    )


def _read_sink(spark, state_dir, name, schema):
    return spark.read.schema(schema).parquet(
        os.path.join(str(state_dir), "rounds", "r*", name)
    )


def _read_last_seen(spark, corpus_dir, state_dir):
    """url_norm set of the seen parts the last manifest names, read with
    that manifest's bucket count."""
    state = CrawlState(str(state_dir))
    m = state.manifest(state.latest_committed_round())["stats"]
    seen = _mk_engine(spark, corpus_dir, state_dir)._read_seen(
        m["seen_parts"], m["n_buckets"]
    )
    return {r["url_norm"] for r in seen.select("url_norm").collect()}


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
    """The "bloom" crawl runs the shipped configuration on the small test
    corpus: its fat rows are spread and cached, and the small seen
    tables are broadcast. The "exact" crawl is the scale side of every
    rule: broadcast joins are off (the seen check anti-joins the bucketed
    seen parts), the fat-cache budget is 0 (the fat rows are re-derived
    from the scan) and the pages scan gives enough tasks (no spread)."""
    state_dir = tmp_path_factory.mktemp(f"state_{request.param}")
    exact = request.param == "exact"
    eng = _mk_engine(
        spark,
        corpus_dir,
        state_dir,
        per_host_budget=5,
        round_budget=None,
        bloom_prefilter=not exact,
        shard_bits=1 << 16,
        compact_seen_every=3,
        face_detector="fake",
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if exact:
        parallelism = spark.sparkContext.defaultParallelism
        eng._pages_scan = {"scan_partitions": parallelism, "row_groups": parallelism}
        eng._storage_bytes = 0
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stats = eng.run(max_rounds=MAX_ROUNDS)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    sim = Simulator(corpus, per_host_budget=5, round_budget=None, use_robots=True)
    sim_res = sim.run(max_rounds=MAX_ROUNDS)
    return eng, stats, sim_res, state_dir


def test_fat_row_rules_recorded(run_pair):
    """Every fetch round's manifest records both fat-row decisions with
    their inputs: the shipped run spreads and caches the small corpus's
    fat rows, the scale-side run does neither."""
    eng, stats, _, _ = run_pair
    exact = not eng.cfg.bloom_prefilter
    for s in stats:
        if s.get("done"):
            continue
        fat = eng.state.manifest(s["round"])["stats"]["fat_rows"]
        assert (fat["spread"], fat["cached"]) == (not exact, not exact), fat
        assert fat["broadcast_fetch"] and fat["est_bytes"] > 0, fat


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
    seen = eng._read_seen(
        manifest["stats"]["seen_parts"], manifest["stats"]["n_buckets"]
    )
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
    assert eng._read_seen(
        manifest["stats"]["seen_parts"], manifest["stats"]["n_buckets"]
    ).count() >= 0
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
        assert {"drain+stats", "extract", "pre_flush", "flush", "counters"} <= set(
            m["stats"]["phase_ms"]
        )
        assert set(m["stats"]["sink_ms"]) == set(m["tables"]) - {"round_stats"}


def test_bucket_count_sized_at_bootstrap(spark, run_pair, corpus_dir):
    """The round-0 manifest records the bucket rule's count for this
    corpus and session, and every later round carries it forward."""
    eng, stats, _, _ = run_pair
    expect = state_buckets(
        parquet_rows(os.path.join(corpus_dir, "pages.parquet")),
        1 << 16,
        spark.sparkContext.defaultParallelism,
    )
    assert eng.state.manifest(0)["stats"]["n_buckets"] == expect
    for s in stats:
        if not s.get("done"):
            assert eng.state.manifest(s["round"])["stats"]["n_buckets"] == expect


def test_union_sinks_written_at_round_shuffle_count(
    spark, corpus_dir, tmp_path_factory, monkeypatch
):
    """errors and metrics are written at the round's sized shuffle
    partition count instead of concatenating their inputs' partitions.
    The count is read from the frame each round queues: the unions' few
    rows keep the file count under the bound either way."""
    from notjusthtml_searchengine_spark.plans import rounds

    frames = {}
    sink = rounds._Round.sink

    def record(rd, df, name, bucket_col=None):
        frames[rd.r, name] = df
        sink(rd, df, name, bucket_col)

    monkeypatch.setattr(rounds._Round, "sink", record)
    eng = _mk_engine(
        spark, corpus_dir, tmp_path_factory.mktemp("state_union"), per_host_budget=5
    )
    stats = [s for s in eng.run(max_rounds=2) if not s.get("done")]
    assert stats
    for s in stats:
        for name in ("errors", "metrics"):
            n = s["shuffle_partitions"]
            assert frames[s["round"], name].rdd.getNumPartitions() <= n, (s, name)
            path = eng.state.table_path(s["round"], name)
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            assert 0 < len(files) <= n, (s["round"], name)


def _seq(seq) -> list:
    """A Scala Seq as a list."""
    return [seq.apply(i) for i in range(seq.size())]


def _files_read_per_sink(store, executions, r: int) -> collections.Counter:
    """Parquet files read by the round-``r`` sink writes among
    ``executions``, by sink name."""
    prefix, out = f"r{r:05d}:sink:", collections.Counter()
    for e in executions:
        if not e.description().startswith(prefix):
            continue
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes()
        for node in (nodes.apply(i) for i in range(nodes.size())):
            if not node.name().startswith("Scan parquet"):
                continue
            metrics = node.metrics()
            for m in (metrics.apply(j) for j in range(metrics.size())):
                v = values.get(m.accumulatorId())
                if m.name() == "number of files read" and v.isDefined():
                    out[e.description()[len(prefix):]] += int(v.get())
    return out


def test_round_without_images_reads_no_pages_for_media(
    spark, corpus_dir, tmp_path_factory
):
    """The media sinks of a round without images read no pages file:
    their images come from the fused pass's sniff, and AQE drops the body
    join against the empty broadcast. Round 1 fetches the two html
    seeds. The fat rows are re-derived per consumer (the scale side), so
    the blob sink scans the pages table in this round, and so would a
    media branch that filtered the bodies itself."""
    eng = _mk_engine(
        spark, corpus_dir, tmp_path_factory.mktemp("state_no_images"),
        per_host_budget=5, face_detector="fake",
    )
    parallelism = spark.sparkContext.defaultParallelism
    eng._pages_scan = {"scan_partitions": parallelism, "row_groups": parallelism}
    eng._storage_bytes = 0
    store = spark._jsparkSession.sharedState().statusStore()
    before = {e.executionId() for e in _seq(store.executionsList())}
    stats = eng.run(max_rounds=1)
    assert stats[0]["pages_fetched"] == 2 and not stats[0]["fat_rows"]["cached"]
    files = _files_read_per_sink(
        store, [e for e in _seq(store.executionsList()) if e.executionId() not in before], 1
    )
    assert files["content_blobs"] > 0, files
    for sink in ("perceptual_hashes", "exif_info", "faces"):
        assert files[sink] == 0, files


def _stage_scopes(store, stage_id: int) -> list[str]:
    """Names of the operator scopes in a stage's RDD graph."""
    out, todo = [], [store.operationGraphForStage(stage_id).rootCluster()]
    while todo:
        cluster = todo.pop()
        out.append(cluster.name())
        it = cluster.childClusters().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out


def test_extract_phase_runs_the_fused_pass(spark, corpus_dir, tmp_path_factory):
    """The fused extract+meta pass is billed to its own phase: round 1's
    MapInPandas stage runs in the ``r00001:extract`` job and in no sink
    write, and every sink the manifest times has a job that ran tasks.
    The status store keeps a bounded number of stages and drops first
    those that ran no task, so the ids of skipped stages may be gone."""
    eng = _mk_engine(
        spark, corpus_dir, tmp_path_factory.mktemp("state_phases"), per_host_budget=5
    )
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    before = {j.jobId() for j in _seq(store.jobsList(None))}
    stats = eng.run(max_rounds=1)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = collections.defaultdict(list)
    for stage in _seq(store.stageList(None, False, False, no_quantiles, None)):
        stages[stage.stageId()].append(stage)
    udf_jobs, run_ms = set(), collections.Counter()
    for job in _seq(store.jobsList(None)):
        if job.jobId() in before or not job.description().isDefined():
            continue
        desc = job.description().get()
        if not desc.startswith("r00001:"):
            continue
        it = job.stageIds().iterator()
        while it.hasNext():
            stage_id = it.next()
            for attempt in stages.get(stage_id, ()):
                run_ms[desc] += attempt.executorRunTime()
                if attempt.numCompleteTasks() and "MapInPandas" in _stage_scopes(
                    store, stage_id
                ):
                    udf_jobs.add(desc)
    assert udf_jobs == {"r00001:extract"}, udf_jobs
    sinks = {f"r00001:sink:{name}" for name in stats[0]["sink_ms"]}
    assert sinks <= {d for d, ms in run_ms.items() if ms > 0}, run_ms


# A one-round crawl of the test corpus whose Python workers cannot
# import the package: the driver puts the repository (argv[1]) on its
# own sys.path, the workers start in the working directory.
_CRAWL_WITHOUT_PACKAGE_ON_WORKERS = """
import os, sys
sys.path.insert(0, sys.argv[1])
from notjusthtml_searchengine_spark.plans.rounds import CrawlConfig, CrawlEngine
from notjusthtml_searchengine_spark.session import get_spark
from notjusthtml_searchengine_spark.sources.corpus import build_corpus, write_corpus

corpus = os.path.abspath("corpus")
write_corpus(build_corpus(n_pages=40, seed=42), corpus)
spark = get_spark(app_name="no-package-on-workers", master="local[4]")
CrawlEngine(
    spark, *(os.path.join(corpus, f) for f in (
        "pages.parquet", "seeds.txt", "flaggedWords.csv", "robots.parquet"
    )),
    CrawlConfig(state_dir=os.path.abspath("state"), per_host_budget=5),
).run(max_rounds=1)
"""


def test_failed_extraction_raises_instead_of_hanging(tmp_path):
    """A round whose extraction pass fails raises in the driver instead of
    leaving its concurrent sink writes waiting on each other. The crawl
    runs in a process of its own, in a temporary directory and with a
    PYTHONPATH that does not name the repository, so every Python worker
    fails to import the package; the process group (the JVM included) is
    killed if it has not exited after 120 s."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    pythonpath = [
        p for p in env.pop("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    ]
    if pythonpath:
        env["PYTHONPATH"] = os.pathsep.join(pythonpath)
    env.update(
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", _CRAWL_WITHOUT_PACKAGE_ON_WORKERS, repo],
        cwd=tmp_path,
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        _, err = proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        pytest.fail("the crawl was still running 120 s after its workers failed")
    assert proc.returncode != 0
    assert "ModuleNotFoundError" in err, err[-2000:]


def test_long_flagged_list_rates_like_the_short_one(
    spark, corpus, corpus_dir, tmp_path_factory
):
    """A flagged list of more than 512 words rates links through the
    keyword join (``crawl_ops.link_rating``) instead of the unrolled
    expression. The corpus's words padded to 600 with words that never
    match give the same link ratings and frontier priorities as the
    corpus's own list."""
    long_csv = tmp_path_factory.mktemp("flagged_long") / "flaggedWords.csv"
    with open(long_csv, "w") as f:
        for word, prio in corpus.flagged:
            f.write(f"{word},{prio}\n")
        for i in range(600 - len(corpus.flagged)):
            f.write(f"qqzx{i:03d}never,{i % 9 + 1}\n")
    runs = {}
    for name, flagged_path in (("short", None), ("long", str(long_csv))):
        state_dir = tmp_path_factory.mktemp(f"state_flagged_{name}")
        eng = _mk_engine(
            spark, corpus_dir, state_dir, flagged_path=flagged_path, per_host_budget=5
        )
        assert (len(eng.flagged_rows) > 512) is (name == "long")
        eng.run(max_rounds=2)
        rels = _read_sink(spark, state_dir, "link_rels", schemas.LINK_RELS)
        frontier = _read_sink(spark, state_dir, "frontier_delta", schemas.FRONTIER)
        runs[name] = tuple(
            {tuple(r) for r in df.select(*cols).collect()}
            for df, cols in (
                (rels, ("round", "origin_url", "dest_url", "rating")),
                (frontier, ("round_added", "url_norm", "priority")),
            )
        )
    rels, frontier = runs["short"]
    assert {r[0] for r in rels} == {1, 2} and frontier
    assert any(r[3] > 20 for r in rels)  # flagged words promote some links
    assert runs["long"] == runs["short"]


def test_crawl_delay_caps_per_round_drains(spark, corpus, tmp_path_factory):
    """With ``round_seconds`` set, a host whose robots row carries a
    crawl delay drains at most max(1, floor(round_seconds*1000/delay))
    urls per round, and every other host keeps the per-host budget."""
    round_seconds, delay_ms, budget = 2.0, 1000, 3
    cap = max(1, math.floor(round_seconds * 1000 / delay_ms))
    delayed = corpus.robots[0]["host"]
    robots = [{**corpus.robots[0], "crawl_delay_ms": delay_ms}]
    corpus_delay = str(tmp_path_factory.mktemp("corpus_delay"))
    write_corpus(dataclasses.replace(corpus, robots=robots), corpus_delay)
    # without the delay, the host drains more than the cap in a round
    sim = Simulator(corpus, per_host_budget=budget, round_budget=None, use_robots=True)
    assert max(
        sum(urlparse(u).hostname == delayed for u in urls)
        for urls in sim.run(max_rounds=5).fetched_per_round
    ) > cap
    state_dir = tmp_path_factory.mktemp("state_delay")
    eng = _mk_engine(
        spark, corpus_delay, state_dir,
        per_host_budget=budget, round_seconds=round_seconds, bloom_prefilter=False,
    )
    stats = eng.run(max_rounds=5)
    drains = collections.Counter()
    for s in stats:
        if s.get("done"):
            continue
        rd = os.path.join(str(state_dir), "rounds", f"r{s['round']:05d}")
        contents = spark.read.schema(schemas.CONTENTS).parquet(os.path.join(rd, "contents"))
        errors = spark.read.schema(schemas.ERRORS).parquet(os.path.join(rd, "errors"))
        urls = {r["url"] for r in contents.select("url").collect()} | {
            r["url"]
            for r in errors.filter(
                F.col("error_code") != schemas.ERROR_CODES["ErrorPerceptualHash"]
            ).collect()
        }
        drains.update((s["round"], urlparse(u).hostname) for u in urls)
    assert max(n for (_, h), n in drains.items() if h == delayed) == cap, drains
    assert max(n for (_, h), n in drains.items() if h != delayed) == budget, drains


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
    seen_full = _read_last_seen(spark, corpus_dir, full_dir)
    seen_part = _read_last_seen(spark, corpus_dir, part_dir)
    assert seen_full == seen_part


def test_resume_keeps_bootstrap_state_layout(
    spark, corpus, corpus_dir, tmp_path_factory, monkeypatch
):
    """A restart under another bloom shard size, whose bucket rule gives
    another count, keeps the layout the crawl bootstrapped with. Probing
    the bloom with other values tests candidates against another
    bucket's bits, and reading a bucketed table under another count
    misaligns it with the candidates' exchange; both let seen urls
    through and re-fetch them. The simulator is the uninterrupted run
    (run_pair pins the engine to it)."""
    state_dir = tmp_path_factory.mktemp("state_relayout")
    eng = _mk_engine(spark, corpus_dir, state_dir, per_host_budget=5, shard_bits=1 << 16)
    eng.bootstrap()
    eng.run_round(1)
    eng.run_round(2)
    layout = (eng.state.manifest(0)["stats"]["n_buckets"], 1 << 16)
    # the resume's rule input: 1 bit per key at a 1<<12-bit shard
    monkeypatch.setattr(bloom_ops, "BITS_PER_KEY", 1 << 12)
    rule = state_buckets(
        parquet_rows(os.path.join(corpus_dir, "pages.parquet")),
        1 << 12,
        spark.sparkContext.defaultParallelism,
    )
    assert rule != layout[0]
    # a restart: the bucketed tables' catalog entries are gone and are
    # re-registered from the bucket count the resume reads them with
    prev = eng.state.manifest(2)["stats"]
    for key in ("seen_parts", "frontier_parts", "drained_parts", "sites_parts"):
        for rel in prev[key]:
            spark.sql(
                f"DROP TABLE IF EXISTS {eng.state.bucketed_table_name(rel, layout[0])}"
            )
    eng_resume = _mk_engine(
        spark, corpus_dir, state_dir, per_host_budget=5, shard_bits=1 << 12
    )
    # at scale the seen side is never broadcast: without this the tiny
    # test tables would be, and a misread bucket count would not show
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stats = eng_resume.run(max_rounds=MAX_ROUNDS)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
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
    assert (m["n_buckets"], m["shard_bits"]) == layout
    assert _read_last_seen(spark, corpus_dir, state_dir) == sim_res.seen
    # every bucketed state file the resumed rounds wrote is one of the
    # bootstrap's buckets (Spark's bucket file name: ..._<id>.c000...)
    for s in stats:
        if s.get("done"):
            continue
        rd = eng_resume.state.round_dir(s["round"])
        for tbl in ("seen_delta", "seen_full", "frontier_delta", "frontier_full",
                    "drained", "sites_keys"):
            if not os.path.isdir(os.path.join(rd, tbl)):
                continue
            for f in os.listdir(os.path.join(rd, tbl)):
                if f.endswith(".parquet"):
                    bucket = int(re.match(r".*_(\d+)(?:\..*)?$", f).group(1))
                    assert bucket < layout[0], (s["round"], tbl, f)


def test_bootstrap_writes_only_the_frontier(
    spark, corpus_dir, tmp_path_factory, monkeypatch
):
    """Round 0 of the shipped configuration is the seed frontier alone:
    no seen part and no bloom. Round 1, whose previous manifest has no
    bloom, runs no probe (the exact check against no seen parts is the
    whole check) and builds the first bloom; round 2 probes it."""
    eng = _mk_engine(
        spark, corpus_dir, tmp_path_factory.mktemp("state_boot"), per_host_budget=5
    )
    eng.bootstrap()
    m = eng.state.manifest(0)
    assert m["tables"] == ["frontier_full"]
    assert sorted(os.listdir(eng.state.round_dir(0))) == ["frontier_full", "manifest.json"]
    assert m["stats"]["seen_parts"] == [] and m["stats"]["bloom"] is None
    assert eng._read_seen([], m["stats"]["n_buckets"]).count() == 0

    probes = []
    probe = bloom_ops.probe_shards

    def record(*args):
        probes.append(args)
        return probe(*args)

    monkeypatch.setattr(bloom_ops, "probe_shards", record)
    eng.run_round(1)
    assert len(probes) == 0
    assert eng.state.manifest(1)["stats"]["bloom"] == "r00001/bloom"
    eng.run_round(2)
    assert len(probes) == 1


def test_resume_turns_the_bloom_on(spark, corpus, corpus_dir, tmp_path_factory):
    """A crawl run with the bloom off and resumed with it on builds its
    first bloom from the live seen set at the resumed round: contents
    and seen set equal the simulator's uninterrupted run, and every seen
    url is bloom-positive at the end."""
    state_dir = tmp_path_factory.mktemp("state_bloom_on")
    eng = _mk_engine(spark, corpus_dir, state_dir, per_host_budget=5, bloom_prefilter=False)
    eng.bootstrap()
    eng.run_round(1)
    eng.run_round(2)
    assert eng.state.manifest(2)["stats"]["bloom"] is None
    eng_resume = _mk_engine(spark, corpus_dir, state_dir, per_host_budget=5)
    eng_resume.run(max_rounds=MAX_ROUNDS)
    assert eng_resume.state.manifest(3)["stats"]["bloom"] == "r00003/bloom"
    sim_res = Simulator(corpus, per_host_budget=5, round_budget=None, use_robots=True).run(
        max_rounds=MAX_ROUNDS
    )
    contents = [
        (r["url"], r["round"])
        for r in _read_sink(spark, state_dir, "contents", schemas.CONTENTS).collect()
    ]
    assert len(contents) == len(sim_res.contents)
    assert set(contents) == sim_res.contents
    assert _read_last_seen(spark, corpus_dir, state_dir) == sim_res.seen
    m = eng_resume.state.manifest(eng_resume.state.latest_committed_round())["stats"]
    seen = eng_resume._read_seen(m["seen_parts"], m["n_buckets"])
    probed = bloom_ops.probe_shards(
        seen.select("url_norm"), eng_resume._bloom_shards(m), m["n_buckets"], m["shard_bits"]
    )
    assert probed.filter(~F.col("maybe_seen")).count() == 0


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
        per_host_budget=5, bloom_prefilter=False,
        compact_seen_every=100,  # never compacts in this run
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
    view = eng._frontier_view(m["stats"], m["stats"]["n_buckets"])
    with open(os.path.join(corpus_dir, "seeds.txt")) as f:
        seed_urls = [line.strip() for line in f if line.strip()]
    fetched_urls = _read_sink(spark, state_dir, "contents", schemas.CONTENTS)
    requeued = view.join(
        fetched_urls.select(F.col("url").alias("url_norm")), "url_norm", "inner"
    ).filter(~F.col("url_norm").isin(seed_urls))
    assert requeued.count() == 0
