"""One benchmark run of one workload, in a fresh process.

Started by ``run.py``, which owns the timeout, the process-tree
sampling and the result line. Arguments arrive as one JSON object in
``argv[1]``; the result is written as JSON to ``cfg["result"]``.

Untraced run: set the session up, then run the workload's batch jobs
back to back (closed loop, one client) until ``seconds`` have passed,
at least one.

- ``crawl_fat``: a job is ``CrawlEngine.run(max_rounds=1)`` — bootstrap
  and one fetch round — on a fresh state directory.
- ``analytics``: passes over the eight leaves, one cold, then warm
  ones until ``seconds`` have passed, at least ``MIN_WARM_PASSES``. A
  job is the batch of the cold pass and the first ``MIN_WARM_PASSES``
  warm ones.

Traced run: one setup with Spark event logging on and the crawl's
``phase_timings`` set, the workload's jobs, then direct calls into
single layers on that workload's inputs (and, for the crawl, on the
finished job's state).

Every output check runs outside the timed spans.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
import traceback

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from pyspark.sql import functions as F  # noqa: E402

import inputs  # noqa: E402
from eventlog import PHASES, metric_name, phase_table, read_log  # noqa: E402
from notjusthtml_searchengine_spark.session import get_spark  # noqa: E402

# A warm pass takes 6-17 s on 4 vCPUs and keeps getting faster for
# five or six passes as the JVM compiles the leaves' code. The CPU time
# of the cold pass plus one warm pass spread no wider over runs than
# with two or three warm passes (see README.md), and more passes do not
# fit the benchmark's time budget on a busy host.
MIN_WARM_PASSES = 1


def _import_probe(_):
    """Runs in a Python worker: fails the warm-up job if the workers
    cannot import the package."""
    import notjusthtml_searchengine_spark

    return notjusthtml_searchengine_spark.__name__


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_cpu_s() -> float:
    """CPU time (user + system) used so far by this process's session:
    the worker, its JVM and the Python workers, the exited ones
    included through the parents that reaped them. Time the hypervisor
    gave to other guests (steal) is not in it."""
    sid, ticks = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                # proc(5) fields from 3 on: rest[3] is field 6, the
                # session; rest[11:15] fields 14-17, utime to cstime
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(rest[3]) == sid:
            ticks += sum(int(x) for x in rest[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class Session:
    """The workload's Spark session and the object it drives (a
    ``CrawlEngine`` factory or the leaf query set)."""

    def __init__(self, cfg: dict, extra_confs: dict | None = None,
                 phase_timings: bool = False):
        self.cfg = cfg
        self.phase_timings = phase_timings
        self.jobs = 0
        cores = cfg["cores"]
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        t = time.monotonic()
        self.spark = get_spark(
            app_name=f"perfbench-{cfg['workload']}",
            master=f"local[{cores}]",
            extra_confs=extra_confs,
            input_bytes=cfg.get("input_bytes"),
        )
        self.get_spark_s = time.monotonic() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        probe = F.udf(_import_probe)
        self.spark.range(1, numPartitions=1).select(probe("id")).collect()
        self.engine = None
        self.leaves = None
        if cfg["workload"] == "analytics":
            import __spark_entry__ as entry

            queries = entry.queries()
            self.leaves = {name: queries[name] for name in inputs.LEAVES}
        else:
            self.engine = self.new_engine()

    def new_engine(self):
        """A ``CrawlEngine`` with the ``CrawlConfig`` defaults on a fresh
        state directory; only the per-host budget (none) is set."""
        from notjusthtml_searchengine_spark.plans.rounds import CrawlConfig, CrawlEngine

        d = self.cfg["inputs"]
        self.jobs += 1
        state = os.path.join(self.cfg["work"], f"state{self.jobs}")
        conf = CrawlConfig(state_dir=state, per_host_budget=None)
        if self.phase_timings:
            conf.extra["phase_timings"] = True
        return CrawlEngine(
            self.spark,
            os.path.join(d, "pages.parquet"),
            os.path.join(d, "seeds.txt"),
            os.path.join(d, "flaggedWords.csv"),
            os.path.join(d, "robots.parquet"),
            conf,
        )

    def effective_confs(self) -> dict:
        return dict(self.spark.sparkContext.getConf().getAll())


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------
def crawl_job(eng, expected: dict) -> dict:
    """Time one crawl job (bootstrap and ``CRAWL_ROUNDS`` rounds); check
    it against the BFS afterwards."""
    t0, w0, c0 = time.monotonic(), time.time(), tree_cpu_s()
    try:
        stats = eng.run(max_rounds=inputs.CRAWL_ROUNDS)
    except Exception:
        return {"ok": False, "error": traceback.format_exc(limit=20)}
    dt = time.monotonic() - t0
    rec = {
        "job_s": dt,
        "cpu_s": tree_cpu_s() - c0,
        "window": (w0, time.time()),
        "pages": sum(s.get("pages_fetched", 0) for s in stats),
        "round_s": [s["wall_ms"] / 1000.0 for s in stats if not s.get("done")],
        "phase_ms": [s.get("phase_ms") for s in stats if not s.get("done")],
        "state_dir": eng.cfg.state_dir,
    }
    rec["problems"] = inputs.check_crawl(stats, eng.cfg.state_dir, expected)
    rec["ok"] = not rec["problems"]
    return rec


def crawl_jobs(sess: Session, expected: dict, seconds: float) -> list[dict]:
    jobs, eng, t_window = [], sess.engine, time.monotonic()
    while True:
        rec = crawl_job(eng, expected)
        jobs.append(rec)
        shutil.rmtree(eng.cfg.state_dir, ignore_errors=True)
        left = seconds - (time.monotonic() - t_window)
        if not rec["ok"] or left < rec.get("job_s", seconds):
            return jobs
        eng = sess.new_engine()


def crawl_metrics(jobs: list[dict]) -> dict:
    good = [j for j in jobs if j["ok"]]
    if not good:
        return {}
    rounds = [r for j in good for r in j["round_s"]]
    return {
        "job_s": statistics.median(j["job_s"] for j in good),
        "job_cpu_s": statistics.median(j["cpu_s"] for j in good),
        "round_p50_s": statistics.median(rounds),
        "pages_per_s": statistics.median(j["pages"] / j["job_s"] for j in good),
    }


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------
def leaf_pass(sess: Session, expected: dict) -> dict[str, dict]:
    """Run every leaf once: time its execution up to the rows on the
    driver, then check the rows against the oracle (untimed). The
    results are at most a few thousand small rows; collecting them,
    rather than writing to the noop sink, lets every execution be
    checked without running it twice."""
    out: dict[str, dict] = {}
    for name, fn in sess.leaves.items():
        t, c = time.monotonic(), tree_cpu_s()
        try:
            df = fn(sess.spark, sess.cfg["inputs"])
            rows = df.collect()
        except Exception:
            out[name] = {"s": None, "error": traceback.format_exc(limit=20)}
            continue
        dt, cpu = time.monotonic() - t, tree_cpu_s() - c
        got = inputs.rows_digest(rows, df.columns)
        ok = got == expected[name]
        out[name] = {"s": dt, "cpu_s": cpu, "ok": ok}
        if not ok:
            out[name]["mismatch"] = f"{got['n']} rows {got['cols']}, expected {expected[name]['n']}"
    return out


def analytics_jobs(sess: Session, expected: dict, seconds: float) -> list[dict]:
    """One cold pass, then warm passes until ``seconds`` have passed
    (at least ``MIN_WARM_PASSES``)."""
    t_window = time.monotonic()
    passes = [leaf_pass(sess, expected)]
    while True:
        last = sum(v["s"] or 0.0 for v in passes[-1].values())
        left = seconds - (time.monotonic() - t_window)
        if len(passes) > MIN_WARM_PASSES and left < last:
            return passes
        passes.append(leaf_pass(sess, expected))


def _good(p: dict) -> bool:
    return all(v["s"] is not None and v["ok"] for v in p.values())


def analytics_metrics(passes: list[dict]) -> dict:
    """End-to-end figures; empty unless every execution succeeded."""
    if not all(_good(p) for p in passes):
        return {}
    secs = [{k: v["s"] for k, v in p.items()} for p in passes]
    # the batch: the cold pass and the first MIN_WARM_PASSES warm ones,
    # a fixed amount of work however many passes fit
    batch = passes[: 1 + MIN_WARM_PASSES]
    return {
        "job_s": sum(v["s"] for p in batch for v in p.values()),
        "job_cpu_s": sum(v["cpu_s"] for p in batch for v in p.values()),
        "queries_cold_s": sum(secs[0].values()),
        # each leaf at its median warm time
        "queries_warm_s": sum(statistics.median(p[k] for p in secs[1:]) for k in secs[0]),
    }


def analytics_counts(passes: list[dict]) -> tuple[int, int]:
    attempted = sum(len(p) for p in passes)
    failed = sum(not (v["s"] is not None and v["ok"]) for p in passes for v in p.values())
    return attempted, failed


# ---------------------------------------------------------------------------
# traced run: per-layer metrics
# ---------------------------------------------------------------------------
def _timed(fn) -> float:
    t = time.monotonic()
    fn()
    return time.monotonic() - t


def crawl_trace(log_path: str, window: tuple[float, float]) -> tuple[dict, dict]:
    """Per-layer figures of one crawl job from the event log: the Spark
    jobs that started inside its wall-clock window."""
    jobs = [j for j in read_log(log_path) if window[0] <= j["start"] <= window[1]]
    table = phase_table(jobs)
    rounds = [t["total"] for r, t in table.items() if r is not None]
    out = {
        "jvm.gc_s": sum(t["gc_s"] for j in jobs for t in j["tasks"]),
        "rounds.jobs": statistics.median(r["jobs"] for r in rounds),
        "rounds.tasks": statistics.median(r["tasks"] for r in rounds),
        "rounds.driver_gap_s": statistics.median(r["gap_s"] for r in rounds),
        "rounds.shuffle_write_bytes": sum(r["shuffle_w"] for r in rounds),
        "rounds.spill_bytes": sum(r["spill"] for r in rounds),
    }
    for p in PHASES:
        rows = [t[p] for r, t in table.items() if r is not None and p in t]
        out[f"phase.{metric_name(p)}.run_s"] = sum(x["run_s"] for x in rows)
        out[f"phase.{metric_name(p)}.gc_s"] = sum(x["gc_s"] for x in rows)
    detail = {
        "table": {str(r): t for r, t in table.items()},
        # round labels PHASES does not list: a sink added to the engine
        # that the phase.* metrics would miss
        "unlisted_phases": sorted(
            {p for r, t in table.items() if r is not None for p in t}
            - set(PHASES) - {"total"}
        ),
        "gap_share": [r["gap_s"] / r["wall_s"] for r in rounds if r["wall_s"] > 0],
    }
    return out, detail


def crawl_layers(sess: Session, rec: dict) -> dict:
    """Direct calls into single layers, on the corpus and on the
    finished crawl job's state. Nothing here is part of a measured job."""
    import pyarrow.parquet as pq

    from notjusthtml_searchengine_spark import schemas
    from notjusthtml_searchengine_spark.extract.kernels import extract_links
    from notjusthtml_searchengine_spark.extract.udfs import extract_with_meta
    from notjusthtml_searchengine_spark.operators import bloom as bloom_ops
    from notjusthtml_searchengine_spark.operators import crawl_ops as ops
    from notjusthtml_searchengine_spark.plans.state import (
        FRONTIER_DDL, SEEN_DDL, CrawlState,
    )

    spark, cfg = sess.spark, sess.cfg
    pages_path = os.path.join(cfg["inputs"], "pages.parquet")
    state = CrawlState(rec["state_dir"])
    last = state.latest_committed_round()
    man = {r: state.manifest(r)["stats"] for r in range(last + 1)}
    nb = int(man[last]["n_buckets"])
    m: dict = {}

    # extract: the kernel in this process, over a fixed page sample
    sample = pq.read_table(pages_path, columns=["url", "html"]).slice(0, 200).to_pylist()
    t = time.monotonic()
    for row in sample:
        extract_links(row["url"], row["html"])
    m["extract.kernel_ms_per_page"] = (time.monotonic() - t) * 1000 / len(sample)

    pages = spark.read.schema(schemas.PAGES).parquet(pages_path)
    n_pages = pages.count()
    feed = pages.select(
        F.col("url").alias("url_norm"), F.lit("ok").alias("gate"), "html"
    )
    m["extract.udf_pages_per_s"] = n_pages / _timed(lambda: _noop(extract_with_meta(feed)))

    def parts(rel_list, ddl):
        return [state.read_bucketed(spark, p, ddl, nb) for p in rel_list]

    def union(dfs):
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    # crawl_ops: fetch join of the round-1 batch against the full corpus
    batch = parts(man[0]["frontier_parts"], FRONTIER_DDL)[0]
    m["crawl_ops.fetch_hits_s"] = _timed(
        lambda: _noop(ops.fetch_hits(batch, pages.select("url", "warc_ts", "html")))
    )
    frontier = union(parts(man[last]["frontier_parts"], FRONTIER_DDL))
    m["crawl_ops.drain_frontier_s"] = _timed(
        lambda: _noop(ops.drain_frontier(frontier, None, 64))
    )
    seen_parts = parts(man[last]["seen_parts"], SEEN_DDL)
    cands = pages.select(
        F.col("url").alias("url_norm"), F.xxhash64("url").alias("url_hash")
    )
    m["crawl_ops.seen_anti_join_s"] = _timed(
        lambda: _noop(ops.seen_anti_join_parts(cands, seen_parts))
    )
    fetched = sum(man[r].get("pages_fetched", 0) for r in man)
    drained = sum(man[r].get("batch", 0) for r in man)
    m["fetch.hit_ratio"] = fetched / drained if drained else 0.0

    # bloom: the shards the last round committed (its seen set), probed
    # with urls it holds (the corpus) and as many it does not, as the
    # next round's candidates would be
    shards = spark.read.schema(schemas.BLOOM_SHARDS).parquet(
        os.path.join(state.root, "rounds", man[last]["bloom"])
    )
    urls = pages.select(F.col("url").alias("url_norm"))
    probe_in = urls.unionByName(
        urls.select(F.concat("url_norm", F.lit("/new")).alias("url_norm"))
    )
    probed = bloom_ops.probe_shards(probe_in, shards, nb, sess.engine.cfg.shard_bits)
    m["bloom.probe_s"] = _timed(lambda: _noop(probed))
    row = probed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(~F.col("maybe_seen"), 1).otherwise(0)).alias("neg"),
    ).first()
    m["bloom.skip_ratio"] = (row["neg"] or 0) / row["n"] if row["n"] else 0.0

    # state: bucketed write and commit into a scratch state directory
    scratch = CrawlState(os.path.join(cfg["work"], "scratch_state"))
    seen_all = union(seen_parts)
    m["state.write_bucketed_s"] = _timed(
        lambda: scratch.write_bucketed(seen_all, 1, "seen_delta", nb)
    )
    commits = [_timed(lambda: scratch.commit_round(1, man[last])) for _ in range(20)]
    m["state.commit_round_s"] = statistics.median(commits)
    reads = [
        len(man[r - 1]["frontier_parts"]) + len(man[r - 1].get("drained_parts", []))
        + len(man[r - 1]["seen_parts"])
        for r in range(1, last + 1)
    ]
    m["state.parts_per_round"] = statistics.mean(reads)

    phases = [p for p in rec["phase_ms"] if p]
    m["rounds.pre_flush_s"] = statistics.median(p["pre_flush"] for p in phases) / 1000
    m["rounds.flush_s"] = statistics.median(p["flush"] for p in phases) / 1000
    return m


def analytics_layers(passes: list[dict]) -> dict:
    m = {}
    for name in inputs.LEAVES:
        m[f"query.{name}.cold_s"] = passes[0][name]["s"] or 0.0
        warm = [p[name]["s"] for p in passes[1:] if p[name]["s"] is not None]
        m[f"query.{name}.warm_s"] = statistics.median(warm) if warm else 0.0
    return m


def prior_job_s(cfg: dict) -> float | None:
    """Median job time over this checkout's untraced run records of the
    same workload, cores and source tree (the reference for the tracing
    overhead)."""
    runs = os.path.join(cfg["root_work"], "runs")
    vals = []
    for name in os.listdir(runs) if os.path.isdir(runs) else []:
        try:
            with open(os.path.join(runs, name)) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        same = all(rec.get(k) == cfg[k] for k in ("workload", "cores", "source"))
        if same and not rec.get("trace"):
            v = rec.get("metrics", {}).get("job_s")
            if v:
                vals.append(v)
    return statistics.median(vals) if vals else None


def traced(cfg: dict) -> dict:
    """The traced run. Returns the per-layer metrics and the detail
    kept in the run record."""
    log_dir = os.path.join(cfg["work"], "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        # one plain JSON-lines file that eventlog.py reads as it grows
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    sess = Session(cfg, confs, phase_timings=True)
    m = {"session.get_spark_s": sess.get_spark_s}
    detail: dict = {"confs": sess.effective_confs()}
    if sess.engine is not None:
        detail["crawl_config"] = dataclasses.asdict(sess.engine.cfg)
    log_path = os.path.join(log_dir, os.listdir(log_dir)[0])
    if cfg["workload"] == "analytics":
        w0 = time.time()
        passes = analytics_jobs(sess, cfg["expected"], cfg["seconds"])
        jobs = [j for j in read_log(log_path) if j["start"] >= w0]
        m["jvm.gc_s"] = sum(t["gc_s"] for j in jobs for t in j["tasks"])
        m.update(analytics_layers(passes))
        detail["crawl_jobs_launched"] = sum(j["round"] is not None for j in jobs)
        detail["passes"] = passes
        job_s = analytics_metrics(passes).get("job_s")
        attempted, failed = analytics_counts(passes)
    else:
        rec = crawl_job(sess.engine, cfg["expected"])
        attempted, failed = 1, int(not rec["ok"])
        detail["job"] = {k: v for k, v in rec.items() if k != "window"}
        job_s = rec.get("job_s")
        if rec["ok"]:
            trace_m, detail["trace"] = crawl_trace(log_path, rec["window"])
            m.update(trace_m)
            m.update(crawl_layers(sess, rec))
        shutil.rmtree(rec.get("state_dir", ""), ignore_errors=True)
    ref = prior_job_s(cfg)
    m["trace.overhead_s"] = job_s - ref if (job_s is not None and ref) else 0.0
    detail["trace_overhead_ref_s"] = ref
    return {"layers": m, "detail": detail, "attempted": attempted, "failed": failed}


def untraced(cfg: dict, spawn_t: float) -> dict:
    sess = Session(cfg)
    # from process start: interpreter, imports, JVM launch, session,
    # UDF warm-up and the engine or query set
    setup_s = time.time() - spawn_t
    out = {"confs": sess.effective_confs()}
    if sess.engine is not None:
        out["crawl_config"] = dataclasses.asdict(sess.engine.cfg)
    if cfg["workload"] == "analytics":
        passes = analytics_jobs(sess, cfg["expected"], cfg["seconds"])
        out["metrics"] = analytics_metrics(passes)
        out["attempted"], out["failed"] = analytics_counts(passes)
        out["passes"] = passes
    else:
        jobs = crawl_jobs(sess, cfg["expected"], cfg["seconds"])
        out["metrics"] = crawl_metrics(jobs)
        out["attempted"] = len(jobs)
        out["failed"] = sum(not j["ok"] for j in jobs)
        out["jobs"] = [{k: v for k, v in j.items() if k != "window"} for j in jobs]
    out["metrics"]["setup_s"] = setup_s
    return out


def main() -> None:
    spawn_t = float(os.environ["PERFBENCH_SPAWN_T"])
    cfg = json.loads(sys.argv[1])
    try:
        out = traced(cfg) if cfg["trace"] else untraced(cfg, spawn_t)
    except Exception:
        out = {"error": traceback.format_exc(limit=30)}
    with open(cfg["result"], "w") as f:
        json.dump(out, f, default=str)
    # No session teardown: run.py kills the process tree (JVM, Python
    # workers) and removes the run's directories once this exits.
    os._exit(0)


if __name__ == "__main__":
    main()
