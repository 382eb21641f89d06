"""Round-6 measurement harness (supplement to the frozen bench.py).

Modes:
  --queries [names...]   time declared queries with the noop sink
                         (guide §1.4), N repeats, one session; prints
                         a JSON line {name: [sec, ...]}.
  --explain [names...]   write .explain("formatted") for queries to
                         plans/r06/<name>_<tag>.txt  (--tag before/after).
  --crawl-profile        one frontier drain with per-phase timings and
                         Spark event logging enabled; prints the round
                         stats including phase walls.

Never used by the driver; exists so optimization evidence in
OPTIMIZATION_r06.md is reproducible.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def _session(cpus: str, event_log: bool = False):
    from notjusthtml_searchengine_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs("/tmp/njh_eventlog", exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "/tmp/njh_eventlog",
            }
        )
    return get_spark(
        app_name="bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 32,
        extra_confs=extra,
    )


def main() -> None:
    # BEFORE any package import: session.DEFAULT_CONFS snapshots
    # $SPARK_GRAFT_DRIVER_MEM at import time, and the frozen bench legs
    # run 48g — a profiler that defaults differently measures a
    # different JVM (r6: this mismatch put an 8g heap under the
    # crawl-profile runs).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--explain", nargs="*", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--crawl-profile", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--pages", type=int, default=96000)
    ap.add_argument("--host-budget", type=int, default=None)
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)

    if args.queries is not None:
        import __spark_entry__ as entry

        spark = _session(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        qs = entry.queries()
        names = args.queries or [
            "rating_theta_join",
            "dims_broadcast_join",
            "dedup_ngram_jaccard",
            "dedup_minhash_lsh",
            "ann_brute_topk",
            "windowed_rollup",
            "sessionize",
            "doc_fingerprint",
        ]
        out = {}
        for name in names:
            times = []
            for _ in range(args.repeats):
                spark.sparkContext.setJobDescription(f"q:{name}")
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(round(time.perf_counter() - t0, 3))
            out[name] = times
            print(name, times, file=sys.stderr)
        print(json.dumps(out))
        spark.stop()
        return

    if args.explain is not None:
        import __spark_entry__ as entry

        spark = _session(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        qs = entry.queries()
        os.makedirs("plans/r06", exist_ok=True)
        for name in args.explain:
            df = qs[name](spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = f"plans/r06/{name}_{args.tag}.txt"
            with open(path, "w") as f:
                f.write(txt)
            print("wrote", path, file=sys.stderr)
        spark.stop()
        return

    if args.crawl_profile:
        import shutil
        import tempfile

        from notjusthtml_searchengine_spark.plans.rounds import (
            CrawlConfig,
            CrawlEngine,
        )

        corpus = os.path.join(
            os.environ.get(
                "SPARK_GRAFT_BENCH_CACHE", "/dev/shm/spark_graft_bench"
            ),
            f"corpus_n{args.pages}",
        )
        master = args.master or f"local[{cpus}]"
        n = int(master.split("[")[1].rstrip("]*") or 32)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
        from notjusthtml_searchengine_spark.session import get_spark

        os.makedirs("/tmp/njh_eventlog", exist_ok=True)
        spark = get_spark(
            app_name="bench-extra-crawl",
            master=master,
            shuffle_partitions=max(n, 8),
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": "/dev/shm/spark_graft_local",
                "spark.sql.adaptive.enabled": os.environ.get(
                    "SPARK_GRAFT_PROFILE_AQE", "false"
                ),
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "/tmp/njh_eventlog",
                "spark.eventLog.compress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        local_dir = "/dev/shm/spark_graft_local"
        os.makedirs(local_dir, exist_ok=True)
        state_dir = tempfile.mkdtemp(prefix="bench_state_", dir="/dev/shm")
        cfg = CrawlConfig(
            state_dir=state_dir,
            round_budget=None,
            per_host_budget=args.host_budget,
            use_robots=True,
            bloom_prefilter=False,
            n_buckets=32,
            media=False,
            lineage_metrics=False,
            compact_seen_every=4,
            salt=0,
            cache_fat=False,
        )
        eng = CrawlEngine(
            spark,
            pages_path=os.path.join(corpus, "pages.parquet"),
            seeds_path=os.path.join(corpus, "seeds.txt"),
            flagged_path=os.path.join(corpus, "flaggedWords.csv"),
            robots_path=os.path.join(corpus, "robots.parquet"),
            cfg=cfg,
        )
        t0 = time.perf_counter()
        stats = eng.run(max_rounds=64)
        wall = time.perf_counter() - t0
        shutil.rmtree(state_dir, ignore_errors=True)
        print(
            json.dumps(
                {
                    "master": master,
                    "wall_sec": round(wall, 2),
                    "rounds": [
                        {
                            k: s.get(k)
                            for k in (
                                "round",
                                "pages_fetched",
                                "wall_ms",
                                "phase_ms",
                                "sink_ms",
                            )
                        }
                        for s in stats
                    ],
                }
            )
        )
        spark.stop()
        return


if __name__ == "__main__":
    main()
