"""spark-submit entry point.

Ship the package and drive a crawl:

    zip -r njh_spark.zip notjusthtml_searchengine_spark
    spark-submit --py-files njh_spark.zip -m notjusthtml_searchengine_spark \
        --pages s3://bucket/pages --seeds seeds.txt --flagged flagged.csv \
        --robots robots.parquet --state s3://bucket/crawl_state \
        --round-budget 1000000 --per-host-budget 64

(or `python -m notjusthtml_searchengine_spark ...` locally).
Resumes automatically from the latest committed round snapshot.
"""

from __future__ import annotations

import argparse
import json

from .plans.rounds import CrawlConfig, CrawlEngine
from .session import get_spark


def _local_tree_bytes(path: str | None) -> int:
    """On-disk bytes of a local file/dir (0 for None or remote URIs)."""
    import os

    if not path or "://" in path:
        return 0
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    except OSError:
        return 0


def main() -> None:
    ap = argparse.ArgumentParser(prog="notjusthtml_searchengine_spark")
    ap.add_argument("--pages", default=None, help="pages parquet path/dir")
    ap.add_argument("--seeds", default=None, help="seed url list (text)")
    ap.add_argument("--flagged", default=None, help="flaggedWords.csv")
    ap.add_argument("--robots", default=None, help="robots rules parquet")
    ap.add_argument(
        "--fetch-robots", action="store_true",
        help="prefetch+parse robots.txt per host inside the loop",
    )
    ap.add_argument("--state", required=True, help="checkpoint/state dir")
    ap.add_argument("--round-budget", type=int, default=None)
    ap.add_argument("--per-host-budget", type=int, default=64)
    ap.add_argument("--max-rounds", type=int, default=100)
    ap.add_argument("--no-bloom", action="store_true")
    ap.add_argument(
        "--face-detector", default="none",
        help="face detector plugin: none | fake | <model name>",
    )
    ap.add_argument("--master", default=None)
    # query mode (consumer catalog over an existing state dir):
    ap.add_argument("--search-keyword", default=None, metavar="TERM",
                    help="skip crawling; keyword-search the state dir")
    ap.add_argument("--top-pages", action="store_true",
                    help="rank crawled pages by PageRank over link_rels")
    ap.add_argument("--match-phash", type=int, default=None, metavar="HASH",
                    help="skip crawling; find images near this pHash")
    ap.add_argument("--limit", type=int, default=20)
    # training-set mode (crawl state -> packed LM corpus):
    ap.add_argument("--make-training-set", default=None, metavar="OUT_DIR",
                    help="skip crawling; run the state dir's pages "
                    "through clean/dedup/filter/pack into OUT_DIR")
    ap.add_argument("--seq-len", type=int, default=1024)
    ap.add_argument("--no-clean", action="store_true",
                    help="training-set mode: skip C4 line cleaning")
    ap.add_argument("--filter-lang", default="en",
                    help="training-set mode: language gate ('' = off)")
    ap.add_argument("--max-ppl", type=float, default=2000.0)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--near-dedup", action="store_true",
                    help="training-set mode: MinHash-LSH near-dup "
                    "clustering after exact dedup")
    args = ap.parse_args()

    if args.make_training_set is not None:
        from .plans.training import build_training_set

        spark = get_spark(app_name="njh-trainset", master=args.master)
        spark.sparkContext.setLogLevel("ERROR")
        stats = build_training_set(
            spark,
            args.state,
            args.make_training_set,
            seq_len=args.seq_len,
            clean=not args.no_clean,
            lang=args.filter_lang or None,
            max_ppl=args.max_ppl,
            min_quality=args.min_quality,
            near_dedup=args.near_dedup,
        )
        print(json.dumps(stats))
        return

    if (
        args.search_keyword is not None
        or args.match_phash is not None
        or args.top_pages
    ):
        from .plans.catalog import (
            keyword_search,
            register_sinks,
            similar_images,
            top_pages,
        )

        spark = get_spark(app_name="njh-query", master=args.master)
        spark.sparkContext.setLogLevel("ERROR")
        register_sinks(spark, args.state)
        if args.search_keyword is not None:
            rows = keyword_search(spark, args.search_keyword, limit=args.limit).collect()
        elif args.top_pages:
            rows = top_pages(spark, k=args.limit).collect()
        else:
            rows = similar_images(spark, args.match_phash).limit(args.limit).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        return

    for req in ("pages", "seeds", "flagged"):
        if getattr(args, req) is None:
            ap.error(f"--{req} is required for crawling")
    spark = get_spark(
        app_name="njh-crawl",
        master=args.master,
        # local paths only (remote stores size their executors
        # explicitly); feeds the volume-scaled GC nursery bound
        input_bytes=_local_tree_bytes(args.pages),
    )
    cfg = CrawlConfig(
        state_dir=args.state,
        round_budget=args.round_budget,
        per_host_budget=args.per_host_budget,
        bloom_prefilter=not args.no_bloom,
        face_detector=args.face_detector,
        fetch_robots_txt=args.fetch_robots,
    )
    eng = CrawlEngine(spark, args.pages, args.seeds, args.flagged, args.robots, cfg)
    stats = eng.run(max_rounds=args.max_rounds)
    for s in stats:
        print(json.dumps(s))


if __name__ == "__main__":
    main()
