"""Robots self-ingestion inside the crawl loop (north_rule): newly
discovered hosts get <scheme>://host/robots.txt prefetched at
PRIORITY_ROBOTS; rules parsed from fetched bodies are sunk to the
"robots" sink and applied — including to the SAME round's candidates,
so a host's disallowed pages are never enqueued even when its robots
and its first content page arrive in the same batch."""

from __future__ import annotations

import collections
import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from notjusthtml_searchengine_spark import schemas
from notjusthtml_searchengine_spark.plans.rounds import CrawlConfig, CrawlEngine

TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
A, B = "http://a.ex", "http://b.ex"


def _write_corpus(tmp_path, pages: dict[str, str], seeds: list[str]):
    """pages.parquet (one row per url: body), seeds.txt and flagged.csv
    under ``tmp_path/corpus``."""
    urls = list(pages)
    tbl = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array([TS] * len(urls), pa.timestamp("us", tz="UTC")),
            "html": pa.array([pages[u].encode() for u in urls], pa.binary()),
            "text": [""] * len(urls),
            "lang": ["en"] * len(urls),
        }
    )
    d = tmp_path / "corpus"
    d.mkdir()
    pq.write_table(tbl, str(d / "pages.parquet"))
    (d / "seeds.txt").write_text("".join(f"{u}\n" for u in seeds))
    (d / "flagged.csv").write_text("zebra,11\n")
    return d


def _corpus(tmp_path):
    # anchor 'zebra zebra' rates 1*2*11=22 > 20 → link promoted
    pages = {
        f"{A}/": f'<html><body><a href="{B}/">zebra zebra</a></body></html>',
        f"{B}/": (
            f'<html><body><a href="{B}/blocked/x">zebra zebra</a>'
            f'<a href="{B}/ok">zebra zebra</a></body></html>'
        ),
        f"{B}/robots.txt": "User-agent: *\nDisallow: /blocked\n",
        f"{B}/ok": "<html><body><p>fine</p></body></html>",
        f"{B}/blocked/x": "<html><body><p>must never be fetched</p></body></html>",
    }
    return _write_corpus(tmp_path, pages, [f"{A}/"])


def test_robots_fetched_in_loop_blocks_candidates(spark, tmp_path):
    d = _corpus(tmp_path)
    cfg = CrawlConfig(
        state_dir=str(tmp_path / "state"),
        bloom_prefilter=False,
        fetch_robots_txt=True,
    )
    eng = CrawlEngine(
        spark,
        pages_path=str(d / "pages.parquet"),
        seeds_path=str(d / "seeds.txt"),
        flagged_path=str(d / "flagged.csv"),
        robots_path=None,  # NO pre-supplied rules: all from the loop
        cfg=cfg,
    )
    stats = eng.run(max_rounds=8)

    contents = spark.read.schema(schemas.CONTENTS).parquet(
        os.path.join(str(tmp_path / "state"), "rounds", "r*", "contents")
    )
    fetched = {r["url"] for r in contents.select("url").collect()}
    # robots.txt was discovered (host b.ex appears among candidates in
    # round 1) and prefetched alongside b.ex's first page in round 2;
    # its rules blocked /blocked/x in that same round
    assert f"{B}/robots.txt" in fetched
    assert f"{B}/ok" in fetched and f"{B}/" in fetched
    assert f"{B}/blocked/x" not in fetched

    # rules landed in the robots sink and the round manifest points
    # at the snapshot
    robots = spark.read.schema(schemas.ROBOTS).parquet(
        os.path.join(str(tmp_path / "state"), "rounds", "r*", "robots")
    )
    rows = {r["host"]: r for r in robots.collect()}
    assert rows["b.ex"]["disallow_prefixes"] == ["/blocked"]
    robots_rounds = [
        s["round"] for s in stats if not s.get("done") and s.get("robots")
    ]
    assert robots_rounds, stats
    m = eng.state.manifest(robots_rounds[-1])
    assert m["stats"]["robots"] == f"r{robots_rounds[-1]:05d}/robots"

    # blocked url is absent from seen too (blocked candidates may
    # become fetchable later if rules change)
    m = eng.state.manifest(max(s["round"] for s in stats if not s.get("done")))
    seen = eng._read_seen(m["stats"]["seen_parts"], m["stats"]["n_buckets"])
    assert (
        seen.filter(F.col("url_norm") == f"{B}/blocked/x").count() == 0
    )

def test_robots_first_holdback_and_drain_backstop(spark, tmp_path):
    """r5 politeness ordering: (a) a host's robots.txt is FETCHED in a
    strictly earlier round than any page of that host — bootstrap
    pre-enqueues the seed host's robots and the drain holds same-batch
    host pages back one round; (b) a url admitted to the frontier
    before its rules arrived (the held seed itself, here pointing into
    a disallowed tree) is blocked at DRAIN time by the backstop and
    lands in the error sink as ErrorRobotsBlocked, never fetched;
    (c) robots.txt is fetched exactly once (bootstrap rows enter seen,
    so the candidate-stage prefetch does not re-enqueue them)."""
    pages = {
        f"{B}/robots.txt": "User-agent: *\nDisallow: /blocked\n",
        f"{B}/blocked/seed": "<html><body><p>never fetch me</p></body></html>",
        f"{B}/open": "<html><body><p>fine</p></body></html>",
    }
    d = _write_corpus(tmp_path, pages, [f"{B}/blocked/seed", f"{B}/open"])

    cfg = CrawlConfig(
        state_dir=str(tmp_path / "state"),
        bloom_prefilter=False,
        fetch_robots_txt=True,
    )
    eng = CrawlEngine(
        spark,
        pages_path=str(d / "pages.parquet"),
        seeds_path=str(d / "seeds.txt"),
        flagged_path=str(d / "flagged.csv"),
        robots_path=None,
        cfg=cfg,
    )
    eng.run(max_rounds=8)

    contents = spark.read.schema(schemas.CONTENTS).parquet(
        os.path.join(str(tmp_path / "state"), "rounds", "r*", "contents")
    )
    by_url = {r["url"]: r["round"] for r in contents.collect()}
    # (a) robots strictly precedes every host page
    assert by_url[f"{B}/robots.txt"] < by_url[f"{B}/open"]
    # (b) the disallowed seed was never fetched; drain-time backstop
    # recorded it as ErrorRobotsBlocked
    assert f"{B}/blocked/seed" not in by_url
    errors = spark.read.schema(schemas.ERRORS).parquet(
        os.path.join(str(tmp_path / "state"), "rounds", "r*", "errors")
    )
    blocked = errors.filter(
        F.col("error_code") == schemas.ERROR_CODES["ErrorRobotsBlocked"]
    ).collect()
    assert [r["url"] for r in blocked] == [f"{B}/blocked/seed"]
    # (c) exactly one robots fetch
    n_robots_fetches = contents.filter(
        F.col("url") == f"{B}/robots.txt"
    ).count()
    assert n_robots_fetches == 1


def test_robots_fetched_once_under_the_bloom(spark, tmp_path):
    """The bootstrap's robots rows are in the seen set AND in the first
    bloom: with the shipped pre-filter on, a later round's robots
    prefetch for the seed host (its /open page links to another page of
    the host) is bloom-positive, the exact check drops it, and
    robots.txt is fetched once."""
    pages = {
        f"{B}/robots.txt": "User-agent: *\nDisallow: /blocked\n",
        f"{B}/blocked/seed": "<html><body><p>never fetch me</p></body></html>",
        f"{B}/open": f'<html><body><a href="{B}/more">zebra zebra</a></body></html>',
        f"{B}/more": "<html><body><p>fine</p></body></html>",
    }
    d = _write_corpus(tmp_path, pages, [f"{B}/blocked/seed", f"{B}/open"])
    state_dir = str(tmp_path / "state")
    eng = CrawlEngine(
        spark,
        pages_path=str(d / "pages.parquet"),
        seeds_path=str(d / "seeds.txt"),
        flagged_path=str(d / "flagged.csv"),
        robots_path=None,
        cfg=CrawlConfig(state_dir=state_dir, fetch_robots_txt=True),
    )
    assert eng.cfg.bloom_prefilter
    eng.run(max_rounds=8)
    contents = spark.read.schema(schemas.CONTENTS).parquet(
        os.path.join(state_dir, "rounds", "r*", "contents")
    )
    rounds = collections.defaultdict(list)
    for row in contents.collect():
        rounds[row["url"]].append(row["round"])
    # /more was discovered in round 2 with the host's robots prefetch
    # among the candidates, and fetched in round 3
    assert rounds[f"{B}/open"] == [2] and rounds[f"{B}/more"] == [3], rounds
    assert rounds[f"{B}/robots.txt"] == [1], rounds
