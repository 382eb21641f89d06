"""Consumer-side catalog: every sink queryable as SQL, plus the
canned searches the reference's users run (keyword search by rating,
pHash near-image lookup, face-descriptor match)."""

import os

import pytest
from pyspark.sql import functions as F

from notjusthtml_searchengine_spark.plans.catalog import (
    keyword_search,
    match_faces,
    register_sinks,
    similar_images,
)
from notjusthtml_searchengine_spark.plans.rounds import CrawlConfig, CrawlEngine


@pytest.fixture(scope="module")
def crawled_state(spark, corpus_dir, tmp_path_factory):
    state_dir = str(tmp_path_factory.mktemp("catalog_state"))
    cfg = CrawlConfig(
        state_dir=state_dir, per_host_budget=5,
        shard_bits=1 << 16, face_detector="fake",
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


def test_register_and_sql_over_every_sink(spark, crawled_state):
    views = register_sinks(spark, crawled_state)
    # every DDL table from the reference is queryable
    for expected in (
        "contents", "content_blobs", "link_rels", "link_keywords",
        "errors", "perceptual_hashes", "exif_info", "faces",
        "sites", "domains", "content_types",
    ):
        assert expected in views, expected
        assert spark.sql(f"SELECT count(*) FROM {expected}").collect()[0][0] >= 0
    # the reference's "content-type histogram" query via the dim join
    hist = spark.sql(
        """SELECT ct.content_type, count(*) AS n
           FROM contents c JOIN content_types ct USING (content_type_id)
           GROUP BY 1 ORDER BY n DESC"""
    ).collect()
    assert sum(r["n"] for r in hist) == spark.table("contents").count()
    assert any(r["content_type"].startswith("text/html") for r in hist)


def test_keyword_search_ranks_by_rating(spark, crawled_state):
    register_sinks(spark, crawled_state)
    out = keyword_search(spark, "spark", limit=10).collect()
    assert len(out) > 0
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # every hit really has a matching inbound keyword; links (not
    # keyword rows) are what n_matching_links counts, and each link's
    # rating is summed once even with several matching keywords
    top = out[0]["url"]
    n, score = spark.sql(
        f"""SELECT count(DISTINCT k.link_id), sum(r.rating) FROM link_rels r
            JOIN (SELECT DISTINCT link_id FROM link_keywords
                  WHERE contains(text, 'spark')) k USING (link_id)
            WHERE r.dest_url = '{top}'"""
    ).collect()[0]
    assert n == out[0]["n_matching_links"]
    assert score == pytest.approx(out[0]["score"])


def test_similar_images_and_face_match(spark, crawled_state):
    register_sinks(spark, crawled_state)
    ph = spark.table("perceptual_hashes").first()
    hits = similar_images(spark, ph["phash"], max_hamming=0).collect()
    assert any(r["content_id"] == ph["content_id"] for r in hits)
    assert all(r["hamming"] == 0 for r in hits)

    face = spark.table("faces").first()
    got = match_faces(spark, list(face["descriptor"]), k=3, max_distance=None).collect()
    assert got[0]["content_id"] == face["content_id"]  # self is nearest
    assert got[0]["dist"] == pytest.approx(0.0, abs=1e-6)


def test_top_pages_pagerank_over_crawl(spark, crawled_state):
    from notjusthtml_searchengine_spark.plans.catalog import top_pages

    register_sinks(spark, crawled_state)
    out = top_pages(spark, k=10, n_iter=5).collect()
    assert 0 < len(out) <= 10
    ranks = [r["rank"] for r in out]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r["rank"] > 0 for r in out)
    assert all(r["url"].startswith("http") for r in out)
    # the top page must be one with inbound links in the crawled graph
    rels = spark.table("link_rels")
    dests = {r["dest_url"] for r in rels.select("dest_url").distinct().collect()}
    assert out[0]["url"] in dests


def test_top_pages_agrees_with_independent_pagerank(spark, crawled_state):
    """r4 verdict #8: close the loop crawl sinks → graph operator. An
    INDEPENDENT pure-Python power iteration (same unrolled n_iter,
    damping, uniform init, dangling mass redistributed uniformly) over
    the SAME link_rels edges must reproduce top_pages' ranking and
    rank values."""
    from notjusthtml_searchengine_spark.plans.catalog import top_pages

    register_sinks(spark, crawled_state)
    n_iter, damping = 5, 0.85
    out = top_pages(spark, k=10, n_iter=n_iter).collect()

    rels = spark.table("link_rels")
    edges = {
        (r["origin_id"], r["dest_id"])
        for r in rels.select("origin_id", "dest_id").distinct().collect()
    }
    names = {
        r[0]: r[1]
        for r in rels.select(F.col("origin_id"), F.col("origin_url")).collect()
        + rels.select(F.col("dest_id"), F.col("dest_url")).collect()
    }
    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: 1.0 / n for v in verts}
    for _ in range(n_iter):
        dang = sum(rank[v] for v in verts if v not in outdeg)
        contrib = {v: 0.0 for v in verts}
        for s, d in edges:
            contrib[d] += rank[s] / outdeg[s]
        rank = {
            v: (1.0 - damping) / n + damping * (contrib[v] + dang / n)
            for v in verts
        }
    expected = sorted(
        ((names[v], round(rank[v], 6)) for v in verts),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert [(r["url"], r["rank"]) for r in out] == expected
