"""Workload inputs and their expected outputs, made from the seed.

Both are input preparation: built once per workload, seed and source
tree (``source_hash``), cached under the benchmark's work directory
and never timed.

- ``crawl_fat``: a corpus from ``sources/bench_corpus.py`` plus the
  crawl a pure-Python BFS over the generator's link graph predicts
  (pages fetched per round, final seen-set size and digest). The BFS
  follows the semantics of ``tests/sim.py``: seeds never enter the
  seen set, candidates collapse to their max priority within a round,
  priority-0 candidates enter the seen set but are never fetched.
- ``analytics``: the tables the eight analytic leaves read, generated
  with numpy in the shape of the repository's sf0.1 test data (see
  ``SF01_ROWS``), plus each leaf's DuckDB ``oracle_sql()`` result,
  reduced to a row count and an order-insensitive digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# crawl_fat: ~60 KB pages, 30 links each, no per-host cap, every page
# a seed. A job is bootstrap plus one fetch round over the whole
# corpus: a full drain (two fetch rounds, since seeds never enter the
# seen set and are fetched again, then an empty round) costs ~60 s
# cold on a 4-vCPU host, which does not fit the benchmark's run budget.
CRAWL_FAT = {"n_pages": 1200, "n_seeds": 1200, "links_per_page": 30}
CRAWL_ROUNDS = 1

# The eight analytic leaves (ROADMAP aim 1).
LEAVES = (
    "rating_theta_join",
    "dims_broadcast_join",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_brute_topk",
    "windowed_rollup",
    "sessionize",
    "doc_fingerprint",
)


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def digest_strings(items) -> str:
    """Order-insensitive digest of a collection of strings."""
    h = hashlib.sha256()
    for s in sorted(items):
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()


def source_hash(root: str) -> str:
    """Digest of the code a run exercises: the package, the leaf queries
    and their oracles, and this directory. It keys the input cache and
    the run records, so a checkout that benchmarks two trees mixes
    neither their inputs nor their timings."""
    files = [os.path.join(root, "__spark_entry__.py")]
    for top in ("notjusthtml_searchengine_spark", "perfbench"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------
def _link_graph(n_pages: int, seed: int, links_per_page: int):
    """The bench corpus's urls and, per page, its (dest_url, anchor
    text, visibility) links, drawn from the same random streams as
    ``bench_corpus._render_page``."""
    from notjusthtml_searchengine_spark.sources.corpus import FLAGGED_WORDS

    n_hosts = max(8, n_pages // 200)
    hosts = [f"host{h}.example" for h in range(n_hosts)]
    weights = [1.0 / (k + 1) for k in range(n_hosts)]
    rng2 = random.Random(seed + 1)
    urls = [
        f"http://{rng2.choices(hosts, weights=weights, k=1)[0]}/p/{i}"
        for i in range(n_pages)
    ]
    hot_words = [w for w, _ in FLAGGED_WORDS[:2]]
    links = []
    for i in range(n_pages):
        rng = random.Random(seed * 1_000_003 + i)
        out = []
        for j in range(links_per_page):
            t = rng.randrange(n_pages)
            if j % 3 != 2:  # <a><h2>hot WORD item ...</h2></a>
                out.append((urls[t], f"hot {hot_words[(i + j) % 2]} item {t} from page {i}", 9))
            else:  # <a>cold data note ...</a>
                out.append((urls[t], f"cold data note {t}", 1))
        links.append(out)
    return urls, links


def bfs_crawl(urls, links, seeds, flagged, max_rounds: int) -> dict:
    """Rounds of an uncapped crawl: every queued url is fetched each
    round. A link's rating is sum(visibility * 2 * priority) over the
    flagged words its anchor text contains; rating > 20 promotes it to
    priority 80, else it has priority 0 (no image links here)."""
    index = {u: i for i, u in enumerate(urls)}
    frontier = set(seeds)
    seen: set[str] = set()
    per_round = []
    while frontier and len(per_round) < max_rounds:
        per_round.append(len(frontier))
        cands: dict[str, int] = {}
        for url in frontier:
            for dest, text, vis in links[index[url]]:
                rating = sum(vis * 2 * p for w, p in flagged if w in text)
                prio = 80 if rating > 20 else 0
                cands[dest] = max(cands.get(dest, 0), prio)
        frontier = set()
        for dest, prio in cands.items():
            if dest in seen:
                continue
            seen.add(dest)
            if prio > 0:
                frontier.add(dest)
    return {
        "pages_per_round": per_round,
        "new_frontier": len(frontier),
        "seen_size": len(seen),
        "seen_digest": digest_strings(seen),
    }


def prepare_crawl(out_dir: str, seed: int, p: dict = CRAWL_FAT) -> dict:
    """Generate (or reuse) a crawl corpus and its expected crawl."""
    from notjusthtml_searchengine_spark.sources.bench_corpus import generate_bench_corpus
    from notjusthtml_searchengine_spark.sources.corpus import FLAGGED_WORDS

    expected_path = os.path.join(out_dir, "expected.json")
    if os.path.exists(expected_path):
        with open(expected_path) as f:
            return json.load(f)
    generate_bench_corpus(
        out_dir, n_pages=p["n_pages"], seed=seed, n_seeds=p["n_seeds"],
        links_per_page=p["links_per_page"], workers=4,
    )
    urls, links = _link_graph(p["n_pages"], seed, p["links_per_page"])
    # the BFS is only valid if it mirrors the corpus it checks
    pages_dir = os.path.join(out_dir, "pages.parquet")
    corpus_urls = pq.read_table(pages_dir, columns=["url"]).column("url").to_pylist()
    if corpus_urls != urls:
        raise RuntimeError("bench corpus urls differ from the BFS link graph")
    expected = bfs_crawl(urls, links, urls[: p["n_seeds"]], FLAGGED_WORDS, CRAWL_ROUNDS)
    expected["pages_bytes"] = sum(
        os.path.getsize(os.path.join(pages_dir, f)) for f in os.listdir(pages_dir)
    )
    _write_json(expected_path, expected)
    return expected


def seen_of_state(state_dir: str) -> set[str]:
    """The engine's final seen set: every seen part named by the last
    committed round manifest."""
    rounds = os.path.join(state_dir, "rounds")
    manifests = sorted(
        os.path.join(rounds, d, "manifest.json")
        for d in os.listdir(rounds)
        if os.path.exists(os.path.join(rounds, d, "manifest.json"))
    )
    with open(manifests[-1]) as f:
        parts = json.load(f)["stats"]["seen_parts"]
    seen: set[str] = set()
    for part in parts:
        d = os.path.join(rounds, part)
        # an empty part (round 0's seen set) may hold no data files
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                tbl = pq.read_table(os.path.join(d, name), columns=["url_norm"])
                seen.update(tbl.column("url_norm").to_pylist())
    return seen


def check_crawl(stats: list[dict], state_dir: str, expected: dict) -> list[str]:
    """Mismatches between one crawl job and the BFS (empty = correct)."""
    problems = []
    got_rounds = [s["pages_fetched"] for s in stats if not s.get("done")]
    if got_rounds != expected["pages_per_round"]:
        problems.append(f"pages per round {got_rounds} != {expected['pages_per_round']}")
    if stats and stats[-1].get("new_frontier") != expected["new_frontier"]:
        problems.append(f"new frontier {stats[-1].get('new_frontier')} != {expected['new_frontier']}")
    seen = seen_of_state(state_dir)
    if len(seen) != expected["seen_size"] or digest_strings(seen) != expected["seen_digest"]:
        problems.append(f"seen set: {len(seen)} urls, expected {expected['seen_size']}")
    return problems


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------
# The analytic tables follow the repository's sf0.1 test data (the
# bench scale of TESTDATA.md), which a checkout does not hold: the same
# tables, row counts, key ranges and value distributions, profiled
# with DuckDB from the sf0.1 parquet files. Only the random draws come
# from the seed. Columns no leaf reads keep the type and range but not
# necessarily the exact value set.
SF01_ROWS = {
    "documents": 5_000,
    "events": 100_000,
    "embeddings": 2_000,
    "lineitem": 600_000,
    "part": 20_000,
    "supplier": 1_000,
    "nation": 25,
}
# sf0.1 documents: 10-100 words drawn uniformly from these 30; 5% are
# a copy of another document with " dup" appended
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (("en", 0.41), ("de", 0.1475), ("es", 0.1475), ("fr", 0.1475), ("zh", 0.1475))
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))])
             for k in rng.integers(10, 101, n)]
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = np.array([lang for lang, _ in _LANGS])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(langs, size=n, p=[w for _, w in _LANGS])),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    # 30 days from 2024-01-01, 1500 users, 5 event types, all uniform;
    # value exponential with mean 50
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start
    types = np.array(_EVENT_TYPES)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(types[rng.integers(0, len(types), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    # 10 labelled clusters; unit-length float32 vectors
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + 0.5 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def _star(rng: np.random.Generator, rows: dict) -> dict[str, pa.Table]:
    # every key uniform over its dimension; 25 brands, 25 nations
    n_lines, n_part, n_supp = rows["lineitem"], rows["part"], rows["supplier"]
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    types = np.array(["LARGE", "SMALL", "ECONOMY", "STANDARD", "MEDIUM", "PROMO"])
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"part {i}" for i in range(n_part)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(types[rng.integers(0, len(types), n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2)),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }
    )
    ship0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2499, n_lines).astype("timedelta64[D]").astype("timedelta64[us]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_lines // 4, n_lines, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_lines), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lines)]),
            "l_shipdate": pa.array(ship0 + days, pa.timestamp("us")),
        }
    )
    return {"nation": nation, "part": part, "supplier": supplier, "lineitem": lineitem}


def norm_cell(v) -> str:
    """The repository's oracle-compare normalization (check_oracle.py)."""
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def rows_digest(rows, cols) -> dict:
    """Row count, sorted column names and an order-insensitive digest
    of the rows (cells normalized, columns taken in name order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keys = [repr(tuple(norm_cell(r[i]) for i in order)) for r in rows]
    return {"cols": sorted(cols), "n": len(rows), "digest": digest_strings(keys)}


def prepare_analytics(out_dir: str, seed: int) -> dict:
    """Generate (or reuse) the analytic tables and the oracle digests."""
    import duckdb

    import __spark_entry__ as entry

    expected_path = os.path.join(out_dir, "expected.json")
    if os.path.exists(expected_path):
        with open(expected_path) as f:
            return json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, SF01_ROWS["documents"]),
        "events": _events(rng, SF01_ROWS["events"]),
        "embeddings": _embeddings(rng, SF01_ROWS["embeddings"]),
        **_star(rng, SF01_ROWS),
    }
    con = duckdb.connect()
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    oracles = entry.oracle_sql()
    expected = {}
    for leaf in LEAVES:
        res = con.sql(oracles[leaf])
        expected[leaf] = rows_digest(res.fetchall(), [c[0] for c in res.description])
    con.close()
    _write_json(expected_path, expected)
    return expected
