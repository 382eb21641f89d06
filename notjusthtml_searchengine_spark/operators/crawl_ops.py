"""Relational building blocks of a crawl round (SURVEY.md §2).

Each function is a pure DataFrame→DataFrame transformation; the round
driver (plans/rounds.py) composes them. Everything here is built-in
Catalyst operators — the only Python in the round is the extraction
kernels (extract/udfs.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import MAX_FILESIZE

# Reference constants (crawling.go:18-27, :51-53, :110; main.go).
PRIORITY_SEED = 90
PRIORITY_IMAGE = 90
PRIORITY_PROMOTED = 80
# robots.txt prefetch outranks everything else for a host (north_rule
# politeness; no reference counterpart — the reference has no robots)
PRIORITY_ROBOTS = 95
RATING_PROMOTE_THRESHOLD = 20.0
FLAG_WEIGHT = 2  # flagPriorityVsKeywordVisibility, crawling.go:110


# ---------------------------------------------------------------------------
# S1/S2 — config scans
# ---------------------------------------------------------------------------
def load_seeds(spark: SparkSession, seeds_path: str) -> DataFrame:
    """Seed list (crawling.go:153-175): one URL per line, priority 90."""
    return (
        spark.read.text(seeds_path)
        .select(F.trim("value").alias("url_norm"))
        .filter(F.length("url_norm") > 0)
    )


def load_flagged_words(spark: SparkSession, csv_path: str) -> DataFrame:
    """flaggedWords.csv (crawling.go:129-151): lowercased word, int prio.

    The reference panics on any row whose second field is not an
    integer (strconv.Atoi + check(err)) — including a would-be header
    line. Spark's schema'd CSV read silently NULLs such a priority
    instead, which used to surface much later as an opaque TypeError
    inside the rating expression; fail here, loudly, like the
    reference does (the one row most people hit is a 'word,prio'
    header)."""
    df = spark.read.csv(csv_path, schema="word string, priority int").select(
        F.lower("word").alias("word"), "priority"
    )
    bad = df.filter(F.col("priority").isNull()).limit(3).collect()
    if bad:
        raise ValueError(
            f"flagged-words CSV {csv_path!r}: non-integer priority in "
            f"row(s) {[r['word'] for r in bad]} — the file is headerless "
            "'word,int_priority' lines (reference crawling.go:129-151 "
            "rejects anything else)"
        )
    return df


# ---------------------------------------------------------------------------
# W1/W2/O1/O2 — frontier drain: priority-bucket-major order with a
# deterministic xxhash64 tie-break (replaces Redis SPop randomness,
# SURVEY.md §3.4) and a per-host politeness cap (north_rule; absent in
# the reference).
# ---------------------------------------------------------------------------
def crawl_delay_caps(robots: DataFrame, round_seconds: float) -> DataFrame:
    """robots crawl_delay_ms → per-host per-round fetch caps.

    A round is a logical time slice of ``round_seconds``; a host with
    crawl_delay d ms may be fetched at most round_seconds*1000/d times
    within it (min 1). Hosts without a delay rule get no row (the
    global per_host_budget applies)."""
    return robots.filter(F.coalesce(F.col("crawl_delay_ms"), F.lit(0)) > 0).select(
        "host",
        F.greatest(
            F.lit(1),
            F.floor(F.lit(round_seconds * 1000.0) / F.col("crawl_delay_ms")),
        ).cast("int").alias("host_cap"),
    )


def drain_frontier(
    frontier: DataFrame,
    round_budget: int | None,
    per_host_budget: int | None,
    host_caps: DataFrame | None = None,
) -> DataFrame:
    """Select this round's fetch batch. Rows not selected stay queued.

    First collapses duplicate urls to max-priority (Redis SETs dedup
    within a bucket; across buckets the reference would fetch twice —
    we take the deterministic max-priority linearization, SURVEY §2.4
    A6; duplicates only arise for rediscovered seeds). Grouping
    includes url_hash so a frontier bucketed by url_hash satisfies the
    aggregate's required distribution — the collapse is exchange-free
    on a bucketed frontier."""
    from pyspark.sql.window import Window

    batch = frontier.groupBy("url_hash", "url_norm").agg(
        F.max("priority").alias("priority"),
        F.min("depth").alias("depth"),
        F.min("round_added").alias("round_added"),
        F.max("host").alias("host"),
    )
    if per_host_budget is not None or host_caps is not None:
        # TWO-PHASE host cap for Zipf-head skew (same construction,
        # same proof as sampling.stratified_cap): a window partitioned
        # by host alone funnels the head host's ENTIRE candidate set
        # through one task — at a 10^10-URL frontier the head host is
        # 10^7+ candidates serialized on the drain's critical path
        # (measured: the sf1 capped leg's scaling sagged exactly on
        # the biggest rounds). Phase 1 takes the per-(host, salt)
        # top-cap — salt = pmod(url_hash, 64) is deterministic, so the
        # head host fans out over 64 reducers and phase-1 winners are
        # a guaranteed superset of the per-host top-cap (any row in
        # the host's global top-cap is in the top-cap of its own salt
        # bucket, the bucket order being the restriction of the host
        # order). Phase 2 reruns the host window over the ≤ cap×64
        # survivors per host. Same (priority desc, url_hash) order in
        # both phases ⇒ bit-identical to the single-window form (and
        # to the per_host_cap DuckDB oracle).
        order = (F.desc("priority"), F.asc("url_hash"))
        w_salt = Window.partitionBy("host", "_salt").orderBy(*order)
        w_host = Window.partitionBy("host").orderBy(*order)
        if host_caps is not None:
            batch = batch.join(F.broadcast(host_caps), "host", "left")
            default_cap = (
                F.lit(per_host_budget)
                if per_host_budget is not None
                else F.lit(2**31 - 1)
            )
            cap = F.least(F.coalesce(F.col("host_cap"), default_cap), default_cap)
        else:
            cap = F.lit(per_host_budget)
        batch = (
            batch.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(64)))
            .withColumn("_hr", F.row_number().over(w_salt))
            .filter(F.col("_hr") <= cap)
            .withColumn("_hr", F.row_number().over(w_host))
            .filter(F.col("_hr") <= cap)
            .drop("_hr", "_salt", "host_cap")
        )
    if round_budget is not None:
        # Global top-k via orderBy+limit: Catalyst compiles this to
        # TakeOrderedAndProject — per-partition top-k then a bounded
        # merge, never a single-partition sort — including after the
        # host-cap window above, so a pathological many-hosts config
        # cannot serialize the drain (plan-asserted in
        # tests/test_plans.py).
        batch = batch.orderBy(F.desc("priority"), F.asc("url_hash")).limit(round_budget)
    return batch


# ---------------------------------------------------------------------------
# J6 — the "fetch": frontier batch ⋈ pages corpus, split hit/miss.
#
# Spark cannot broadcast the PRESERVED side of a left-outer join — the
# naive ``broadcast(batch).join(pages, 'left')`` hint is silently
# ignored (HintErrorLogger: "build left for left outer join") and the
# plan degenerates to a sort-merge join that shuffles the ENTIRE
# corpus every round. So the fetch is an INNER join (batch broadcast,
# corpus never moves) and misses are recovered with a skinny anti-join
# against the (persisted) hit set.
# ---------------------------------------------------------------------------
BATCH_COLS = ("url_norm", "host", "priority", "depth", "url_hash")


def fetch_hits(batch: DataFrame, pages: DataFrame, broadcast_batch: bool = True) -> DataFrame:
    """batch ⋈_inner pages on url. With ``broadcast_batch`` the corpus
    side is never shuffled; beyond broadcast reach (10⁷-row rounds)
    pass False for a shuffle-hash join — at that scale the pages table
    should be bucketed by url hash so only the batch side shuffles."""
    b = batch.select(*BATCH_COLS)
    bb = F.broadcast(b) if broadcast_batch else b.hint("SHUFFLE_HASH")
    return pages.join(bb, pages["url"] == b["url_norm"], "inner")


def fetch_misses(batch: DataFrame, hits: DataFrame) -> DataFrame:
    """batch rows whose URL is absent from the corpus (error side E2).
    Skinny anti-join — callers pass the persisted hit frame so the fat
    columns are never rescanned."""
    return batch.select(*BATCH_COLS).join(
        hits.select("url_norm"), "url_norm", "left_anti"
    )


# ---------------------------------------------------------------------------
# P3/P4 gates (html.go:61-64, :82-85) — split ok/error sides (E2).
# ---------------------------------------------------------------------------
def gate_fetched(fetched: DataFrame) -> DataFrame:
    """Adds a gate column; callers filter on it. (html NULL = fetch
    miss only arises when callers join misses back in; the round
    driver surfaces misses via fetch_misses instead.)"""
    return fetched.withColumn(
        "gate",
        F.when(F.col("html").isNull(), F.lit("miss"))
        .when(F.length("html") >= F.lit(MAX_FILESIZE), F.lit("too_big"))
        .when(F.length("html") == 0, F.lit("empty"))
        .otherwise(F.lit("ok")),
    )


# ---------------------------------------------------------------------------
# P5/P6 — html-only gate before link extraction (html.go:162-171).
# The suffix skip is case-SENSITIVE (strings.HasSuffix on the raw
# URL); only the priority rule (crawling.go:20) lowercases first.
# ---------------------------------------------------------------------------
def html_gate(df: DataFrame, url_col: str = "url_norm") -> DataFrame:
    return df.filter(
        F.col("content_type").startswith("text/html")
        & ~F.col(url_col).rlike(r"\.(jpeg|png|jpg)$")
    )


# ---------------------------------------------------------------------------
# J5 + A1 — link rating: keyword × flagged-word containment theta-join
# (broadcast nested loop — the flagged list is tiny) then SUM
# (crawling.go:109-123). Keywords with no match contribute 0.
# ---------------------------------------------------------------------------
def link_rating(keywords: DataFrame, flagged: DataFrame) -> DataFrame:
    """keywords(link_id, visibility, text) × flagged(word, priority) →
    (link_id, rating). Containment is case-sensitive over the cleaned
    keyword text against the lowercased word — faithful to
    strings.Contains at crawling.go:116."""
    matched = keywords.join(
        F.broadcast(flagged), F.expr("contains(text, word)"), "inner"
    ).groupBy("link_id").agg(
        F.sum(
            F.col("visibility").cast("double")
            * F.lit(float(FLAG_WEIGHT))
            * F.col("priority").cast("double")
        ).alias("rating")
    )
    return matched


def rating_term_expr(
    flagged_rows: list[tuple[str, int]],
    text_col: str = "text",
    vis_col: str = "visibility",
):
    """Per-keyword-row rating term, unrolled over a config-size
    flagged list into one codegen expression. NULL text (the
    zero-keyword link rows of the flat extraction frame) contributes
    exactly 0.0 — so summing the term over ALL flat rows of a link
    equals the keyword-only sum the join form computed."""
    expr = F.lit(0.0)
    for word, prio in flagged_rows:
        expr = expr + F.when(
            F.col(text_col).contains(word),
            F.col(vis_col).cast("double") * float(FLAG_WEIGHT) * float(prio),
        ).otherwise(0.0)
    return expr


# ---------------------------------------------------------------------------
# P1/P2 + override — link priority (crawling.go:18-27, :48-53).
# ---------------------------------------------------------------------------
def with_link_priority(links: DataFrame, rating_col: str = "rating") -> DataFrame:
    base = F.when(
        F.lower("dest_url").endswith(".png")
        | F.lower("dest_url").endswith(".jpg")
        | F.lower("dest_url").endswith(".jpeg"),
        F.lit(PRIORITY_IMAGE),
    ).otherwise(F.lit(0))
    return links.withColumn("priority", base).withColumn(
        "priority",
        F.when(
            (F.col(rating_col) > F.lit(RATING_PROMOTE_THRESHOLD))
            & (F.col("priority") < F.lit(PRIORITY_IMAGE)),
            F.lit(PRIORITY_PROMOTED),
        ).otherwise(F.col("priority")),
    )


# ---------------------------------------------------------------------------
# A5/A6 — within-round candidate collapse: one row per url_norm at max
# priority (the deterministic linearization of the reference's
# first-TestOrAdd-wins race, SURVEY.md §2.4 A6).
# ---------------------------------------------------------------------------
def collapse_candidates(cands: DataFrame) -> DataFrame:
    return cands.groupBy("url_norm").agg(
        F.max("priority").alias("priority"),
        F.min("depth").alias("depth"),
    )


# ---------------------------------------------------------------------------
# Robots / politeness filter (north_rule; no reference counterpart).
# Blocked candidates never enter the seen set (they may become
# allowed later when rules change).
# ---------------------------------------------------------------------------
def _match_prefix(p):
    """Effective startswith-prefix of a stored robots pattern: text
    before the first '*', trailing '$' anchor stripped. Plain prefixes
    pass through unchanged."""
    return F.regexp_replace(F.substring_index(p, "*", 1), r"\$$", "")


def _rule_match(p, path):
    """Does stored pattern ``p`` match ``path``? EXACT RFC 9309
    semantics for the overwhelmingly common shapes — plain prefix,
    '$'-anchored literal, and single-'*' patterns ('/*.php',
    '/a/*/b$') — via startswith/endswith/contains on the pre-star and
    post-star fragments; only multi-'*' patterns (vanishingly rare)
    fall back to the conservative superset prefix match (over-block
    direction only). All codegen built-ins, no regex per row."""
    pre = _match_prefix(p)
    anchored = p.endswith("$")
    no_star = ~p.contains("*")
    one_star = F.size(F.split(p, r"\*", -1)) == F.lit(2)
    tail = F.regexp_replace(F.substring_index(p, "*", -1), r"\$$", "")
    after_pre = F.substr(path, F.length(pre) + F.lit(1))
    return (
        F.when(no_star & anchored, path == pre)
        .when(no_star, path.startswith(pre))
        .when(
            one_star & anchored,
            path.startswith(pre) & after_pre.endswith(tail),
        )
        .when(one_star, path.startswith(pre) & after_pre.contains(tail))
        .otherwise(path.startswith(pre))
    )


def _rule_rank(p):
    """Precedence weight of a matching pattern: ORIGINAL pattern
    length for shapes matched exactly (longest-match, per RFC 9309
    §2.2.2 / Google's parser), but only the REDUCED prefix length for
    multi-'*' superset matches — a '/*a*b'-style pattern whose
    effective prefix collapses to '/' must not out-rank every real
    rule and block the whole host (ADVICE r4)."""
    exact = ~p.contains("*") | (F.size(F.split(p, r"\*", -1)) == F.lit(2))
    return F.when(exact, F.length(p)).otherwise(F.length(_match_prefix(p)))


def _longest_match_len(prefixes, path):
    """Rank of the highest-precedence rule matching ``path`` (-1:
    none). Pure array built-ins — stays inside whole-stage codegen."""
    return F.coalesce(
        F.array_max(
            F.transform(
                F.filter(
                    F.coalesce(prefixes, F.array()),
                    lambda p: _rule_match(p, path),
                ),
                _rule_rank,
            )
        ),
        F.lit(-1),
    )


def robots_mark(
    cands: DataFrame, robots: DataFrame, exempt_robots_txt: bool = False
) -> DataFrame:
    """cands (url_norm + host) + boolean ``robots_blocked`` column.

    RFC 9309 §2.2.2 precedence: the MOST SPECIFIC (longest) matching
    rule wins; an allow wins ties. So a row is blocked iff the longest
    matching disallow prefix is strictly longer than the longest
    matching allow prefix. One broadcast join (rules are per-host
    config scale); ``exempt_robots_txt`` keeps /robots.txt itself
    always fetchable (RFC 9309 §2.3 — the drain-time backstop must
    not let a 'Disallow: /' host block its own robots refetch)."""
    from ..functions.urlnorm import path_expr

    path = path_expr("url_norm")
    joined = cands.withColumn("_path", path).join(
        F.broadcast(robots.select("host", "allow_prefixes", "disallow_prefixes")),
        "host",
        "left",
    )
    blocked = _longest_match_len(
        F.col("disallow_prefixes"), F.col("_path")
    ) > _longest_match_len(F.col("allow_prefixes"), F.col("_path"))
    if exempt_robots_txt:
        blocked = blocked & (F.col("_path") != "/robots.txt")
    return joined.withColumn(
        "robots_blocked", F.coalesce(blocked, F.lit(False))
    ).drop("_path", "allow_prefixes", "disallow_prefixes")


def robots_filter(cands: DataFrame, robots: DataFrame) -> DataFrame:
    """cands must carry url_norm + host. Returns allowed rows only
    (robots_mark's filter form — see it for the precedence rules)."""
    return (
        robots_mark(cands, robots)
        .filter(~F.col("robots_blocked"))
        .drop("robots_blocked")
    )


# ---------------------------------------------------------------------------
# J2/E1 — the load-bearing seen-set anti-join.
# ---------------------------------------------------------------------------
def seen_anti_join(cands: DataFrame, seen: DataFrame) -> DataFrame:
    """candidates ∖ seen on url_norm (exact ground truth)."""
    return cands.join(seen.select("url_norm"), "url_norm", "left_anti")


def anti_join_parts(
    df: DataFrame, parts: list[DataFrame], key: str = "url_hash"
) -> DataFrame:
    """Chained co-partitioned anti-joins against bucketed state parts
    keyed by ``key`` — the part side never exchanges; ``df`` exchanges
    once and the partitioning is reused across the chain. Shared by
    the seen check (url_hash) and the sites-dim insert check
    (site_id)."""
    out = df
    for p in parts:
        out = out.join(p.select(key), key, "left_anti")
    return out


def seen_anti_join_parts(cands: DataFrame, seen_parts: list[DataFrame]) -> DataFrame:
    """J2/E1 at scale: chained per-part anti-joins on ``url_hash``.

    Each part is a table bucketed by url_hash (plans/state.py), so the
    seen side is NEVER exchanged; the candidate side is exchanged once
    and the partitioning is reused by every later join in the chain
    (the streamed side of a sort-merge join keeps its partitioning).
    Catalyst still broadcasts parts that sit under the auto-broadcast
    threshold — exactly the "broadcast only below a size threshold"
    behavior we want, chosen from statistics rather than hardcoded.

    Identity is the 64-bit url_hash, which is strictly TIGHTER than
    the reference's own seen-check — an in-memory Bloom filter at 1%
    FP (/root/reference/main.go:21,54): expected hash collisions at a
    10^10-URL frontier ≈ 3 (vs ~10^8 Bloom false-drops).
    """
    return anti_join_parts(cands, seen_parts, key="url_hash")


# ---------------------------------------------------------------------------
# Frontier re-prioritization by host authority (the north-star's
# "priority = depth + domain score", generalized to the reference's
# rating-based priorities — the reference itself has no domain score;
# its priority is the flagged-keyword rating, crawling.go:18-27).
# ---------------------------------------------------------------------------
def reprioritize_frontier(
    frontier: DataFrame,
    host_scores: DataFrame,
    weight: int = 100,
    score_col: str = "score",
    broadcast_scores: bool = True,
) -> DataFrame:
    """Fold a per-host authority score (e.g. PageRank over the crawled
    link graph, aggregated per host — the signal plans/catalog.py
    top_pages computes) back into frontier priorities:

        priority += floor(weight * score / max(score))

    computed in exact INTEGER arithmetic (scores quantized to
    micro-units) so the adjusted priorities — and therefore the crawl
    order — are bit-reproducible across engines and cluster sizes.
    Hosts without a score keep their priority (left join, bonus 0).

    Scale posture: the score dim is one row per HOST (~10^7-10^8 at a
    10^10-URL frontier). ``broadcast_scores=True`` broadcasts it (fine
    to ~10^6 hosts); above that pass ``False`` — the hash join then
    shuffles only the skinny (host, score) dim toward the frontier's
    host-keyed layout, never the frontier rows themselves. max(score)
    is a 1-row scalar agg, broadcast either way.
    """
    micro = F.round(F.col(score_col).cast("double") * F.lit(1_000_000), 0).cast(
        "bigint"
    )
    s = host_scores.select("host", micro.alias("_s_micro"))
    dim = F.broadcast(s) if broadcast_scores else s
    mx = s.agg(F.max("_s_micro").alias("_s_max"))
    bonus = F.expr(
        f"CAST({int(weight)} AS BIGINT) * _s_micro DIV nullif(_s_max, 0)"
    )
    return (
        frontier.join(dim, "host", "left")
        .crossJoin(F.broadcast(mx))
        .withColumn(
            "priority",
            (F.col("priority") + F.coalesce(bonus, F.lit(0))).cast("int"),
        )
        .drop("_s_micro", "_s_max")
    )
