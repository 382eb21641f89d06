"""Text-analysis operators for a large-scale training-data pipeline.

All pure built-in column expressions (JVM-side, whole-stage codegen;
no Python in the hot path): token counting, quality scoring,
stopword-vote language ID, document fingerprinting, and the portable
md5-based 64-bit hash used by the dedup family (identical results in
Spark and DuckDB, so every operator here is oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Portable 60-bit hash: first 15 hex digits of md5 → bigint.
# Spark:  conv(substr(md5(s),1,15),16,10)::bigint
# DuckDB: CAST('0x'||substr(md5(s),1,15) AS BIGINT)


def portable_hash64(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def portable_hash48(col: Column) -> Column:
    """48-bit variant: safe to multiply by small coefficients under
    ANSI int64 arithmetic (31 * 2^48 << 2^63) — used by MinHash."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# BPE-style pre-tokenizer (GPT-2 family), restricted to RE2-compatible
# syntax (no lookahead) so the same pattern runs in Spark (Java regex)
# and DuckDB (RE2): contractions, letter runs, digit runs, punct runs,
# each with an optional leading space. Whitespace itself is not a token.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_tokens(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: Column) -> Column:
    """Subword-ish token count: the standard proxy for LLM training
    token budgets when no tokenizer model ships (brief: 'whitespace +
    a BPE-ish regex')."""
    return F.size(bpe_tokens(col))


def winnow_fingerprints(
    col: Column, k: int = 8, w: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every k-char gram of the
    whitespace-normalized lowercased text with the portable rolling
    base hash, then keep the minimum of each w-hash window; the
    distinct minima are the fingerprint set. Guarantees: any shared
    substring of length ≥ k+w-1 yields a shared fingerprint.

    Pure array built-ins (sequence/transform/slice/array_min) —
    JVM-side, oracle-expressible; returns a sorted array<bigint>."""
    norm = F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))
    n_grams = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: F.conv(F.substring(F.md5(norm.substr(i, F.lit(k))), 1, 12), 16, 10).cast("bigint"),
    )
    grams = F.when(n_grams >= 1, grams).otherwise(F.array().cast("array<bigint>"))
    n_windows = F.greatest(n_grams - F.lit(w - 1), F.lit(0))
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
        lambda j: F.array_min(F.slice(grams, j, w)),
    )
    mins = F.when(n_windows >= 1, mins).otherwise(
        F.when(n_grams >= 1, F.array(F.array_min(grams))).otherwise(
            F.array().cast("array<bigint>")
        )
    )
    return F.array_sort(F.array_distinct(mins))


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, r"[^\p{L}\p{N}\s]", "")
    return (F.length(col) - F.length(stripped)) / F.greatest(F.length(col), F.lit(1))


STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en"],
}


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column) -> Column:
    """Composite [0,1]-ish quality heuristic: length band, punctuation
    sanity, stopword presence. Deterministic, oracle-expressible."""
    n = token_count(col)
    len_ok = F.when((n >= 10) & (n <= 100000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio(col) < 0.2, 1.0).otherwise(0.5)
    stop_ok = F.when(stopword_ratio(col) > 0.05, 1.0).otherwise(0.6)
    return F.round(len_ok * punct_ok * stop_ok, 4)


def lang_votes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-vote language ID: explode tokens, join the stopword
    dim (broadcast), majority vote per doc with deterministic
    tie-break (lang asc). n-gram-free heuristic — oracle-checkable."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    sw = spark.createDataFrame(
        [(lang, w) for lang, ws in STOPWORDS.items() for w in ws], "lang string, word string"
    )
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
    )
    votes = toks.join(F.broadcast(sw), "word").groupBy(id_col, "lang").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("votes"), F.asc("lang"))
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, F.col("lang").alias("lang_pred"), "votes")
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased
    text (content-defined identity for exact/near-exact dedup)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(col), r"\s+", " ")))


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranking (Robertson/Spärck Jones; Lucene's non-negative
    idf form ``ln(1 + (N - df + 0.5)/(df + 0.5))``) of every document
    matching any query term → (id_col, score, n_terms).

    Spark-first shape: one explode+groupBy computes per-(doc, term)
    tf restricted to the BROADCAST query-term list (the corpus is
    scanned once; no |docs|×|terms| blowup); N and avgdl ride along
    as a broadcast single-row aggregate (no driver action — the ANN
    explicit-dim rule); df is a broadcast-sized per-term aggregate.
    Score is rounded to 4 decimals so the DuckDB oracle's ln/double
    arithmetic compares stably."""
    tdf = docs.sparkSession.createDataFrame([(t,) for t in terms], "term string")
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    dl = docs.select(
        F.col(id_col), token_count(F.col(text_col)).alias("dl")
    )
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
    )
    tf = (
        toks.join(F.broadcast(tdf), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, id_col)
        .crossJoin(stats)
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.sum("term_score"), 4).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )


# ---------------------------------------------------------------------------
# Repetition-based quality signals (the Gopher rules — Rae et al. 2021,
# "Scaling Language Models: Methods, Analysis & Insights from Training
# Gopher", Appendix A1.1). The standard web-text filters a 100-TB
# training pipeline applies after the length/punct/stopword heuristics
# above: documents dominated by repeated lines or by one n-gram are
# boilerplate/spam, not prose.
# ---------------------------------------------------------------------------
#: Gopher filter thresholds: a doc is repetition-OK iff every signal
#: is <= its threshold (fractions in [0,1]).
GOPHER_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
}


def _top_ngram_frac(docs: DataFrame, id_col: str, k: int) -> DataFrame:
    """Per doc: characters covered by the MOST frequent word k-gram
    (count × gram length, over total text chars) — 0.0 unless that
    gram actually REPEATS (cnt >= 2): a singleton top gram is not
    repetition, and Gopher only applies these filters after a 50-word
    length gate, so the literal formula never sees the short docs
    where a single 3-gram exceeds the threshold. Ties break to the
    lexicographically smallest gram via min(struct(-cnt, gram)) — one
    explode + two partial-aggregating groupBys on (id, gram) then id;
    no windows, no skew beyond document size."""
    toks = F.col("_tk")
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array())
    counts = (
        docs.select(id_col, "_text_len", F.explode(grams).alias("gram"))
        .groupBy(id_col, "_text_len", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = counts.groupBy(id_col).agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("gram"))).alias("_b"),
        F.first("_text_len").alias("_tl"),
    )
    return best.select(
        id_col,
        F.when(
            -F.col("_b.neg") >= 2,
            F.round(
                (-F.col("_b.neg")).cast("double")
                * F.length(F.col("_b.gram"))
                / F.greatest(F.col("_tl"), F.lit(1)).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias(f"top_{k}gram_char_frac"),
    )


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher repetition signals per document:

      n_lines              non-empty (after trim) '\\n'-separated lines
      dup_line_frac        1 - distinct_lines / n_lines
      dup_line_char_frac   chars on lines whose value occurs >= 2
                           times (all occurrences) / chars on all lines
      top_{2,3,4}gram_char_frac
                           chars covered by the most frequent word
                           k-gram / total text chars
      repetition_ok        every signal <= its GOPHER_THRESHOLDS bound

    All fractions rounded to 6 places (cross-engine hash parity).
    Shape at scale: one explode per signal family, groupBys keyed on
    (doc, value) with map-side partial aggregation, left joins back on
    the doc id — no windows over unbounded strata, no crossJoins."""
    base = docs.select(
        id_col,
        F.greatest(F.length(text_col), F.lit(0)).alias("_text_len"),
        tokens(F.col(text_col)).alias("_tk"),
        F.filter(
            F.transform(
                F.split(F.col(text_col), "\n"), lambda l: F.trim(l)
            ),
            lambda l: l != "",
        ).alias("_lines"),
    )

    lc = (
        base.select(id_col, F.explode("_lines").alias("line"))
        .groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lstat = lc.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        F.round(
            F.lit(1.0) - F.count(F.lit(1)) / F.sum("cnt").cast("double"), 6
        ).alias("dup_line_frac"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("line"))
                ).cast("double"),
                F.lit(0.0),
            )
            / F.greatest(
                F.sum(F.col("cnt") * F.length("line")), F.lit(1)
            ).cast("double"),
            6,
        ).alias("dup_line_char_frac"),
    )

    out = base.select(id_col).join(lstat, id_col, "left")
    for k in (2, 3, 4):
        out = out.join(_top_ngram_frac(base, id_col, k), id_col, "left")
    zero = lambda c: F.coalesce(F.col(c), F.lit(0.0))  # noqa: E731
    out = out.select(
        id_col,
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("bigint").alias("n_lines"),
        zero("dup_line_frac").alias("dup_line_frac"),
        zero("dup_line_char_frac").alias("dup_line_char_frac"),
        zero("top_2gram_char_frac").alias("top_2gram_char_frac"),
        zero("top_3gram_char_frac").alias("top_3gram_char_frac"),
        zero("top_4gram_char_frac").alias("top_4gram_char_frac"),
    )
    ok = F.lit(True)
    for name, thr in GOPHER_THRESHOLDS.items():
        ok = ok & (F.col(name) <= F.lit(thr))
    return out.withColumn("repetition_ok", ok)
