"""The batch-BFS round driver (SURVEY.md §3.1 — the Spark shape).

One crawl round = one DAG:

  frontier ─drain(W1/W2)→ batch ─⋈ pages(J6, broadcast+DPP)→ gates(P3/P4)
    → sha1/sha512/sniff(F8/F9/U4) → contents/blob sinks (S7/S8, A4/J7)
    → media branch (P7 → U5/U6 → sinks S11, errors E2)
    → html gate (P5/P6) → U1 explode → keywords sink (S10)
    → rating (J5+A1) → priority (P1/P2+override) → link_rels sink (S9)
    → candidates: collapse (A5/A6) → robots/politeness filter
    → seen check (J2: bloom pre-filter U8 + exact anti-join)
    → frontier_{r+1} / seen delta / bloom shards / metrics → atomic commit

The reference's continuous goroutine pipeline (/root/reference/
main.go:59-90, html.go:30-188) maps onto this loop; its Redis SPop /
SAdd become the drain / frontier-append, its Bloom TestOrAdd becomes
bloom-probe + exact anti-join (the TestOrAdd-before-priority-drop
order quirk at crawling.go:85-91 is preserved: priority-0 candidates
still enter the seen set).
"""

from __future__ import annotations

import functools
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Serialized in-memory caching: DataFrame.persist() defaults to the
# DESERIALIZED level, which for fat binary rows (60KB+ html) floods
# the old generation with live byte[] objects and multiplies GC time
# ~5x (measured). Serialized blocks cost a little CPU on re-read and
# save the round.
_CACHE = StorageLevel.MEMORY_AND_DISK

from .. import schemas
from ..extract.udfs import extract_with_meta
from ..functions.urlnorm import host_expr, path_expr, protocol_expr
from ..media.udfs import exif_udf, phash_udf
from ..operators import bloom as bloom_ops
from ..operators import crawl_ops as ops
from ..session import EST_PAGE_BYTES
from .state import (
    DRAINED_DDL,
    FRONTIER_DDL,
    LEGACY_N_BUCKETS,
    SEEN_DDL,
    SITES_KEYS_DDL,
    CrawlState,
    parquet_row_groups,
    parquet_rows,
)

# J6 fetch / blob-winner joins: broadcast the skinny side only below
# this ESTIMATED byte size (measured url+host chars + fixed per-row
# overhead in the same job as the batch count), else shuffle-hash
# (pages bucketed by url hash at that scale). Row-count thresholds
# mis-measure wide rows and a 4M-row url batch is hundreds of MB on
# every executor heap — bytes are what the broadcast actually costs.
BROADCAST_MAX_BYTES = 64 << 20
# estimated per-row overhead beyond measured string chars (hash, ints,
# arrow/unsafe-row framing)
BROADCAST_ROW_OVERHEAD = 48
# Data-proportional shuffle sizing (measured at sf1: 8 shuffle
# partitions over a 494k-page round = ~1.5 GB partitions; since
# execution memory is shared across CONCURRENT tasks the high-thread
# run spills first and N→4N efficiency collapsed to 0.685 — resizing
# to volume restored 0.962, see BENCH/bench_sf1_rehearsal.json). Each
# round predicts its volume (expected batch × measured avg page bytes ×
# a row-expansion factor for the flat link/keyword explosion) and sets
# spark.sql.shuffle.partitions to keep partitions near
# TARGET_PARTITION_BYTES. AQE coalescing makes over-partitioning cheap
# on clusters; this keeps AQE-off deployments safe too.
TARGET_PARTITION_BYTES = 128 << 20
SHUFFLE_ROW_EXPANSION = 3
MAX_SHUFFLE_PARTITIONS = 4096
# Two-sided refinement of the volume sizing (sf1 sweep,
# BENCH/sf1_ab_r4.jsonl): once partitions are spill-safe, ADDING tasks
# costs more than it saves — every extra task through the Python
# extraction stage pays an Arrow round-trip, and 80 tasks measurably
# lost ~9% sustained slope vs 64 on the same round. So the count is
# capped at MAX_TASK_WAVES full waves of the scheduler, letting
# partitions grow past TARGET_PARTITION_BYTES up to
# SPILL_GUARD_PARTITION_BYTES (the r3 sf1 collapse was at ~1.5 GB
# partitions; 512 MiB keeps 3x headroom under it at this heap). Beyond
# the guard, volume wins again and the count rises — a 100 TB round
# still fans out.
MAX_TASK_WAVES = 8
SPILL_GUARD_PARTITION_BYTES = 512 << 20
# Concurrent sink writers: the dozen per-round sink jobs are
# individually tiny, so at 6 threads the flush ran two serial waves
# whose second wave was latency, not throughput (the scheduler
# overlaps all jobs fine; measured r6).
WRITE_THREADS = 12


@dataclass
class CrawlConfig:
    """Settings of a crawl. What the fat rows of a round get is not a
    setting: each round spreads them over the cores by the rule of
    ``spread_fat_rows`` and caches them by the rule of
    ``cache_fat_rows``, and records both decisions with their inputs in
    its manifest (``fat_rows``). Per-partition lineage (the ``metrics``
    sink) is written every round."""

    state_dir: str
    round_budget: int | None = None
    per_host_budget: int | None = 64
    # logical round duration; with robots crawl_delay rules present,
    # a host's per-round cap becomes round_seconds*1000/crawl_delay_ms
    round_seconds: float | None = None
    # Self-ingest robots.txt inside the loop (north_rule): enqueue
    # <scheme>://<host>/robots.txt at PRIORITY_ROBOTS for every host
    # seen among candidates, parse fetched robots bodies into rules
    # rows (sink "robots"), and apply them — rules fetched THIS round
    # already filter this round's own candidates. Off by default: with
    # no robots.txt pages in the corpus it only adds per-host miss
    # error rows.
    fetch_robots_txt: bool = False
    bloom_prefilter: bool = True
    # per-shard bloom bits. The state layout is fixed when the crawl
    # bootstraps: the bucket count comes from state_buckets over the
    # corpus row count and shard_bits; the round-0 manifest records
    # both, and every later round (a resume under another shard_bits
    # included) reads, probes, merges and writes state with the
    # manifest's values
    shard_bits: int = 1 << 20
    # face detector plugged into media/faces.py: "none" mirrors the
    # reference run without model files (no Face rows); "fake" is the
    # deterministic stub; a real model slots in by name.
    face_detector: str = "none"
    # seen/sites_keys compaction and frontier full-rewrite cadence;
    # superseded frontier/seen/bloom state is expired after each
    # compaction (sinks untouched; see CrawlState.gc_state)
    compact_seen_every: int = 8
    extra: dict = field(default_factory=dict)


def size_partitions(raw: float, parallelism: int) -> int:
    """A task count for ``raw`` units of work: at least one full wave of
    the scheduler, rounded UP to whole waves (a partial last wave leaves
    cores idle), capped at MAX_SHUFFLE_PARTITIONS. Sizes both the
    per-round shuffle and the crawl state's bucket count."""
    waves = max(1, math.ceil(raw / parallelism))
    return min(MAX_SHUFFLE_PARTITIONS, waves * parallelism)


def state_buckets(rows: int, shard_bits: int, parallelism: int) -> int:
    """Bucket count of the crawl state (frontier, seen, drained,
    sites_keys, bloom shards) for a corpus of ``rows`` pages: one bloom
    shard per bucket, each holding ``shard_bits / BITS_PER_KEY`` keys at
    the filter's design false-positive rate. A fixed count paid hundreds
    of near-empty tasks per round on a small crawl (32 buckets gave 776
    tasks on a 1200-page round, 8 gave 448) and stays too few at
    10^10 urls."""
    return size_partitions(rows * bloom_ops.BITS_PER_KEY / shard_bits, parallelism)


def spread_fat_rows(
    broadcast_fetch: bool, scan_partitions: int, row_groups: int, parallelism: int
) -> bool:
    """Whether a round hash-spreads its fetched fat rows over the cores
    before the extraction UDF. A broadcast fetch join runs inside the
    pages scan's tasks, and a scan task that holds no parquet row group
    reads nothing, so the fetch gives min(scan partitions, row groups)
    non-empty tasks; fewer than the scheduler's parallelism leaves cores
    idle through the round's most expensive stage, which a shuffle of
    the bodies restores (one 2-row-group file on 4 cores). A row-group
    count of 0 means no footers were read (a pages path that is not
    local), and the scan partitions decide alone. A shuffle-hash fetch
    is already spread by its join's exchange."""
    tasks = min(scan_partitions, row_groups) if row_groups else scan_partitions
    return broadcast_fetch and tasks < parallelism


def cache_fat_rows(shuffled: bool, est_bytes: float, storage_bytes: int) -> bool:
    """Whether a round caches its gated fat rows, which the extraction
    pass, the blob join and the media join each read, instead of
    re-deriving them per consumer. Rows that come straight off the
    pages scan behind a broadcast fetch are re-derived: decompression
    and the join probe scale with cores, cache traffic is memory
    bandwidth, which does not (on the 96k-page bench drain re-deriving
    took 4,635 -> 7,972 pages/s at 16 threads, and at 4 cores it beat
    caching in 3 of 4 interleaved pairs).
    Rows that come out of a shuffle of the bodies (the spread, or a
    shuffle-hash fetch) would repeat that shuffle per consumer, so they
    are cached when the round's estimated fat bytes fit in half of
    storage memory (the other half is left to the round's other caches
    and to execution). At 10^10-url design scale a round's fat rows
    never fit, and they are re-derived."""
    return shuffled and 2 * est_bytes <= storage_bytes


def _ms(since: float) -> int:
    return int((time.monotonic() - since) * 1000)


def _union(dfs: list[DataFrame]) -> DataFrame:
    """Left-fold ``unionByName`` over ``dfs``."""
    return functools.reduce(DataFrame.unionByName, dfs)


def _error_rows(df: DataFrame, r: int, code, text) -> DataFrame:
    """Error-sink rows for the ``url_norm`` urls of ``df``; ``code`` and
    ``text`` are each a literal or a column."""
    return df.select(
        F.lit(r).alias("round"),
        F.col("url_norm").alias("url"),
        F.lit(code).cast("int").alias("error_code"),
        F.lit(text).alias("error_text"),
    )


def _robots_txt_urls(df: DataFrame) -> DataFrame:
    """One ``<scheme>://<host>/robots.txt`` frontier row per host of
    ``df`` (``url_norm``, ``host``, ``depth``), at PRIORITY_ROBOTS and
    the host's least depth."""
    return (
        df.groupBy("host")
        .agg(
            F.max(protocol_expr("url_norm")).alias("_scheme"),
            F.min("depth").alias("depth"),
        )
        .filter(F.length("_scheme") > 0)
        .select(
            F.concat(
                F.col("_scheme"), F.lit("://"), F.col("host"), F.lit("/robots.txt")
            ).alias("url_norm"),
            F.lit(ops.PRIORITY_ROBOTS).alias("priority"),
            "depth",
            "host",
        )
        .withColumn("url_hash", F.xxhash64("url_norm"))
    )


@dataclass
class _Round:
    """What the phases of one round share: the state layout read from
    the previous manifest, the manifest stats being built, the queued
    sink writes, the frames to unpersist and the phase timings."""

    spark: SparkSession
    r: int
    n_buckets: int
    shard_bits: int
    t0: float = field(default_factory=time.monotonic)
    stats: dict = field(default_factory=dict)
    sinks: list = field(default_factory=list)
    cached: list = field(default_factory=list)
    phase_ms: dict = field(default_factory=dict)
    sink_ms: dict = field(default_factory=dict)

    def sink(self, df: DataFrame, name: str, bucket_col: str | None = None) -> None:
        """Queue the write of round table ``name``; with ``bucket_col``
        it is a state table bucketed on that column."""
        self.sinks.append((df, name, bucket_col))

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` for this round; it is unpersisted after commit."""
        df = df.persist(_CACHE)
        self.cached.append(df)
        return df

    @contextmanager
    def _phase(self, label: str, timings: dict | None = None):
        """Label the Spark jobs the block starts ``r{r:05d}:<label>`` and
        record its wall ms in ``timings`` (default ``phase_ms``) under
        the label's last ``:`` part. The job description is thread-local
        and stays set after the block."""
        self.spark.sparkContext.setJobDescription(f"r{self.r:05d}:{label}")
        ts = time.monotonic()
        yield
        (self.phase_ms if timings is None else timings)[label.rsplit(":", 1)[-1]] = _ms(ts)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        seeds_path: str,
        flagged_path: str,
        robots_path: str | None,
        cfg: CrawlConfig,
    ):
        self.spark = spark
        self.cfg = cfg
        self.state = CrawlState(cfg.state_dir)
        self.pages_path = pages_path
        self.pages = spark.read.schema(schemas.PAGES).parquet(pages_path)
        self.seeds_path = seeds_path
        self.flagged = ops.load_flagged_words(spark, flagged_path)
        # config-size list: collected ONCE at engine init so the rating
        # stage can unroll into a codegen expression (see
        # crawl_ops.rating_term_expr); falls back to the BNLJ operator
        # for unexpectedly large lists.
        self.flagged_rows = [
            (r["word"], r["priority"]) for r in self.flagged.collect()
        ]
        self.robots = (
            spark.read.schema(schemas.ROBOTS).parquet(robots_path)
            if robots_path
            else None
        )
        # memoized static robots view (see _robots_view)
        self._static_rules: DataFrame | None = None

    # The fat-row rules' engine-wide inputs are read once, at the first
    # round that needs them, so engine set-up does no work for them.
    @functools.cached_property
    def _pages_scan(self) -> dict:
        """The pages scan's partition count and its row-group count from
        the parquet footers (no Spark job; a pages path that is not
        local counts 0 row groups)."""
        return {
            "scan_partitions": self.pages.rdd.getNumPartitions(),
            "row_groups": parquet_row_groups(self.pages_path),
        }

    @functools.cached_property
    def _storage_bytes(self) -> int:
        """Storage memory the fat-row cache can use, as the block
        managers measured it from their JVMs' heaps: the executors'
        total, or the driver's under a local master (whose executor
        runs in the driver JVM)."""
        jsc = self.spark.sparkContext._jsc.sc()
        driver = jsc.env().blockManager().blockManagerId().hostPort()
        max_mem, it = {}, jsc.getExecutorMemoryStatus().iterator()
        while it.hasNext():  # host:port -> (max memory, remaining)
            entry = it.next()
            max_mem[entry._1()] = entry._2()._1()
        executors = [m for k, m in max_mem.items() if k != driver]
        return sum(executors) if executors else max_mem[driver]

    # ------------------------------------------------------------------
    def bootstrap(self) -> None:
        """Round 0: the seed frontier at priority 90, and nothing else.

        Seeds do NOT enter the seen set (addStartSites never touches
        the bloom — crawling.go:153-175): a seed rediscovered as a
        link is re-enqueued and re-fetched once, faithfully. So round 0
        names no seen part (the robots rows below aside) and no bloom:
        round 1's exact check against no parts is free, and it builds
        the first bloom from the live seen set (see ``_bloom``).

        The state's bucket count is sized here, once, from the corpus
        row count in the pages table's parquet footers (no Spark job).
        """
        r = 0
        n_buckets = state_buckets(
            parquet_rows(self.pages_path),
            self.cfg.shard_bits,
            self.spark.sparkContext.defaultParallelism,
        )
        seeds = ops.load_seeds(self.spark, self.seeds_path)
        frontier = (
            seeds.withColumn("host", host_expr("url_norm"))
            .withColumn("priority", F.lit(ops.PRIORITY_SEED))
            .withColumn("depth", F.lit(0))
            .withColumn("round_added", F.lit(0))
            .withColumn("url_hash", F.xxhash64("url_norm"))
        )
        seen_parts = []
        if self.cfg.fetch_robots_txt:
            # Pre-enqueue each seed host's robots.txt so even the SEED
            # fetch waits for rules: round 1's drain holds the seeds
            # back (robots-first hold-back in run_round) and fetches
            # the robots alone; the seeds follow in round 2 under the
            # just-learned rules. Without this, seeds are the one url
            # class fetched rules-blind.
            frontier = frontier.unionByName(
                _robots_txt_urls(frontier).withColumn("round_added", F.lit(0))
            )
            # the bootstrap robots rows enter seen immediately (unlike
            # seeds, which faithfully stay out — crawling.go:153-175):
            # the per-round candidate-stage prefetch relies on the seen
            # check to enqueue each host's robots exactly once, and a
            # seen-less bootstrap row would be re-added and re-fetched
            # the first time its host shows up among candidates. Round 1
            # builds them into the first bloom with its own new urls.
            robots_seen = frontier.filter(path_expr("url_norm") == "/robots.txt").select(
                "url_norm", "url_hash", F.lit(0).alias("round_seen")
            )
            seen_parts = [self.state.write_bucketed(robots_seen, r, "seen_full", n_buckets)]
        self.state.write_bucketed(frontier, r, "frontier_full", n_buckets)
        self.state.commit_round(
            r,
            {
                "seen_parts": seen_parts,
                "frontier_parts": [f"r{r:05d}/frontier_full"],
                "drained_parts": [],
                "sites_parts": [],
                "bloom": None,
                "pages_fetched": 0,
                "n_buckets": n_buckets,
                "shard_bits": self.cfg.shard_bits,
            },
        )

    # ------------------------------------------------------------------
    def _write(self, df: DataFrame, r: int, name: str) -> str:
        path = self.state.table_path(r, name)
        df.write.mode("overwrite").parquet(path)
        return path

    def _seen_parts(self, parts: list[str], n_buckets: int) -> list[DataFrame]:
        return [
            self.state.read_bucketed(self.spark, p, SEEN_DDL, n_buckets)
            for p in parts
        ]

    def _read_seen(self, parts: list[str], n_buckets: int) -> DataFrame:
        """Union view of all seen parts (membership queries/tests);
        ``n_buckets`` is the manifest's. No parts (round 0 without
        robots rows) is an empty seen set."""
        if not parts:
            return self.spark.read.schema(SEEN_DDL).parquet()
        return _union(self._seen_parts(parts, n_buckets))

    def _size_shuffle(self, pred_batch: int, avg_page_bytes: float) -> int | None:
        """Set spark.sql.shuffle.partitions for this round from the
        predicted data volume. Returns the setting (None = left as-is).

        Three rules compose (each measured, see the module constants):
        1. volume / TARGET_PARTITION_BYTES is the base count;
        2. it is capped at MAX_TASK_WAVES full waves of the scheduler
           (per-task Python-stage overhead beats partition-size relief
           once partitions are spill-safe), but never capped so hard
           that partitions exceed SPILL_GUARD_PARTITION_BYTES — beyond
           the guard the count rises with volume again;
        3. the result is quantized UP to a multiple of the scheduler's
           parallelism: a count like 12 on an 8-thread scheduler runs
           a second task wave half-empty (4 busy / 4 idle) while a
           2-thread scheduler is unaffected — exactly the asymmetry
           that collapsed N→4N scaling to 0.391 in BENCH_r03.
        Never shrinks below the parallelism; capped by
        MAX_SHUFFLE_PARTITIONS (size_partitions)."""
        if pred_batch <= 0:
            return None
        est = pred_batch * max(avg_page_bytes, 1.0) * SHUFFLE_ROW_EXPANSION
        base = self.spark.sparkContext.defaultParallelism
        by_target = max(1, math.ceil(est / TARGET_PARTITION_BYTES))
        by_guard = max(1, math.ceil(est / SPILL_GUARD_PARTITION_BYTES))
        raw = max(min(by_target, MAX_TASK_WAVES * base), by_guard)
        parts = size_partitions(raw, base)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        return parts

    @staticmethod
    def _latest_per_host(rules: DataFrame) -> DataFrame:
        """One rules row per host: highest fetched_round wins; freshly
        fetched rows (_src=1) beat the static table on ties."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("host").orderBy(
            F.desc_nulls_last("fetched_round"), F.desc("_src")
        )
        return (
            rules.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )

    def _robots_view(self) -> DataFrame | None:
        """Effective robots rules at round start: the pre-supplied
        table merged with rules derived from robots.txt bodies fetched
        in PRIOR rounds (sink "robots"), latest per host."""
        has_fetched = self.cfg.fetch_robots_txt and self.state.sink_exists(
            "robots"
        )
        if self.robots is not None and not has_fetched:
            # Static rules (no in-loop ingestion yet): resolve the
            # latest-per-host view ONCE and materialize it with
            # localCheckpoint — the rules dim is per-host config scale,
            # and without this every round re-ran the scan + window
            # inside the broadcast build of BOTH consumers (batch mark
            # + candidate filter), two extra shuffle stages per round
            # for an unchanged result (guide §2.4: remove repeated
            # exchanges of static inputs).
            if self._static_rules is None:
                self._static_rules = self._latest_per_host(
                    self.robots.withColumn("_src", F.lit(0))
                ).localCheckpoint(eager=True)
            return self._static_rules
        base = None
        if self.robots is not None:
            base = self.robots.withColumn("_src", F.lit(0))
        if has_fetched:
            fetched = (
                self.spark.read.schema(schemas.ROBOTS)
                .parquet(self.state.sink_glob("robots"))
                .withColumn("_src", F.lit(1))
            )
            base = fetched if base is None else base.unionByName(fetched)
        return None if base is None else self._latest_per_host(base)

    def _batch_stats(self, batch: DataFrame) -> tuple[int, int]:
        """(row count, estimated broadcast bytes) in ONE job: measured
        url+host chars + a fixed per-row overhead. Replaces the old
        row-count broadcast threshold (rows mis-measure wide rows)."""
        row = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.length("url_norm") + F.coalesce(F.length("host"), F.lit(0))
            ).alias("chars"),
        ).first()
        n = int(row["n"])
        est = int(row["chars"] or 0) + BROADCAST_ROW_OVERHEAD * n
        return n, est

    def _frontier_view(self, stats: dict, n_buckets: int) -> DataFrame:
        """Live frontier = union of bucketed parts minus tombstones.

        Incremental layout (mirrors seen_delta/seen_full): a round
        appends only its NEW urls (``frontier_delta``) plus a skinny
        tombstone table of the urls it drained (``drained``); the
        full table is rewritten only on the compaction cadence. A row
        is live iff no tombstone with drained_round > row.round_added
        exists — the ``>=`` keep-side comparison lets a seed drained
        in round r and rediscovered as a link in the SAME round
        re-enqueue (seeds never enter the seen set, bootstrap
        docstring), matching the old full-rewrite semantics exactly.
        Per-round state WRITE volume is ∝ the round delta; the read
        side joins co-bucketed skinny tables.
        """
        parts = [
            self.state.read_bucketed(self.spark, p, FRONTIER_DDL, n_buckets)
            for p in stats["frontier_parts"]
        ]
        drained_parts = stats.get("drained_parts", [])
        # Per-PART tombstone filtering, BEFORE the union: a union of
        # bucketed scans loses HashPartitioning (Spark never propagates
        # it through Union), so the old union-then-join paid one full
        # O(frontier) exchange per round — at a 10^10-row frontier
        # that is a per-round full-state shuffle. Joining each bucketed
        # frontier part against each co-bucketed drained part is
        # exchange-free on BOTH sides (scan partitioning == join key),
        # and `round_added >= max_j(drained_round_j)` factors into the
        # chain `∀j: round_added >= drained_round_j`, so chained
        # per-part filters keep the max-drained-round semantics exactly
        # (same-round seed re-enqueue included). Tombstone part count
        # is bounded by the compaction cadence.
        if drained_parts:
            tombs = [
                self.state.read_bucketed(self.spark, p, DRAINED_DDL, n_buckets)
                .groupBy("url_hash")
                .agg(F.max("drained_round").alias("_dr"))
                for p in drained_parts
            ]
            live = []
            for fp in parts:
                out = fp
                for t in tombs:
                    out = (
                        out.join(t, "url_hash", "left")
                        .filter(
                            F.col("_dr").isNull()
                            | (F.col("round_added") >= F.col("_dr"))
                        )
                        .drop("_dr")
                    )
                live.append(out)
            parts = live
        return _union(parts)

    def _lineage(self, dfs: dict[str, tuple], r: int) -> DataFrame:
        """Per-partition lineage rows (north_rule) in one unioned job:
        row count AND payload byte sum per partition (each stage names
        the column expression that measures its payload)."""
        parts = []
        for stage, (df, bytes_expr) in dfs.items():
            parts.append(
                df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
                    F.count(F.lit(1)).alias("rows_out"),
                    F.coalesce(F.sum(bytes_expr), F.lit(0))
                    .cast("long")
                    .alias("bytes"),
                )
                .withColumn("round", F.lit(r))
                .withColumn("stage", F.lit(stage))
                .select("round", "stage", "partition_id", "rows_out", "bytes")
            )
        return _union(parts)

    # ------------------------------------------------------------------
    def run_round(self, r: int) -> dict:
        prev = self.state.manifest(r - 1)
        assert prev is not None, f"round {r - 1} not committed"
        prev = prev["stats"]
        rd = _Round(
            self.spark,
            r,
            n_buckets=int(prev.get("n_buckets", LEGACY_N_BUCKETS)),
            shard_bits=int(prev.get("shard_bits", self.cfg.shard_bits)),
        )
        frontier = self._frontier_view(prev, rd.n_buckets)
        seen_dfs = self._seen_parts(prev["seen_parts"], rd.n_buckets)
        drained = self._drain(rd, prev, frontier)
        if drained is None:
            return {"done": True, "round": r, "pages_fetched": 0}
        batch, rules, broadcast_batch = drained
        batch_use, batch_fetch, err_robots = self._hold_back(rd, batch, rules)
        gated, combined, meta, errors = self._fetch_extract(
            rd, prev, batch_fetch, broadcast_batch
        )
        ok = meta.filter(F.col("gate") == "ok")
        self._content_sinks(rd, prev, ok)
        self._blob_sink(rd, ok, gated, broadcast_batch)
        errors.append(self._media(rd, ok, gated, broadcast_batch))
        round_robots = self._robots_ingest(rd, gated)
        rated = self._links(rd, combined)
        cands = self._candidates(rated, rules, round_robots)
        new = self._seen(rd, prev, cands, seen_dfs)
        new_frontier = self._frontier(rd, prev, frontier, batch_use, new)
        self._bloom(rd, prev, new, seen_dfs)
        errors.append(err_robots)
        # The union sinks would concatenate their inputs' partitions
        # (an 80-task stage for a few thousand rows); they are written
        # at the round's sized shuffle count instead, which never drops
        # below the scheduler's parallelism.
        n_out = rd.stats["shuffle_partitions"]
        rd.sink(_union([e for e in errors if e is not None]).coalesce(n_out), "errors")
        lineage = self._lineage(
            {
                "batch": (batch, F.length("url_norm")),
                "fetched_ok": (ok, F.col("size")),
                "links": (rated, F.length("dest_url")),
                "new_seen": (new, F.length("url_norm")),
            },
            r,
        )
        rd.sink(lineage.coalesce(n_out), "metrics")
        rd.phase_ms["pre_flush"] = _ms(rd.t0)
        self._flush(rd)
        stats = self._commit(rd, new_frontier)
        # batch/combined are localCheckpoint'd (not persisted) — their
        # blocks are released by the ContextCleaner when the round's
        # references drop
        for df in rd.cached:
            df.unpersist()
        return stats

    def _drain(self, rd: _Round, prev: dict, frontier: DataFrame):
        """W1/W2: drain this round's batch, counted and checkpointed.
        Returns None for an empty batch, else (batch, the round-start
        robots rules or None, whether the batch is broadcast)."""
        cfg = self.cfg
        # data-proportional shuffle sizing: predict this round's batch
        # from the previous round's frontier additions (exact n_batch
        # refines it right after the drain; under-prediction here only
        # affects the drain's own window shuffle)
        avg_bytes = float(prev.get("avg_page_bytes", EST_PAGE_BYTES))
        pred_batch = int(prev.get("new_frontier", 0) or 0)
        if cfg.round_budget is not None:
            pred_batch = min(pred_batch, cfg.round_budget)
        shuffle_parts = self._size_shuffle(pred_batch, avg_bytes)

        rules = self._robots_view()
        host_caps = None
        if rules is not None and cfg.round_seconds:
            host_caps = ops.crawl_delay_caps(rules, cfg.round_seconds)
        batch = ops.drain_frontier(
            frontier, cfg.round_budget, cfg.per_host_budget, host_caps=host_caps
        )
        # The drain-time robots backstop flag is folded in BEFORE the
        # checkpoint: every consumer (fetch, misses, error rows,
        # tombstones) reads one materialized frame, instead of
        # re-evaluating a join-above-the-cache per consumer (measured
        # ~15% round cost at local[8] when it sat above the cache).
        if rules is not None:
            batch = ops.robots_mark(batch, rules, exempt_robots_txt=True)
        # localCheckpoint, not persist (r6): the batch is consumed by a
        # dozen downstream sink actions, and EVERY one of them was
        # re-analyzing the full drain lineage (frontier-view per-part
        # tombstone joins + the two politeness windows) on the DRIVER —
        # measured 11s of serial plan-construction gap per big capped
        # round at local[8] vs 1.5s uncapped, the single-threaded cost
        # that collapsed the capped leg's core scaling (guide §7.3
        # "planning time itself can become the bottleneck", §3.3
        # "materialising an intermediate truncates the plan").
        # Fault tolerance of this intermediate is round-local (the
        # round re-runs from the manifest on failure), so cutting
        # lineage is safe — same trade as graph.py's iteration
        # checkpoints.
        with rd._phase("drain+stats"):
            batch = batch.localCheckpoint(eager=True)
            n_batch, batch_bytes = self._batch_stats(batch)
        resized = self._size_shuffle(n_batch, avg_bytes)
        if n_batch == 0:
            return None
        rd.stats["batch"] = n_batch
        rd.stats["shuffle_partitions"] = shuffle_parts if resized is None else resized
        return batch, rules, batch_bytes <= BROADCAST_MAX_BYTES

    def _hold_back(self, rd: _Round, batch: DataFrame, rules: DataFrame | None):
        """Robots-first hold-back and the drain-time robots backstop.
        Returns (the urls this round drains, the ones it fetches, the
        backstop's error rows or None)."""
        # A host's FIRST drain wave is its robots.txt alone: a url
        # whose host has its own /robots.txt row in this very batch
        # (rules still unknown — links and the robots prefetch join
        # the frontier in the same round) is HELD — excluded from the
        # fetch AND from the drained tombstones, so it stays queued
        # and drains next round under the just-fetched rules. One
        # broadcast semi-join over the budget-bounded batch; a held
        # url costs one under-filled drain slot for one round, and
        # there is no starvation (the robots url is tombstoned this
        # round, so next round the host is no longer held whether its
        # robots fetch hit or missed).
        batch_use = batch
        if self.cfg.fetch_robots_txt:
            is_rob = path_expr("url_norm") == "/robots.txt"
            held_hosts = batch.filter(is_rob).select("host").distinct()
            batch_use = batch.filter(is_rob).unionByName(
                batch.filter(~is_rob).join(
                    F.broadcast(held_hosts), "host", "left_anti"
                )
            )
        if rules is None:
            return batch_use, batch_use, None
        # The candidate-time robots_filter can only apply rules that
        # existed when a url was DISCOVERED — rules that arrived later
        # (or the hold-back's round-delayed first wave) must still be
        # enforced. RFC practice is to check robots immediately before
        # fetching: the ``robots_blocked`` flag was computed inside the
        # checkpointed drain frame (one broadcast join over a
        # budget-bounded frame — NOT the whole frontier, which would be
        # O(frontier) per round); blocked rows divert to the error
        # sink. They stay in ``batch_use`` so the drained tombstones
        # still remove them from the frontier — each late-blocked url
        # costs one drain slot, once, ever. /robots.txt itself is
        # always fetchable.
        err_robots = _error_rows(
            batch_use.filter(F.col("robots_blocked")),
            rd.r,
            schemas.ERROR_CODES["ErrorRobotsBlocked"],
            "robots",
        )
        batch_fetch = batch_use.filter(~F.col("robots_blocked")).drop("robots_blocked")
        return batch_use, batch_fetch, err_robots

    def _fetch_extract(
        self, rd: _Round, prev: dict, batch_fetch: DataFrame, broadcast_batch: bool
    ):
        """J6 fetch + gates, then ONE fused extract+meta pass. Returns
        (the gated fat rows, the extraction output, the per-page meta
        cache, the gate and miss error rows)."""
        # column-prune before the join: text/lang are never used in
        # the round (text regeneration is a test-side invariant).
        # Inner-join + broadcast batch: the corpus is never shuffled;
        # misses are recovered below from the persisted hit frame.
        fetched = ops.fetch_hits(
            batch_fetch,
            self.pages.select("url", "warc_ts", "html"),
            broadcast_batch=broadcast_batch,
        )
        gated = ops.gate_fetched(fetched)
        # Fat side (html) — consumed at most 3× (r6): the fused
        # extract+meta kernel pass, the blob-content join, and the
        # media body join. Spread over the cores when the scan
        # gives too few tasks (hashing on url_hash alone spreads hot
        # hosts too: skew, §4.2), then either cached (serialized) or
        # re-derived per consumer from the compressed scan + fetch join
        # (see cache_fat_rows).
        parallelism = self.spark.sparkContext.defaultParallelism
        scan = self._pages_scan
        spread = spread_fat_rows(
            broadcast_batch, scan["scan_partitions"], scan["row_groups"], parallelism
        )
        est_bytes = rd.stats["batch"] * float(prev.get("avg_page_bytes", EST_PAGE_BYTES))
        cached = cache_fat_rows(spread or not broadcast_batch, est_bytes, self._storage_bytes)
        rd.stats["fat_rows"] = {
            "spread": spread,
            "broadcast_fetch": broadcast_batch,
            **scan,
            "parallelism": parallelism,
            "cached": cached,
            "est_bytes": int(est_bytes),
            "storage_bytes": self._storage_bytes,
        }
        if spread:
            gated = gated.repartition(parallelism, "url_hash")
        if cached:
            gated = rd.cache(gated)
        # ONE fat pass for extraction AND the per-page meta columns
        # (r6): sniff/sha1/sha512/size ride the same scan that feeds
        # U1 instead of a second full corpus decode per round (the
        # kernel's hashlib/sniff outputs are byte-identical to the
        # former JVM expressions — parity pinned in tests). Lazy
        # localCheckpoint at the serialized level: one materialization
        # under cache locks, short plans for every consumer.
        combined = extract_with_meta(
            gated.select(
                "url_norm",
                "host",
                "depth",
                F.unix_micros("warc_ts").alias("time_found"),
                "gate",
                "html",
            ),
            url_col="url_norm",
        ).localCheckpoint(eager=False, storageLevel=_CACHE)
        # Skinny meta cache: one row per fetched page; the dozen sink/
        # stat consumers below scan this cheap projection instead of
        # the 30x-larger combined frame.
        meta = rd.cache(
            combined.filter(F.col("kind") == 0)
            .select(
                "url_norm", "host", "depth", "time_found", "gate",
                "content_type", "sha1", "sha512", "size",
            )
            .withColumn("site_id", F.xxhash64("url_norm"))
            .withColumn("content_id", F.xxhash64("url_norm", F.lit(rd.r)))
        )
        errors = [
            _error_rows(
                meta.filter(F.col("gate") != "ok"),
                rd.r,
                F.when(
                    F.col("gate") == "too_big",
                    schemas.ERROR_CODES["ErrorResponseToBig"],
                ).otherwise(schemas.ERROR_CODES["ErrorBodyLenZero"]),
                F.col("gate"),
            ),
            _error_rows(
                ops.fetch_misses(batch_fetch, meta),
                rd.r,
                schemas.ERROR_CODES["ErrorFetchMissing"],
                "miss",
            ),
        ]
        return gated, combined, meta, errors

    def _content_sinks(self, rd: _Round, prev: dict, ok: DataFrame) -> None:
        """S8 contents and the J1/J3/J4 dimension tables.

        Reference database.go:143-215 keeps sites / domains /
        content_types as first-class queryable tables. Ids are
        deterministic xxhash64 of the natural key, so the dim row is
        derivable — but the reference exposes them as tables ("list
        crawled domains" must not rescan contents), so each round
        left-anti-inserts the new keys. The glob reads below resolve
        their file list at plan-construction time (before this round's
        dirs exist), so the concurrent sink writes cannot race them.
        """
        r = rd.r
        contents = ok.select(
            F.lit(r).alias("round"),
            F.col("url_norm").alias("url"),
            "site_id",
            F.xxhash64("content_type").alias("content_type_id"),
            "size",
            "sha512",
            "sha1",
            "time_found",
        )
        rd.sink(contents, "contents")
        # sites grows with the crawl (≈ fetched pages), so its insert
        # check gets the seen treatment: a bucketed site_id key-state
        # table per round, co-partitioned anti-join (zero exchange on
        # the state side), compacted on the seen cadence. The sink rows
        # themselves stay per-round new-keys-only parquet
        # (glob-queryable). domains/content_types are small dims — glob
        # read is fine.
        sites_parts = prev.get("sites_parts", [])
        key_dfs = [
            self.state.read_bucketed(
                self.spark, p, SITES_KEYS_DDL, rd.n_buckets, bucket_col="site_id"
            )
            for p in sites_parts
        ]
        sites_new = ops.anti_join_parts(
            ok.select("site_id", F.col("url_norm").alias("url")).dropDuplicates(
                ["site_id"]
            ),
            key_dfs,
            key="site_id",
        )
        rd.sink(sites_new, "sites")
        rd.stats["sites_parts"] = self._key_state(
            rd, sites_new.select("site_id"), key_dfs, sites_parts,
            "sites_keys", "sites_keys", "site_id",
        )
        dims = [
            (
                "domains",
                schemas.DOMAINS,
                "domain_id",
                ok.select(
                    F.xxhash64("host").alias("domain_id"),
                    F.col("host").alias("domain"),
                ),
            ),
            (
                "content_types",
                schemas.CONTENT_TYPES,
                "content_type_id",
                ok.select(
                    F.xxhash64("content_type").alias("content_type_id"),
                    "content_type",
                ),
            ),
        ]
        for dim_name, dim_schema, key, dim_df in dims:
            d = dim_df.dropDuplicates([key])
            # guard on files actually existing: resuming a state dir
            # whose earlier rounds never wrote this dim (sink newly
            # enabled) must insert all keys, not fail the read
            if r > 1 and self.state.sink_exists(dim_name):
                existing = self.spark.read.schema(dim_schema).parquet(
                    self.state.sink_glob(dim_name)
                )
                d = d.join(existing.select(key), key, "left_anti")
            rd.sink(d, dim_name)

    def _key_state(
        self,
        rd: _Round,
        delta: DataFrame,
        part_dfs: list[DataFrame],
        parts: list[str],
        delta_name: str,
        full_name: str,
        bucket_col: str,
    ) -> list[str]:
        """Queue this round's part of a bucketed key-state table (seen,
        sites_keys) and return the table's new part list: the live parts
        plus ``delta``, or on the compaction cadence one rewritten table
        merging ``delta`` with every live part."""
        if rd.r % self.cfg.compact_seen_every == 0:
            rd.sink(_union([delta, *part_dfs]), full_name, bucket_col)
            return [f"r{rd.r:05d}/{full_name}"]
        rd.sink(delta, delta_name, bucket_col)
        return parts + [f"r{rd.r:05d}/{delta_name}"]

    def _blob_sink(
        self, rd: _Round, ok: DataFrame, gated: DataFrame, broadcast_batch: bool
    ) -> None:
        """S7 content-addressed blob store WITHOUT shuffling the fat
        bodies: pick one winner (sha1, url) with a SKINNY
        map-side-combined aggregate, anti-join winners against the
        store, then join the winner keys back against the fat rows —
        the html column never moves (dropDuplicates(sha1) would shuffle
        every body by sha1)."""
        winners = ok.groupBy("sha1").agg(F.min("url_norm").alias("_w"))
        if rd.r > 1 and self.state.sink_exists("content_blobs"):
            existing = self.spark.read.schema(schemas.CONTENT_BLOBS).parquet(
                self.state.sink_glob("content_blobs")
            )
            winners = winners.join(existing.select("sha1"), "sha1", "left_anti")
        # winner rows (sha1 + url) are the same scale as the batch;
        # reuse its byte estimate for the broadcast decision
        if broadcast_batch:
            winners = F.broadcast(winners)
        # sha1 comes from the (skinny) winner side — the bodies are
        # neither shuffled nor re-hashed
        new_blobs = (
            gated.select("url_norm", F.col("html").alias("content"))
            .join(winners, F.col("url_norm") == F.col("_w"))
            .select("sha1", "content")
        )
        rd.sink(new_blobs, "content_blobs")

    def _media(
        self, rd: _Round, ok: DataFrame, gated: DataFrame, broadcast_batch: bool
    ) -> DataFrame:
        """P7 media branch → U5/U6 hashes, EXIF and faces. Returns the
        hash-failure error rows.

        The images are the ok pages the fused pass sniffed as PNG or
        JPEG (the sniff returns exactly these two strings for their
        magic bytes). Their bodies are joined back from the fat rows
        the way ``_blob_sink`` joins its winners, broadcast when the
        batch is, so on a round without images AQE drops the join
        against the empty broadcast and the fat rows are not read."""
        keys = ok.filter(F.col("content_type").isin("image/png", "image/jpeg")).select(
            "url_norm", "content_id", "content_type"
        )
        if broadcast_batch:
            keys = F.broadcast(keys)
        imgs = gated.select("url_norm", "html").join(keys, "url_norm")
        hashed = rd.cache(
            imgs.withColumn("ph", phash_udf("html", "content_type"))
            .withColumn("ex", exif_udf("html"))
            .select("url_norm", "content_id", "ph", "ex")
        )
        phashes = hashed.filter(F.col("ph.error").isNull()).select(
            "content_id",
            F.col("ph.ahash").alias("ahash"),
            F.col("ph.dhash").alias("dhash"),
            F.col("ph.phash").alias("phash"),
        )
        rd.sink(phashes, "perceptual_hashes")
        exifs = hashed.filter(F.col("ex.present")).select(
            "content_id",
            F.col("ex.camera").alias("camera"),
            F.col("ex.ts").alias("ts"),
            F.col("ex.lat").alias("lat"),
            F.col("ex.long").alias("long"),
        )
        rd.sink(exifs, "exif_info")
        # S11 faces sink: one row per detected face per image
        # (reference html.go:146-159 → faceRecognition.go:13-19, Face
        # table DDL database.go:134). Detector is pluggable (no model
        # ships in this sandbox — see media/faces.py).
        if self.cfg.face_detector != "none":
            from ..media.faces import detect_faces

            faces = detect_faces(
                imgs, body_col="html", id_col="content_id",
                detector=self.cfg.face_detector,
            )
            rd.sink(faces, "faces")
        return _error_rows(
            hashed.filter(F.col("ph.error").isNotNull()),
            rd.r,
            schemas.ERROR_CODES["ErrorPerceptualHash"],
            F.col("ph.error"),
        )

    def _robots_ingest(self, rd: _Round, gated: DataFrame) -> DataFrame | None:
        """Robots self-ingestion (north_rule): parse rules out of the
        robots.txt bodies fetched THIS round; they are sunk for the next
        rounds AND applied to this round's own candidates (a newly
        discovered host's robots is prefetched at PRIORITY_ROBOTS, so
        its rules usually land with or before the host's first content
        pages). None unless cfg.fetch_robots_txt."""
        rd.stats["robots"] = None
        if not self.cfg.fetch_robots_txt:
            return None
        from ..functions.robots import robots_rules as parse_robots

        robots_bodies = gated.filter(
            (F.col("gate") == "ok") & (path_expr("url_norm") == "/robots.txt")
        ).select("host", "html")
        round_robots = rd.cache(
            parse_robots(robots_bodies, host_col="host", body_col="html", round_col=rd.r)
        )
        rd.sink(round_robots, "robots")
        # rules-table snapshot pointer: robots rules fetched this round
        # (the cross-round view is the union of these sinks)
        rd.stats["robots"] = f"r{rd.r:05d}/robots"
        return round_robots

    def _links(self, rd: _Round, combined: DataFrame) -> DataFrame:
        """P5/P6 + U1 link and keyword rows, rating (J5+A1) and
        priority (P1/P2). Returns the cached rated links."""
        r = rd.r
        # The flat link/keyword rows are the kind=1 slice of the fused
        # pass (one row per keyword, all-scalar Arrow transfer;
        # links/keywords are shuffle-free filters of the same
        # checkpointed frame). The P5 html-sniff gate and P6's
        # image-suffix skip both run INSIDE the kernel — still exactly
        # one Python stage per round.
        # NOTE: case-SENSITIVE suffix skip — html.go:169 uses
        # strings.HasSuffix on the raw URL (only the priority rule at
        # crawling.go:20 lowercases first).
        flat = (
            combined.filter(F.col("kind") == 1)
            .select(
                F.col("url_norm").alias("origin_url"),
                "depth", "time_found", "pos", "dest_url",
                "kw_idx", "visibility", "text",
            )
            .withColumn(
                "link_id",
                F.xxhash64("origin_url", "dest_url", "pos", F.lit(r)),
            )
        )
        keywords = flat.filter(F.col("kw_idx").isNotNull()).select(
            "link_id", "visibility", "text"
        )
        rd.sink(keywords, "link_keywords")

        if len(self.flagged_rows) <= 512:
            # FUSED rating (r6): one hash aggregate over the flat frame
            # instead of a keywords-groupBy exchange PLUS a
            # links⋈ratings join (its own exchange + sort). Map-side
            # partial aggregation collapses the per-keyword rows into
            # one row per link before the exchange, so exactly one
            # link-sized shuffle remains (guide §2.4/§2.3).
            # Equivalence: the per-row term is 0.0 for NULL-text
            # (zero-keyword) rows — exactly the coalesce(rating, 0.0)
            # of the join form — and the summed terms are small exact
            # integers in double, so the sum is order-independent
            # (pinned by the e2e simulator equality tests).
            term = ops.rating_term_expr(self.flagged_rows)
            rated = flat.groupBy(
                "link_id", "origin_url", "depth", "time_found", "dest_url"
            ).agg(F.sum(term).alias("rating"))
        else:
            links = flat.filter(
                F.col("kw_idx").isNull() | (F.col("kw_idx") == 0)
            ).select(
                "origin_url", "depth", "time_found", "pos", "dest_url", "link_id"
            )
            ratings = ops.link_rating(keywords, self.flagged)
            rated = links.join(ratings, "link_id", "left").withColumn(
                "rating", F.coalesce(F.col("rating"), F.lit(0.0))
            )
        rated = rd.cache(ops.with_link_priority(rated))

        link_rels = rated.select(
            F.lit(r).alias("round"),
            "link_id",
            F.xxhash64("origin_url").alias("origin_id"),
            F.xxhash64("dest_url").alias("dest_id"),
            "origin_url",
            "dest_url",
            "rating",
            "time_found",
        )
        rd.sink(link_rels, "link_rels")
        return rated

    def _candidates(
        self,
        rated: DataFrame,
        rules: DataFrame | None,
        round_robots: DataFrame | None,
    ) -> DataFrame:
        """A5/A6 collapse of the rated links' destinations, then the
        robots filter under the round-start rules merged with the ones
        fetched this round."""
        cands = rated.select(
            F.col("dest_url").alias("url_norm"),
            "priority",
            (F.col("depth") + 1).alias("depth"),
        )
        cands = (
            ops.collapse_candidates(cands)
            .withColumn("host", host_expr("url_norm"))
            .withColumn("url_hash", F.xxhash64("url_norm"))
        )
        if round_robots is not None:
            fresh = round_robots.withColumn("_src", F.lit(1))
            rules = self._latest_per_host(
                fresh
                if rules is None
                else rules.withColumn("_src", F.lit(0)).unionByName(fresh)
            )
        if rules is not None:
            cands = ops.robots_filter(cands, rules)
        if self.cfg.fetch_robots_txt:
            # prefetch robots.txt for every host seen among candidates
            # (added AFTER the filter — robots.txt itself is always
            # fetchable per RFC 9309); the seen check dedups across
            # rounds so each host's robots is fetched once.
            cands = cands.unionByName(_robots_txt_urls(cands))
        return cands

    def _bloom_shards(self, prev: dict) -> DataFrame:
        return self.spark.read.schema(schemas.BLOOM_SHARDS).parquet(
            os.path.join(self.state.root, "rounds", prev["bloom"])
        )

    def _seen(
        self, rd: _Round, prev: dict, cands: DataFrame, seen_dfs: list[DataFrame]
    ) -> DataFrame:
        """J2 seen check (U8 bloom pre-filter + exact anti-join) and the
        seen-state write. Returns the cached never-seen candidates.

        A round whose previous manifest has no bloom (round 1, or a
        resume that turns the filter on) does not probe: the exact
        anti-join against the live seen parts is the whole check, and
        against no parts it is free."""
        if self.cfg.bloom_prefilter and prev.get("bloom"):
            probed = rd.cache(
                bloom_ops.probe_shards(
                    cands, self._bloom_shards(prev), rd.n_buckets, rd.shard_bits
                )
            )
            negatives = probed.filter(~F.col("maybe_seen")).drop("maybe_seen", "bucket")
            positives = probed.filter(F.col("maybe_seen")).drop("maybe_seen", "bucket")
            # exact check for bloom-positives only: co-partitioned
            # anti-joins against the bucketed seen parts — the seen
            # side is never shuffled OR broadcast-collected (in steady
            # state positives ≈ the whole candidate set, so
            # broadcasting the positives would OOM at scale).
            new_from_pos = ops.seen_anti_join_parts(positives, seen_dfs)
            new = rd.cache(negatives.unionByName(new_from_pos))
        else:
            new = rd.cache(ops.seen_anti_join_parts(cands, seen_dfs))
        rd.stats["seen_parts"] = self._key_state(
            rd,
            new.select("url_norm", "url_hash", F.lit(rd.r).alias("round_seen")),
            seen_dfs,
            prev["seen_parts"],
            "seen_delta",
            "seen_full",
            "url_hash",
        )
        return new

    def _frontier(
        self,
        rd: _Round,
        prev: dict,
        frontier: DataFrame,
        batch_use: DataFrame,
        new: DataFrame,
    ) -> DataFrame:
        """Frontier state write. Returns this round's new frontier rows.

        Incremental frontier (see _frontier_view): normal rounds write
        ONLY the round delta (new urls) + a skinny tombstone table of
        drained url_hashes — O(round activity), not O(frontier). The
        full table is rewritten (and tombstones folded in) on the
        compaction cadence. Held rows (robots-first hold-back) are NOT
        in ``batch_use``: they survive both the full-rewrite anti-join
        and the tombstones.
        """
        r = rd.r
        new_frontier = new.filter(F.col("priority") > 0).select(
            "url_norm",
            "host",
            "priority",
            "depth",
            F.lit(r).alias("round_added"),
            "url_hash",
        )
        if r % self.cfg.compact_seen_every == 0:
            rest = frontier.join(batch_use.select("url_hash"), "url_hash", "left_anti")
            rd.sink(rest.unionByName(new_frontier), "frontier_full", "url_hash")
            rd.stats["frontier_parts"] = [f"r{r:05d}/frontier_full"]
            rd.stats["drained_parts"] = []
        else:
            rd.sink(new_frontier, "frontier_delta", "url_hash")
            drained = batch_use.select("url_hash", F.lit(r).alias("drained_round"))
            rd.sink(drained, "drained", "url_hash")
            rd.stats["frontier_parts"] = prev["frontier_parts"] + [f"r{r:05d}/frontier_delta"]
            rd.stats["drained_parts"] = prev.get("drained_parts", []) + [f"r{r:05d}/drained"]
        return new_frontier

    def _bloom(
        self, rd: _Round, prev: dict, new: DataFrame, seen_dfs: list[DataFrame]
    ) -> None:
        """U8: merge this round's new urls into the bloom shards. A round
        whose previous manifest has no bloom builds the first one from
        the live seen parts plus its new urls, so the filter holds the
        whole seen set (the bootstrap's robots rows included)."""
        rd.stats["bloom"] = None
        if not self.cfg.bloom_prefilter:
            return
        urls = new.select("url_norm")
        if prev.get("bloom"):
            shards = bloom_ops.build_shards(
                urls, rd.n_buckets, rd.shard_bits, self._bloom_shards(prev)
            )
        else:
            shards = bloom_ops.build_shards(
                _union([*(s.select("url_norm") for s in seen_dfs), urls]),
                rd.n_buckets,
                rd.shard_bits,
            )
        rd.sink(shards, "bloom")
        rd.stats["bloom"] = f"r{rd.r:05d}/bloom"

    def _flush(self, rd: _Round) -> None:
        """Run the queued sink writes concurrently: each write is its own
        Spark job, the persisted parents are materialized once under the
        cache's per-partition locks, and the scheduler overlaps the jobs,
        hiding the per-job launch latency a dozen sequential ~0.5 s jobs
        would add to every small round."""

        def write(sink):
            df, name, bucket_col = sink
            with rd._phase(f"sink:{name}", rd.sink_ms):
                if bucket_col is None:
                    self._write(df, rd.r, name)
                else:
                    self.state.write_bucketed(
                        df, rd.r, name, rd.n_buckets, bucket_col=bucket_col
                    )

        with rd._phase("flush"), ThreadPoolExecutor(max_workers=WRITE_THREADS) as pool:
            list(pool.map(write, rd.sinks))

    def _commit(self, rd: _Round, new_frontier: DataFrame) -> dict:
        """Round counters, round_stats sink, atomic manifest commit and,
        on the compaction cadence, expiry of superseded state."""
        r, cfg = rd.r, self.cfg
        # Round counters from the parquet FOOTERS of the sinks just
        # written (contents = fetched pages, link_rels = links, errors,
        # frontier_delta = new frontier rows) — no Spark job, no cache
        # re-scan. The one count not derivable from a sink (new-frontier
        # rows folded into a compaction's full rewrite) runs as a single
        # cached-scan job on compaction rounds only.
        with rd._phase("counters"):
            pages_fetched = self.state.sink_rows(r, "contents")
            links_found = self.state.sink_rows(r, "link_rels")
            n_errors = self.state.sink_rows(r, "errors")
            bytes_ok = (
                self.state.sink_column_sum(r, "contents", "size")
                if pages_fetched
                else 0
            )
            if r % cfg.compact_seen_every == 0:
                n_new_frontier = new_frontier.count()
            else:
                n_new_frontier = self.state.sink_rows(r, "frontier_delta")
        self.spark.sparkContext.setJobDescription(None)
        wall_ms = _ms(rd.t0)
        stats = rd.stats
        stats.update(
            pages_fetched=pages_fetched,
            links_found=links_found,
            new_frontier=n_new_frontier,
            errors=n_errors,
            wall_ms=wall_ms,
            n_buckets=rd.n_buckets,
            shard_bits=rd.shard_bits,
            # feedback for next round's data-proportional shuffle sizing
            avg_page_bytes=round(bytes_ok / pages_fetched, 1)
            if pages_fetched
            else float(EST_PAGE_BYTES),
            sink_ms=rd.sink_ms,
            phase_ms=rd.phase_ms,
        )
        # round_stats is ONE driver-known row — writing it through a
        # Spark job cost a full job launch per round; pyarrow writes
        # the identical parquet schema directly (readers are unchanged:
        # schema'd parquet scans over the sink glob).
        self.state.write_round_stats(
            r, pages_fetched, links_found, n_new_frontier, n_errors, wall_ms
        )
        self.state.commit_round(r, stats)
        if r % cfg.compact_seen_every == 0:
            stats["gc_removed"] = len(
                self.state.gc_state(r, keep_rounds=1, spark=self.spark)
            )
        stats["done"] = False
        stats["round"] = r
        return stats

    # ------------------------------------------------------------------
    def run(self, max_rounds: int = 100, resume: bool = True) -> list[dict]:
        """Drive rounds until the frontier drains (O3) or max_rounds.

        Resume: uncommitted round dirs are dropped; we continue from
        the latest manifest — no re-fetch, no seen-set divergence.
        """
        self.state.drop_uncommitted()
        latest = self.state.latest_committed_round()
        if latest is None or not resume:
            self.bootstrap()
            latest = 0
        all_stats = []
        r = latest + 1
        while r <= latest + max_rounds:
            stats = self.run_round(r)
            all_stats.append(stats)
            if stats.get("done"):
                break
            r += 1
        return all_stats
