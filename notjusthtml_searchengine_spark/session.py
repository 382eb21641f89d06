"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4.3): AQE on with skew-join handling,
Arrow-based pandas UDF transfer on, modest Arrow batch sizes because
the ``html`` column carries fat binaries (reference caps pages at
20 MB — /root/reference/main.go:20), and runtime bloom-filter join
pushdown enabled so in-round semi/anti joins get a bloom pre-filter
for free.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference design envelope: 20 MB per-page cap (main.go:20).
MAX_FILESIZE = 20_000_000
# Average page size assumed before any page of a crawl is measured (the
# crawl's round-1 shuffle sizing).
EST_PAGE_BYTES = 8192

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # html bodies are fat; keep Arrow batches small enough that a
    # batch of near-cap pages stays well under executor memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    # Same concern on the scan side: the vectorized parquet reader's
    # default 4096-row column batch over a binary html column means
    # 4096 × page_size per task — OOM at realistic page weights.
    "spark.sql.parquet.columnarReaderBatchSize": "512",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # The round flush runs many sink-write JOBS concurrently; a
    # broadcast future inside one of them can wait far longer than the
    # 300 s default on a busy low-core scheduler (observed: local[2]
    # at sf1 with 64 shuffle partitions aborted a sink write at
    # exactly 300 s). Long-batch engines want a generous timeout —
    # the broadcast itself is not the slow part, the queueing is.
    "spark.sql.broadcastTimeout": "3600",
    # bucketed state tables are EXTERNAL (option("path")); the
    # warehouse dir only hosts catalog scratch — keep it out of cwd
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/njh_spark_warehouse"
    ),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Throughput GC: G1's region machinery collapses under many task
    # threads churning fat (tens-of-KB) byte[] rows — measured 20x
    # slowdown on a 32-thread shuffle of 60KB html bodies vs
    # ParallelGC. Batch engines want throughput GC; same flag goes in
    # spark.executor.extraJavaOptions on a real cluster.
    #
    # (MaxNewSize is appended per-session in get_spark — it scales
    # with the session's core count, see there.)
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
}


def _mem_to_g(mem: str) -> int:
    """'48g' / '4096m' / bare-number-of-bytes -> whole GB (floor 1)."""
    s = str(mem).strip().lower()
    try:
        if s.endswith("g"):
            return max(int(s[:-1]), 1)
        if s.endswith("m"):
            return max(int(s[:-1]) >> 10, 1)
        if s.endswith("k"):
            return max(int(s[:-1]) >> 20, 1)
        return max(int(s) >> 30, 1)
    except ValueError:
        return 8


def _nursery_g(cores: int, heap_g: int, input_bytes: int) -> int:
    """ParallelGC MaxNewSize bound in GB: a concurrency term
    (~0.5 GB per task thread, floor 2g, cap 8g) plus one GB per GB of
    expected compressed input, the sum capped at heap/4. With no
    volume signal this is exactly the r6 cores-only bound."""
    vol_g = input_bytes >> 30
    base_g = min(max(cores // 2, 2), 8)
    return min(base_g + vol_g, max(heap_g // 4, 1))


def get_spark(
    app_name: str = "notjusthtml-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
    input_bytes: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    ``shuffle_partitions`` (also the default parallelism) defaults to
    the master's core count, floor 8, so that small-scale tests don't
    pay 200-partition scheduling overhead; on a real cluster this is
    sized to ~2-3x total cores.
    ``input_bytes`` (optional) is the expected on-disk volume of the
    session's input data; it feeds the GC-nursery bound below.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"

    # Bound the ParallelGC nursery, scaled to the session's core count
    # (~0.5 GB per concurrent task, floor 2g, cap 8g). ParallelGC
    # defaults the young gen to ~1/3 of the heap, and on a large heap
    # (the bench runs 48g) every batch's allocations cold-sweep a
    # ~16 GB eden — page zeroing and TLB misses, not GC pauses: the
    # SAME frozen-bench crawl leg measured 205-260s at 48g vs 138s at
    # 8g, and 142s at 48g with a 2g nursery (r6). Too small starves
    # concurrent tasks instead (local[8] crawl: 112s at 2g vs 73s at
    # 4g), so the bound follows parallelism — which also matches
    # production executors (4-8 cores -> 2-4g nursery).
    #
    # The bound additionally scales with the session's expected INPUT
    # VOLUME (r6, sf1 event-log finding): the young-gen allocation
    # burst of a round grows with the data it scans — at 10x data the
    # fat corpus-scan stages (blob winner join, extraction feed) spent
    # 27-52% of executor time in GC under the cores-only 4g bound,
    # and a 12g nursery on the same leg cut the two biggest round
    # walls 138->91s / 186->151s (sustained slope 3647->5103 pps).
    # One extra GB of nursery per GB of compressed input, capped at
    # heap/4, recovers that without touching the small-scale defaults
    # (unknown/small volume => exactly the cores-only bound). Same
    # shape on a real cluster: executors scanning bigger splits want
    # young space proportional to per-task input, not just threads.
    try:
        cores = int(master.split("[")[1].rstrip("]*")) if "[" in master else 0
    except ValueError:
        cores = 0
    cores = cores or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Merge the conf layers FIRST (defaults < env hook < computed
    # partitions < caller), so the nursery bound is derived from the
    # heap this session will actually run with. The previous code read
    # $SPARK_GRAFT_DRIVER_MEM directly here, which can disagree with
    # DEFAULT_CONFS' import-time snapshot when the env var is set
    # between module import and get_spark (observed r6: an 11g
    # MaxNewSize computed from a 48g env value was applied to the 8g
    # heap the conf snapshot actually carried -> old gen starved ->
    # executor OOM at sf1).
    confs = dict(DEFAULT_CONFS)
    env_confs = os.environ.get("SPARK_GRAFT_EXTRA_CONFS")
    if env_confs:
        # Debug/ops hook: extra session confs from the environment as a
        # JSON object (e.g. event logging for profiling a run whose
        # launcher cannot be edited). Applied before caller extra_confs
        # so explicit caller settings still win.
        import json

        for k, v in json.loads(env_confs).items():
            confs[k] = str(v)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs["spark.default.parallelism"] = str(shuffle_partitions)
    for k, v in (extra_confs or {}).items():
        confs[k] = v
    heap_g = _mem_to_g(confs.get("spark.driver.memory", "8g"))
    nursery_g = _nursery_g(cores, heap_g, input_bytes or 0)
    for key in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        confs[key] = f"{confs[key]} -XX:MaxNewSize={nursery_g}g"

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
