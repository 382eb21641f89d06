"""Session geometry. GC-nursery bound: cores-only at small/unknown
volume (the driver bench shape), volume-scaled at 10x data (the sf1
shape), always capped at heap/4. Pins the r6 geometry so a refactor
can't silently regress either end. Parallelism: from the master's core
count."""

from notjusthtml_searchengine_spark import session
from notjusthtml_searchengine_spark.session import _mem_to_g, _nursery_g


def test_mem_to_g_parses_spark_mem_strings():
    assert _mem_to_g("48g") == 48
    assert _mem_to_g("8G") == 8
    assert _mem_to_g("4096m") == 4
    assert _mem_to_g("512m") == 1  # floor 1
    assert _mem_to_g(str(2 << 30)) == 2
    assert _mem_to_g("weird") == 8


def test_cores_only_bound_unchanged_without_volume_signal():
    # the exact r6 cores-only values (frozen-bench local[2]/[8]/[32])
    assert _nursery_g(2, 48, 0) == 2
    assert _nursery_g(8, 48, 0) == 4
    assert _nursery_g(32, 48, 0) == 8
    # small heap: heap/4 cap (floor 1)
    assert _nursery_g(8, 8, 0) == 2
    assert _nursery_g(4, 2, 0) == 1


def test_volume_scales_nursery_up_to_heap_quarter():
    gb = 1 << 30
    # sub-GB volume: no change (the sf0.1 bench corpus is ~0.7 GB)
    assert _nursery_g(8, 48, 700 * (1 << 20)) == 4
    # sf1-shaped volume (960k pages * 8 KiB est): 4 + 7 = 11 < 12 cap
    assert _nursery_g(8, 48, 960_000 * 8192) == 11
    # huge volume: capped at heap/4
    assert _nursery_g(8, 48, 100 * gb) == 12
    assert _nursery_g(8, 16, 100 * gb) == 4


class _Builder:
    """Stands in for ``SparkSession.builder``: records what get_spark
    would build a session with."""

    def __init__(self):
        self.confs = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.master_url = master
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return self


def _built(monkeypatch, **kw) -> _Builder:
    monkeypatch.setattr(session, "SparkSession", type("S", (), {"builder": _Builder()}))
    return session.get_spark(**kw)


def test_parallelism_follows_the_master_cores(monkeypatch):
    """Default parallelism and shuffle partitions come from the master's
    core count (floor 8), whatever $SPARK_GRAFT_CPUS says; the variable
    only names the default master."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    for master, want in (("local[2]", "8"), ("local[16]", "16")):
        confs = _built(monkeypatch, master=master).confs
        assert confs["spark.default.parallelism"] == want, master
        assert confs["spark.sql.shuffle.partitions"] == want, master
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert _built(monkeypatch, master="local[2]").confs["spark.default.parallelism"] == "8"
    default = _built(monkeypatch)
    assert default.master_url == "local[32]"
    assert default.confs["spark.default.parallelism"] == "32"


def test_nursery_reads_the_callers_input_bytes_only(monkeypatch):
    """The volume term comes from ``input_bytes`` alone; size variables
    in the environment do not feed it."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PAGES", "960000")
    monkeypatch.setenv("SPARK_GRAFT_INPUT_BYTES", str(100 << 30))
    heap = {"spark.driver.memory": "48g"}
    opts = "spark.driver.extraJavaOptions"
    assert _built(monkeypatch, master="local[8]", extra_confs=heap).confs[opts].endswith(
        "-XX:MaxNewSize=4g"
    )
    assert _built(
        monkeypatch, master="local[8]", extra_confs=heap, input_bytes=960_000 * 8192
    ).confs[opts].endswith("-XX:MaxNewSize=11g")
