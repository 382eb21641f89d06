"""Per-round x phase table from a Spark event log.

The crawl engine labels every job it launches with a description
``r{round:05d}:<phase>`` (``drain+stats``, ``sink:<name>``,
``counters``). This reader groups the log's jobs by that label and
reports, per round and phase:

- ``wall_s``: union of the phase's job intervals (submission to end);
- ``run_s`` / ``gc_s``: summed executor run time and JVM GC time of
  the phase's tasks;
- ``shuffle_w``: shuffle bytes written; ``spill``: memory + disk
  bytes spilled;
- ``gap_s`` (round total only): round wall time during which no task
  of any job ran. A round spans from its first job's submission to the
  next round's first job (the last round ends at its last job), so
  the driver work between rounds (commit, next round's planning) is
  charged to the round that precedes it.

Jobs without a round label (session warm-up, state GC, the layer
calls of a traced benchmark run) are reported under round ``-``.

Quirk: the round flush writes its sinks concurrently and several sinks
share cached frames. The stages that materialize a shared cache run
inside whichever sink job touches it first, so the fused extraction
stage shows up under one of the sinks that read its output
(``sink:seen_delta``, ``sink:sites``, ``sink:link_keywords``, ...), not
under a phase of its own.

Usage::

    python3 perfbench/eventlog.py LOG
    python3 perfbench/eventlog.py --diff A B
"""

from __future__ import annotations

import argparse
import json
import re
from collections import defaultdict

_LABEL = re.compile(r"^r(\d{5}):(.+)$")
_SUMS = ("run_s", "gc_s", "shuffle_w", "spill")
# the phase labels the round driver sets under the shipped CrawlConfig:
# the two non-sink phases and one per sink name the round flush writes
# (the ``pending`` list of ``plans/rounds.py``; ``faces`` and ``robots``
# are written only with face detection or robots.txt fetching on). A
# traced run records any label of its log that is not listed here.
PHASES = (
    "drain+stats", "counters", "sink:contents", "sink:content_blobs",
    "sink:sites", "sink:sites_keys", "sink:domains", "sink:content_types",
    "sink:perceptual_hashes", "sink:exif_info", "sink:link_keywords",
    "sink:link_rels", "sink:errors", "sink:metrics", "sink:seen_delta",
    "sink:seen_full", "sink:frontier_delta", "sink:frontier_full",
    "sink:drained", "sink:bloom",
)


def metric_name(phase: str) -> str:
    """A phase label as a metric-name part: other characters become _."""
    return "".join(c if c.isalnum() or c in "_.-" else "_" for c in phase)


def _events(path: str):
    """Events of an uncompressed, non-rolling log file. The last line
    of a log that is still being written may be incomplete and is
    skipped."""
    with open(path) as f:
        for line in f:
            try:
                yield json.loads(line)
            except ValueError:
                continue


def read_log(path: str) -> list[dict]:
    """Parse one event log into jobs (sorted by submission), each with
    its round, phase and task records."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            m = _LABEL.match(desc)
            jobs[ev["Job ID"]] = {
                "round": int(m.group(1)) if m else None,
                "phase": m.group(2) if m else "-",
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "tasks": [],
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            jobs[jid]["tasks"].append(
                {
                    "start": info.get("Launch Time", 0) / 1000.0,
                    "end": info.get("Finish Time", 0) / 1000.0,
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                }
            )
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = max((t["end"] for t in job["tasks"]), default=job["start"])
    return sorted(jobs.values(), key=lambda j: j["start"])


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, 0.0, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def phase_table(jobs: list[dict]) -> dict:
    """{round: {phase: row}} with the columns named in the module doc.
    Each labelled round also gets a ``total`` row carrying the round's
    wall time, job and task counts and driver gap; unlabelled jobs sit
    under round None."""
    by_round: dict = defaultdict(list)
    for job in jobs:
        by_round[job["round"]].append(job)
    rounds = sorted(r for r in by_round if r is not None)
    starts = {r: min(j["start"] for j in by_round[r]) for r in rounds}
    out: dict = {}
    for r, group in by_round.items():
        phases: dict[str, dict] = {}
        for job in group:
            row = phases.setdefault(
                job["phase"],
                {"spans": [], "jobs": 0, "tasks": 0, **{k: 0 for k in _SUMS}},
            )
            row["spans"].append((job["start"], job["end"]))
            row["jobs"] += 1
            row["tasks"] += len(job["tasks"])
            for t in job["tasks"]:
                for k in _SUMS:
                    row[k] += t[k]
        for row in phases.values():
            row["wall_s"] = union_length(row.pop("spans"))
        if r is not None:
            i = rounds.index(r)
            lo = starts[r]
            hi = (
                starts[rounds[i + 1]]
                if i + 1 < len(rounds)
                else max(j["end"] for j in group)
            )
            busy = union_length(
                [(t["start"], t["end"]) for j in group for t in j["tasks"]], lo, hi
            )
            total = {k: sum(p[k] for p in phases.values())
                     for k in (*_SUMS, "jobs", "tasks")}
            total["wall_s"] = hi - lo
            total["gap_s"] = max(hi - lo - busy, 0.0)
            phases["total"] = total
        out[r] = phases
    return out


COLS = ("wall_s", "run_s", "gc_s", "shuffle_w", "spill", "jobs", "tasks", "gap_s")


def _rows(table: dict):
    for r in sorted(table, key=lambda x: (x is None, x or 0)):
        for phase in sorted(table[r], key=lambda p: (p == "total", p)):
            yield r, phase


def _line(r, phase: str, cells) -> str:
    label = f"{'-' if r is None else r:>5}  {phase}"
    out = []
    for v in cells:
        if v is None:
            out.append("-")
        elif isinstance(v, float):
            out.append(f"{v:.3f}")
        else:
            out.append(str(v))
    return label.ljust(32) + "".join(c.rjust(12) for c in out)


def format_table(table: dict) -> str:
    lines = [_line("round", "phase", COLS)]
    for r, p in _rows(table):
        row = table[r][p]
        lines.append(_line(r, p, [row.get(c) for c in COLS]))
    return "\n".join(lines)


def format_diff(a: dict, b: dict) -> str:
    """B minus A for every (round, phase) present in either table."""
    keys = {(r, p) for t in (a, b) for r, p in _rows(t)}
    merged = {r: {p: None for rr, p in keys if rr == r} for r, _ in keys}
    lines = [_line("round", "phase", [f"d_{c}" for c in COLS])]
    for r, p in _rows(merged):
        ra, rb = a.get(r, {}).get(p, {}), b.get(r, {}).get(p, {})
        lines.append(
            _line(r, p, [rb.get(c, 0) - ra.get(c, 0) if c in ra or c in rb else None
                         for c in COLS])
        )
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description="Per-round x phase table of a Spark event log.")
    ap.add_argument("log", nargs="?", help="event log file")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"),
                    help="print B minus A per round and phase")
    args = ap.parse_args()
    if args.diff:
        a, b = (phase_table(read_log(p)) for p in args.diff)
        print(format_diff(a, b))
    elif args.log:
        print(format_table(phase_table(read_log(args.log))))
    else:
        ap.error("give a LOG or --diff A B")


if __name__ == "__main__":
    main()
