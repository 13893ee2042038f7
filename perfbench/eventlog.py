"""Spark event-log reader: per-span executor counters and driver time.

The traced run enables Spark's JSON event log. After the session stops,
every task and job in it is attributed to the benchmark span whose wall
window contains it. That covers jobs the engine launches from its own
thread pools (compaction batches, cluster tiles, merge rewrites), which
carry no job group. Event timestamps are epoch milliseconds from the same
clock as ``time.time()``.
"""

from __future__ import annotations

import json

from benchstats import uncovered

# event timestamps are whole milliseconds; allow that much rounding at
# the span edges
EDGE_TOL_S = 0.005

COUNTERS = (
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "tasks",
    "cpu_util",
)


def parse(lines):
    """Return ``(jobs, tasks)`` from event-log lines.

    jobs: list of ``(start_s, end_s)``; tasks: list of dicts with
    ``launch``/``finish`` in seconds and the raw counters."""
    starts, ends, tasks = {}, {}, []
    for line in lines:
        if '"SparkListenerJob' not in line and '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = ev["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd":
            ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            shr = m.get("Shuffle Read Metrics") or {}
            shw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_read_b": shr.get("Remote Bytes Read", 0)
                    + shr.get("Local Bytes Read", 0),
                    "shuffle_write_b": shw.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                }
            )
    jobs = [(starts[j], ends[j]) for j in starts if j in ends]
    return jobs, tasks


def _inside(s: float, e: float, lo: float, hi: float) -> bool:
    return s >= lo - EDGE_TOL_S and e <= hi + EDGE_TOL_S


def attribute(spans, jobs, tasks, cores: int):
    """Per-span counters for ``spans`` = list of ``(start_s, end_s)``.

    Returns one dict per span with the COUNTERS plus ``jobs_s`` (the union
    of the span's job intervals) and ``driver_s`` (span wall not covered
    by any job)."""
    out = []
    for lo, hi in spans:
        mine = [t for t in tasks if _inside(t["launch"], t["finish"], lo, hi)]
        my_jobs = [(s, e) for s, e in jobs if _inside(s, e, lo, hi)]
        wall = max(hi - lo, 1e-9)
        cpu_s = sum(t["cpu_ns"] for t in mine) / 1e9
        driver = uncovered(lo, hi, my_jobs)
        out.append(
            {
                "exec_run_s": sum(t["run_ms"] for t in mine) / 1000.0,
                "exec_cpu_s": cpu_s,
                "gc_s": sum(t["gc_ms"] for t in mine) / 1000.0,
                "input_mb": sum(t["input_b"] for t in mine) / 1e6,
                "shuffle_read_mb": sum(t["shuffle_read_b"] for t in mine) / 1e6,
                "shuffle_write_mb": sum(t["shuffle_write_b"] for t in mine) / 1e6,
                "spill_mb": sum(t["spill_b"] for t in mine) / 1e6,
                "tasks": len(mine),
                "cpu_util": cpu_s / (wall * cores),
                "jobs_s": (hi - lo) - driver,
                "driver_s": driver,
            }
        )
    return out


def read(path: str):
    with open(path, encoding="utf-8") as f:
        return parse(f)
