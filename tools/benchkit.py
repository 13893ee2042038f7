"""Measurement kit shared by ``bench.py`` and the rep tools.

It holds the host-health probes, the clean-rep gate, the loop that runs a
timed command in fresh subprocesses until enough clean reps exist, and
the min-over-clean aggregation.

A rep is one run of a timed command in its own process (own JVM). Reps
come in two shapes:

- ``bench.py`` lines carry ``alloc_probe_ms_pre/post`` and the
  fresh-subprocess sha256 probe ``cpu_probe_s_pre/post``;
- ``tools/maint_runner.py`` lines carry ``times.alloc_gate`` (worst alloc
  probe, s), the fresh-subprocess pair ``times.cpu_fresh`` /
  ``cpu_fresh_gate`` (best / worst) and the in-JVM pair
  ``times.cpu_baseline`` / ``cpu_gate``.

The gate: a rep is clean iff its worst alloc probe is <= ALLOC_GATE_S and
its worst CPU probe is <= CPU_GATE_RATIO x the best value of the same
probe among the reps of its log at its parallelism level. The
fresh-subprocess pair is used when the rep carries one, the in-JVM pair
otherwise. A missing or failed probe (``None``, or the ``-1.0`` older
logs wrote) makes the rep unclean.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ALLOC_GATE_S = 1.0  # healthy first touch of 64 MB is 20-50 ms
CPU_GATE_RATIO = 1.25
HEALTHY_ALLOC_S = 0.25  # a rep waits for an alloc probe this fast...
HEALTH_WAIT_S = 600.0  # ...for at most this long
PROBE_TIMEOUT_S = 120.0

_SHA_SCRIPT = """
import hashlib, multiprocessing as mp, time
def w(_):
    b = bytes(1 << 20)
    h = hashlib.sha256()
    for _ in range(600):
        h.update(b)
    return 0
if __name__ == "__main__":
    t0 = time.time()
    with mp.Pool({n}) as p:
        p.map(w, range({n}))
    print(round(time.time() - t0, 3))
"""


def run(cmd: list, *, env: dict | None = None, timeout: float | None = None):
    """stdout of ``cmd`` run in its own process group, or None when it
    exits non-zero or outlives ``timeout`` (the whole group is killed)."""
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        cwd=REPO, env=env, start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        sys.stderr.write(f"killed after {timeout} s: {cmd}\n")
        return None
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:] + "\n")
        return None
    return out


def alloc_probe_s() -> float:
    """Seconds to first-touch 64 MB of fresh pages. This host at times
    services page faults at ~1 ms/page (10-30 s here), which inflates
    every allocation-heavy Spark stage 10-30x (BENCH/NOTES_r2.md)."""
    import numpy as np

    t0 = time.time()
    a = np.empty(1 << 26, dtype=np.uint8)
    a[::4096] = 1  # one touch per page
    return time.time() - t0


def cpu_probe_s(workers: int, timeout: float = PROBE_TIMEOUT_S) -> float | None:
    """``workers`` processes each sha256 600 MB, in a fresh python with no
    JVM state, so only external load slows it. Quiet r5 box at 32-way:
    0.75 s; 1.5+ s under CPU steal (BENCH/NOTES_r5.md). None on failure."""
    out = run(
        [sys.executable, "-c", _SHA_SCRIPT.format(n=workers)], timeout=timeout
    )
    try:
        return float(out.split()[-1])
    except (AttributeError, IndexError, ValueError):
        return None


def jvm_cpu_probe_s(spark, cpus: int) -> float:
    """A perfectly parallel CPU-only Spark job (sha2 over ``spark.range``,
    zero IO, zero engine code): the box's throughput ceiling at ``cpus``."""
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.range(0, 60_000_000, 1, cpus * 8).select(
        F.sum(F.crc32(F.sha2(F.col("id").cast("string"), 256)))
    ).collect()
    return round(time.time() - t0, 3)


def wait_healthy(budget_s: float = HEALTH_WAIT_S) -> float:
    """Re-probe every 30 s until the alloc probe reads healthy or the
    budget runs out; returns the last probe. A rep started while the host
    is degraded measures the host, not the engine."""
    deadline = time.time() + budget_s
    probe = alloc_probe_s()
    while probe > HEALTHY_ALLOC_S and time.time() < deadline:
        time.sleep(30)
        probe = alloc_probe_s()
    return probe


def _ok(v) -> bool:
    return isinstance(v, (int, float)) and v >= 0


def _alloc_worst_s(rep: dict):
    if "times" in rep:
        return rep["times"].get("alloc_gate")
    ms = [rep.get("alloc_probe_ms_pre"), rep.get("alloc_probe_ms_post")]
    return max(ms) / 1000 if all(map(_ok, ms)) else None


def _cpu_pairs(rep: dict) -> dict:
    """{probe: (best, worst)} for each CPU probe pair the rep carries."""
    t = rep.get("times")
    if t is None:
        pre, post = rep.get("cpu_probe_s_pre"), rep.get("cpu_probe_s_post")
        if pre is None and post is None:
            return {}
        ok = _ok(pre) and _ok(post)
        return {"fresh": (min(pre, post), max(pre, post)) if ok else (None, None)}
    pairs = {}
    if "cpu_fresh" in t:
        pairs["fresh"] = (t["cpu_fresh"], t.get("cpu_fresh_gate"))
    if "cpu_baseline" in t:
        pairs["jvm"] = (t["cpu_baseline"], t.get("cpu_gate", t["cpu_baseline"]))
    return pairs


def is_clean(rep: dict, peers: list) -> bool:
    """The gate (module docstring). ``peers``: the reps of the same log
    at the same parallelism level, ``rep`` included."""
    alloc = _alloc_worst_s(rep)
    if not _ok(alloc) or alloc > ALLOC_GATE_S:
        return False
    pairs = _cpu_pairs(rep)
    probe = "fresh" if "fresh" in pairs else "jvm"
    if probe not in pairs or not all(map(_ok, pairs[probe])):
        return False
    best = min(
        p[probe][0]
        for p in map(_cpu_pairs, peers)
        if probe in p and all(map(_ok, p[probe]))
    )
    return pairs[probe][1] <= CPU_GATE_RATIO * best


def clean(reps: list) -> list:
    """The reps that pass the gate, each judged against its own level."""
    return [
        r for r in reps
        if is_clean(r, [p for p in reps if p.get("cpus") == r.get("cpus")])
    ]


def minima(dicts: list) -> dict:
    """Per-key minimum over a list of flat ``{name: seconds}`` dicts."""
    keys = sorted({k for d in dicts for k in d})
    return {k: min(d[k] for d in dicts if k in d) for k in keys}


def aggregate(reps: list, baseline: str | None = None) -> dict:
    """Min over the clean bench.py reps of each stage time, with scan
    GB/s and merge rows/s at their best clean rep. ``baseline`` (a prior
    ``BENCH_r*.json``) adds per-stage and total ratios against it."""
    ok = clean(reps)
    if not ok:
        raise SystemExit(f"0 clean reps of {len(reps)}")
    best = minima([r["queries"] for r in ok])
    report = {
        "clean_reps": len(ok),
        "total_reps": len(reps),
        "alloc_gate_ms": int(ALLOC_GATE_S * 1000),
        "total_of_minima_sec": round(sum(best.values()), 3),
        "scan_gbps_best": max(r["scan_gbps"] for r in ok),
        "merge_rows_per_sec_best": max(r["merge_rows_per_sec"] for r in ok),
        "minima": best,
    }
    if baseline:
        with open(baseline) as f:
            base = json.load(f)
        bq = base.get("parsed", base).get("queries", {})
        shared = [q for q in best if bq.get(q, 0) > 0]
        report["vs_baseline_ratio"] = {
            q: round(best[q] / bq[q], 3) for q in shared
        }
        report["vs_baseline_total"] = round(
            sum(best[q] for q in shared) / sum(bq[q] for q in shared), 3
        )
    return report


def collect(cmds: dict, n: int, describe, *, env: dict | None = None,
            log_path: str | None = None, prepare=None,
            timeout: float | None = None) -> dict:
    """Run each level's command (``{level: argv}``) in a fresh subprocess,
    levels interleaved, until every level has ``n`` clean reps or 3n
    attempts. Each attempt runs ``prepare()`` (if given), waits a bounded
    time for a healthy window, then takes the command's last JSON line as
    the rep, appends it to ``log_path`` and prints ``describe(rep)``.
    Returns ``{level: [every rep]}``."""
    reps = {lv: [] for lv in cmds}
    for attempt in range(3 * n):
        todo = [lv for lv in cmds if len(clean(reps[lv])) < n]
        if not todo:
            break
        for lv in todo:
            if prepare:
                prepare()
            wait_healthy()
            lines = (run(cmds[lv], env=env, timeout=timeout) or "").splitlines()
            line = next((ln for ln in reversed(lines) if ln.startswith("{")), None)
            if line is None:
                raise SystemExit(f"rep{attempt} local[{lv}] gave no result line")
            if log_path:
                with open(log_path, "a") as f:
                    f.write(line + "\n")
            rep = json.loads(line)
            rep.setdefault("cpus", lv)
            reps[lv].append(rep)
            tag = "" if is_clean(rep, reps[lv]) else " [NOISY]"
            print(f"rep{attempt} local[{lv}]{tag}: {describe(rep)}", flush=True)
    return reps
