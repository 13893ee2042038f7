"""Host-health record attached to every run's output.

Two probes, sized to the cores the run uses:

- alloc: first touch of 64 MB of fresh pages. A host that services page
  faults slowly inflates every allocation-heavy Spark stage.
- cpu: the same sha256 work in 1 process and in ``cores`` processes at
  once. Their time ratio is ~1 when the cores are really free and grows
  under CPU steal or a busy neighbour.

A probe that times out or prints something unparsable makes the record
unhealthy; it never reads as a healthy value. The record is reported, the
run is never dropped. Beside the probes, the run reports the share of CPU
time the hypervisor stole while it measured (``steal_share``).
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

ALLOC_LIMIT_MS = 250.0
PARALLEL_RATIO_LIMIT = 1.5
PROBE_TIMEOUT_S = 60.0
HASH_MB_PER_WORKER = 256

_CPU_SCRIPT = """
import hashlib, multiprocessing as mp, sys, time
def work(_):
    b = bytes(1 << 20)
    h = hashlib.sha256()
    for _ in range({mb}):
        h.update(b)
    return 0
if __name__ == "__main__":
    out = []
    for n in (1, {cores}):
        # fork is safe: this probe process runs no threads
        with mp.get_context("fork").Pool(n) as p:
            p.map(work, range(n))  # start every worker before timing
            t0 = time.perf_counter()
            p.map(work, range(n), chunksize=1)
            out.append(time.perf_counter() - t0)
    print(out[0], out[1])
"""


def alloc_probe_ms() -> float:
    import numpy as np

    t0 = time.perf_counter()
    a = np.empty(1 << 26, dtype=np.uint8)
    a[::4096] = 1
    return (time.perf_counter() - t0) * 1000.0


def cpu_probe(cores: int):
    """(single_s, parallel_s) or None when the probe failed."""
    script = _CPU_SCRIPT.format(mb=HASH_MB_PER_WORKER, cores=cores)
    proc = subprocess.Popen(
        [sys.executable, "-c", script],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,  # so a timeout can kill the pool too
    )
    try:
        out, _ = proc.communicate(timeout=PROBE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None
    try:
        single, parallel = (float(x) for x in out.split())
    except ValueError:
        return None
    if proc.returncode != 0 or single <= 0 or parallel <= 0:
        return None
    return single, parallel


def cpu_ticks():
    """(stolen, total) CPU ticks of the host so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # guest and guest_nice (fields 9-10) are already counted in user/nice
    return ticks[7], sum(ticks[:8])


def steal_share(before, after) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def record(cores: int) -> dict:
    problems = []
    alloc = alloc_probe_ms()
    if alloc > ALLOC_LIMIT_MS:
        problems.append(f"alloc probe {alloc:.0f} ms > {ALLOC_LIMIT_MS:.0f} ms")
    cpu = cpu_probe(cores)
    rec = {"cores": cores, "alloc_ms": round(alloc, 1)}
    if cpu is None:
        problems.append("cpu probe failed or timed out")
        rec.update(cpu1_s=None, cpu_n_s=None, parallel_ratio=None)
    else:
        ratio = cpu[1] / cpu[0]
        rec.update(
            cpu1_s=round(cpu[0], 3), cpu_n_s=round(cpu[1], 3),
            parallel_ratio=round(ratio, 3),
        )
        if ratio > PARALLEL_RATIO_LIMIT:
            problems.append(
                f"{cores}-way cpu probe {ratio:.2f}x the 1-way time "
                f"> {PARALLEL_RATIO_LIMIT}"
            )
    rec["healthy"] = not problems
    rec["problems"] = problems
    return rec
