"""One-level scale notch for the maintenance bench (round-4 VERDICT
task 8): run the committed compact → cluster → MERGE protocol at the
NEXT table size up from the 1.536M-row / 22.7 GB pair runs, single
parallelism level (local[32]), gate-instrumented, and report scan GB/s,
merge rows/s and the per-stage phase split — the question is whether
the per-JOB fixed costs (planning/driver phases) stay flat while the
per-BYTE work scales with the input.

Size choice, disclosed: the VERDICT suggested 4x again (~6.1M rows),
but that table is 91 GB and this box's tmpfs IS its 126 GB RAM — a
rewrite stage holds old+new file sets plus the cluster stage's
full-payload shuffle (≈ 3x table, 270 GB). Even the 2x notch (3.072M
rows, 45.4 GB) only fits with (a) maint_runner's in-place mode (no
pristine copy; the table is REBUILT between reps) and (b) shuffle
scratch moved to the shared disk (the one resource with headroom).
Disk shuffle adds a serial IO term to the rewrite phases — a sandbox
artifact, disclosed in the report — while the fixed planning/driver
phases the notch probes are unaffected.

Per rep: deterministic rebuild (untimed) -> maint_runner in-place at
local[32] with between-stage GC (untimed) -> one JSON line appended to
the log, until N reps pass the benchkit gate. Minima are taken over the
clean reps only.

Usage: python tools/scale_notch.py <log.jsonl> [img_rows] [--reps N]
       python tools/scale_notch.py <log.jsonl> [img_rows] --aggregate
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import benchkit
from scaling_bench import REPO, aggregate as level_minima, build_inputs, describe

ROOT = "/dev/shm/scale_notch"
DISK_SCRATCH = "/root/notch-scratch"


def aggregate(log_path: str) -> None:
    with open(log_path) as f:
        reps = [json.loads(ln) for ln in f if ln.strip()]
    ok = benchkit.clean(reps)
    if not ok:
        raise SystemExit(f"0 clean reps of {len(reps)}")
    best = level_minima({32: ok}, [32])[32]
    best.update(n_reps=len(reps), n_clean=len(ok))
    print(json.dumps(best, indent=1))


def main() -> None:
    log_path = sys.argv[1]
    args = sys.argv[2:]
    img_rows = int(args[0]) if args and not args[0].startswith("--") else 3_072_000
    if "--aggregate" in args:
        aggregate(log_path)
        return
    reps = int(args[args.index("--reps") + 1]) if "--reps" in args else 2

    os.makedirs(DISK_SCRATCH, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_LOCAL_DIR"] = DISK_SCRATCH  # shuffle on disk (see doc)
    env["SPARK_GRAFT_INPLACE"] = "1"
    env["SPARK_GRAFT_BENCH_GC"] = "1"
    inputs = os.path.join(ROOT, "t"), os.path.join(ROOT, "src")

    def rebuild() -> None:
        # maintenance mutates the table in place: every rep gets a fresh one
        shutil.rmtree(ROOT, ignore_errors=True)
        os.makedirs(ROOT, exist_ok=True)
        print(f"building {img_rows}-row table (untimed)...", flush=True)
        build_inputs(ROOT, img_rows)

    benchkit.collect(
        {32: [sys.executable, os.path.join(REPO, "tools", "maint_runner.py"),
              "32", *inputs]},
        reps,
        describe,
        env=env, log_path=log_path, prepare=rebuild,
    )
    shutil.rmtree(ROOT, ignore_errors=True)
    shutil.rmtree(DISK_SCRATCH, ignore_errors=True)
    aggregate(log_path)


if __name__ == "__main__":
    main()
