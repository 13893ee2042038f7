"""Gated reps of the whole headline bench (bench.py).

A single ungated bench.py run is dominated by box noise (r3->r4 drifted
+8.4% with no hot-path change). This tool runs ``python bench.py`` in a
fresh subprocess/JVM per rep until N reps pass the benchkit gate (on
bench.py's own alloc and CPU probes), and reports PER-QUERY MINIMA over
the clean reps plus scan GB/s / merge rows/s at their best clean rep.

Usage:
  python tools/bench_reps.py <log.jsonl> [--reps N]
  python tools/bench_reps.py <log.jsonl> --aggregate [--baseline BENCH_rK.json]
"""

from __future__ import annotations

import json
import os
import sys

import benchkit


def describe(rep: dict) -> str:
    return (
        f"total={rep['value']}s "
        f"alloc={rep.get('alloc_probe_ms_pre')}/{rep.get('alloc_probe_ms_post')}ms "
        f"cpu={rep.get('cpu_probe_s_pre')}/{rep.get('cpu_probe_s_post')}s "
        f"scan={rep.get('scan_gbps')}GB/s merge={rep.get('merge_rows_per_sec')}r/s"
    )


def main() -> None:
    log_path = sys.argv[1]
    args = sys.argv[2:]

    def opt(name, default, cast=str):
        return cast(args[args.index(name) + 1]) if name in args else default

    if "--aggregate" in args:
        with open(log_path) as f:
            reps = [json.loads(ln) for ln in f if ln.strip()]
        report = benchkit.aggregate(reps, opt("--baseline", None))
        print(json.dumps(report, indent=1))
        return
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    cmd = [sys.executable, os.path.join(benchkit.REPO, "bench.py")]
    benchkit.collect(
        {int(env["SPARK_GRAFT_CPUS"]): cmd}, opt("--reps", 4, int), describe,
        env=env, log_path=log_path, timeout=1800,
    )


if __name__ == "__main__":
    main()
