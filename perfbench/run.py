"""Lakehouse maintenance benchmark: one workload, one run.

    python3 perfbench/run.py --workload nightly_maintenance --seed 1 \\
        --seconds 3 --trace 0

Run from the repository root. The engine is imported from the checkout the
script sits in and driven on ``local[<cores>]``. Set-up (session start,
fixture generation, one warm-up iteration) is timed as ``setup_s``; then
the workload loops for ``--seconds`` and at least two iterations. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, which
also enables Spark's event log). The line before it is a JSON report with
the workload's own metrics, sample counts, sizes and a host-health record.
Exit code: 0 when every op and output check passed, 1 when one failed,
2 when the benchmark cannot run here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import hosthealth
from benchstats import median, percentile, supported_tail

ROOT = Path(__file__).resolve().parent.parent
ENGINE = "aws_medallion_datalake_spark"
# the workloads and the metrics each run prints, by name, unit and direction
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# a fixed heap cap well below the 15 GB box's RAM: the ~40 MB fixture
# needs far less, and a capped heap keeps peak RSS steady run to run
DRIVER_MEM = "1g"
SHUFFLE_PARTITIONS = 8
# C1 only. A run's JVM lives about a minute, and under tiered C2 the C2
# compiler threads share the 4 cores with the work for all of it: back to
# back on one seed (4-vCPU host), C2 took 6.8-7.3 s per maintenance pass
# against 4.7-6.7 s, 263 against 181 ms per point lookup and 48.7 against
# 45.9 s of set-up. The cost: JVM-side (codegen, executor) code runs
# slower relative to Python and driver code than in a long-lived C2 JVM.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in SPEC["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(work: Path, cores: int, traced: bool):
    from aws_medallion_datalake_spark.session import get_session

    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData {JIT_OPTS}",
    }
    if traced:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(f"local[{cores}]", app_name="perfbench",
                        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def span_and_key(name: str):
    """A per-layer metric ``<span>.<key>`` is the median of ``key`` over
    the run's records of ``span``: ``scan.point.plan_ms`` ->
    ``("scan.point", "plan_ms")``."""
    span, key = name.rsplit(".", 1)
    return span, key


def attribute_spark(run, work: Path, cores: int) -> None:
    """Add driver time to every span record that has Spark counters in the
    spec, and the counters themselves as a ``<span>.spark`` record."""
    import eventlog

    logs = [p for p in (work / "eventlog").iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {len(logs)}")
    jobs, tasks = eventlog.read(str(logs[0]))
    traced = {span_and_key(m["name"])[0] for m in SPEC["per_layer"]}
    recs = [r for r in run.spans if r["name"] + ".spark" in traced]
    for rec, att in zip(recs, eventlog.attribute(
            [(r["start"], r["end"]) for r in recs], jobs, tasks, cores)):
        rec["driver_s"] = att["driver_s"]
        rec["driver_ms"] = att["driver_s"] * 1000.0
        run.spans.append({"name": rec["name"] + ".spark", "jobs_s": att["jobs_s"],
                          **{c: att[c] for c in eventlog.COUNTERS}})


def layer_metrics(run) -> dict:
    by_span: dict = {}
    for rec in run.spans:
        by_span.setdefault(rec["name"], []).append(rec)
    out = {}
    for m in SPEC["per_layer"]:
        span, key = span_and_key(m["name"])
        # a layer the workload does not call reports 0
        value = median([float(r[key]) for r in by_span.get(span, []) if key in r])
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"{ENGINE} not found next to perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # every scratch file of the run (package zip, shuffle, JVM temp) stays
    # inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    try:
        return _run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()


def _run(args, work: Path, cores: int) -> int:
    import seeding

    health = hosthealth.record(cores)
    t0 = time.time()
    import aws_medallion_datalake_spark as engine

    if not Path(engine.__file__).resolve().is_relative_to(ROOT):
        print(f"{ENGINE} imported from outside the checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run

    spark = start_session(work, cores, bool(args.trace))
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    try:
        run = Run(spark, str(work), seeding.make_inputs(args.seed), cores,
                  args.seconds, bool(args.trace), t0)
        build, report = WORKLOADS[args.workload]
        run.log("session started")
        step, finish = build(run)
        run.log("fixture built")
        run.guarded(step, 0)  # warm-up pass, fully checked
        run.guarded(finish)
        run.log("warm-up done")
        setup_s = time.time() - t0
        run.spans.clear()
        run.samples.clear()
        ticks = hosthealth.cpu_ticks()
        iterations = run.measure(step, finish)
        steal = hosthealth.steal_share(ticks, hosthealth.cpu_ticks())
        run.log(f"measured {iterations} iterations")
        rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        stop_session(spark)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in report(run).items()}
    if args.trace:
        attribute_spark(run, work, cores)
    points = run.samples.get("point_ms", [])
    tail = supported_tail(len(points))
    if tail is not None:
        metrics[f"point_p{tail:g}_ms"] = {"value": percentile(points, tail), "unit": "ms"}
    metrics.update(
        setup_s={"value": setup_s, "unit": "s"},
        peak_rss_mb={"value": rss_mb, "unit": "MB"},
        failed_op_frac={"value": run.failed / max(run.attempted, 1), "unit": "ratio"},
    )
    print(json.dumps({
        "report": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "iterations": iterations,
        "samples": {k: len(v) for k, v in run.samples.items()},
        "sizes": run.sizes, "metrics": metrics,
        "sample_values": {k: [round(x, 4) for x in v] for k, v in run.samples.items()},
        "failures": run.failures[:10],
        "host_health": dict(health, steal_share=round(steal, 4)),
    }))
    if args.trace:
        # the traced run's own op_p50_ms: its ratio to an untraced run's is
        # the tracing overhead
        run.spans.append({"name": "trace", "op_p50_ms": metrics["op_p50_ms"]["value"]})
        result = layer_metrics(run)
    else:
        result = {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                  for m in SPEC["end_to_end"]}
    correct = run.failed == 0 and run.attempted > 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": result}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
