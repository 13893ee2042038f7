"""Run compact → cluster → MERGE at one parallelism level on a copy of a
pre-built table. Used by tools/scaling_bench.py so every level times the
IDENTICAL north-star maintenance stages on identical input (table build
and merge-source generation excluded from the measurement).

Usage: python tools/maint_runner.py <cpus> <table_src_dir> <source_parquet>
Prints one JSON line of stage timings.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(sys.argv[1])
    table_src = sys.argv[2]
    source_parquet = sys.argv[3]

    from pyspark.sql import functions as F

    from aws_medallion_datalake_spark.operators.cluster import cluster
    from aws_medallion_datalake_spark.operators.compact import compact
    from aws_medallion_datalake_spark.operators.merge import merge_into
    from aws_medallion_datalake_spark.session import get_session
    from aws_medallion_datalake_spark.sources.tableformat import Table
    from benchkit import alloc_probe_s, cpu_probe_s, jvm_cpu_probe_s

    # Optional: put shuffle + scratch on tmpfs. On a real cluster, 4N
    # executors bring 4N local disks; this box has ONE shared disk, so
    # disk-backed shuffle adds a fixed serial term that is an artifact of
    # the sandbox, not the engine. SPARK_GRAFT_LOCAL_DIR=/dev/shm/...
    # emulates per-executor-scaling IO.
    extra = {
        # the bench table's files are ~8 MB (target_file_size below); the
        # default 128 MB read split would bin them into total/128MB scan
        # tasks, capping scan/verify parallelism at ~12 regardless of
        # core count. One split ≈ one file matches what a production
        # 128 MB-file table gets from the default conf.
        "spark.sql.files.maxPartitionBytes": str(16 << 20),
    }
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        extra["spark.local.dir"] = local_dir
    spark = get_session(
        f"local[{cpus}]", shuffle_partitions=max(8, cpus), extra_conf=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10**6).select(F.sum("id")).collect()  # JVM warmup
    # Fault in executor heap + spawn/warm the Arrow python workers OUTSIDE
    # the timed stages: production executors are long-lived (their heap
    # high-water mark is already resident), while each bench rep starts a
    # fresh JVM whose first GB of page faults would otherwise be charged
    # to whichever stage touches it first — and this host's fault
    # servicing is intermittently ~1 ms/page (see benchkit.alloc_probe_s).
    try:
        spark.range(0, cpus * 24, 1, cpus * 4).select(
            F.sum(F.length(F.repeat(F.lit("warmxxxx"), 4 << 20)))
        ).collect()
        import pandas as _pd

        @F.pandas_udf("long")
        def _touch(v: _pd.Series) -> _pd.Series:
            import numpy as _np

            buf = _np.empty(64 << 20, dtype=_np.uint8)
            buf[::4096] = 1  # fault 64 MB of worker memory per batch
            return v

        spark.range(0, cpus * 4, 1, cpus).select(
            F.sum(_touch(F.col("id")))
        ).collect()
    except Exception as e:  # noqa: BLE001 — warmup is best-effort
        sys.stderr.write(f"warmup skipped: {e}\n")

    def io_baseline(table_root: str) -> float:
        # null-ENGINE parquet rewrite ceiling: read ~1.4 GB of the copied
        # table's own files and write them straight back (no shuffle, no
        # engine code). The best possible scaling of any parquet rewrite
        # stage on this box — compact/cluster/merge rewrites are measured
        # against THIS ceiling, the way cpu_baseline bounds compute-only
        # stages. Fitting interleaved probes shows ~1.4 s of fixed
        # per-job cost with near-perfect compute scaling above it, so
        # this also quantifies the fixed term the stage ratios carry.
        import glob

        files = sorted(
            glob.glob(os.path.join(table_root, "data", "*", "*.parquet"))
        )[:1000]
        if not files:
            return 0.0
        out = os.path.join(root, "io_probe_out")
        t0 = time.time()
        spark.read.parquet(*files).write.mode("overwrite").parquet(out)
        sec = round(time.time() - t0, 3)
        shutil.rmtree(out, ignore_errors=True)
        return sec

    root = tempfile.mkdtemp(
        prefix=f"scale{cpus}_",
        dir=os.path.dirname(local_dir) if local_dir else None,
    )
    times = {}
    try:
        if os.environ.get("SPARK_GRAFT_INPLACE"):
            # Large-table notch mode: operate on the built table
            # DIRECTLY (caller rebuilds it between reps — maintenance
            # mutates it). Skips the pristine-copy, whose extra 1x table
            # footprint at the 45 GB notch would overflow tmpfs (= RAM
            # on this box). Stage semantics and timings are identical;
            # only rep isolation moves from copy to rebuild.
            t = Table.load(table_src)
        else:
            shutil.copytree(table_src, os.path.join(root, "t"))
            t = Table.load(os.path.join(root, "t"))
        baseline_pre = jvm_cpu_probe_s(spark, cpus)  # BEFORE the stages
        fresh_pre = cpu_probe_s(cpus)
        alloc_pre = alloc_probe_s()
        io_pre = io_baseline(t.root)
        n_rows = int(t.manifest_pdf()["record_count"].sum())
        src = spark.read.parquet(source_parquet)
        n_src = src.count()  # materialize reader metadata outside timings

        phases = {}

        # Optional between-stage snapshot expiry + GC (UNTIMED): each
        # rewrite stage retains the previous snapshot's files until
        # expiry, so a large bench table would otherwise accumulate ~4x
        # its size inside one rep (tmpfs = RAM on this box). Production
        # maintenance runs expiry in the same nightly window; doing it
        # between the timed stages changes no stage's input or plan
        # (stages read only the current snapshot).
        def _gc():
            if os.environ.get("SPARK_GRAFT_BENCH_GC"):
                from aws_medallion_datalake_spark.operators.expire import (
                    expire_snapshots,
                )

                expire_snapshots(t, keep_last=1)

        t0 = time.time()
        s = compact(t, spark, target_file_size_bytes=8 << 20, parallelism=cpus)
        times["compact"] = round(time.time() - t0, 3)
        phases["compact"] = (s.summary if s else {}).get("phase_sec", {})
        _gc()

        t0 = time.time()
        s = cluster(t, spark, curve="morton", target_file_size_bytes=8 << 20)
        times["cluster"] = round(time.time() - t0, 3)
        phases["cluster"] = s.summary.get("phase_sec", {})
        _gc()

        t0 = time.time()
        s = merge_into(t, spark, src, key="image_id", target_file_size_bytes=8 << 20)
        merge_sec = time.time() - t0
        times["merge"] = round(merge_sec, 3)
        phases["merge"] = s.summary.get("phase_sec", {})
        _gc()

        t0 = time.time()
        scanned = t.scan(spark).agg(F.sum(F.length("bytes")).alias("b")).first()
        scan_sec = time.time() - t0
        times["scan"] = round(scan_sec, 3)

        # per-row pixel verification (north_star acceptance: decode every
        # stored image, recompute its hash, compare to the phash column)
        from aws_medallion_datalake_spark.functions.udfs import phash64_udf

        t0 = time.time()
        bad = (
            t.scan(spark)
            .select((phash64_udf(F.col("bytes")) == F.col("phash")).alias("ok"))
            .filter(~F.col("ok"))
            .count()
        )
        times["verify"] = round(time.time() - t0, 3)
        if bad:
            # Diagnose before failing: dump the offending rows, then
            # re-verify the SAME ids in a second pass. Second pass clean
            # => transient read/decode flake (Arrow batch / worker), not
            # corrupt stored data; second pass dirty => the maintenance
            # run committed an inconsistent (bytes, phash) row.
            diag = (
                t.scan(spark)
                .withColumn("rehash", phash64_udf(F.col("bytes")))
                .filter(F.col("rehash") != F.col("phash"))
                .select(
                    "image_id", "fmt", "w", "h",
                    F.length("bytes").alias("nbytes"),
                    "phash", "rehash",
                )
                .collect()
            )
            ids = [r["image_id"] for r in diag]
            recheck = (
                t.scan(spark)
                .filter(F.col("image_id").isin(ids))
                .withColumn("rehash", phash64_udf(F.col("bytes")))
                .select("image_id", (F.col("rehash") == F.col("phash")).alias("ok"))
                .collect()
            )
            sys.stderr.write(
                "VERIFY-DIAG bad_rows="
                + json.dumps([r.asDict() for r in diag], default=str)
                + " second_pass="
                + json.dumps([r.asDict() for r in recheck])
                + "\n"
            )
        assert bad == 0, f"{bad} rows failed decode-hash verification"

        # box ceiling: probed BEFORE and AFTER the stages; the ratio uses
        # the min (least-contended estimate of the ceiling), the benchkit
        # gate the max (a rep is clean only if the box was quiet around
        # the whole measurement window)
        baseline_post = jvm_cpu_probe_s(spark, cpus)
        times["cpu_baseline"] = min(baseline_pre, baseline_post)
        times["cpu_gate"] = max(baseline_pre, baseline_post)
        # the fresh-subprocess pair sees only external load: at multi-GB
        # sizes the in-JVM post-probe also measures the worked JVM's
        # heap/page-cache aftermath. A failed probe leaves the pair null.
        fresh = [fresh_pre, cpu_probe_s(cpus)]
        ok = None not in fresh
        times["cpu_fresh"] = min(fresh) if ok else None
        times["cpu_fresh_gate"] = max(fresh) if ok else None
        times["io_baseline"] = io_pre
        times["alloc_gate"] = round(max(alloc_pre, alloc_probe_s()), 3)

        total = times["compact"] + times["cluster"] + times["merge"] + times["verify"]
        print(
            json.dumps(
                {
                    "cpus": cpus,
                    # between-stage GC config: reps with and without it
                    # must be distinguishable when logs are merged
                    "gc": bool(os.environ.get("SPARK_GRAFT_BENCH_GC")),
                    "times": times,
                    "phases": phases,
                    "maint_sec": round(total, 3),
                    "rows": n_rows,
                    "rows_per_sec": round(n_rows / total, 1),
                    "scan_gbps": round(scanned["b"] / 1e9 / scan_sec, 3),
                    "merge_rows_per_sec": round(n_src / merge_sec, 1),
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
