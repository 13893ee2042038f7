"""Time one ``merge_into`` at a given source key count, for choosing the
largest source whose key set merge keeps on the driver
(``operators/merge.py`` ``_HELD_KEYS``).

The target is a 4·S-row, 32-file table of ``(k bigint, v string, p
string)`` sorted on ``k`` with ``k`` stats. The source is S keys: 0.9·S
updates over the first 45% of the table (every other key) plus 0.1·S
inserts, read from ten parquet files like a CDC batch. One warm-up
merge of the same batch runs first in the same session, so both sides
of a comparison are measured on a JIT-warm code path. The measured
merge reports wall time and CPU (driver Python process plus the Spark JVM,
which in ``local[4]`` holds the executors), and checks the row counts
and ``rows_updated``.

Run it from the root of the checkout to measure; compare two checkouts
by alternating them, one process per run:

    python tools/merge_key_scale.py 10000 --out /tmp/mks.jsonl --tag a

Each run appends one JSON line to ``--out``. The base table for each
size is built once under ``--work`` and cloned per run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("keys", type=int, help="source key count S")
    ap.add_argument("--out", required=True, help="JSONL file to append to")
    ap.add_argument("--tag", default="", help="label stored in the line")
    ap.add_argument("--work", default=os.path.join(REPO, ".bench_work", "mks"))
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    from pyspark.sql import functions as F

    from aws_medallion_datalake_spark.operators.merge import merge_into
    from aws_medallion_datalake_spark.session import get_session
    from aws_medallion_datalake_spark.sources.tableformat import Table

    work = args.work
    os.makedirs(work, exist_ok=True)
    spark = get_session("local[4]", shuffle_partitions=8, extra_conf={
        "spark.ui.enabled": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
    })
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tick = os.sysconf("SC_CLK_TCK")

    def jvm_cpu() -> float:
        with open(f"/proc/{jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / tick

    def base(n: int) -> Table:
        root = os.path.join(work, f"base_{n}")
        if not os.path.exists(os.path.join(root, ".done")):
            shutil.rmtree(root, ignore_errors=True)
            t = Table.create(root, "k bigint, v string, p string",
                             partition_cols=["p"], stats_cols=["k"])
            df = (spark.range(0, n, 1, 8)
                  .select(F.col("id").alias("k"),
                          F.concat(F.lit("old-"), F.col("id").cast("string"))
                          .alias("v"),
                          F.floor(F.col("id") * 4 / n).cast("string").alias("p"))
                  .repartitionByRange(32, "k"))
            t.commit("append", t.write_files(df))
            open(os.path.join(root, ".done"), "w").close()
        return Table(root)

    def source(s: int):
        path = os.path.join(work, f"src_{s}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            upd = spark.range(0, int(1.8 * s), 2, 8)
            ins = spark.range(4 * s, 4 * s + s // 10, 1, 2)
            upd.union(ins).select(
                F.col("id").alias("k"),
                F.concat(F.lit("new-"), F.col("id").cast("string")).alias("v"),
                F.least(F.floor(F.col("id") / s), F.lit(3)).cast("string")
                .alias("p"),
            ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def one(s: int) -> dict:
        root = os.path.join(work, f"run_{os.getpid()}")
        t = base(4 * s).clone(root)
        try:
            c0, j0, w0 = time.process_time(), jvm_cpu(), time.perf_counter()
            snap = merge_into(t, spark, source(s), key="k",
                              target_file_size_bytes=8 << 20)
            wall = time.perf_counter() - w0
            cpu = time.process_time() - c0 + jvm_cpu() - j0
            sm = snap.summary
            n = t.scan(spark).count()
            n_new = t.scan(spark).filter(F.col("v").startswith("new-")).count()
            ok = (n == 4 * s + s // 10 and n_new == int(0.9 * s) + s // 10
                  and int(sm["rows_updated"]) == int(0.9 * s))
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return {"wall_s": round(wall, 3), "cpu_s": round(cpu, 3), "ok": ok,
                "phase_sec": sm.get("phase_sec")}

    one(args.keys)  # warm-up: the measured merge's own code path
    rec = dict(one(args.keys), keys=args.keys, tag=args.tag)
    with open(args.out, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec))
    spark.stop()
    return rec


if __name__ == "__main__":
    main()
