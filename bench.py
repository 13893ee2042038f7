#!/usr/bin/env python
"""Headline benchmark for the PySpark lakehouse engine.

Runs (a) the headline relational/training-data queries from
``__spark_entry__`` at ``$SPARK_GRAFT_SF_DIR`` and (b) the
compaction + cluster + MERGE maintenance benchmark over the synthetic
image+caption table (the BASELINE.json north-star workload), on
``local[$SPARK_GRAFT_CPUS]``.

Prints ONE JSON line:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...per-stage sec...}, "sf": <sf>,
     "scan_gbps": ..., "merge_rows_per_sec": ..., "cpus": N}

Env knobs:
    SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default 32)
    SPARK_GRAFT_IMG_ROWS maintenance-table rows (default 24000)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "segment_revenue",
    "monthly_growth",
    "ship_window",
    "quality_profile",
    "dedup_exact",
    "token_stats",
    "simhash",
    "minhash_signature",
    "minhash_candidate_pairs",
    "ngram_jaccard_pairs",
    "contamination_check",
    "pii_scrub",
    "url_blocklist",
    "bm25_rank",
    "dataset_shards",
    "embedding_topk",
    "embedding_neardup_pairs",
    "semdedup",
    "asof_join",
    "range_join",
    "label_centroid_sim",
    "gold_star_rollup",
    "gold_fact_dim_join",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    img_rows = int(os.environ.get("SPARK_GRAFT_IMG_ROWS", "24000"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from aws_medallion_datalake_spark.operators.cluster import cluster
    from aws_medallion_datalake_spark.operators.compact import compact
    from aws_medallion_datalake_spark.operators.delete import (
        apply_deletes,
        delete_where,
    )
    from aws_medallion_datalake_spark.operators.expire import expire_snapshots
    from aws_medallion_datalake_spark.operators.merge import merge_into
    from aws_medallion_datalake_spark.pipeline.medallion import bronze_ingest
    from aws_medallion_datalake_spark.session import get_session
    from aws_medallion_datalake_spark.sources.generator import generate_updates
    from tools import benchkit

    # bounded wait for a healthy window (SPARK_GRAFT_HEALTH_WAIT_SEC=0
    # disables): a run started while the host is degraded measures the
    # host, not the engine
    wait_s = float(os.environ.get("SPARK_GRAFT_HEALTH_WAIT_SEC", "600"))
    probe_pre = int(benchkit.wait_healthy(wait_s) * 1000)
    cpu_probe_pre = benchkit.cpu_probe_s(cpus)
    spark = get_session(f"local[{cpus}]", shuffle_partitions=max(8, cpus))
    spark.sparkContext.setLogLevel("ERROR")
    times: dict[str, float] = {}

    # warm the JVM + python workers once so timings measure the queries
    spark.range(1000).select(F.sum("id")).collect()

    if os.environ.get("SPARK_GRAFT_MAINT_ONLY", "") != "1":
        qs = entry.queries()
        for name in HEADLINE:
            t0 = time.time()
            qs[name](spark, sf_dir).collect()
            times[name] = round(time.time() - t0, 3)

    # ---- maintenance benchmark (north-star workload) ----
    root = tempfile.mkdtemp(prefix="bench_maint_")
    try:
        t0 = time.time()
        t = bronze_ingest(
            spark,
            os.path.join(root, "t"),
            img_rows,
            n_files=max(128, cpus * 8),
            n_dates=4,
        )
        times["maint_ingest"] = round(time.time() - t0, 3)
        total_bytes = int(t.manifest_pdf()["file_size_bytes"].sum())

        t0 = time.time()
        compact(t, spark, target_file_size_bytes=8 << 20, parallelism=cpus)
        times["maint_compact"] = round(time.time() - t0, 3)

        t0 = time.time()
        cluster(t, spark, curve="morton", target_file_size_bytes=8 << 20)
        times["maint_cluster"] = round(time.time() - t0, 3)

        n_upd, n_ins = img_rows // 10, img_rows // 20
        src = generate_updates(
            spark, img_rows, n_upd, n_ins, n_files=max(16, cpus)
        ).cache()
        n_src = src.count()  # materialize outside the merge timing
        t0 = time.time()
        merge_into(t, spark, src, key="image_id", target_file_size_bytes=8 << 20)
        merge_sec = time.time() - t0
        times["maint_merge"] = round(merge_sec, 3)

        # sparse delete story: merge-on-read suppresses a narrow range in
        # O(deleted rows) with zero file churn, apply_deletes materializes
        # it, then the (broader) copy-on-write delete runs — MoR should be
        # several times cheaper than either rewrite-based stage
        t0 = time.time()
        lo_del = int(t.manifest_pdf()["min_phash"].min())
        delete_where(
            t,
            spark,
            [("phash", "between", (lo_del, lo_del + (1 << 55)))],
            mode="merge-on-read",
        )
        times["maint_mor_delete"] = round(time.time() - t0, 3)

        t0 = time.time()
        apply_deletes(t, spark, target_file_size_bytes=8 << 20)
        times["maint_apply_deletes"] = round(time.time() - t0, 3)

        t0 = time.time()
        delete_where(
            t,
            spark,
            [("phash", "between", (lo_del, lo_del + (1 << 57)))],
            target_file_size_bytes=8 << 20,
        )
        times["maint_delete"] = round(time.time() - t0, 3)

        # daily-refresh shape: dynamically overwrite ONE ingest_date with
        # fresh rows — homogeneous files drop wholesale, other partitions
        # untouched (the reference's day-partition rewrite, atomically)
        t0 = time.time()
        from aws_medallion_datalake_spark.operators.overwrite import (
            overwrite_partitions,
        )
        from aws_medallion_datalake_spark.sources.generator import (
            generate_images,
        )

        day = generate_images(
            spark, max(200, img_rows // 20), n_files=4, start=10_000_000
        ).withColumn("ingest_date", F.lit("2024-01-02"))
        overwrite_partitions(t, spark, day)
        times["maint_dyn_overwrite"] = round(time.time() - t0, 3)

        t0 = time.time()
        expire_snapshots(t, keep_last=2)
        times["maint_expire"] = round(time.time() - t0, 3)

        t0 = time.time()
        scanned = t.scan(spark).agg(
            F.count("*").alias("n"), F.sum(F.length("bytes")).alias("b")
        ).first()
        scan_sec = time.time() - t0
        times["maint_scan"] = round(scan_sec, 3)

        t0 = time.time()
        lo = t.manifest_pdf()["min_phash"].min()
        t.scan(spark, predicates=[("phash", "between", (lo, lo + (1 << 58)))]).agg(
            F.count("*")
        ).first()
        times["maint_scan_pruned"] = round(time.time() - t0, 3)

        # point lookup on the NON-sort key: manifest min/max can't prune
        # (post-cluster every file spans the id range) — the parquet
        # footer blooms written by every data path do the skipping
        t0 = time.time()
        t.scan(
            spark, predicates=[("image_id", "=", "img-000000000007")]
        ).agg(F.count("*")).first()
        times["maint_scan_point"] = round(time.time() - t0, 3)

        # metadata-only COUNT(*): zero data IO, no Spark job — the
        # O(manifest) path a health check should take at 10^12 rows
        # (compare with maint_scan, the full-scan aggregate above)
        from aws_medallion_datalake_spark.operators import fast_count

        t0 = time.time()
        n_meta = fast_count(t, spark=None)
        times["maint_count_meta"] = round(time.time() - t0, 3)
        assert n_meta == scanned["n"], (n_meta, scanned["n"])

        # materialized-view stages LAST so every stage above keeps its
        # round-over-round comparability (the MV delta-append would
        # otherwise change the compact/cluster/merge/scan inputs):
        # create = full compute of the gold aggregate; incr = fold ONE
        # small append through the same query (O(delta) — compare the
        # two times to see the incremental win)
        from aws_medallion_datalake_spark.operators.matview import (
            create_matview,
            refresh_matview,
        )

        t0 = time.time()
        mv = create_matview(
            spark,
            "bench_mv",
            "SELECT fmt, count(*) AS n, sum(w) AS total_w, "
            "max(phash) AS max_ph FROM imgs GROUP BY fmt",
            os.path.join(root, "mv"),
            {"imgs": t},
        )
        times["maint_mv_create"] = round(time.time() - t0, 3)
        t.append(
            generate_images(
                spark, max(200, img_rows // 20), n_files=2, start=20_000_000
            )
        )
        t0 = time.time()
        snap_mv = refresh_matview(spark, mv, {"imgs": t})
        times["maint_mv_incr"] = round(time.time() - t0, 3)
        assert snap_mv is not None and snap_mv.summary["refresh"] == "incremental"

        scan_gbps = (scanned["b"] / 1e9) / scan_sec if scan_sec > 0 else 0.0
        merge_rows_per_sec = n_src / merge_sec if merge_sec > 0 else 0.0
    finally:
        shutil.rmtree(root, ignore_errors=True)

    maint_total = sum(v for k, v in times.items() if k.startswith("maint_"))
    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline queries + compaction/cluster/merge maintenance bench",
                "value": total,
                "unit": "sec",
                # `value` sums EVERY stage below — it grows when stages
                # are ADDED round-over-round; compare per-stage times,
                # not the total (r1 ran 19 stages, r2 runs 33+)
                "n_stages": len(times),
                "queries": times,
                "sf": sf,
                "cpus": cpus,
                "img_rows": img_rows,
                "maintenance_sec": round(maint_total, 3),
                "table_bytes": total_bytes,
                "scan_gbps": round(scan_gbps, 3),
                "merge_rows_per_sec": round(merge_rows_per_sec, 1),
                # host health around the run (tools/benchkit.py gate);
                # a failed CPU probe is null
                "alloc_probe_ms_pre": probe_pre,
                "alloc_probe_ms_post": int(benchkit.alloc_probe_s() * 1000),
                "cpu_probe_s_pre": cpu_probe_pre,
                "cpu_probe_s_post": benchkit.cpu_probe_s(cpus),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
