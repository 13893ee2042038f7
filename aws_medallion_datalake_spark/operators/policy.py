"""Maintenance policy: decide WHAT a table needs from its own metadata.

The reference pipeline runs every stage on a fixed cron whether or not
the table needs it (EventBridge cron → Step Functions → all three Glue
jobs, /root/reference/terraform/main.tf:47-63). At 10^12 rows that is
exactly backwards: a full cluster pass over a table that is already
99% sorted costs a full-table rewrite for nothing. This module reads
NOTHING but table metadata (manifest stats, snapshot list, pending
delete sets — planner-sized inputs, never data files) and emits an
ordered stage plan with reasons, the contract Databricks auto-optimize
/ Iceberg's maintenance recommendations implement.

Scale split, same rule as the scan planner: below
``SPARK_MANIFEST_THRESHOLD`` manifest rows the health metrics are pandas
on the driver; above it they run as one Spark aggregation over the
manifest parquet. The exact pairwise-overlap clustering metric
(``clustering_quality``) is O(files²) per partition, so the big-manifest
path substitutes the O(files) normalized-range-width proxy — average
fraction of the partition's key range one file spans; 1/n_files when
ranges are disjoint, →1 when every file spans everything — and the
health dict says which metric it reports.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.tableformat import SPARK_MANIFEST_THRESHOLD, Table

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024


def table_health(
    table: Table,
    spark: Optional[SparkSession] = None,
    *,
    target_file_size_bytes: int = DEFAULT_TARGET_FILE_SIZE,
) -> dict:
    """Planner-sized health snapshot of a table (see module doc); the
    clustering metric is on ``cluster_col``, the write order's lead column."""
    meta = table.metadata()
    order = table.write_order()
    out: dict = {
        "n_snapshots": len(meta.snapshots),
        "n_manifests": 0,
        "n_files": 0,
        "total_bytes": 0,
        "avg_file_bytes": 0,
        "small_file_count": 0,
        "small_file_ratio": 0.0,
        "cluster_metric": None,  # overlap (exact) or range_width (proxy)
        "cluster_metric_kind": "none",
        "cluster_col": order.cols[0] if order else None,
        "pending_pos_delete_files": 0,
        "pending_eq_delete_files": 0,
        # ANALYZE freshness (operators/analyze.py): None = never analyzed
        "stats_snapshot_id": None,
        "stats_stale": None,
        "stats_lag_commits": None,
    }
    cs = table.column_stats()
    if cs is not None:
        out["stats_snapshot_id"] = cs["snapshot_id"]
        out["stats_stale"] = cs["stale"]
        sids = [s.snapshot_id for s in meta.snapshots]
        try:
            out["stats_lag_commits"] = len(sids) - 1 - sids.index(
                cs["snapshot_id"]
            )
        except ValueError:  # stats snapshot expired from history
            out["stats_lag_commits"] = len(sids)
    if meta.current_snapshot_id is None:
        return out
    s = table.snapshot()
    out["n_manifests"] = len(s.manifest_paths)
    out["pending_pos_delete_files"] = len(table.pending_delete_paths())
    out["pending_eq_delete_files"] = len(table.pending_eq_deletes())
    n_entries = table.manifest_rows()
    out["n_files"] = n_entries
    if n_entries == 0:
        return out
    small = target_file_size_bytes // 2
    cluster_col = out["cluster_col"]
    has_stats = f"min_{cluster_col}" if cluster_col else None
    if n_entries > SPARK_MANIFEST_THRESHOLD and spark is not None:
        man = table.manifest_df(spark)
        aggs = [
            F.sum("file_size_bytes").alias("bytes"),
            F.sum((F.col("file_size_bytes") < small).cast("long")).alias("n_small"),
        ]
        width = None
        if has_stats in man.columns:
            # O(files) proxy: per-partition normalized range width
            # double arithmetic: a key spanning the full int64 range (the
            # 64-bit phash does) overflows long subtraction under ANSI
            lo_d = F.col(f"min_{cluster_col}").cast("double")
            hi_d = F.col(f"max_{cluster_col}").cast("double")
            w = man.groupBy("partition_json").agg(
                F.min(lo_d).alias("lo"),
                F.max(hi_d).alias("hi"),
                F.avg(hi_d - lo_d).alias("avg_span"),
            )
            width = w.agg(
                F.avg(
                    F.when(
                        F.col("hi") > F.col("lo"),
                        F.col("avg_span") / (F.col("hi") - F.col("lo")),
                    )
                ).alias("w")
            ).first()["w"]
        r = man.agg(*aggs).first()
        out["total_bytes"] = int(r["bytes"] or 0)
        out["small_file_count"] = int(r["n_small"] or 0)
        if width is not None:
            out["cluster_metric"] = float(width)
            out["cluster_metric_kind"] = "range_width"
    else:
        from .cluster import clustering_quality

        man = table.manifest_pdf()
        out["total_bytes"] = int(man["file_size_bytes"].sum())
        out["small_file_count"] = int((man["file_size_bytes"] < small).sum())
        if has_stats in man.columns:
            out["cluster_metric"] = float(clustering_quality(table, cluster_col))
            out["cluster_metric_kind"] = "overlap"
    out["avg_file_bytes"] = out["total_bytes"] // max(1, out["n_files"])
    out["small_file_ratio"] = out["small_file_count"] / out["n_files"]
    return out


def plan_maintenance(
    table: Table,
    spark: Optional[SparkSession] = None,
    *,
    target_file_size_bytes: int = DEFAULT_TARGET_FILE_SIZE,
    small_file_ratio_threshold: float = 0.3,
    cluster_metric_threshold: float = 0.4,
    manifest_count_threshold: int = 8,
    keep_last: int = 2,
    min_pending_delete_files: int = 4,
    stats_lag_threshold: int = 4,
) -> list:
    """Ordered [(stage, reason)] plan from :func:`table_health`.

    Order mirrors run_maintenance's invariants: pending merge-on-read
    deletes materialize FIRST (compact/cluster refuse over a pending
    set), physical data rewrites next (compact before cluster so the
    cluster pass reads fewer, bigger files), metadata maintenance last.
    A healthy table yields an empty plan — the fixed-cron anti-pattern
    this module replaces.
    """
    h = table_health(table, spark, target_file_size_bytes=target_file_size_bytes)
    plan: list = []
    n_pending = h["pending_pos_delete_files"] + h["pending_eq_delete_files"]
    wants_rewrite = (
        h["small_file_ratio"] > small_file_ratio_threshold
        or (
            h["cluster_metric"] is not None
            and h["cluster_metric"] > cluster_metric_threshold
        )
    )
    if n_pending and (n_pending >= min_pending_delete_files or wants_rewrite):
        plan.append((
            "apply_deletes",
            f"{n_pending} pending merge-on-read delete file(s)"
            + (" block rewrites" if wants_rewrite else ""),
        ))
    if h["small_file_ratio"] > small_file_ratio_threshold:
        plan.append((
            "compact",
            f"{h['small_file_count']}/{h['n_files']} files under "
            f"{target_file_size_bytes // 2} bytes "
            f"(ratio {h['small_file_ratio']:.2f} > {small_file_ratio_threshold})",
        ))
    if (
        h["cluster_metric"] is not None
        and h["cluster_metric"] > cluster_metric_threshold
    ):
        plan.append((
            "cluster",
            f"{h['cluster_metric_kind']} {h['cluster_metric']:.2f} on "
            f"{h['cluster_col']} > {cluster_metric_threshold}",
        ))
    if h["n_manifests"] > manifest_count_threshold:
        plan.append((
            "rewrite_manifests",
            f"{h['n_manifests']} delta manifests > {manifest_count_threshold}",
        ))
    if h["n_snapshots"] > keep_last:
        plan.append((
            "expire",
            f"{h['n_snapshots']} snapshots > keep_last={keep_last}",
        ))
    # ANALYZE cadence: tables opt in with their first analyze_table run
    # (a never-analyzed healthy table still plans empty); after that,
    # stats lagging >= stats_lag_threshold commits schedule a refresh —
    # the Databricks predictive-optimization ANALYZE cadence.
    if (
        h["stats_snapshot_id"] is not None
        and h["stats_stale"]
        and h.get("stats_lag_commits", 0) >= stats_lag_threshold
    ):
        plan.append((
            "analyze",
            f"column stats lag {h['stats_lag_commits']} commits "
            f">= {stats_lag_threshold}",
        ))
    return plan
