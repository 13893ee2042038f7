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

Scale split, same rule as the scan planner: the health metrics are one
per-partition function over the manifest, run on the driver below
``SPARK_MANIFEST_THRESHOLD`` manifest rows and per partition group on
executors (``tableformat.map_groups``) above it. The clustering metric
is ``clustering_quality``'s exact overlap count (``cluster.overlap_pairs``,
O(n log n) per partition), the same number at every manifest size.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import SparkSession

from ..sources.tableformat import SPARK_MANIFEST_THRESHOLD, Table, map_groups
from .cluster import overlap_pairs

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
        "cluster_metric": None,  # clustering_quality on cluster_col
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
    col = out["cluster_col"]
    if n_entries > SPARK_MANIFEST_THRESHOLD and spark is not None:
        man = table.manifest_df(spark)
    else:
        man = table.manifest_pdf()
    ranged = col is not None and f"min_{col}" in man.columns

    def partition_health(part):
        sizes = part["file_size_bytes"]
        overlaps, pairs = overlap_pairs(part, col) if ranged else (0, 0)
        row = [int(sizes.sum()), int((sizes < small).sum()), overlaps, pairs]
        return pd.DataFrame([row], columns=["bytes", "n_small", "overlaps", "pairs"])

    h = map_groups(
        man,
        partition_health,
        "bytes bigint, n_small bigint, overlaps bigint, pairs bigint",
        "partition_json",
        ["file_size_bytes"] + ([f"min_{col}", f"max_{col}"] if ranged else []),
    ).sum()
    out["total_bytes"] = int(h["bytes"])
    out["small_file_count"] = int(h["n_small"])
    if ranged:
        pairs = int(h["pairs"])
        out["cluster_metric"] = int(h["overlaps"]) / pairs if pairs else 0.0
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
            f"overlap {h['cluster_metric']:.2f} on "
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
