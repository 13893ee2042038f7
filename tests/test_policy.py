"""Metadata-driven maintenance policy (operators/policy.py): health
metrics from the manifest only, plan ordering invariants, auto mode in
run_maintenance, and the same metrics run per partition group on
executors above the manifest threshold."""

import pytest

from aws_medallion_datalake_spark.operators import policy
from aws_medallion_datalake_spark.operators.cluster import cluster, clustering_quality
from aws_medallion_datalake_spark.operators.compact import compact
from aws_medallion_datalake_spark.operators.delete import delete_where
from aws_medallion_datalake_spark.operators.run import run_maintenance
from aws_medallion_datalake_spark.pipeline.medallion import bronze_ingest

TARGET = 1 << 20  # 1 MiB — the test files are tiny


@pytest.fixture()
def fragmented(tmp_path, spark):
    return bronze_ingest(spark, str(tmp_path / "t"), 400, n_files=16, n_dates=2)


def test_health_counts_fragmentation(spark, fragmented):
    h = policy.table_health(fragmented, target_file_size_bytes=TARGET)
    assert h["n_files"] == 16
    assert h["small_file_ratio"] > 0.5  # most files below 512 KiB
    assert h["cluster_metric"] == clustering_quality(fragmented, h["cluster_col"])
    assert h["total_bytes"] > 0


def test_plan_orders_rewrites_and_heals(spark, fragmented):
    plan = policy.plan_maintenance(fragmented, target_file_size_bytes=TARGET)
    stages = [s for s, _ in plan]
    assert "compact" in stages
    reasons = dict(plan)
    assert "ratio" in reasons["compact"]
    # heal it: compact + cluster, then the plan stops demanding rewrites
    compact(fragmented, spark, target_file_size_bytes=TARGET)
    cluster(fragmented, spark, curve="morton", target_file_size_bytes=TARGET)
    plan2 = policy.plan_maintenance(
        fragmented, target_file_size_bytes=TARGET, keep_last=10
    )
    assert [s for s, _ in plan2 if s in ("compact", "cluster")] == []


def test_pending_mor_deletes_apply_first(spark, fragmented):
    lo = int(fragmented.manifest_pdf()["min_phash"].min())
    delete_where(
        fragmented, spark,
        [("phash", "between", (lo, lo + (1 << 55)))],
        mode="merge-on-read",
    )
    plan = policy.plan_maintenance(
        fragmented, target_file_size_bytes=TARGET, min_pending_delete_files=1
    )
    stages = [s for s, _ in plan]
    assert stages[0] == "apply_deletes"  # rewrites refuse over pending sets
    assert "compact" in stages


def test_run_maintenance_auto(tmp_path, spark, fragmented):
    out = run_maintenance(
        fragmented, spark,
        checkpoint_path=str(tmp_path / "ckpt"),
        stages=("auto",),
        target_file_size_bytes=TARGET,
        keep_last=2,
    )
    assert "compact" in out["auto_plan"]
    assert "compact" in out and "wall_sec" in out["compact"]
    # a second auto run on the healed table plans (at most) expire
    out2 = run_maintenance(
        fragmented, spark,
        checkpoint_path=str(tmp_path / "ckpt2"),
        stages=("auto",),
        target_file_size_bytes=TARGET,
        keep_last=2,
    )
    assert set(out2["auto_plan"]) <= {"expire", "rewrite_manifests"}


def test_health_spark_path_matches_pandas(spark, fragmented, monkeypatch):
    h_pd = policy.table_health(fragmented, target_file_size_bytes=TARGET)
    monkeypatch.setattr(policy, "SPARK_MANIFEST_THRESHOLD", 0)
    h_sp = policy.table_health(fragmented, spark, target_file_size_bytes=TARGET)
    for k in (
        "n_files", "total_bytes", "small_file_count", "small_file_ratio",
        "cluster_metric",
    ):
        assert h_sp[k] == h_pd[k], k
    assert 0.0 <= h_sp["cluster_metric"] <= 1.0


def test_empty_table_plans_nothing(tmp_path, spark):
    from aws_medallion_datalake_spark.sources.generator import SCHEMA
    from aws_medallion_datalake_spark.sources.tableformat import Table

    t = Table.create(str(tmp_path / "e"), SCHEMA, stats_cols=["phash"])
    assert policy.plan_maintenance(t) == []


def test_analyze_cadence_in_plan(tmp_path, spark):
    """Tables opt into the ANALYZE cadence with their first analyze run;
    stats lagging >= stats_lag_threshold commits schedule a refresh."""
    from aws_medallion_datalake_spark.operators import analyze_table
    from aws_medallion_datalake_spark.operators.policy import plan_maintenance
    from aws_medallion_datalake_spark.operators.run import run_maintenance
    from aws_medallion_datalake_spark.sources.generator import SCHEMA, generate_images
    from aws_medallion_datalake_spark.sources.tableformat import Table

    t = Table.create(
        str(tmp_path / "an"), SCHEMA, stats_cols=["phash", "image_id"]
    )
    t.commit("append", t.write_files(generate_images(spark, 80, n_files=1)))
    # never analyzed: no analyze stage even though stats are absent
    assert "analyze" not in {s for s, _ in plan_maintenance(t, spark)}
    analyze_table(t, spark, ["image_id"])
    assert "analyze" not in {s for s, _ in plan_maintenance(t, spark)}
    for i in range(4):
        t.commit(
            "append",
            t.write_files(generate_images(spark, 10, n_files=1, start=1000 + i * 10)),
        )
    stages = {s for s, _ in plan_maintenance(t, spark, stats_lag_threshold=4)}
    assert "analyze" in stages
    # the runnable stage refreshes stats and pins them to the new head
    run_maintenance(
        t, spark, stages=("analyze",), checkpoint_path=str(tmp_path / "cp")
    )
    cs = t.column_stats()
    assert cs is not None and not cs["stale"]
