"""Table format: commit protocol, snapshot isolation, stats, pruning."""

import os

from pyspark.sql import functions as F

import pandas as pd
import pytest

from aws_medallion_datalake_spark.sources.generator import SCHEMA, generate_images
from aws_medallion_datalake_spark.sources.tableformat import Table, prune_manifest

STATS = ["phash", "w", "h", "image_id"]


@pytest.fixture()
def table(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "images"),
        schema_ddl=SCHEMA,
        partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    df = generate_images(spark, 200, n_files=8, n_dates=2)
    entries = t.write_files(df)
    t.commit("append", entries, {"source": "test"})
    return t


def test_create_and_append(table, spark):
    meta = table.metadata()
    assert meta.current_snapshot_id == 1
    man = table.manifest_pdf()
    assert man["record_count"].sum() == 200
    assert {"min_phash", "max_phash", "nulls_image_id"} <= set(man.columns)
    df = table.scan(spark)
    assert df.count() == 200
    assert set(df.columns) == {
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "ingest_date",
    }


def test_snapshot_isolation(table, spark):
    """Reader pinned to snapshot 1 is unaffected by a later commit."""
    before = table.scan(spark, snapshot_id=1).count()
    df2 = generate_images(spark, 50, n_files=2, start=200)
    table.commit("append", table.write_files(df2))
    assert table.metadata().current_snapshot_id == 2
    assert table.scan(spark, snapshot_id=1).count() == before == 200
    assert table.scan(spark).count() == 250


def test_partition_values_recovered(table, spark):
    vals = {r[0] for r in table.scan(spark).select("ingest_date").distinct().collect()}
    assert vals == {"2024-01-01", "2024-01-02"}


def test_stats_match_data(table, spark):
    man = table.manifest_pdf()
    df = table.scan(spark)
    lo, hi = df.selectExpr("min(phash)", "max(phash)").first()
    assert man["min_phash"].min() == lo
    assert man["max_phash"].max() == hi
    assert int(man["file_size_bytes"].sum()) > 0
    for p in man["path"]:
        assert os.path.exists(os.path.join(table.root, p))


def test_prune_manifest_soundness(table, spark):
    man = table.manifest_pdf()
    lo = int(man["min_phash"].min())
    # predicate covering everything keeps all files
    assert len(prune_manifest(man, [("phash", ">=", lo)], STATS)) == len(man)
    # impossible predicate prunes all files
    assert len(prune_manifest(man, [("phash", "<=", lo - 1)], STATS)) == 0
    # scan with predicate returns exactly the filtered rows
    mid = int(man["min_phash"].median())
    full = table.scan(spark).filter(f"phash <= {mid}").count()
    pruned = table.scan(spark, predicates=[("phash", "<=", mid)]).count()
    assert pruned == full


def test_in_predicate_prunes_and_filters(table, spark):
    man = table.manifest_pdf()
    ids = sorted(
        r["image_id"] for r in table.scan(spark, columns=["image_id"]).collect()
    )
    want = [ids[0], ids[-1], "img-not-there"]
    got = table.scan(spark, predicates=[("image_id", "in", want)])
    assert {r["image_id"] for r in got.collect()} == {ids[0], ids[-1]}
    # manifest pruning: values inside one file's range keep only that file
    # (ids are written monotone per file here), absent-range values none
    kept = prune_manifest(man, [("image_id", "in", [ids[0]])], STATS + ["image_id"]) \
        if "min_image_id" in man.columns else None
    if kept is not None:
        assert len(kept) < len(man)
    assert (
        prune_manifest(man, [("phash", "in", [])], STATS).shape[0] == 0
    )  # empty IN list prunes everything (vacuous OR)


def test_null_predicates_prune_and_filter(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "nulls"), "id bigint, v string", stats_cols=["id", "v"]
    )
    all_set = spark.range(0, 50).selectExpr("id", "concat('x', id) AS v")
    all_null = spark.range(50, 100).selectExpr("id", "CAST(NULL AS string) AS v")
    mixed = spark.range(100, 150).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN concat('x', id) END AS v"
    )
    for df in (all_set, all_null, mixed):
        t.commit("append", t.write_files(df.coalesce(1)))
    man = t.manifest_pdf()
    assert len(man) == 3
    kept_null = prune_manifest(man, [("v", "isnull", None)], ["id", "v"])
    assert len(kept_null) == 2  # all-set file pruned
    kept_notnull = prune_manifest(man, [("v", "notnull", None)], ["id", "v"])
    assert len(kept_notnull) == 2  # all-null file pruned
    assert t.scan(spark, predicates=[("v", "isnull", None)]).count() == 75
    assert t.scan(spark, predicates=[("v", "notnull", None)]).count() == 75
    # the Spark-side pruner (big-manifest planner path) agrees
    from aws_medallion_datalake_spark.sources.tableformat import (
        prune_manifest_spark,
    )

    manifests = t.manifest_abs_paths()
    for pred, kept in (("isnull", kept_null), ("notnull", kept_notnull)):
        got = prune_manifest_spark(spark, manifests, [("v", pred, None)], ["v"])
        assert {r.path for r in got.collect()} == set(kept["path"])


def test_ddl_arrow_types_handles_commas_in_types():
    import pyarrow as pa

    from aws_medallion_datalake_spark.sources.tableformat import _ddl_arrow_types

    t = _ddl_arrow_types(
        "id bigint, price decimal(10,2), m map<string,int>, "
        "s struct<a:int,b:string>, v string, d date"
    )
    assert t["id"] == pa.int64()
    assert t["v"] == pa.string()
    assert t["d"] == pa.date32()
    assert set(t) == {"id", "price", "m", "s", "v", "d"}


def test_all_null_long_stats_column_merges(tmp_path, spark):
    """Regression: an all-null stats column used to be written with
    arrow's `null` type, breaking the mergeSchema manifest read."""
    t = Table.create(
        str(tmp_path / "nl"), "id bigint, n bigint", stats_cols=["n"]
    )
    t.commit(
        "append",
        t.write_files(spark.range(10).selectExpr("id", "CAST(NULL AS bigint) AS n")),
    )
    t.commit(
        "append", t.write_files(spark.range(10, 20).selectExpr("id", "id AS n"))
    )
    man_df = t.manifest_df(spark)  # raised before the fix
    assert man_df.count() >= 2
    assert t.scan(spark, predicates=[("n", ">=", 10)]).count() == 10


def test_scan_empty_predicate_returns_empty_df(table, spark):
    man = table.manifest_pdf()
    lo = int(man["min_phash"].min())
    df = table.scan(spark, predicates=[("phash", "<=", lo - 1)])
    assert df.count() == 0
    assert "image_id" in df.columns


def test_version_file_collision_fails_loudly(table):
    meta = table.metadata()
    with pytest.raises(FileExistsError):
        table._write_metadata_version(table.current_version(), meta)


def test_second_append_accumulates(table, spark):
    """Regression: append commits concatenate onto the current manifest —
    a second append must not replace the file list (pre-fix it did)."""
    df2 = generate_images(spark, 60, n_files=2, n_dates=2, start=200)
    table.commit("append", table.write_files(df2), {"source": "test2"})
    assert table.scan(spark).count() == 260
    assert table.manifest_pdf()["record_count"].sum() == 260
    # the prior snapshot still sees only the first commit
    assert table.scan(spark, snapshot_id=1).count() == 200


def test_time_travel_as_of(table, spark):
    import time as _time

    t1 = int(_time.time() * 1000)
    _time.sleep(0.01)
    table.commit("append", table.write_files(generate_images(spark, 40, n_files=1, start=200)))
    snap1 = table.snapshot_as_of(t1)
    assert snap1.snapshot_id == 1
    assert table.scan(spark, as_of_ms=t1).count() == 200
    assert table.scan(spark).count() == 240
    with pytest.raises(KeyError):
        table.snapshot_as_of(0)
    with pytest.raises(ValueError):
        table.scan(spark, snapshot_id=1, as_of_ms=t1)


def test_add_columns_schema_evolution(table, spark):
    table.add_columns("quality_score double, reviewed boolean")
    df = table.scan(spark)
    assert "quality_score" in df.columns and "reviewed" in df.columns
    # old files surface the new columns as NULL
    assert df.filter(F.col("quality_score").isNotNull()).count() == 0
    assert df.count() == 200
    # new writes may carry the new columns and coexist with old files
    new = generate_images(spark, 10, n_files=1, start=500).withColumn(
        "quality_score", F.lit(0.5)
    ).withColumn("reviewed", F.lit(True))
    table.commit("append", table.write_files(new))
    df2 = table.scan(spark)
    assert df2.count() == 210
    assert df2.filter(F.col("quality_score").isNotNull()).count() == 10
    with pytest.raises(ValueError):
        table.add_columns("phash long")  # duplicate name rejected


def test_add_columns_complex_types(table, spark):
    """DDL with commas inside types must parse correctly (ADVICE r1)."""
    table.add_columns("price decimal(10,2), tags map<string,int>")
    df = table.scan(spark)
    assert "price" in df.columns and "tags" in df.columns
    with pytest.raises(ValueError, match="price"):
        table.add_columns("price decimal(12,4)")


def test_changes_snapshot_diff(table, spark, tmp_path):
    """T5 incremental scan: an append then a MERGE; a consumer reading
    changes(last_seen, current) sees exactly the new logical rows, and
    physical-only rewrites (compaction) emit nothing."""
    from aws_medallion_datalake_spark.operators.compact import compact
    from aws_medallion_datalake_spark.operators.merge import merge_into
    from aws_medallion_datalake_spark.sources.generator import generate_updates

    s1 = table.metadata().current_snapshot_id
    batch2 = generate_images(spark, 30, n_files=2, start=5000)
    table.commit("append", table.write_files(batch2))
    s2 = table.metadata().current_snapshot_id
    got = table.changes(spark, s1, s2)
    assert got.count() == 30
    assert (
        got.select("image_id").subtract(batch2.select("image_id")).count() == 0
    )
    # merge: updates existing keys + inserts new ones → changes = source
    src = generate_updates(spark, 200, n_updates=25, n_inserts=10)
    merge_into(table, spark, src)
    s3 = table.metadata().current_snapshot_id
    got2 = table.changes(spark, s2, s3)
    assert got2.count() == 35
    assert got2.select("image_id").subtract(src.select("image_id")).count() == 0
    # compaction is physical-only: no new logical rows
    compact(table, spark, target_file_size_bytes=1 << 20)
    s4 = table.metadata().current_snapshot_id
    assert table.changes(spark, s3, s4).count() == 0
    # chained consumption from the first snapshot sees append + merge rows
    assert table.changes(spark, s1, s4).count() == 65
    # expired starting point is a loud error, not silent wrong data
    from aws_medallion_datalake_spark.operators.expire import expire_snapshots

    expire_snapshots(table, keep_last=1)
    with pytest.raises(KeyError, match="expired"):
        table.changes(spark, s1)


def test_append_writes_delta_manifest(table, spark):
    """An append commit shares ancestor manifests and adds ONE delta —
    O(added) manifest bytes, not O(table)."""
    s1 = table.snapshot()
    table.commit("append", table.write_files(generate_images(spark, 40, n_files=2, start=600)))
    s2 = table.snapshot()
    assert s2.manifest_paths[: len(s1.manifest_paths)] == s1.manifest_paths
    assert len(s2.manifest_paths) == len(s1.manifest_paths) + 1
    # totals stay table-cumulative across the manifest list
    assert s2.summary["total_records"] == 240
    assert table.manifest_pdf()["record_count"].sum() == 240
    assert table.scan(spark).count() == 240


def test_rewrite_manifests(table, spark):
    for i in range(3):
        table.commit(
            "append",
            table.write_files(generate_images(spark, 20, n_files=1, start=1000 + 20 * i)),
        )
    before_rows = table.scan(spark).count()
    s_pre = table.snapshot()
    assert len(s_pre.manifest_paths) == 4
    snap = table.rewrite_manifests()
    assert snap is not None and snap.operation == "replace"
    assert len(table.snapshot().manifest_paths) == 1
    assert table.scan(spark).count() == before_rows == 260
    # physical-only: incremental consumers see no new rows across it
    assert table.changes(spark, s_pre.snapshot_id).count() == 0
    assert table.rewrite_manifests() is None  # already compact


def test_rewrite_manifests_spark_path(table, spark, monkeypatch):
    """Distributed manifest rewrite (zero planner threshold): executors
    re-shard the manifest list; driver sees only the part paths and the
    totals. Result must be indistinguishable from the pandas path: same
    rows, physical-only commit, scan + changes() unaffected."""
    for i in range(3):
        table.commit(
            "append",
            table.write_files(generate_images(spark, 20, n_files=1, start=2000 + 20 * i)),
        )
    s_pre = table.snapshot()
    assert len(s_pre.manifest_paths) == 4
    import aws_medallion_datalake_spark.sources.tableformat as tf

    with monkeypatch.context() as m:
        m.setattr(tf, "SPARK_MANIFEST_THRESHOLD", 0)
        snap = table.rewrite_manifests(spark=spark)
    assert snap is not None and snap.operation == "replace"
    assert snap.summary["spark_path"] == "true"
    assert snap.summary["total_records"] == 260
    s_post = table.snapshot()
    # one part at this size; every listed part exists and is parquet
    for rel in s_post.manifest_paths:
        assert rel.endswith(".parquet")
    assert table.manifest_rows() == snap.summary["added_or_total_files"]
    assert table.scan(spark).count() == 260
    assert table.changes(spark, s_pre.snapshot_id).count() == 0
    # expire after a spark rewrite still GCs the OLD delta manifests
    from aws_medallion_datalake_spark.operators.expire import expire_snapshots

    expire_snapshots(table, keep_last=1)
    assert table.scan(spark).count() == 260


def test_tags_pin_snapshots_from_expiry(table, spark):
    """Named refs: tag() pins a snapshot; expire keeps it scannable past
    the keep_last policy; drop_tag releases it."""
    from aws_medallion_datalake_spark.operators.expire import expire_snapshots

    tagged_sid = table.tag("train-run-1")
    assert table.ref("train-run-1") == tagged_sid
    for i in range(3):
        table.commit(
            "append",
            table.write_files(generate_images(spark, 30, n_files=1, start=2000 + 30 * i)),
        )
    r = expire_snapshots(table, keep_last=1)
    assert tagged_sid in r["retained_snapshots"]
    assert table.scan(spark, snapshot_id=tagged_sid).count() == 200
    assert table.tags() == {"train-run-1": tagged_sid}
    table.drop_tag("train-run-1")
    r2 = expire_snapshots(table, keep_last=1)
    assert tagged_sid in r2["expired_snapshots"]
    with pytest.raises(KeyError):
        table.ref("train-run-1")


def test_legacy_manifest_path_metadata_loads():
    from aws_medallion_datalake_spark.sources.tableformat import TableMetadata

    text = """{"format_version": 1, "table_uuid": "u", "location": "/x",
    "schema_ddl": "a int", "partition_cols": [], "stats_cols": [],
    "current_snapshot_id": 1, "snapshots": [{"snapshot_id": 1,
    "parent_snapshot_id": null, "timestamp_ms": 5, "operation": "append",
    "manifest_path": "metadata/manifest-1.parquet", "summary": {}}],
    "properties": {}}"""
    meta = TableMetadata.from_json(text)
    assert meta.snapshots[0].manifest_paths == ["metadata/manifest-1.parquet"]


def test_changes_spark_diff_path(table, spark, monkeypatch):
    """Forcing the ≥threshold planner, the manifest anti-join diff must
    emit exactly what the driver-side set diff emits."""
    import aws_medallion_datalake_spark.sources.tableformat as tf
    from aws_medallion_datalake_spark.operators.compact import compact
    from aws_medallion_datalake_spark.operators.merge import merge_into
    from aws_medallion_datalake_spark.sources.generator import generate_updates

    s1 = table.metadata().current_snapshot_id
    table.commit("append", table.write_files(generate_images(spark, 30, n_files=2, start=7000)))
    src = generate_updates(spark, 200, n_updates=25, n_inserts=10)
    merge_into(table, spark, src)
    compact(table, spark, target_file_size_bytes=1 << 20)
    s4 = table.metadata().current_snapshot_id
    expected = {r.image_id for r in table.changes(spark, s1, s4).collect()}
    monkeypatch.setattr(tf, "SPARK_MANIFEST_THRESHOLD", 0)
    got = {r.image_id for r in table.changes(spark, s1, s4).collect()}
    assert got == expected and len(got) == 65


def test_scan_spark_manifest_planner_path(table, spark, monkeypatch):
    """Above SPARK_MANIFEST_THRESHOLD the pruning predicate runs as a
    Spark job over the manifest parquet; results must be identical to
    the pandas planner path."""
    import aws_medallion_datalake_spark.sources.tableformat as tf

    man = table.manifest_pdf()
    lo = int(man["min_phash"].min())
    preds = [("phash", "between", (lo, lo + (1 << 60)))]
    pandas_rows = table.scan(spark, predicates=preds).count()
    pandas_all = table.scan(spark).count()
    monkeypatch.setattr(tf, "SPARK_MANIFEST_THRESHOLD", 0)
    assert table.scan(spark, predicates=preds).count() == pandas_rows
    assert table.scan(spark).count() == pandas_all


def test_wap_stage_audit_publish_fast_forward(table, spark):
    """Write-audit-publish: a staged append is invisible to readers,
    auditable by snapshot id, and published by fast-forward."""
    staged = table.commit(
        "append",
        table.write_files(generate_images(spark, 40, n_files=2, start=5000)),
        stage_only=True,
        wap_id="audit-1",
    )
    # readers still see the pre-stage table; the audit scans the staged id
    assert table.metadata().current_snapshot_id == 1
    assert table.scan(spark).count() == 200
    assert table.scan(spark, snapshot_id=staged.snapshot_id).count() == 240
    assert [s.snapshot_id for s in table.staged_snapshots()] == [staged.snapshot_id]
    pub = table.publish(wap_id="audit-1")
    assert pub.snapshot_id == staged.snapshot_id  # fast-forward, no new snapshot
    assert table.metadata().current_snapshot_id == staged.snapshot_id
    assert table.scan(spark).count() == 240
    assert table.staged_snapshots() == []


def test_wap_cherrypick_append_over_diverged_head(table, spark):
    """A staged append whose parent is no longer current is re-applied as
    a fresh append commit (delta manifests only, no data rewrite)."""
    staged = table.commit(
        "append",
        table.write_files(generate_images(spark, 40, n_files=2, start=5000)),
        stage_only=True,
        wap_id="audit-2",
    )
    # an unrelated writer publishes first: head diverges from the stage parent
    table.commit(
        "append",
        table.write_files(generate_images(spark, 10, n_files=1, start=6000)),
    )
    pub = table.publish(wap_id="audit-2")
    assert pub.snapshot_id != staged.snapshot_id  # cherry-pick = new commit
    assert pub.summary["cherrypicked_from"] == staged.snapshot_id
    assert table.scan(spark).count() == 250  # 200 + 10 + 40
    assert table.staged_snapshots() == []
    # incremental consumers see the picked rows exactly once, through the
    # published chain (the staged snapshot itself is off-chain)
    inc = table.changes(spark, 1)
    assert inc.count() == 50


def test_wap_staged_rewrite_cannot_cherrypick(table, spark):
    """Only appends commute: a staged REPLACE over a diverged head must
    refuse to publish instead of silently dropping the interleaved commit."""
    man = table.manifest_pdf()
    table.commit("replace", man, stage_only=True, wap_id="audit-3")
    table.commit(
        "append",
        table.write_files(generate_images(spark, 10, n_files=1, start=6000)),
    )
    with pytest.raises(ValueError, match="cherry-picked"):
        table.publish(wap_id="audit-3")


def test_wap_staged_snapshot_survives_expiry(table, spark):
    """Expiry between stage and publish must not GC the staged files."""
    from aws_medallion_datalake_spark.operators.expire import expire_snapshots

    staged = table.commit(
        "append",
        table.write_files(generate_images(spark, 40, n_files=2, start=5000)),
        stage_only=True,
        wap_id="audit-4",
    )
    for i in range(2):
        table.commit(
            "append",
            table.write_files(generate_images(spark, 10, n_files=1, start=7000 + 100 * i)),
        )
    r = expire_snapshots(table, keep_last=1)
    assert staged.snapshot_id in r["retained_snapshots"]
    assert table.scan(spark, snapshot_id=staged.snapshot_id).count() == 240
    table.publish(wap_id="audit-4")
    assert table.scan(spark).count() == 260


def test_partition_spec_evolution(table, spark):
    """Evolving the partition spec is metadata-only: old files keep old
    stats (never pruned on the new column — sound), new files collect
    stats for and prune on the new spec."""
    import aws_medallion_datalake_spark.sources.tableformat as tf

    assert table.metadata().partition_cols == ["ingest_date"]
    table.set_partition_spec(["fmt"])
    assert table.metadata().partition_cols == ["fmt"]
    with pytest.raises(KeyError, match="not in schema"):
        table.set_partition_spec(["nope"])
    # new writes collect stats for the new partition column
    df2 = generate_images(spark, 60, n_files=2, start=5000).filter(
        F.col("fmt") == "png"
    )
    n_new = df2.count()
    table.commit("append", table.write_files(df2))
    man = table.manifest_pdf()
    assert "min_fmt" in man.columns
    # old entries have no fmt stats; new ones do
    assert man["min_fmt"].isna().sum() == 8
    assert man["min_fmt"].notna().sum() >= 1
    # pruning on fmt: keeps ALL old files (no stats) + only matching new
    total = 200 + n_new
    n_png_total = table.scan(spark).filter(F.col("fmt") == "png").count()
    pruned = table.scan(spark, predicates=[("fmt", "=", "png")])
    assert pruned.count() == n_png_total
    assert table.scan(spark, predicates=[("fmt", "=", "jpeg")]).count() == (
        total - n_png_total
    )
    # a jpeg predicate must actually SKIP the new all-png files
    cand = prune_manifest(
        man, [("fmt", "=", "jpeg")], ["fmt", "ingest_date"] + STATS
    )
    assert len(cand) == 8  # old files kept (sound), new png files pruned
    # old partition column still prunes (it remains in stats via old spec)
    assert (
        table.scan(spark, predicates=[("ingest_date", "=", "2024-01-01")]).count()
        == table.scan(spark).filter(F.col("ingest_date") == "2024-01-01").count()
    )
    # the Spark manifest planner path merges heterogeneous manifest schemas
    (orig,) = [tf.SPARK_MANIFEST_THRESHOLD]
    try:
        tf.SPARK_MANIFEST_THRESHOLD = 0
        assert table.scan(spark, predicates=[("fmt", "=", "png")]).count() == n_png_total
    finally:
        tf.SPARK_MANIFEST_THRESHOLD = orig
