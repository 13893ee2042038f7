"""Maintenance operators: compaction, clustering, merge, expiry, resume."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators import (
    cluster,
    compact,
    expire_snapshots,
    merge_into,
)
from aws_medallion_datalake_spark.operators import merge as merge_mod
from aws_medallion_datalake_spark.operators.checkpoint import RunCheckpoint
from aws_medallion_datalake_spark.operators.cluster import clustering_quality
from aws_medallion_datalake_spark.operators.run import run_maintenance
from aws_medallion_datalake_spark.plans.binpack import plan_compaction
from aws_medallion_datalake_spark.sources.generator import (
    SCHEMA,
    generate_images,
    generate_updates,
)
from aws_medallion_datalake_spark.sources import tableformat as tf
from aws_medallion_datalake_spark.sources.tableformat import Table

STATS = ["phash", "w", "h", "image_id"]
TARGET = 1024 * 1024  # ~8 source files per bin at this scale


def make_table(tmp_path, spark, n=600, n_files=24) -> Table:
    t = Table.create(
        str(tmp_path / "images"),
        schema_ddl=SCHEMA,
        partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    df = generate_images(spark, n, n_files=n_files, n_dates=2)
    t.commit("append", t.write_files(df), {"stage": "bronze"})
    return t


def table_fingerprint(t: Table, spark):
    df = t.scan(spark)
    agg = df.agg(
        F.count("*").alias("rows"),
        F.countDistinct("image_id").alias("ids"),
        F.sum(F.length("bytes")).alias("payload_bytes"),
        F.sum(F.hash("image_id", "caption", "phash")).alias("content_hash"),
    ).first()
    return tuple(agg)


# ---------------- binpack planner (pure) ----------------


def test_binpack_plan_properties():
    man = pd.DataFrame(
        {
            "path": [f"f{i}" for i in range(10)],
            "partition_json": ['{"d":"1"}'] * 6 + ['{"d":"2"}'] * 4,
            "record_count": [10] * 10,
            "file_size_bytes": [100] * 5 + [950] + [100] * 3 + [5000],
        }
    )
    plan = plan_compaction(man, target_file_size_bytes=1000, min_input_files=2)
    # no group mixes partitions
    for g in plan.groups:
        rows = man[man["path"].isin(g.paths)]
        assert rows["partition_json"].nunique() == 1
    # pack bins never exceed the target
    for g in plan.groups:
        if g.kind == "pack":
            assert g.input_bytes <= 1000
            assert len(g.paths) >= 2
    # oversized file gets a split group with >1 outputs
    splits = [g for g in plan.groups if g.kind == "split"]
    assert len(splits) == 1 and splits[0].n_output_files == 5
    # the lone 950-byte file (well-sized) is not rewritten
    assert "f5" not in plan.rewritten_paths


# ---------------- compaction ----------------


def test_compact_preserves_content_and_reduces_files(tmp_path, spark):
    t = make_table(tmp_path, spark)
    before = table_fingerprint(t, spark)
    files_before = len(t.manifest_pdf())
    snap = compact(t, spark, target_file_size_bytes=TARGET, parallelism=4)
    assert snap is not None and snap.operation == "replace"
    files_after = len(t.manifest_pdf())
    assert files_after < files_before
    assert table_fingerprint(t, spark) == before
    # old snapshot still readable (isolation), until expired
    assert t.scan(spark, snapshot_id=1).count() == before[0]
    # idempotent: second run is a no-op or keeps content identical
    snap2 = compact(t, spark, target_file_size_bytes=TARGET, parallelism=4)
    assert table_fingerprint(t, spark) == before
    if snap2 is not None:
        assert len(t.manifest_pdf()) <= files_after


def test_compact_resume_skips_done_groups(tmp_path, spark, monkeypatch):
    t = make_table(tmp_path, spark)
    before = table_fingerprint(t, spark)
    cp_path = str(tmp_path / "run.jsonl")

    import importlib

    compact_mod = importlib.import_module(
        "aws_medallion_datalake_spark.operators.compact"
    )

    real = Table.new_data_prefix
    calls = {"n": 0}

    def flaky(self):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated executor loss")
        return real(self)

    # one batch per group: unit granularity = group; the failure hits the
    # rewrite runner's per-unit write
    monkeypatch.setattr(compact_mod, "DEFAULT_GROUPS_PER_JOB", 1)
    monkeypatch.setattr(Table, "new_data_prefix", flaky)
    with pytest.raises(RuntimeError):
        compact(t, spark, target_file_size_bytes=TARGET, parallelism=1,
                checkpoint=RunCheckpoint(cp_path))
    done_after_crash = len(RunCheckpoint(cp_path).units_done("compact"))
    assert done_after_crash >= 1  # some batches committed to the checkpoint
    # no snapshot was committed by the failed run
    assert t.metadata().current_snapshot_id == 1

    calls2 = {"n": 0}

    def counting(self):
        calls2["n"] += 1
        return real(self)

    monkeypatch.setattr(Table, "new_data_prefix", counting)
    snap = compact(t, spark, target_file_size_bytes=TARGET, parallelism=1,
                   checkpoint=RunCheckpoint(cp_path))
    assert snap is not None
    # resumed run did NOT rewrite the batches already checkpointed
    total_units = len(RunCheckpoint(cp_path).units_done("compact"))
    assert calls2["n"] == total_units - done_after_crash
    assert table_fingerprint(t, spark) == before
    # lineage recorded per unit
    unit = RunCheckpoint(cp_path).units_done("compact")[0]
    assert {"source_snapshot_id", "input_files", "input_records",
            "input_bytes", "output_prefix", "partitions", "groups"} <= set(unit.keys())


# ---------------- clustering ----------------


@pytest.mark.parametrize("curve", ["morton", "hilbert"])
def test_cluster_improves_pruning(tmp_path, spark, curve):
    t = make_table(tmp_path, spark, n=800, n_files=16)
    before = table_fingerprint(t, spark)
    q_before = clustering_quality(t, "phash")
    snap = cluster(t, spark, curve=curve, target_file_size_bytes=TARGET)
    assert snap.operation == "replace"
    assert table_fingerprint(t, spark) == before
    q_after = clustering_quality(t, "phash")
    assert q_after < q_before  # file phash ranges overlap less
    # pruned point-lookup scans fewer files than the file count
    man = t.manifest_pdf()
    some_phash = int(man["min_phash"].iloc[0])
    from aws_medallion_datalake_spark.sources.tableformat import prune_manifest

    kept = prune_manifest(man, [("phash", "=", some_phash)], STATS)
    assert len(kept) < len(man)


def test_cluster_incremental_rewrites_only_the_delta(tmp_path, spark):
    t = make_table(tmp_path, spark, n=800, n_files=16)
    full = cluster(t, spark, curve="morton", target_file_size_bytes=TARGET)
    assert full.summary["mode"] == "full"
    n_sorted = int(full.summary["files_out"])
    before_paths = set(t.manifest_pdf()["path"])

    # nothing dirty → auto mode is a no-op (no new snapshot)
    sid = t.metadata().current_snapshot_id
    assert cluster(t, spark, curve="morton", target_file_size_bytes=TARGET) is None
    assert t.metadata().current_snapshot_id == sid

    # append a small delta, then auto-cluster: only the delta is rewritten
    t.commit(
        "append",
        t.write_files(generate_images(spark, 120, n_files=4, n_dates=2, start=10_000)),
    )
    fp = table_fingerprint(t, spark)
    snap = cluster(t, spark, curve="morton", target_file_size_bytes=TARGET)
    assert snap.summary["mode"] == "incremental"
    assert snap.summary["files_in"] == 4  # the delta files, not the table
    assert snap.summary["files_kept"] == n_sorted
    assert table_fingerprint(t, spark) == fp  # content preserved
    # kept files were NOT rewritten (same manifest paths survive)
    after_paths = set(t.manifest_pdf()["path"])
    assert before_paths <= after_paths
    # both generations are tracked as sorted: a third run is again a no-op
    assert cluster(t, spark, curve="morton", target_file_size_bytes=TARGET) is None


def test_cluster_incremental_spec_change_forces_full(tmp_path, spark):
    t = make_table(tmp_path, spark, n=400, n_files=8)
    cluster(t, spark, curve="morton", target_file_size_bytes=TARGET)
    # different curve ⇒ recorded generation doesn't apply ⇒ full rewrite
    snap = cluster(t, spark, curve="hilbert", target_file_size_bytes=TARGET)
    assert snap is not None and snap.summary["mode"] == "full"
    assert snap.summary["files_kept"] == 0


def test_cluster_auto_full_when_mostly_dirty(tmp_path, spark):
    t = make_table(tmp_path, spark, n=200, n_files=4)
    cluster(t, spark, curve="morton", target_file_size_bytes=TARGET)
    # append far more than INCREMENTAL_MAX_DIRTY_FRAC of the table
    t.commit(
        "append",
        t.write_files(generate_images(spark, 800, n_files=16, n_dates=2, start=20_000)),
    )
    snap = cluster(t, spark, curve="morton", target_file_size_bytes=TARGET)
    assert snap.summary["mode"] == "full"
    # full rewrite resets the sorted-generation property to its own outputs
    import json

    prefixes = json.loads(t.metadata().properties["cluster.sorted_prefixes"])
    man = t.manifest_pdf()
    assert man["path"].str.startswith(tuple(p + "/" for p in prefixes)).all()


# ---------------- merge ----------------


def test_merge_matches_dataframe_oracle(tmp_path, spark):
    n = 500
    t = make_table(tmp_path, spark, n=n, n_files=10)
    compact(t, spark, target_file_size_bytes=TARGET)
    target_before = t.scan(spark).select("image_id", "caption", "bytes", "phash").cache()
    source = generate_updates(spark, n, n_updates=120, n_inserts=80).cache()

    files_before = set(t.manifest_pdf()["path"])
    snap = merge_into(t, spark, source)
    assert snap.operation == "merge"
    assert snap.summary["rows_updated"] == 120
    assert snap.summary["rows_inserted"] == 80
    # copy-on-write: some original files survive untouched
    files_after = set(t.manifest_pdf()["path"])
    assert files_before & files_after, "merge rewrote every file — not CoW"

    # oracle: target rows not in source + all source rows
    expected = (
        target_before.join(source.select("image_id"), "image_id", "left_anti")
        .unionByName(source.select("image_id", "caption", "bytes", "phash"))
    )
    merged = t.scan(spark).select("image_id", "caption", "bytes", "phash")
    assert merged.count() == n + 80
    diff = merged.exceptAll(expected)
    assert diff.isEmpty(), diff.limit(5).collect()

    # duplicate source keys are rejected
    dup_src = source.unionByName(source.limit(1))
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(t, spark, dup_src)


# ---------------- expiry ----------------


def test_expire_gc(tmp_path, spark):
    t = make_table(tmp_path, spark)
    compact(t, spark, target_file_size_bytes=TARGET)
    cluster(t, spark, target_file_size_bytes=TARGET)
    rows = t.scan(spark).count()
    assert len(t.metadata().snapshots) == 3
    dry = expire_snapshots(t, keep_last=1, dry_run=True)
    assert dry["deleted_files"] > 0
    metrics = expire_snapshots(t, keep_last=1)
    assert metrics["expired_snapshots"] == [1, 2]
    assert metrics["retained_snapshots"] == [3]
    # current snapshot fully readable; old ones gone
    assert t.scan(spark).count() == rows
    with pytest.raises(KeyError):
        t.snapshot(1)
    # every remaining data file is referenced by the retained manifest
    on_disk = set()
    for dirpath, _d, files in os.walk(t.data_dir):
        for fn in files:
            on_disk.add(os.path.relpath(os.path.join(dirpath, fn), t.root))
    assert on_disk == set(t.manifest_pdf()["path"])


def test_expire_gc_spark_path(tmp_path, spark, monkeypatch):
    """A zero planner threshold exercises the distributed listing/anti-join/
    delete GC; outcome must be identical to the driver path."""
    import aws_medallion_datalake_spark.operators.expire as expire_mod

    t = make_table(tmp_path, spark)
    compact(t, spark, target_file_size_bytes=TARGET)
    cluster(t, spark, target_file_size_bytes=TARGET)
    rows = t.scan(spark).count()
    monkeypatch.setattr(expire_mod, "SPARK_MANIFEST_THRESHOLD", 0)
    dry = expire_snapshots(t, spark=spark, keep_last=1, dry_run=True)
    assert dry["deleted_files"] > 0 and dry["freed_bytes"] > 0
    metrics = expire_snapshots(t, spark=spark, keep_last=1)
    assert metrics["expired_snapshots"] == [1, 2]
    assert metrics["deleted_files"] == dry["deleted_files"]
    assert t.scan(spark).count() == rows
    on_disk = set()
    for dirpath, _d, files in os.walk(t.data_dir):
        for fn in files:
            on_disk.add(os.path.relpath(os.path.join(dirpath, fn), t.root))
    assert on_disk == set(t.manifest_pdf()["path"])


def test_merge_smj_fallback_matches_oracle(tmp_path, spark, monkeypatch):
    """A zero broadcast bound forces the sort-merge fallback (the path a
    non-broadcastable 10^10-key source takes); result must equal the
    broadcast path's upsert algebra."""
    n = 300
    t = make_table(tmp_path, spark, n=n, n_files=8)
    compact(t, spark, target_file_size_bytes=TARGET)
    target_before = t.scan(spark).select("image_id", "caption", "phash").cache()
    source = generate_updates(spark, n, n_updates=70, n_inserts=30).cache()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    monkeypatch.setattr(merge_mod, "_BROADCAST_KEYS", 0)
    try:
        snap = merge_into(t, spark, source)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert snap.summary["rows_updated"] == 70
    assert snap.summary["rows_inserted"] == 30
    expected = (
        target_before.join(source.select("image_id"), "image_id", "left_anti")
        .unionByName(source.select("image_id", "caption", "phash"))
    )
    merged = t.scan(spark).select("image_id", "caption", "phash")
    assert merged.count() == n + 30
    assert merged.exceptAll(expected).isEmpty()


def test_merge_smj_salted_skew_matches_oracle(tmp_path, spark, monkeypatch):
    """Skewed target on the SMJ fallback: every key is duplicated (a hot
    phash bucket re-ingested), so the anti-join's partitions are skewed;
    AQE skew-join splitting handles them, and the result must equal the
    upsert algebra with every duplicate copy of a matched key swept."""
    n = 240
    t = make_table(tmp_path, spark, n=n, n_files=8)
    # skew the target: re-append the same rows so every key is duplicated
    # (the hot-phash-bucket-re-ingested-many-times shape)
    dup = generate_images(spark, n, n_files=4, n_dates=2)
    t.commit("append", t.write_files(dup))
    target_before = (
        t.scan(spark).select("image_id", "caption", "phash").distinct().cache()
    )
    source = generate_updates(spark, n, n_updates=60, n_inserts=25).cache()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    monkeypatch.setattr(merge_mod, "_BROADCAST_KEYS", 0)
    try:
        snap = merge_into(t, spark, source)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert snap.summary["rows_updated"] == 60
    assert snap.summary["rows_inserted"] == 25
    # every duplicated copy of a matched key is swept by the rewrite
    assert snap.summary["rows_replaced_dupes"] == 60
    expected = (
        target_before.join(source.select("image_id"), "image_id", "left_anti")
        .unionByName(source.select("image_id", "caption", "phash"))
    )
    merged = t.scan(spark).select("image_id", "caption", "phash")
    # unmatched keys keep their duplicate copies (2 each), matched keys
    # hold exactly the source row
    assert merged.count() == 2 * (n - 60) + 60 + 25
    assert merged.distinct().exceptAll(expected).isEmpty()


def test_merge_when_matched_delete(tmp_path, spark):
    """WHEN MATCHED THEN DELETE / WHEN NOT MATCHED THEN INSERT: matched
    target rows vanish, unmatched source rows land, metrics say which."""
    t = make_table(tmp_path, spark, n=200, n_files=8)
    source = generate_updates(spark, 200, n_updates=50, n_inserts=20)
    s0 = t.snapshot().snapshot_id
    snap = merge_into(t, spark, source, when_matched="delete")
    assert snap.summary["when_matched"] == "delete"
    assert snap.summary["rows_deleted"] == 50
    assert snap.summary["rows_updated"] == 0
    assert snap.summary["rows_inserted"] == 20
    orig = t.scan(spark, snapshot_id=s0).select("image_id")
    final = t.scan(spark).select("image_id")
    assert final.count() == 200 - 50 + 20
    matched = orig.join(source.select("image_id"), "image_id", "inner")
    assert final.join(matched, "image_id", "inner").count() == 0
    inserts = source.select("image_id").join(orig, "image_id", "left_anti")
    assert final.join(inserts, "image_id", "inner").count() == 20


def test_remove_orphan_files(tmp_path, spark):
    """Orphan sweep: uncommitted (aborted-write) files are deleted once
    past the age gate; every snapshot's referenced files survive."""
    import time as _t

    from aws_medallion_datalake_spark.operators.expire import remove_orphan_files

    t = make_table(tmp_path, spark, n=100, n_files=4)
    prefix = t.new_data_prefix()
    generate_images(spark, 10, n_files=1, start=900).write.mode("append").parquet(prefix)
    # age gate: freshly written files may belong to an in-flight commit
    r = remove_orphan_files(t)
    assert r["deleted_files"] == 0
    # cutoff in the future → sweep; committed data intact, history intact
    r2 = remove_orphan_files(t, older_than_ms=int(_t.time() * 1000) + 60_000)
    assert r2["deleted_files"] > 0
    assert t.scan(spark).count() == 100
    assert len(t.metadata().snapshots) >= 1
    for p in t.manifest_pdf()["path"]:
        assert os.path.exists(os.path.join(t.root, p))
    assert not os.path.exists(prefix)


def test_merge_probe_pruning_narrow_source(tmp_path, spark, monkeypatch):
    """When the merge key has manifest stats, the touched-file probe
    prunes its candidate files with a between-predicate over the SOURCE
    key range (file-level pruning for recency-biased merges), and results
    are unchanged."""
    t = make_table(tmp_path, spark, n=300, n_files=10)
    full = t.scan(spark)
    ids = [
        r[0]
        for r in full.select("image_id").orderBy("image_id").limit(20).collect()
    ]
    src = full.filter(F.col("image_id").isin(ids)).withColumn(
        "caption", F.lit("updated")
    )
    captured = {}
    orig_prune = merge_mod.prune_manifest

    def spy(man, preds, stats_cols):
        captured["preds"] = list(preds)
        return orig_prune(man, preds, stats_cols)

    monkeypatch.setattr(merge_mod, "prune_manifest", spy)
    snap = merge_into(t, spark, src, key="image_id")
    assert captured["preds"] == [("image_id", "between", (ids[0], ids[-1]))]
    assert snap.summary["rows_updated"] == 20
    assert snap.summary["rows_inserted"] == 0
    merged = t.scan(spark)
    assert merged.count() == 300
    assert merged.filter(F.col("caption") == "updated").count() == 20


# ---------------- full run driver ----------------


def test_run_maintenance_end_to_end_and_resume(tmp_path, spark):
    t = make_table(tmp_path, spark, n=400, n_files=12)
    source = generate_updates(spark, 400, n_updates=60, n_inserts=40)
    cp = str(tmp_path / "maint.jsonl")
    out = run_maintenance(
        t, spark, checkpoint_path=cp, merge_source=source,
        target_file_size_bytes=TARGET, keep_last=1,
    )
    assert set(out) == {"compact", "cluster", "merge", "expire", "run_summary"}
    assert out["merge"]["rows_inserted"] == 40
    assert t.scan(spark).count() == 440
    # success summary: every stage ran, none resumed, persisted to cp
    s = out["run_summary"]
    assert s["status"] == "SUCCESS" and s["metric"] == {"PipelineSuccess": 1}
    assert set(s["stages_run"]) == {"compact", "cluster", "merge", "expire"}
    assert s["stages_resumed"] == [] and s["total_wall_sec"] > 0
    assert RunCheckpoint(cp).run_summary()["status"] == "SUCCESS"
    # re-run with same checkpoint: everything skipped, table unchanged
    v = t.current_version()
    out2 = run_maintenance(
        t, spark, checkpoint_path=cp, merge_source=source,
        target_file_size_bytes=TARGET,
    )
    assert all(
        "skipped" in m for k, m in out2.items() if k != "run_summary"
    )
    assert set(out2["run_summary"]["stages_resumed"]) == {
        "compact", "cluster", "merge", "expire"
    }
    assert t.current_version() == v


def test_run_maintenance_on_success_hook(tmp_path, spark, monkeypatch):
    """T7 success side: on_success fires once with the structured summary
    after a clean run (reference scripts/lambda_success_notification.py:
    26-44 analogue) — and never fires when a stage fails."""
    from aws_medallion_datalake_spark.operators import run as run_mod

    t = make_table(tmp_path, spark, n=200, n_files=6)
    cp = str(tmp_path / "ok.jsonl")
    seen = []
    out = run_maintenance(
        t, spark, checkpoint_path=cp, stages=("compact", "expire"),
        target_file_size_bytes=TARGET, on_success=seen.append,
    )
    assert len(seen) == 1 and seen[0] is out["run_summary"]
    assert seen[0]["stages_run"] == ["compact", "expire"]
    assert seen[0]["checkpoint"] == cp and seen[0]["table_root"] == t.root

    def boom(*a, **k):
        raise RuntimeError("boom")

    monkeypatch.setattr(run_mod, "compact", boom)
    failed = []
    with pytest.raises(RuntimeError):
        run_maintenance(
            t, spark, checkpoint_path=str(tmp_path / "bad.jsonl"),
            stages=("compact",), target_file_size_bytes=TARGET,
            on_success=failed.append,
        )
    assert failed == []
    assert RunCheckpoint(str(tmp_path / "bad.jsonl")).run_summary() is None


def test_run_maintenance_rewrite_manifests_stage(tmp_path, spark):
    """`rewrite_manifests` as a driver stage: compacts an append chain's
    delta-manifest list to one manifest, no-ops when already compact, and
    resumes like every other stage."""
    t = make_table(tmp_path, spark, n=200, n_files=4)
    for i in range(2):
        t.commit(
            "append",
            t.write_files(generate_images(spark, 50, n_files=1, start=500 + 50 * i)),
        )
    assert len(t.snapshot().manifest_paths) == 3
    cp = str(tmp_path / "rm.jsonl")
    out = run_maintenance(t, spark, checkpoint_path=cp, stages=("rewrite_manifests",))
    assert out["rewrite_manifests"]["manifests_in"] == 3
    assert len(t.snapshot().manifest_paths) == 1
    assert t.scan(spark).count() == 300
    # resume skips; a fresh run over the compacted list is a no-op
    out2 = run_maintenance(t, spark, checkpoint_path=cp, stages=("rewrite_manifests",))
    assert "skipped" in out2["rewrite_manifests"]
    out3 = run_maintenance(
        t, spark, checkpoint_path=str(tmp_path / "rm2.jsonl"), stages=("rewrite_manifests",)
    )
    assert out3["rewrite_manifests"]["noop"]


def test_run_maintenance_cli(tmp_path, spark):
    """The spark-submit CLI path: parse args, run stages, print metrics.

    Reuses the live test session via get_session's getOrCreate (the CLI
    builds its own session on a real cluster)."""
    import json
    import contextlib
    import io

    from aws_medallion_datalake_spark.operators import run as run_mod

    t = make_table(tmp_path, spark, n=300, n_files=8)
    src_dir = str(tmp_path / "updates")
    generate_updates(spark, 300, 30, 10, n_files=2).write.parquet(src_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run_mod.main(
            [
                "--table", t.root,
                "--checkpoint", str(tmp_path / "ckpt"),
                "--stages", "compact,cluster,merge,delete,expire",
                "--merge-source", src_dir,
                "--delete-where", '[["phash", "<=", %d]]' % (1 << 59),
                "--target-file-size-mb", "4",
            ]
        )
    metrics = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert set(metrics) == {
        "compact", "cluster", "merge", "delete", "expire", "run_summary"
    }
    assert metrics["run_summary"]["status"] == "SUCCESS"
    assert metrics["merge"]["rows_inserted"] == 10
    assert metrics["merge"]["rows_updated"] == 30
    n_deleted = metrics["delete"].get("rows_deleted", 0)
    assert t.scan(spark).count() == 310 - n_deleted
    assert t.scan(spark, predicates=[("phash", "<=", 1 << 59)]).count() == 0


# ---------------- round-2 behaviors ----------------


def test_compact_preserves_clustering(tmp_path, spark):
    """Compaction after a cluster run must not destroy file key-ranges:
    pack groups concatenate key-adjacent inputs, split groups range-
    partition on the cluster key (VERDICT r1 item 9)."""
    t = make_table(tmp_path, spark, n=900, n_files=12)
    # many SMALL clustered files (disjoint key ranges) ...
    cluster(t, spark, curve="morton", target_file_size_bytes=TARGET // 8)
    q_clustered = clustering_quality(t, "phash")
    n_files_clustered = len(t.manifest_pdf())
    before = table_fingerprint(t, spark)
    # ... packed up to target size: key-adjacent concat, not round-robin
    snap = compact(t, spark, target_file_size_bytes=TARGET)
    assert snap is not None
    assert len(t.manifest_pdf()) < n_files_clustered
    assert table_fingerprint(t, spark) == before
    q_after = clustering_quality(t, "phash")
    # packing adjacent disjoint ranges keeps outputs (near-)disjoint; a
    # round-robin rewrite would push overlap toward 1.0 (with few files
    # per partition a couple of boundary-file overlaps are expected)
    assert q_after <= max(q_clustered * 3, 0.1) + 1e-9


def test_merge_metrics_with_duplicate_target_keys(tmp_path, spark):
    """Plain appends can leave the same key in several files; MERGE metrics
    must count matched DISTINCT keys so rows_inserted never goes negative
    (ADVICE r1), and the swept duplicate copies are reported."""
    t = make_table(tmp_path, spark, n=200, n_files=4)
    # duplicate every key by re-appending the same generated rows
    dup = generate_images(spark, 200, n_files=4, n_dates=2)
    t.commit("append", t.write_files(dup))
    assert t.scan(spark).count() == 400  # 200 keys x 2 copies
    source = generate_updates(spark, 200, n_updates=150, n_inserts=10)
    snap = merge_into(t, spark, source)
    s = snap.summary
    assert s["rows_updated"] == 150
    assert s["rows_inserted"] == 10
    assert s["rows_replaced_dupes"] == 150  # second copy of each matched key
    assert s["rows_inserted"] >= 0
    # data outcome: matched keys deduped to the source row
    final = t.scan(spark)
    assert final.count() == 400 - 2 * 150 + 150 + 10
    assert final.groupBy("image_id").count().filter("count > 2").isEmpty()


def test_cluster_tiles_and_resume(tmp_path, spark, monkeypatch):
    """Tiling bounds per-job fan-out; a killed run resumes finished tiles
    from the checkpoint without rewriting them."""
    t = make_table(tmp_path, spark, n=800, n_files=16)
    before = table_fingerprint(t, spark)
    q_before = clustering_quality(t, "phash")
    cp_path = str(tmp_path / "cluster-run.jsonl")

    import importlib

    cluster_mod = importlib.import_module(
        "aws_medallion_datalake_spark.operators.cluster"
    )
    # force multiple tiles: each tile may produce at most 2 target files
    kwargs = dict(curve="morton", target_file_size_bytes=TARGET // 8,
                  max_files_per_job=2)
    monkeypatch.setattr(tf, "_REWRITE_THREADS", 1)

    real = cluster_mod.Table.new_data_prefix
    calls = {"n": 0}

    def flaky(self):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated executor loss")
        return real(self)

    monkeypatch.setattr(cluster_mod.Table, "new_data_prefix", flaky)
    with pytest.raises(RuntimeError):
        cluster(t, spark, checkpoint=RunCheckpoint(cp_path), **kwargs)
    monkeypatch.setattr(cluster_mod.Table, "new_data_prefix", real)
    done_after_crash = len(RunCheckpoint(cp_path).units_done("cluster"))
    assert done_after_crash >= 1
    assert t.metadata().current_snapshot_id == 1  # no half-commit

    snap = cluster(t, spark, checkpoint=RunCheckpoint(cp_path), **kwargs)
    assert snap.summary["tiles"] > 1
    units = RunCheckpoint(cp_path).units_done("cluster")
    assert len(units) == snap.summary["tiles"]
    assert {"source_snapshot_id", "input_files", "input_records",
            "input_bytes", "output_prefix"} <= set(units[0].keys())
    assert table_fingerprint(t, spark) == before
    # within a tile files are disjoint; cross-tile overlap is inherent to
    # bounded per-job fan-out over unsorted input (same as Iceberg's
    # per-file-group sort) — still a clear win over the unsorted state
    q = clustering_quality(t, "phash")
    assert q < q_before


def test_multilevel_partition_cluster(tmp_path, spark):
    """Multi-level partition spec (the reference's year=/month=/day=
    hive layout, bronze_digit.py:143-148): cluster must order by the
    FULL partition tuple and produce tuple-homogeneous files whose
    manifest prunes on every level."""
    from aws_medallion_datalake_spark.sources.tableformat import prune_manifest

    t = Table.create(
        str(tmp_path / "ml"),
        SCHEMA + ", year string, day string",
        partition_cols=["year", "day"],
        stats_cols=["phash", "w", "h", "year", "day"],
    )
    df = generate_images(spark, 600, n_files=8, n_dates=4).withColumn(
        "year", F.substring("ingest_date", 1, 4)
    ).withColumn("day", F.substring("ingest_date", 9, 2))
    t.commit("append", t.write_files(df))
    before = t.scan(spark).count()
    cluster(t, spark, curve="morton", target_file_size_bytes=TARGET // 8)
    assert t.scan(spark).count() == before
    man = t.manifest_pdf()
    import json

    parts = [json.loads(p) for p in man["partition_json"]]
    homog = [p for p in parts if "__mixed__" not in p.values()]
    # every output file is homogeneous in BOTH levels
    assert len(homog) == len(man)
    # pruning works on the second level too
    days = sorted({p.get("day") for p in homog})
    kept = prune_manifest(man, [("day", "=", days[0])], ["year", "day"])
    assert 0 < len(kept) < len(man)
    q = clustering_quality(t, "phash")
    assert q < 0.2


def test_cluster_udf_route_path(tmp_path, spark):
    """The former >512-files route (a broadcast Arrow UDF) is the one
    Catalyst binary search now: a finer tiling keeps content and
    improves clustering (tests/test_routing.py checks the search itself
    at n_out up to 4096)."""
    t = make_table(tmp_path, spark, n=800, n_files=16)
    before = table_fingerprint(t, spark)
    q_before = clustering_quality(t, "phash")
    cluster(t, spark, curve="morton", target_file_size_bytes=TARGET // 4)
    assert table_fingerprint(t, spark) == before
    assert clustering_quality(t, "phash") < q_before


def _tiling(t, spark, max_files_per_job, want):
    """A target size whose tiling gives exactly the tile ``n_out`` values
    in ``want`` (a sorted list), plus those per-tile values."""
    import importlib

    cm = importlib.import_module("aws_medallion_datalake_spark.operators.cluster")
    census = tf.tuple_census(t, spark, t.manifest_pdf())
    total = int(census["file_size_bytes"].sum())
    for k in range(40, 200):
        target = int(total * 10 / k)
        tiles = cm._plan_tiles(census, target, max_files_per_job)
        n_outs = [tile.n_out for tile in tiles]
        if sorted(n_outs) == want:
            return target, n_outs
    raise AssertionError(f"no target tiles this table into {want}")


def _bounds_spy(monkeypatch):
    """Wrap cluster's bounds job: record each call's tile ids and the
    Spark jobs it ran."""
    import importlib
    import uuid

    cm = importlib.import_module("aws_medallion_datalake_spark.operators.cluster")
    real = cm._tile_bounds
    calls = []

    def spy(spark, keys, n_outs):
        sc = spark.sparkContext
        group = f"cluster-bounds-spy-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "bounds")
        try:
            out = real(spark, keys, n_outs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        calls.append({"tiles": sorted({tile for tile, _ in n_outs}), "jobs": len(jobs)})
        return out

    monkeypatch.setattr(cm, "_tile_bounds", spy)
    return cm, calls


def test_cluster_one_bounds_job_for_mixed_tile_widths(tmp_path, spark, monkeypatch):
    """Tiles that write 2 and 3 files get their range bounds from ONE
    grouped aggregate (no per-tile approxQuantile): content is unchanged,
    every tile writes its n_out files of one date, and within each tile
    the files hold disjoint, near-equal ranges of the routed key.

    The table is 16 files mixing two dates plus 8 pure files of the
    first, so that date holds twice the rows and is tiled wider."""
    from pyspark.sql import DataFrame

    def no_quantile(*a, **k):
        raise AssertionError("per-tile approxQuantile called")

    monkeypatch.setattr(DataFrame, "approxQuantile", no_quantile)
    t = make_table(tmp_path, spark, n=800, n_files=16)
    t.commit("append", t.write_files(
        generate_images(spark, 400, n_files=8, n_dates=1, start=800)))
    before = table_fingerprint(t, spark)
    target, n_outs = _tiling(t, spark, 3, [2, 3])
    cm, calls = _bounds_spy(monkeypatch)
    monkeypatch.setattr(tf, "_REWRITE_THREADS", 2)
    snap = cluster(t, spark, curve="morton", target_file_size_bytes=target,
                   max_files_per_job=3)
    assert table_fingerprint(t, spark) == before
    assert snap.summary["tiles"] == 2
    assert snap.summary["files_out"] == 5
    assert calls == [{"tiles": [0, 1], "jobs": calls[0]["jobs"]}]
    assert 1 <= calls[0]["jobs"] <= 3  # one aggregate: its stages only

    # disjoint routed-key ranges across the files of each tile
    df = t.scan(spark)
    (key,) = t.write_order().exprs()
    low = cm._low(key, True)
    per_file = (
        df.withColumn("ck", low)
        .groupBy(F.col("_metadata.file_path").alias("f"))
        .agg(F.min("ck").alias("lo"), F.max("ck").alias("hi"),
             F.count("*").alias("n"), F.countDistinct("ingest_date").alias("dates"))
        .toPandas()
    )
    assert (per_file["dates"] == 1).all()
    per_file["tile"] = per_file["f"].map(os.path.dirname)
    widths = []
    for _, g in per_file.groupby("tile"):
        g = g.sort_values("lo")
        widths.append(len(g))
        assert (g["hi"].to_numpy()[:-1] < g["lo"].to_numpy()[1:]).all()
        # each file holds near 1/n_out of its tile's rows
        assert g["n"].min() >= 0.6 * g["n"].mean()
    assert sorted(widths) == sorted(n_outs) == [2, 3]


def test_cluster_resume_bounds_only_unfinished_tiles(tmp_path, spark, monkeypatch):
    """A resumed run computes bounds only for tiles the checkpoint does
    not hold, and commits the same content."""
    from aws_medallion_datalake_spark.sources.generator import generate_images

    t = Table.create(str(tmp_path / "flat"), schema_ddl=SCHEMA, stats_cols=STATS)
    t.commit("append", t.write_files(generate_images(spark, 800, n_files=16)))
    before = table_fingerprint(t, spark)
    target, n_outs = _tiling(t, spark, 2, [2, 2, 2, 2])
    cp_path = str(tmp_path / "cluster-run.jsonl")
    kwargs = dict(curve="morton", target_file_size_bytes=target,
                  max_files_per_job=2)
    monkeypatch.setattr(tf, "_REWRITE_THREADS", 1)

    cm, calls = _bounds_spy(monkeypatch)
    real = cm.Table.new_data_prefix
    n = {"calls": 0}

    def flaky(self):
        n["calls"] += 1
        if n["calls"] == 2:
            raise RuntimeError("simulated executor loss")
        return real(self)

    monkeypatch.setattr(cm.Table, "new_data_prefix", flaky)
    with pytest.raises(RuntimeError):
        cluster(t, spark, checkpoint=RunCheckpoint(cp_path), **kwargs)
    monkeypatch.setattr(cm.Table, "new_data_prefix", real)
    done = {
        int(u["key"].rsplit("-", 1)[1])
        for u in RunCheckpoint(cp_path).units_done("cluster")
    }
    assert calls[0]["tiles"] == [0, 1, 2, 3]
    assert 1 <= calls[0]["jobs"] <= 3  # four tiles, still one aggregate
    assert 1 <= len(done) < 4

    snap = cluster(t, spark, checkpoint=RunCheckpoint(cp_path), **kwargs)
    assert calls[1]["tiles"] == sorted({0, 1, 2, 3} - done)
    assert table_fingerprint(t, spark) == before
    assert snap.summary["files_out"] == sum(n_outs) == 8


# ---------------- DELETE + rollback ----------------


def test_delete_where_copy_on_write(tmp_path, spark):
    from aws_medallion_datalake_spark.operators import delete_where

    t = make_table(tmp_path, spark)
    cluster(t, spark, curve="morton", target_file_size_bytes=TARGET)
    before = table_fingerprint(t, spark)
    man_before = t.manifest_pdf()
    lo = int(man_before["min_phash"].min())
    hi = int(man_before["min_phash"].quantile(0.3))
    pred = [("phash", "between", (lo, hi))]
    expect_deleted = t.scan(spark, predicates=pred).count()
    assert expect_deleted > 0

    snap = delete_where(t, spark, pred, target_file_size_bytes=TARGET)
    assert snap is not None and snap.operation == "delete"
    assert snap.summary["rows_deleted"] == expect_deleted
    # clustered table: pruning means only overlapping files rewrote
    assert snap.summary["files_rewritten"] < len(man_before)
    # untouched files keep their identity (true copy-on-write)
    man_after = t.manifest_pdf()
    untouched = set(man_before["path"]) & set(man_after["path"])
    assert len(untouched) == len(man_before) - snap.summary["files_rewritten"]
    # content: rows matching the predicate are gone, everything else kept
    assert t.scan(spark).count() == before[0] - expect_deleted
    assert t.scan(spark, predicates=pred).count() == 0
    # snapshot isolation: the pre-delete snapshot still sees every row
    assert t.scan(spark, snapshot_id=snap.parent_snapshot_id).count() == before[0]
    # no-op delete (range below every file's min) commits nothing
    assert delete_where(t, spark, [("phash", "<=", lo - 1)]) is None


def test_rollback_restores_and_branches(tmp_path, spark):
    t = make_table(tmp_path, spark)
    rows_v1 = t.scan(spark).count()
    sid1 = t.metadata().current_snapshot_id
    t.commit("append", t.write_files(generate_images(spark, 120, n_files=2, start=10000)))
    sid2 = t.metadata().current_snapshot_id
    assert t.scan(spark).count() == rows_v1 + 120

    back = t.rollback(sid1)
    assert back.snapshot_id == sid1
    assert t.scan(spark).count() == rows_v1
    # abandoned snapshot still time-travel readable until expiry
    assert t.scan(spark, snapshot_id=sid2).count() == rows_v1 + 120

    # committing after rollback branches with a FRESH id (no overwrite)
    t.commit("append", t.write_files(generate_images(spark, 60, n_files=1, start=20000)))
    sid3 = t.metadata().current_snapshot_id
    assert sid3 > sid2
    assert t.snapshot(sid3).parent_snapshot_id == sid1
    assert t.scan(spark).count() == rows_v1 + 60
    assert t.scan(spark, snapshot_id=sid2).count() == rows_v1 + 120


def test_stage_failure_notification_and_resume(tmp_path, spark, monkeypatch):
    """T7 parity: a failing stage emits a structured failure record (to
    the checkpoint and the on_stage_failure hook) with layer detection,
    the exception propagates, and a resume re-runs the failed stage."""
    import aws_medallion_datalake_spark.operators.run as run_mod
    from aws_medallion_datalake_spark.operators.run import (
        detect_layer,
        render_failure,
    )

    assert detect_layer("/data/silver/images", "compact") == "SILVER"
    assert detect_layer("/data/x", "gold_rollup") == "GOLD"
    assert detect_layer("/data/x", "compact") == "UNKNOWN"

    t = make_table(tmp_path, spark, n=120, n_files=6)
    cp_path = str(tmp_path / "fail.jsonl")
    seen = []

    def boom(*a, **k):
        raise RuntimeError("synthetic compaction failure")

    monkeypatch.setattr(run_mod, "compact", boom)
    with pytest.raises(RuntimeError, match="synthetic"):
        run_maintenance(
            t, spark, checkpoint_path=cp_path,
            stages=("compact", "expire"),
            target_file_size_bytes=TARGET,
            on_stage_failure=seen.append,
        )
    assert len(seen) == 1
    f = seen[0]
    assert f["stage"] == "compact" and f["error"] == "RuntimeError"
    assert "synthetic compaction failure" in f["cause"]
    assert f["checkpoint"] == cp_path and f["layer"] in ("UNKNOWN", "BRONZE")
    cp = RunCheckpoint(cp_path)
    assert cp.failures() and not cp.is_stage_done("compact")
    # expire never ran (fail-stop ordering)
    assert not cp.is_stage_done("expire")
    # resume with the real operator re-runs the failed stage + the rest
    monkeypatch.undo()
    out = run_maintenance(
        t, spark, checkpoint_path=cp_path, stages=("compact", "expire"),
        target_file_size_bytes=TARGET,
    )
    assert "skipped" not in out["compact"] and "expire" in out
    # failure record is structured in render_failure too
    r = render_failure("merge", ValueError("x"), table_root="/g/gold/t",
                       checkpoint_path="/c")
    assert r["layer"] == "GOLD" and r["error"] == "ValueError"
