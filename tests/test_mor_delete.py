"""Merge-on-read deletes: positional delete files, scan anti-join,
apply_deletes materialization, and rewrite-operator guards."""

import os

import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators import (
    apply_deletes,
    compact,
    delete_where,
    expire_snapshots,
    update_where,
)
from aws_medallion_datalake_spark.operators.merge import merge_into
from aws_medallion_datalake_spark.sources.generator import (
    SCHEMA,
    generate_images,
    generate_updates,
)
from aws_medallion_datalake_spark.sources.tableformat import Table

STATS = ["phash", "w", "h", "image_id", "ingest_date"]
N = 200


@pytest.fixture()
def table(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "tbl"), SCHEMA, partition_cols=["ingest_date"], stats_cols=STATS
    )
    t.commit("append", t.write_files(generate_images(spark, N, n_files=8)))
    return t


def _pred(t, spark):
    """A predicate matching a sparse, known subset: one specific phash range."""
    lo = t.scan(spark).agg(F.min("phash")).head()[0]
    n = t.scan(spark).filter(F.col("phash") <= lo + 10**17).count()
    return [("phash", "<=", lo + 10**17)], n


def test_mor_delete_hides_rows_without_rewriting(table, spark):
    preds, n_match = _pred(table, spark)
    assert 0 < n_match < N
    before_files = set(table.manifest_pdf()["path"])
    snap = delete_where(table, spark, preds, mode="merge-on-read")
    assert snap.summary["mode"] == "merge-on-read"
    assert int(snap.summary["rows_deleted"]) == n_match
    assert int(snap.summary["files_rewritten"]) == 0
    # zero data-file churn AND zero manifest churn (manifest list shared)
    assert set(table.manifest_pdf()["path"]) == before_files
    assert table.scan(spark).count() == N - n_match
    assert table.scan(spark, predicates=preds).count() == 0
    # time travel to the pre-delete snapshot still sees everything
    assert table.scan(spark, snapshot_id=snap.parent_snapshot_id).count() == N
    # column pruning composes with the anti-join
    assert table.scan(spark, columns=["image_id"]).count() == N - n_match


def test_mor_delete_is_idempotent_and_appends_inherit(table, spark):
    preds, n_match = _pred(table, spark)
    delete_where(table, spark, preds, mode="merge-on-read")
    # same predicate again: every matching row is already suppressed →
    # the probe (which reads THROUGH the delete set) finds nothing
    assert delete_where(table, spark, preds, mode="merge-on-read") is None
    # appends carry the pending set forward
    table.commit(
        "append", table.write_files(generate_images(spark, 50, n_files=2, start=9000))
    )
    assert table.pending_delete_paths()
    assert table.scan(spark).count() == N - n_match + 50


def test_apply_deletes_materializes_and_clears(table, spark):
    preds, n_match = _pred(table, spark)
    mor = delete_where(table, spark, preds, mode="merge-on-read")
    snap = apply_deletes(table, spark)
    assert int(snap.summary["rows_removed"]) == n_match
    assert table.pending_delete_paths() == []
    assert table.scan(spark).count() == N - n_match
    # physical-only: incremental consumers see no new rows from it
    assert table.changes(spark, mor.snapshot_id).count() == 0
    # the MoR snapshot still reads with its deletes applied (time travel)
    assert table.scan(spark, snapshot_id=mor.snapshot_id).count() == N - n_match
    # second apply is a no-op
    assert apply_deletes(table, spark) is None


def test_rewrites_guarded_while_deletes_pending(table, spark):
    preds, _ = _pred(table, spark)
    delete_where(table, spark, preds, mode="merge-on-read")
    with pytest.raises(ValueError, match="apply_deletes"):
        compact(table, spark, target_file_size_bytes=1024 * 1024)
    with pytest.raises(ValueError, match="apply_deletes"):
        merge_into(table, spark, generate_updates(spark, N, 10, 5, n_files=1))
    with pytest.raises(ValueError, match="apply_deletes"):
        delete_where(table, spark, [("w", ">=", 0)])  # copy-on-write
    # after materializing, the same ops run
    apply_deletes(table, spark)
    assert compact(table, spark, target_file_size_bytes=64 * 1024 * 1024) is not None


@pytest.mark.parametrize("via", ["argument", "property"])
@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_unknown_write_mode_raises_before_any_write(table, spark, op, via):
    """A bad ``mode=`` argument and a bad ``write.<op>.mode`` property
    both raise before the operation writes or commits anything."""
    run = {
        "delete": lambda **kw: delete_where(table, spark, [("w", "=", 32)], **kw),
        "update": lambda **kw: update_where(
            table, spark, [("w", "=", 32)], {"caption": "'x'"}, **kw
        ),
        "merge": lambda **kw: merge_into(
            table, spark, generate_updates(spark, N, 10, 5, n_files=1), **kw
        ),
    }[op]
    kw = {"mode": "merge-on-write"}
    if via == "property":
        table.set_properties({f"write.{op}.mode": "Merge-On-Write"})
        kw = {}
    head = table.snapshot().snapshot_id
    data = set(os.listdir(table.data_dir))
    with pytest.raises(ValueError, match="'copy-on-write' or 'merge-on-read'"):
        run(**kw)
    assert table.snapshot().snapshot_id == head
    assert set(os.listdir(table.data_dir)) == data


def test_expire_keeps_pending_delete_files(table, spark):
    preds, n_match = _pred(table, spark)
    delete_where(table, spark, preds, mode="merge-on-read")
    table.commit(
        "append", table.write_files(generate_images(spark, 20, n_files=1, start=9500))
    )
    r = expire_snapshots(table, keep_last=1)
    assert r["expired_snapshots"]
    # the delete files survive GC and the scan still suppresses the rows
    for rel in table.pending_delete_paths():
        assert os.path.exists(os.path.join(table.root, rel))
    assert table.scan(spark).count() == N - n_match + 20


def test_rewrite_delete_files_compacts_the_set(table, spark):
    lo = table.scan(spark).agg(F.min("phash")).head()[0]
    hi = table.scan(spark).agg(F.max("phash")).head()[0]
    step = (hi - lo) // 8
    for i in range(3):  # three separate MoR deletes → three delete files+
        delete_where(
            table,
            spark,
            [("phash", "between", (lo + i * step, lo + i * step + step - 1))],
            mode="merge-on-read",
        )
    visible = table.scan(spark).count()
    n_pend = len(table.pending_delete_paths())
    assert n_pend >= 3
    from aws_medallion_datalake_spark.operators import rewrite_delete_files

    snap = rewrite_delete_files(table, spark)
    assert int(snap.summary["delete_files_in"]) == n_pend
    assert len(table.pending_delete_paths()) == 1
    # purely physical: same suppressed rows, same data files
    assert table.scan(spark).count() == visible
    assert table.changes(spark, snap.parent_snapshot_id).count() == 0
    # below min_files it's a no-op
    assert rewrite_delete_files(table, spark) is None
    # apply still clears everything
    apply_deletes(table, spark)
    assert table.pending_delete_paths() == []
    assert table.scan(spark).count() == visible
