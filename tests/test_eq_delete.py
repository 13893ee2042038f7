"""Equality deletes (Iceberg v2's second merge-on-read delete flavor):
value-file writes with zero data IO, scan-side anti-join with sequence
semantics (later inserts of a deleted key survive), guards, apply, GC.
"""

import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators import (
    apply_deletes,
    compact,
    delete_where,
    equality_delete,
    expire_snapshots,
)
from aws_medallion_datalake_spark.sources.generator import SCHEMA, generate_images
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


def _some_ids(t, spark, k=5):
    return sorted(
        r["image_id"] for r in t.scan(spark).select("image_id").limit(k).collect()
    )


def test_equality_delete_hides_rows_without_data_io(table, spark):
    ids = _some_ids(table, spark)
    before_files = set(table.manifest_pdf()["path"])
    snap = equality_delete(table, spark, ids, cols=["image_id"])
    assert snap.summary["mode"] == "equality"
    assert int(snap.summary["delete_values"]) == len(ids)
    assert int(snap.summary["files_rewritten"]) == 0
    # zero data-file churn AND zero manifest churn (manifest list shared)
    assert set(table.manifest_pdf()["path"]) == before_files
    assert table.scan(spark).count() == N - len(ids)
    assert (
        table.scan(spark).filter(F.col("image_id").isin(ids)).count() == 0
    )
    # time travel to the pre-delete snapshot still sees everything
    assert table.scan(spark, snapshot_id=snap.parent_snapshot_id).count() == N
    # column pruning composes with the anti-join
    assert table.scan(spark, columns=["image_id"]).count() == N - len(ids)


def test_later_insert_of_deleted_key_survives(table, spark):
    """Iceberg sequence-number rule: an equality delete only covers files
    that existed when it was committed."""
    ids = _some_ids(table, spark, k=3)
    resurrect = table.scan(spark).filter(F.col("image_id").isin(ids))
    resurrect_rows = resurrect.count()
    assert resurrect_rows == len(ids)
    equality_delete(table, spark, ids, cols=["image_id"])
    assert table.scan(spark).count() == N - len(ids)
    # re-insert the SAME keys: new files postdate the delete → exempt
    table.commit("append", table.write_files(resurrect))
    assert table.scan(spark).count() == N  # old copies gone, new visible
    assert (
        table.scan(spark).filter(F.col("image_id").isin(ids)).count() == len(ids)
    )
    # applying materializes exactly that state
    apply_deletes(table, spark)
    assert table.pending_eq_deletes() == []
    assert table.scan(spark).count() == N
    assert (
        table.scan(spark).filter(F.col("image_id").isin(ids)).count() == len(ids)
    )


def test_multicolumn_equality_delete_via_dataframe(table, spark):
    keys = (
        table.scan(spark)
        .select("fmt", "w")
        .distinct()
        .orderBy("fmt", "w")
        .limit(2)
    )
    n_match = table.scan(spark).join(keys, ["fmt", "w"], "left_semi").count()
    assert n_match > 0
    equality_delete(table, spark, keys, cols=["fmt", "w"])
    assert table.scan(spark).count() == N - n_match
    snap = apply_deletes(table, spark)
    assert int(snap.summary["rows_removed"]) == n_match
    assert table.scan(spark).count() == N - n_match


def test_guards_and_mixed_apply(table, spark):
    ids = _some_ids(table, spark, k=4)
    equality_delete(table, spark, ids, cols=["image_id"])
    with pytest.raises(ValueError, match="apply_deletes"):
        compact(table, spark, target_file_size_bytes=1024 * 1024)
    with pytest.raises(ValueError, match="apply_deletes"):
        delete_where(table, spark, [("w", ">=", 0)])  # copy-on-write
    # a positional delete can coexist; its probe reads THROUGH the
    # pending equality delete so suppressed rows are not re-recorded
    lo = table.scan(spark).agg(F.min("phash")).head()[0]
    preds = [("phash", "<=", lo + 10**17)]
    n_pos = table.scan(spark, predicates=preds).count()
    if n_pos:
        mor = delete_where(table, spark, preds, mode="merge-on-read")
        assert int(mor.summary["rows_deleted"]) == n_pos
    expect = N - len(ids) - n_pos
    assert table.scan(spark).count() == expect
    snap = apply_deletes(table, spark)
    assert int(snap.summary["rows_removed"]) == len(ids) + n_pos
    assert table.pending_delete_paths() == []
    assert table.pending_eq_deletes() == []
    assert table.scan(spark).count() == expect
    assert apply_deletes(table, spark) is None


def test_no_match_values_clear_via_metadata_commit(table, spark):
    equality_delete(table, spark, ["no-such-id-1", "no-such-id-2"], cols=["image_id"])
    assert table.scan(spark).count() == N
    before_files = set(table.manifest_pdf()["path"])
    snap = apply_deletes(table, spark)
    assert int(snap.summary["files_rewritten"]) == 0
    assert table.pending_eq_deletes() == []
    assert set(table.manifest_pdf()["path"]) == before_files
    assert table.scan(spark).count() == N


def test_expire_pins_as_of_snapshot_and_value_files(table, spark):
    ids = _some_ids(table, spark, k=3)
    equality_delete(table, spark, ids, cols=["image_id"])
    table.commit(
        "append", table.write_files(generate_images(spark, 40, n_files=2, start=9000))
    )
    expire_snapshots(table, keep_last=1)
    # the as-of snapshot's manifests and the value file must survive GC:
    # the scan still resolves coverage and suppresses the deleted keys
    assert table.scan(spark).count() == N - len(ids) + 40
    apply_deletes(table, spark)
    expire_snapshots(table, keep_last=1)
    assert table.scan(spark).count() == N - len(ids) + 40


@pytest.mark.parametrize("planner", ["driver", "spark"])
def test_rewrite_manifests_keeps_pending_eq_deletes(table, spark, monkeypatch, planner):
    """A manifest rewrite reorganizes metadata only: on either planner
    path the pending equality deletes carry over, so no deleted row comes
    back."""
    import aws_medallion_datalake_spark.sources.tableformat as tf

    # a second manifest, so the list has something to compact
    table.commit(
        "append", table.write_files(generate_images(spark, 20, n_files=1, start=N))
    )
    equality_delete(table, spark, _some_ids(table, spark, k=10), cols=["image_id"])
    visible = table.scan(spark).count()
    pending = table.pending_eq_deletes()
    assert visible == N + 20 - 10 and pending
    with monkeypatch.context() as m:
        if planner == "spark":
            m.setattr(tf, "SPARK_MANIFEST_THRESHOLD", 0)
        snap = table.rewrite_manifests(spark=spark)
    assert snap is not None and len(table.snapshot().manifest_paths) == 1
    assert snap.summary.get("spark_path") == ("true" if planner == "spark" else None)
    assert table.pending_eq_deletes() == pending
    assert table.scan(spark).count() == visible
