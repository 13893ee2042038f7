"""UPDATE ... SET ... WHERE: copy-on-write rewrite, merge-on-read
delete+delta, tri-state WHERE, old-row RHS semantics, snapshot
isolation, CDC visibility."""

import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators import (
    apply_deletes,
    delete_where,
    update_where,
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


def _pred(t, spark):
    lo = t.scan(spark).agg(F.min("phash")).head()[0]
    n = t.scan(spark).filter(F.col("phash") <= lo + 10**17).count()
    return [("phash", "<=", lo + 10**17)], n


def test_cow_update_rewrites_only_touched_files(table, spark):
    preds, n_match = _pred(table, spark)
    assert 0 < n_match < N
    before = set(table.manifest_pdf()["path"])
    snap = update_where(
        table, spark, preds, {"caption": F.concat(F.col("caption"), F.lit(" [x]"))}
    )
    assert snap.operation == "update"
    assert int(snap.summary["rows_updated"]) == n_match
    assert int(snap.summary["files_rewritten"]) <= len(before)
    # untouched files survive verbatim; row count unchanged
    after = set(table.manifest_pdf()["path"])
    assert len(before & after) == len(before) - snap.summary["files_rewritten"]
    assert table.scan(spark).count() == N
    got = table.scan(spark, predicates=preds)
    assert got.count() == n_match
    assert got.filter(F.col("caption").endswith(" [x]")).count() == n_match
    # rows outside the predicate untouched
    assert (
        table.scan(spark).filter(F.col("caption").endswith(" [x]")).count()
        == n_match
    )
    # snapshot isolation: the parent snapshot still reads old captions
    old = table.scan(spark, snapshot_id=snap.parent_snapshot_id)
    assert old.filter(F.col("caption").endswith(" [x]")).count() == 0


def test_update_rhs_sees_old_row_values(table, spark):
    """SET w = h, h = w must swap, not chain."""
    preds, n_match = _pred(table, spark)
    before = {
        r["image_id"]: (r["w"], r["h"])
        for r in table.scan(spark, predicates=preds).collect()
    }
    update_where(table, spark, preds, {"w": "h", "h": "w"})
    after = {
        r["image_id"]: (r["w"], r["h"])
        for r in table.scan(spark, predicates=preds).collect()
    }
    assert set(before) == set(after)
    for k, (w0, h0) in before.items():
        assert after[k] == (h0, w0)


def test_update_tristate_null_predicate_rows_untouched(tmp_path, spark):
    t = Table.create(str(tmp_path / "t2"), SCHEMA, stats_cols=STATS)
    df = generate_images(spark, 60, n_files=2).withColumn(
        "caption",
        F.when(F.col("w") % 3 == 0, F.lit(None).cast("string")).otherwise(
            F.col("caption")
        ),
    )
    t.commit("append", t.write_files(df))
    n_null = t.scan(spark).filter(F.col("caption").isNull()).count()
    assert n_null > 0
    # predicate (caption >= '') is NULL on caption-NULL rows -> they
    # must NOT be updated (SQL tri-state WHERE)
    snap = update_where(t, spark, [("caption", ">=", "")], {"fmt": F.lit("upd")})
    got = t.scan(spark)
    assert got.filter(F.col("caption").isNull()).count() == n_null
    assert (
        got.filter(F.col("caption").isNull() & (F.col("fmt") == "upd")).count() == 0
    )
    assert int(snap.summary["rows_updated"]) == got.filter(
        F.col("fmt") == "upd"
    ).count()


def test_update_casts_to_declared_type_and_validates(table, spark):
    preds, _ = _pred(table, spark)
    # int column assigned a float expr -> cast back to int, schema stable
    before_schema = table.scan(spark).schema
    update_where(table, spark, preds, {"w": "w * 1.0 + 0.9"})
    assert table.scan(spark).schema == before_schema
    with pytest.raises(ValueError, match="unknown column"):
        update_where(table, spark, preds, {"nope": F.lit(1)})
    with pytest.raises(ValueError, match="no predicate"):
        update_where(table, spark, [], {"w": F.lit(1)})
    with pytest.raises(ValueError, match="no assignments"):
        update_where(table, spark, preds, {})


def test_mor_update_zero_rewrite_and_apply(table, spark):
    preds, n_match = _pred(table, spark)
    before_files = set(table.manifest_pdf()["path"])
    snap = update_where(
        table,
        spark,
        preds,
        {"caption": F.concat(F.col("caption"), F.lit(" [mor]"))},
        mode="merge-on-read",
    )
    assert snap.summary["mode"] == "merge-on-read"
    assert int(snap.summary["rows_updated"]) == n_match
    assert int(snap.summary["files_rewritten"]) == 0
    assert snap.summary["delete_files_added"] >= 1
    # data files shared with the parent + a delta prefix of new versions
    assert before_files <= set(table.manifest_pdf()["path"])
    # scan: old versions suppressed, new versions visible, count stable
    assert table.scan(spark).count() == N
    got = table.scan(spark, predicates=preds)
    assert got.filter(F.col("caption").endswith(" [mor]")).count() == n_match
    # parent snapshot unaffected
    old = table.scan(spark, snapshot_id=snap.parent_snapshot_id)
    assert old.filter(F.col("caption").endswith(" [mor]")).count() == 0
    # materialize: counts and values survive, pending set clears
    apply_deletes(table, spark)
    assert table.pending_delete_paths() == []
    assert table.scan(spark).count() == N
    assert (
        table.scan(spark).filter(F.col("caption").endswith(" [mor]")).count()
        == n_match
    )


def test_cow_update_guards_pending_mor_deletes(table, spark):
    preds, _ = _pred(table, spark)
    delete_where(table, spark, preds, mode="merge-on-read")
    with pytest.raises(ValueError, match="pending"):
        update_where(table, spark, [("w", ">=", 0)], {"fmt": F.lit("x")})


def test_mor_update_respects_pending_deletes(table, spark):
    """Rows already MoR-deleted must not be resurrected as updated rows."""
    preds, n_del = _pred(table, spark)
    delete_where(table, spark, preds, mode="merge-on-read")
    snap = update_where(
        table, spark, [("w", ">=", 0)], {"fmt": F.lit("u")}, mode="merge-on-read"
    )
    assert int(snap.summary["rows_updated"]) == N - n_del
    assert table.scan(spark).count() == N - n_del
    assert table.scan(spark).filter(F.col("fmt") == "u").count() == N - n_del


def test_cdc_reads_cow_update_as_pre_post_images(table, spark):
    preds, n_match = _pred(table, spark)
    base = table.snapshot().snapshot_id
    update_where(
        table, spark, preds, {"caption": F.concat(F.col("caption"), F.lit("!"))}
    )
    feed = table.changes_cdc(spark, base, key_cols=["image_id"])
    pre = feed.filter(F.col("_change_type") == "update_preimage")
    post = feed.filter(F.col("_change_type") == "update_postimage")
    assert pre.count() == n_match
    assert post.count() == n_match
    assert post.filter(F.col("caption").endswith("!")).count() == n_match
    # survivors cancel: no spurious insert/delete rows
    assert feed.filter(
        F.col("_change_type").isin("insert", "delete")
    ).count() == 0


def test_cdc_and_changes_read_mor_update(table, spark):
    preds, n_match = _pred(table, spark)
    base = table.snapshot().snapshot_id
    update_where(
        table,
        spark,
        preds,
        {"caption": F.concat(F.col("caption"), F.lit("!"))},
        mode="merge-on-read",
    )
    # append-only feed: the delta rows (new versions), like merge upserts
    inc = table.changes(spark, base)
    assert inc.count() == n_match
    assert inc.filter(F.col("caption").endswith("!")).count() == n_match
    # CDC feed pairs them with the positional-delete suppressions
    feed = table.changes_cdc(spark, base, key_cols=["image_id"])
    assert (
        feed.filter(F.col("_change_type") == "update_postimage").count() == n_match
    )
    assert (
        feed.filter(F.col("_change_type") == "update_preimage").count() == n_match
    )


def test_write_mode_table_properties(tmp_path, spark):
    """Iceberg write.<op>.mode properties: DML defaults resolve from the
    table; an explicit mode= argument wins."""
    from aws_medallion_datalake_spark.operators.merge import merge_into
    from aws_medallion_datalake_spark.sources.generator import generate_images
    from aws_medallion_datalake_spark.sources.tableformat import (
        WRITE_DELETE_MODE_PROP,
        WRITE_MERGE_MODE_PROP,
        WRITE_UPDATE_MODE_PROP,
    )

    t = Table.create(
        str(tmp_path / "wm"),
        SCHEMA,
        stats_cols=STATS,
        properties={
            WRITE_UPDATE_MODE_PROP: "merge-on-read",
            WRITE_DELETE_MODE_PROP: "merge-on-read",
            WRITE_MERGE_MODE_PROP: "merge-on-read",
        },
    )
    t.commit("append", t.write_files(generate_images(spark, 100, n_files=2)))
    files0 = set(t.manifest_pdf()["path"])

    s1 = update_where(t, spark, [("w", ">=", 0)], {"fmt": F.lit("u")})
    assert s1.summary["mode"] == "merge-on-read"
    s2 = delete_where(t, spark, [("fmt", "=", "u")])
    assert s2.summary["mode"] == "merge-on-read"
    src = generate_images(spark, 10, n_files=1, start=5000)
    s3 = merge_into(t, spark, src, key="image_id")
    assert s3.summary.get("mode") == "merge-on-read"
    # none of the three rewrote a data file
    assert files0 <= set(t.manifest_pdf()["path"])
    # explicit argument overrides the table default
    apply_deletes(t, spark)
    s4 = update_where(
        t, spark, [("image_id", ">=", "")], {"fmt": F.lit("c")},
        mode="copy-on-write",
    )
    assert "mode" not in s4.summary or s4.summary["mode"] != "merge-on-read"


# (w values per file) for the mode matrix, against ``w between 10 and 20``:
# fully covered, boundary (a match, a miss and a predicate-NULL row),
# stats false positive, pruned
_MATRIX_FILES = [[10, 11, 12], [15, 25, None], [5, 30], [40]]


def _matrix_table(tmp_path, spark):
    t = Table.create(str(tmp_path / "mx"), SCHEMA, stats_cols=["w", "image_id"])
    i = 0
    for ws in _MATRIX_FILES:
        w = F.lit(None).cast("int")
        for j, v in enumerate(ws):
            w = F.when(F.col("id_n") == i + j, F.lit(v).cast("int")).otherwise(w)
        df = generate_images(spark, len(ws), n_files=1, start=i)
        df = df.withColumn("id_n", F.substring("image_id", 5, 12).cast("int"))
        t.commit("append", t.write_files(df.withColumn("w", w).drop("id_n")))
        i += len(ws)
    return t


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
@pytest.mark.parametrize("op", ["delete", "update"])
def test_row_level_mode_matrix(tmp_path, spark, op, mode):
    """DELETE and UPDATE give the same content and counts in both write
    modes (merge-on-read read before and after ``apply_deletes``) over a
    fully covered file, a boundary file, a stats false positive and a
    predicate-NULL row, which DELETE keeps and UPDATE leaves alone."""
    t = _matrix_table(tmp_path, spark)
    rows = {r["image_id"]: (r["w"], r["caption"]) for r in t.scan(spark).collect()}
    hit = {k for k, (w, _) in rows.items() if w is not None and 10 <= w <= 20}
    assert len(hit) == 4 and any(w is None for w, _ in rows.values())
    preds = [("w", "between", (10, 20))]
    if op == "delete":
        snap = delete_where(t, spark, preds, mode=mode)
        want = {k: v for k, v in rows.items() if k not in hit}
        assert int(snap.summary["rows_deleted"]) == 4
    else:
        snap = update_where(t, spark, preds, {"caption": "'upd'"}, mode=mode)
        want = {k: (w, "upd" if k in hit else c) for k, (w, c) in rows.items()}
        assert int(snap.summary["rows_updated"]) == 4
    assert int(snap.summary["files_candidate"]) == 3
    if mode == "copy-on-write":
        # the false positive is probed, never rewritten; DELETE drops the
        # fully covered file wholesale, UPDATE rewrites it
        assert int(snap.summary["files_rewritten"]) == (1 if op == "delete" else 2)
        if op == "delete":
            assert int(snap.summary["files_dropped_wholesale"]) == 1

    def scanned():
        return {
            r["image_id"]: (r["w"], r["caption"]) for r in t.scan(spark).collect()
        }

    assert scanned() == want
    if mode == "merge-on-read":
        assert apply_deletes(t, spark) is not None
        assert scanned() == want
