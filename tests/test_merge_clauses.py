"""MERGE clause surface: conditional WHEN MATCHED, insert suppression and
filtering, WHEN NOT MATCHED BY SOURCE DELETE — SQL:2003 / Delta parity in
both write modes (reference writes only blind overwrites,
/root/reference/scripts/silver_digit_clean.py:127; the clause surface is
the north_rule MERGE generalized).

Clause cases run on both source kinds: a computed frame takes the
persisted key path, a parquet-file source the driver-held one, and every
kind and mode must give the same content and the same counts."""

import pytest
from pyspark.sql import functions as F
from test_fixed_costs import _file_source

from aws_medallion_datalake_spark.operators import merge_into
from aws_medallion_datalake_spark.sources.generator import (
    SCHEMA,
    generate_images,
    generate_updates,
)
from aws_medallion_datalake_spark.sources.tableformat import Table

STATS = ["phash", "w", "h", "image_id"]
COLS = ["image_id", "caption", "phash"]


def make_table(tmp_path, spark, n=200, n_files=8) -> Table:
    t = Table.create(
        str(tmp_path / "images"),
        schema_ddl=SCHEMA,
        partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    t.commit(
        "append",
        t.write_files(generate_images(spark, n, n_files=n_files, n_dates=2)),
        {"stage": "bronze"},
    )
    return t


SOURCES = ["computed", "file"]


def cases(*modes):
    """Parametrize ``mode, kind`` over ``modes`` and both source kinds;
    the computed source keeps the bare mode as its test id."""
    return pytest.mark.parametrize(
        "mode, kind",
        [
            pytest.param(m, k, id=m if k == "computed" else f"{m}-file")
            for k in SOURCES
            for m in modes
        ],
    )


def as_source(kind, spark, tmp_path, df):
    """``df`` as a MERGE source of ``kind`` (``"file"``: parquet written
    and read back, small enough for the driver-held path)."""
    return df.cache() if kind == "computed" else _file_source(spark, tmp_path, df)


def assert_counts(snap, kind, updated, inserted, deleted=0, nmbs=0):
    s = snap.summary
    got = tuple(
        s[k] for k in (
            "rows_updated", "rows_inserted", "rows_deleted", "rows_nmbs_deleted"
        )
    )
    assert got == (updated, inserted, deleted, nmbs)
    if kind == "file":  # the held path counts its keys without a job
        assert "count_matched" not in s["phase_sec"]


def assert_same(actual, expected):
    assert actual.exceptAll(expected).isEmpty()
    assert expected.exceptAll(actual).isEmpty()


def expected_state(before, src, affected_keys, insert_keys):
    """Reference MERGE algebra over (image_id, caption, phash)."""
    return (
        before.join(affected_keys, "image_id", "left_anti")
        .unionByName(
            src.join(affected_keys, "image_id", "left_semi").select(COLS)
        )
        .unionByName(
            src.join(insert_keys, "image_id", "left_semi").select(COLS)
        )
    )


@cases("copy-on-write", "merge-on-read")
def test_matched_condition_target_cols(tmp_path, spark, mode, kind):
    """WHEN MATCHED AND <target cond> THEN UPDATE: only matched rows
    satisfying the condition are replaced; the rest keep their old
    captions; unmatched source rows insert."""
    t = make_table(tmp_path, spark)
    before = t.scan(spark).select(COLS).cache()
    src = as_source(
        kind, spark, tmp_path, generate_updates(spark, 200, n_updates=60, n_inserts=15)
    )
    cond = "pmod(phash, 2) = 0"

    matched_keys = before.join(src, "image_id", "left_semi").select("image_id")
    affected_keys = (
        before.filter(F.expr(cond))
        .join(src, "image_id", "left_semi")
        .select("image_id")
        .distinct()
        .cache()
    )
    insert_keys = src.join(before, "image_id", "left_anti").select("image_id")
    n_affected = affected_keys.count()
    assert 0 < n_affected < 60  # the condition must actually split

    snap = merge_into(t, spark, src, matched_condition=cond, mode=mode)
    assert_counts(snap, kind, n_affected, 15)
    assert_same(
        t.scan(spark).select(COLS),
        expected_state(before, src, affected_keys, insert_keys),
    )
    before.unpersist()
    src.unpersist()
    affected_keys.unpersist()


@cases("copy-on-write", "merge-on-read")
def test_matched_condition_src_ref_false(tmp_path, spark, mode, kind):
    """A src_-referencing condition that never holds: zero updates, zero
    rewrites — matched source rows are dropped, inserts still land."""
    t = make_table(tmp_path, spark)
    before = t.scan(spark).select(COLS).cache()
    src = as_source(
        kind, spark, tmp_path, generate_updates(spark, 200, n_updates=40, n_inserts=10)
    )
    snap = merge_into(
        t, spark, src, matched_condition="src_caption = caption", mode=mode
    )
    assert_counts(snap, kind, 0, 10)
    assert snap.summary["files_rewritten"] == 0
    inserts = src.join(before, "image_id", "left_anti").select("image_id")
    assert_same(
        t.scan(spark).select(COLS),
        expected_state(before, src, inserts.limit(0), inserts),
    )
    before.unpersist()


@cases("copy-on-write")
def test_matched_condition_src_ref_true_cow(tmp_path, spark, mode, kind):
    """src_caption <> caption holds for every update row (captions get a
    rev suffix) — equivalent to the unconditional upsert."""
    t = make_table(tmp_path, spark)
    before = t.scan(spark).select(COLS).cache()
    src = as_source(
        kind, spark, tmp_path, generate_updates(spark, 200, n_updates=40, n_inserts=10)
    )
    snap = merge_into(
        t, spark, src, matched_condition="src_caption <> caption", mode=mode
    )
    assert_counts(snap, kind, 40, 10)
    matched = before.join(src, "image_id", "left_semi").select("image_id")
    inserts = src.join(before, "image_id", "left_anti").select("image_id")
    assert_same(
        t.scan(spark).select(COLS),
        expected_state(before, src, matched, inserts),
    )
    before.unpersist()
    src.unpersist()


@cases("copy-on-write", "merge-on-read")
def test_when_not_matched_ignore(tmp_path, spark, mode, kind):
    """Updates apply, inserts suppressed."""
    t = make_table(tmp_path, spark)
    before = t.scan(spark).select(COLS).cache()
    src = as_source(
        kind, spark, tmp_path, generate_updates(spark, 200, n_updates=30, n_inserts=25)
    )
    snap = merge_into(t, spark, src, when_not_matched="ignore", mode=mode)
    assert_counts(snap, kind, 30, 0)
    matched = before.join(src, "image_id", "left_semi").select("image_id")
    assert_same(
        t.scan(spark).select(COLS),
        expected_state(before, src, matched, matched.limit(0)),
    )
    # the updated captions did land
    assert (
        t.scan(spark).filter(F.col("caption").endswith("(rev2)")).count() == 30
    )
    before.unpersist()


@cases("copy-on-write", "merge-on-read")
def test_not_matched_condition_filters_inserts(tmp_path, spark, mode, kind):
    t = make_table(tmp_path, spark)
    src = as_source(
        kind, spark, tmp_path, generate_updates(spark, 200, n_updates=20, n_inserts=30)
    )
    before = t.scan(spark).select(COLS).cache()
    cond = "pmod(phash, 2) = 1"
    insert_keys = (
        src.join(before, "image_id", "left_anti").filter(F.expr(cond))
        .select("image_id").cache()
    )
    exp_ins = insert_keys.count()
    assert 0 < exp_ins < 30
    snap = merge_into(t, spark, src, not_matched_condition=cond, mode=mode)
    assert_counts(snap, kind, 20, exp_ins)
    matched = before.join(src, "image_id", "left_semi").select("image_id")
    assert_same(
        t.scan(spark).select(COLS),
        expected_state(before, src, matched, insert_keys),
    )
    before.unpersist()
    insert_keys.unpersist()


@cases("copy-on-write", "merge-on-read")
def test_insert_only_merge(tmp_path, spark, mode, kind):
    """when_matched='ignore': matched target rows keep their old payload."""
    t = make_table(tmp_path, spark)
    before = t.scan(spark).select(COLS).cache()
    src = as_source(
        kind, spark, tmp_path, generate_updates(spark, 200, n_updates=30, n_inserts=10)
    )
    snap = merge_into(t, spark, src, when_matched="ignore", mode=mode)
    assert_counts(snap, kind, 0, 10)
    assert snap.summary["files_rewritten"] == 0
    inserts = src.join(before, "image_id", "left_anti").select("image_id")
    assert_same(
        t.scan(spark).select(COLS),
        expected_state(before, src, inserts.limit(0), inserts),
    )
    # no (rev2) caption appears on pre-existing ids
    assert (
        t.scan(spark).filter(F.col("caption").endswith("(rev2)")).count() == 0
    )
    before.unpersist()


@cases("copy-on-write", "merge-on-read")
def test_nmbs_full_sync(tmp_path, spark, mode, kind):
    """update + insert + NOT MATCHED BY SOURCE DELETE == make target
    mirror the source exactly."""
    t = make_table(tmp_path, spark)
    # source: updated copies of half the table + some fresh rows
    src = as_source(
        kind, spark, tmp_path, generate_updates(spark, 200, n_updates=100, n_inserts=40)
    )
    snap = merge_into(
        t, spark, src, when_not_matched_by_source="delete", mode=mode
    )
    assert_counts(snap, kind, 100, 40, deleted=200 - 100, nmbs=100)
    assert_same(t.scan(spark).select(COLS), src.select(COLS))
    if mode == "merge-on-read":
        assert snap.summary["files_rewritten"] == 0
        assert t.pending_delete_paths()
    src.unpersist()


@cases("copy-on-write", "merge-on-read")
def test_nmbs_condition_scopes_deletes(tmp_path, spark, mode, kind):
    t = make_table(tmp_path, spark)
    a_date = t.scan(spark).select("ingest_date").first()["ingest_date"]
    before = t.scan(spark).cache()
    src = as_source(
        kind, spark, tmp_path, generate_updates(spark, 200, n_updates=50, n_inserts=0)
    )
    cond = f"ingest_date = '{a_date}'"
    exp_del = (
        before.filter(F.expr(cond))
        .join(src, "image_id", "left_anti")
        .count()
    )
    assert exp_del > 0
    snap = merge_into(
        t,
        spark,
        src,
        when_not_matched_by_source="delete",
        not_matched_by_source_condition=cond,
        mode=mode,
    )
    assert_counts(snap, kind, 50, 0, deleted=exp_del, nmbs=exp_del)
    # matched rows take the source version; unmatched rows survive
    # outside the scoped date
    kept = before.filter(~F.expr(cond)).join(src, "image_id", "left_anti")
    assert_same(
        t.scan(spark).select(COLS),
        kept.select(COLS).unionByName(src.select(COLS)),
    )
    before.unpersist()


def test_sql_merge_clause_surface(tmp_path, spark):
    from aws_medallion_datalake_spark.sqlcmd import EngineSQL, SQLCommandError

    t = make_table(tmp_path, spark)
    eng = EngineSQL(spark, {"images": t})
    generate_updates(spark, 200, n_updates=50, n_inserts=20).createOrReplaceTempView(
        "fixes"
    )
    res = eng.sql(
        """MERGE INTO images USING fixes ON image_id
           WHEN MATCHED AND src_caption <> caption THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE THEN DELETE"""
    ).first()
    assert res["rows_updated"] == 50
    assert res["rows_inserted"] == 20
    assert res["rows_deleted"] == 150
    assert t.scan(spark).count() == 70

    # SQL semantics: with clauses present, unstated actions are no-ops
    generate_updates(spark, 200, n_updates=5, n_inserts=7).createOrReplaceTempView(
        "more"
    )
    res = eng.sql(
        "MERGE INTO images USING more ON image_id WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert res["rows_updated"] == 0
    with pytest.raises(SQLCommandError):
        eng.sql("MERGE INTO images USING more ON image_id WHEN MATCHED THEN INSERT")


def test_clause_validation(tmp_path, spark):
    t = make_table(tmp_path, spark, n=20, n_files=2)
    src = generate_updates(spark, 20, n_updates=5, n_inserts=2)
    with pytest.raises(ValueError, match="no column"):
        merge_into(t, spark, src, matched_condition="src_nonexistent > 1")
    with pytest.raises(ValueError, match="every clause a no-op"):
        merge_into(
            t, spark, src, when_matched="ignore", when_not_matched="ignore"
        )
    with pytest.raises(ValueError, match="src_ references"):
        merge_into(
            t,
            spark,
            src,
            when_not_matched_by_source="delete",
            not_matched_by_source_condition="src_caption <> caption",
        )
    with pytest.raises(ValueError, match="when_matched"):
        merge_into(t, spark, src, when_matched="upsert")


def test_nmbs_then_changes_cdc(tmp_path, spark):
    """The CDC changelog reads a clause merge correctly: deletes for the
    synced-out rows, inserts for updates+inserts."""
    t = make_table(tmp_path, spark)
    s0 = t.snapshot().snapshot_id
    src = generate_updates(spark, 200, n_updates=80, n_inserts=10).cache()
    merge_into(t, spark, src, when_not_matched_by_source="delete")
    ch = t.changes_cdc(spark, from_snapshot_id=s0)
    dels = ch.filter(F.col("_change_type") == "delete").count()
    ins = ch.filter(F.col("_change_type") == "insert").count()
    # 120 synced-out + 80 replaced pre-images vanish; 80 post + 10 new land
    assert dels == 200
    assert ins == 90
    src.unpersist()


def test_merge_fully_disjoint_source_is_pure_insert(tmp_path, spark):
    """Source keys that overlap NO target file (stats-pruned probe finds
    zero candidates) must degrade to a pure insert — regression: the
    fully-pruned scan used to return a createDataFrame([]) relation on
    which the probe's _metadata.file_path projection failed to analyze."""
    t = make_table(tmp_path, spark, n=60)
    src = generate_images(spark, 10, n_files=1, start=500000)
    snap = merge_into(t, spark, src)
    assert int(snap.summary["rows_inserted"]) == 10
    assert int(snap.summary["rows_updated"]) == 0
    assert t.scan(spark).count() == 70


@pytest.mark.parametrize("kind", ["computed", "file"])
def test_merge_casts_the_source_to_declared_types(tmp_path, spark, kind):
    """A source column of another type than the table declares is cast
    to the declared type, by name, before MERGE plans: ``id * 0.5`` is
    ``decimal(22,1)``, and the table's ``x`` is a double. Before, the
    commit's manifest write raised ``ArrowInvalid`` on the decimal
    stats, after the rewrite had run."""
    import pyarrow.parquet as pq

    t = Table.create(str(tmp_path / "t"), "id bigint, x double", stats_cols=["id", "x"])
    t.append(spark.range(10).selectExpr("id", "CAST(id AS double) AS x").coalesce(1))
    src = spark.range(5, 15).select("id", F.expr("id * 0.5").alias("x"))
    assert dict(src.dtypes)["x"].startswith("decimal")
    snap = merge_into(t, spark, as_source(kind, spark, tmp_path, src), key="id")
    assert (snap.summary["rows_updated"], snap.summary["rows_inserted"]) == (5, 5)
    got = sorted(tuple(r) for r in t.scan(spark).collect())
    assert got == [(i, float(i)) for i in range(5)] + [(i, i * 0.5) for i in range(5, 15)]
    assert dict(t.scan(spark).dtypes)["x"] == "double"
    for p in t.manifest_pdf()["path"]:
        schema = pq.read_schema(f"{t.root}/{p}")
        assert str(schema.field("x").type) == "double", p
