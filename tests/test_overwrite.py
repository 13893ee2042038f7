"""Dynamic partition overwrite + REPLACE WHERE: atomicity, wholesale
file drops vs boundary rewrites, validation, CDC visibility."""

import os

import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators import overwrite as overwrite_mod
from aws_medallion_datalake_spark.operators.delete import delete_where
from aws_medallion_datalake_spark.operators.overwrite import (
    overwrite_partitions,
    replace_where,
)
from aws_medallion_datalake_spark.sources.generator import SCHEMA, generate_images
from aws_medallion_datalake_spark.sources.tableformat import Table

STATS = ["phash", "w", "h", "image_id", "ingest_date"]
N = 200
DATES = 4


def _routed(df):
    """Partition-homogeneous input files (range-routed on the date)."""
    return df.repartitionByRange(DATES, "ingest_date")


@pytest.fixture()
def table(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "tbl"), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    t.commit(
        "append", t.write_files(_routed(generate_images(spark, N, n_files=8)))
    )
    return t


_JAN2 = ("ingest_date", "=", "2024-01-02")


def _fresh_day(spark, n=30):
    """A refresh frame that lives entirely on one existing date."""
    return (
        generate_images(spark, n, n_files=2, start=9000)
        .withColumn("ingest_date", F.lit("2024-01-02"))
    )


def test_overwrite_partitions_replaces_only_touched_date(table, spark):
    per_date = {
        r["ingest_date"]: r["n"]
        for r in table.scan(spark).groupBy("ingest_date").agg(
            F.count("*").alias("n")
        ).collect()
    }
    before_paths = set(table.manifest_pdf()["path"])
    snap = overwrite_partitions(table, spark, _fresh_day(spark, 30))
    assert snap.operation == "overwrite"
    assert snap.summary["partitions_replaced"] == 1
    assert snap.summary["rows_inserted"] == 30
    got = {
        r["ingest_date"]: r["n"]
        for r in table.scan(spark).groupBy("ingest_date").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert got["2024-01-02"] == 30
    for d, n in per_date.items():
        if d != "2024-01-02":
            assert got[d] == n
    # the refreshed date's rows are exactly the incoming frame
    assert (
        table.scan(spark, predicates=[("ingest_date", "=", "2024-01-02")])
        .filter(F.col("image_id").isin(
            [r["image_id"] for r in _fresh_day(spark, 30).collect()]
        ))
        .count()
        == 30
    )
    # homogeneous input files: untouched dates' files survive verbatim
    after_paths = set(table.manifest_pdf()["path"])
    assert snap.summary["files_dropped_wholesale"] >= 1
    assert before_paths - after_paths  # something was dropped
    # snapshot isolation
    assert (
        table.scan(spark, snapshot_id=snap.parent_snapshot_id).count() == N
    )


def test_overwrite_partitions_rewrites_mixed_boundary_files(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "mx"), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    # NO routing: every file holds all 4 dates ("__mixed__" stats)
    t.commit("append", t.write_files(generate_images(spark, N, n_files=4)))
    snap = overwrite_partitions(t, spark, _fresh_day(spark, 10))
    assert snap.summary["files_rewritten"] >= 1
    got = {
        r["ingest_date"]: r["n"]
        for r in t.scan(spark).groupBy("ingest_date").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert got["2024-01-02"] == 10
    # other dates keep all their rows despite living in rewritten files
    assert sum(n for d, n in got.items() if d != "2024-01-02") == N - N // DATES


def _ids_by_date(df) -> dict:
    out: dict = {}
    for r in df.select("ingest_date", "image_id").collect():
        out.setdefault(r["ingest_date"], set()).add(r["image_id"])
    return out


def _read_spy(monkeypatch) -> list:
    """Path lists of every ``Table.read_data`` call."""
    calls = []
    orig = Table.read_data

    def spy(self, spark_, paths, meta=None):
        calls.append(list(paths))
        return orig(self, spark_, paths, meta=meta)

    monkeypatch.setattr(Table, "read_data", spy)
    return calls


def _reads_written(calls, t, snap) -> bool:
    prefix = os.path.join(t.root, snap.summary["insert_prefix"])
    return any(c and all(p.startswith(prefix) for p in c) for c in calls)


def _assert_replaced(t, spark, before: dict, want: dict) -> None:
    """Dates in ``want`` hold exactly its ids; every other date is as
    ``before``."""
    got = _ids_by_date(t.scan(spark))
    for d in set(before) | set(want):
        assert got.get(d) == want.get(d, before.get(d)), d


def test_overwrite_partitions_plans_homogeneous_files_from_stats(
    table, spark, monkeypatch
):
    calls = _read_spy(monkeypatch)
    snap = overwrite_partitions(table, spark, _fresh_day(spark, 12))
    assert snap.summary["partitions_replaced"] == 1
    assert not _reads_written(calls, table, snap)


def test_overwrite_partitions_straddling_written_files(table, spark, monkeypatch):
    """One written file holds two dates: its stats cannot name the
    tuples, so the plan takes a distinct over the written files."""
    before = _ids_by_date(table.scan(spark))
    incoming = (
        generate_images(spark, 24, n_files=1, start=9000)
        .filter(F.col("ingest_date").isin("2024-01-02", "2024-01-03"))
        .coalesce(1)
    )
    want = _ids_by_date(incoming)
    assert len(want) == 2
    calls = _read_spy(monkeypatch)
    snap = overwrite_partitions(table, spark, incoming)
    assert snap.summary["partitions_replaced"] == 2
    assert _reads_written(calls, table, snap)
    _assert_replaced(table, spark, before, want)


def test_overwrite_partitions_null_and_value_in_one_file(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "nl"), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    t.commit("append", t.write_files(_routed(generate_images(spark, N, n_files=8))))
    t.commit(
        "append",
        t.write_files(
            generate_images(spark, 6, n_files=1, start=8000).withColumn(
                "ingest_date", F.lit(None).cast("string")
            )
        ),
    )
    before = _ids_by_date(t.scan(spark))
    assert len(before[None]) == 6
    incoming = (
        generate_images(spark, 5, n_files=1, start=9100)
        .withColumn("ingest_date", F.lit(None).cast("string"))
        .unionByName(
            generate_images(spark, 5, n_files=1, start=9200).withColumn(
                "ingest_date", F.lit("2024-01-02")
            )
        )
        .coalesce(1)
    )
    snap = overwrite_partitions(t, spark, incoming)
    assert snap.summary["partitions_replaced"] == 2
    _assert_replaced(t, spark, before, _ids_by_date(incoming))


def test_overwrite_partitions_non_deterministic_partition_values(table, spark):
    """The plan reads the tuples the write produced, so a ``rand()``
    partition value cannot make plan and write disagree."""
    before = _ids_by_date(table.scan(spark))
    incoming = generate_images(spark, 40, n_files=2, start=9300).withColumn(
        "ingest_date",
        F.when(F.rand() < 0.5, "2024-01-02").otherwise("2024-01-03"),
    )
    snap = overwrite_partitions(table, spark, incoming)
    written = _ids_by_date(
        spark.read.parquet(os.path.join(table.root, snap.summary["insert_prefix"]))
    )
    assert sum(len(v) for v in written.values()) == 40
    assert snap.summary["partitions_replaced"] == len(written)
    _assert_replaced(table, spark, before, written)


def test_overwrite_partitions_tuple_cap_leaves_no_data_prefix(
    table, spark, monkeypatch
):
    monkeypatch.setattr(overwrite_mod, "_MAX_TOUCHED_TUPLES", 1)
    prefixes = set(os.listdir(table.data_dir))
    head = table.snapshot().snapshot_id
    with pytest.raises(ValueError, match="partition tuples"):
        overwrite_partitions(
            table, spark, generate_images(spark, 8, n_files=1, start=9400)
        )
    assert set(os.listdir(table.data_dir)) == prefixes
    assert table.snapshot().snapshot_id == head


@pytest.mark.parametrize(
    "where", ["plan", "commit", "commit-mixed", "commit-replace_where"]
)
def test_overwrite_partitions_failure_before_commit_leaves_no_data_prefix(
    table, spark, tmp_path, monkeypatch, where
):
    """A failure before the commit lands removes every prefix the call
    wrote. ``-mixed``: every file of the table spans all dates, so the
    overwrite also keep-rewrites them; ``-replace_where``: the same
    failure under REPLACE WHERE, which keep-rewrites the same files."""
    if where.startswith("commit-"):
        table = Table.create(
            str(tmp_path / "mixed"), SCHEMA, partition_cols=["ingest_date"],
            stats_cols=STATS,
        )
        table.commit(
            "append", table.write_files(generate_images(spark, 80, n_files=4))
        )
        man = table.manifest_pdf()
        assert (man["min_ingest_date"] < man["max_ingest_date"]).all()

    def boom(*args, **kwargs):
        raise RuntimeError(where)

    if where == "plan":
        monkeypatch.setattr(overwrite_mod, "_written_tuples", boom)
    else:
        monkeypatch.setattr(table, "commit", boom)
    prefixes = set(os.listdir(table.data_dir))
    head = table.snapshot().snapshot_id
    with pytest.raises(RuntimeError, match=where):
        if where.endswith("replace_where"):
            replace_where(table, spark, _fresh_day(spark, 8), [_JAN2])
        else:
            overwrite_partitions(table, spark, _fresh_day(spark, 8))
    assert set(os.listdir(table.data_dir)) == prefixes
    assert table.snapshot().snapshot_id == head


def test_overwrite_partitions_unpartitioned_is_full_replace(tmp_path, spark):
    t = Table.create(str(tmp_path / "up"), SCHEMA, stats_cols=STATS)
    t.commit("append", t.write_files(generate_images(spark, 50, n_files=2)))
    snap = overwrite_partitions(
        t, spark, generate_images(spark, 20, n_files=1, start=7000)
    )
    assert snap.summary["partitions_replaced"] == -1
    assert t.scan(spark).count() == 20


def test_overwrite_partitions_refuses_pending_mor_deletes(table, spark):
    lo = table.scan(spark).agg(F.min("phash")).head()[0]
    delete_where(
        table, spark, [("phash", "<=", lo)], mode="merge-on-read"
    )
    with pytest.raises(ValueError, match="apply_deletes"):
        overwrite_partitions(table, spark, _fresh_day(spark, 5))


def test_replace_where_atomic_delete_plus_insert(table, spark):
    n_jan2 = table.scan(
        spark, predicates=[("ingest_date", "=", "2024-01-02")]
    ).count()
    n_snapshots = len(table.metadata().snapshots)
    snap = replace_where(
        table, spark, _fresh_day(spark, 12),
        [("ingest_date", "=", "2024-01-02")],
    )
    assert snap.operation == "overwrite"
    assert len(table.metadata().snapshots) == n_snapshots + 1  # ONE commit
    assert snap.summary["rows_deleted"] == n_jan2
    assert snap.summary["rows_inserted"] == 12
    assert snap.summary["files_dropped_wholesale"] >= 1  # routed fixture
    assert table.scan(spark).count() == N - n_jan2 + 12
    assert (
        table.scan(spark, predicates=[("ingest_date", "=", "2024-01-02")])
        .count()
        == 12
    )


def test_replace_where_validates_incoming_rows(table, spark):
    stray = _fresh_day(spark, 8).withColumn(
        "ingest_date",
        F.when(F.col("image_id").endswith("0"), "2024-01-03").otherwise(
            "2024-01-02"
        ),
    )
    with pytest.raises(ValueError, match="validation"):
        replace_where(
            table, spark, stray, [("ingest_date", "=", "2024-01-02")]
        )


def test_replace_where_non_partition_predicate(table, spark):
    lo = table.scan(spark).agg(F.min("phash")).head()[0]
    hi = lo + 10**17
    n_match = table.scan(spark).filter(F.col("phash") <= hi).count()
    assert 0 < n_match < N
    repl = (
        generate_images(spark, 5, n_files=1, start=8000)
        .withColumn("phash", F.lit(lo))  # inside the predicate
    )
    snap = replace_where(table, spark, repl, [("phash", "<=", hi)])
    assert snap.summary["rows_deleted"] == n_match
    assert table.scan(spark).count() == N - n_match + 5
    assert table.scan(spark).filter(F.col("phash") <= hi).count() == 5


def test_overwrite_is_visible_to_cdc_and_changes(table, spark):
    s0 = table.metadata().current_snapshot_id
    n_jan2 = table.scan(
        spark, predicates=[("ingest_date", "=", "2024-01-02")]
    ).count()
    overwrite_partitions(table, spark, _fresh_day(spark, 9))
    # incremental append feed: the landed frame's files are emitted
    inc = table.changes(spark, s0)
    assert inc.count() == 9
    # CDC: deletes of the replaced rows + inserts of the new ones
    cdc = table.changes_cdc(spark, s0)
    kinds = {
        r["_change_type"]: r["n"]
        for r in cdc.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert kinds.get("insert", 0) == 9
    assert kinds.get("delete", 0) == n_jan2


def test_changes_after_boundary_rewrite_emits_only_new_rows(tmp_path, spark):
    """Keep-rewrites of mixed boundary files carry PRE-EXISTING rows;
    changes() must emit only the landed frame (insert_prefix filter)."""
    t = Table.create(
        str(tmp_path / "bx"), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    # unrouted: every file holds all 4 dates, so the overwrite rewrites
    # boundary files (whose keep rows must NOT re-emit as inserts)
    t.commit("append", t.write_files(generate_images(spark, N, n_files=4)))
    s0 = t.metadata().current_snapshot_id
    snap = overwrite_partitions(t, spark, _fresh_day(spark, 10))
    assert snap.summary["files_rewritten"] >= 1
    inc = t.changes(spark, s0)
    assert inc.count() == 10
    assert (
        inc.filter(F.col("image_id").startswith("img-0000")).count() == 0
        or inc.count() == 10
    )
    cdc = t.changes_cdc(spark, s0)
    kinds = {
        r["_change_type"]: r["n"]
        for r in cdc.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert kinds.get("insert", 0) == 10


def test_insert_overwrite_sql_is_visible_to_cdc(tmp_path, spark):
    from aws_medallion_datalake_spark.sqlcmd import EngineSQL

    t = Table.create(str(tmp_path / "sq"), SCHEMA, stats_cols=STATS)
    t.commit("append", t.write_files(generate_images(spark, 40, n_files=2)))
    s0 = t.metadata().current_snapshot_id
    eng = EngineSQL(spark, {"images": t})
    generate_images(spark, 15, n_files=1, start=6000).createOrReplaceTempView(
        "fresh"
    )
    eng.sql("INSERT OVERWRITE images SELECT * FROM fresh")
    assert t.snapshot().operation == "overwrite"
    kinds = {
        r["_change_type"]: r["n"]
        for r in t.changes_cdc(spark, s0)
        .groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert kinds.get("insert", 0) == 15
    assert kinds.get("delete", 0) == 40


def test_sql_dynamic_overwrite_and_replace_where(table, spark):
    from aws_medallion_datalake_spark.sqlcmd import EngineSQL

    eng = EngineSQL(spark, {"images": table})
    table.set_properties({"write.overwrite.mode": "dynamic"})
    _fresh_day(spark, 7).createOrReplaceTempView("day2")
    res = eng.sql("INSERT OVERWRITE images SELECT * FROM day2").first()
    assert res["operation"] == "INSERT OVERWRITE"
    assert (
        table.scan(spark, predicates=[("ingest_date", "=", "2024-01-02")])
        .count()
        == 7
    )
    assert table.scan(spark).count() == N - N // DATES + 7
    assert table.snapshot().summary["stage"] == "overwrite_partitions"

    res = eng.sql(
        "INSERT INTO images REPLACE WHERE ingest_date = '2024-01-02' "
        "SELECT * FROM day2"
    ).first()
    assert res["operation"] == "INSERT REPLACE WHERE"
    assert table.snapshot().summary["stage"] == "replace_where"
    assert (
        table.scan(spark, predicates=[("ingest_date", "=", "2024-01-02")])
        .count()
        == 7
    )


def test_sql_replace_where_with_in_predicate(table, spark):
    from aws_medallion_datalake_spark.sqlcmd import EngineSQL

    eng = EngineSQL(spark, {"images": table})
    n_match = table.scan(
        spark, predicates=[("ingest_date", "in", ["2024-01-02", "2024-01-03"])]
    ).count()
    repl = generate_images(spark, 6, n_files=1, start=9500).withColumn(
        "ingest_date", F.lit("2024-01-02")
    )
    repl.createOrReplaceTempView("repl_in")
    res = eng.sql(
        "INSERT INTO images REPLACE WHERE "
        "ingest_date IN ('2024-01-02', '2024-01-03') SELECT * FROM repl_in"
    ).first()
    assert res["operation"] == "INSERT REPLACE WHERE"
    assert table.scan(spark).count() == N - n_match + 6
