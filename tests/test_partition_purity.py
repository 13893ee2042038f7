"""Partition-pure rewrites: compaction and cluster write one partition
tuple per file, whatever mix of tuples their input files hold, and the
tuple census finds every tuple, including those only mixed files hold."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators import cluster, compact, merge_into
from aws_medallion_datalake_spark.operators.overwrite import overwrite_partitions
from aws_medallion_datalake_spark.pipeline.medallion import silver_refine
from aws_medallion_datalake_spark.sources import tableformat as tf
from aws_medallion_datalake_spark.sources.generator import SCHEMA, generate_images
from aws_medallion_datalake_spark.sources.tableformat import Table

STATS = ["phash", "w", "h", "image_id", "ingest_date"]
TARGET = 1024 * 1024

SPECS = {
    "identity": (SCHEMA, ["ingest_date"]),
    "year_day": (SCHEMA + ", year string, day string", ["year", "day"]),
    "transform": (SCHEMA, ["days(ingest_date)"]),
}


def _rows(spark, n, *, n_files, n_dates=4, start=0):
    return (
        generate_images(spark, n, n_files=n_files, n_dates=n_dates, start=start)
        .withColumn("year", F.substring("ingest_date", 1, 4))
        .withColumn("day", F.substring("ingest_date", 9, 2))
    )


def _table(tmp_path, spark, spec="identity", n=600, n_files=12) -> Table:
    """A bronze table whose every file mixes 4 dates."""
    schema, parts = SPECS[spec]
    t = Table.create(str(tmp_path / spec), schema, partition_cols=parts,
                     stats_cols=STATS)
    df = _rows(spark, n, n_files=n_files)
    t.commit("append", t.write_files(df.select(*[c.split()[0] for c in schema.split(", ")])))
    return t


def _fingerprint(t, spark):
    return tuple(t.scan(spark).agg(
        F.count("*"),
        F.sum(F.hash("image_id", "caption", "phash", "ingest_date")),
        F.sum(F.length("bytes")),
    ).first())


def _mixed(t) -> list:
    return [p for p in t.manifest_pdf()["partition_json"] if "__mixed__" in p]


def _one_date_per_file(t, spark) -> bool:
    per_file = (
        t.scan(spark)
        .groupBy(F.col("_metadata.file_path"))
        .agg(F.countDistinct("ingest_date").alias("n"))
        .collect()
    )
    return all(r["n"] == 1 for r in per_file)


@pytest.mark.parametrize("spec", sorted(SPECS))
def test_compact_then_cluster_leave_no_mixed_file(tmp_path, spark, spec):
    """The nightly pass over raw bronze: compaction routes the mixed
    files' rows by tuple, and cluster tiles the pure result by tuple."""
    t = _table(tmp_path, spark, spec)
    before = _fingerprint(t, spark)
    assert len(_mixed(t)) == len(t.manifest_pdf())
    snap = compact(t, spark, target_file_size_bytes=TARGET // 2)
    assert snap.summary["files_in"] == 12
    assert _mixed(t) == [] and _one_date_per_file(t, spark)
    assert _fingerprint(t, spark) == before
    cluster(t, spark, curve="morton", target_file_size_bytes=TARGET // 4,
            max_files_per_job=2, mode="full")
    assert _mixed(t) == [] and _one_date_per_file(t, spark)
    assert _fingerprint(t, spark) == before


@pytest.mark.parametrize("spec", sorted(SPECS))
def test_cluster_of_mixed_input_leaves_no_mixed_file(tmp_path, spark, spec):
    t = _table(tmp_path, spark, spec)
    before = _fingerprint(t, spark)
    snap = cluster(t, spark, curve="morton", target_file_size_bytes=TARGET // 4,
                   max_files_per_job=2)
    assert _mixed(t) == [] and _one_date_per_file(t, spark)
    assert _fingerprint(t, spark) == before
    assert snap.summary["tiles"] >= 4  # a tile never straddles a date


def test_tuple_under_target_yields_one_file(tmp_path, spark):
    t = _table(tmp_path, spark)
    before = _fingerprint(t, spark)
    compact(t, spark, target_file_size_bytes=64 * TARGET)
    man = t.manifest_pdf()
    assert sorted(man["partition_json"]) == sorted(set(man["partition_json"]))
    assert len(man) == 4
    assert _fingerprint(t, spark) == before

    t2 = _table(tmp_path / "c", spark)
    snap = cluster(t2, spark, curve="morton", target_file_size_bytes=64 * TARGET)
    man = t2.manifest_pdf()
    assert len(man) == 4 and man["partition_json"].nunique() == 4
    assert snap.summary["tiles"] == 1  # four one-file tuples share a tile


def test_overwrite_after_cluster_of_mixed_bronze_drops_files_wholesale(tmp_path, spark):
    t = _table(tmp_path, spark)
    cluster(t, spark, curve="morton", target_file_size_bytes=TARGET // 4,
            max_files_per_job=2)
    day = (
        t.scan(spark, predicates=[("ingest_date", "=", "2024-01-02")])
        .withColumn("caption", F.concat("caption", F.lit(" (refresh)")))
    )
    n_day = day.count()
    snap = overwrite_partitions(t, spark, day.localCheckpoint())
    assert snap.summary["files_rewritten"] == 0
    assert snap.summary["files_dropped_wholesale"] >= 1
    got = t.scan(spark, predicates=[("ingest_date", "=", "2024-01-02")])
    assert got.filter(F.col("caption").endswith(" (refresh)")).count() == n_day
    assert t.scan(spark).count() == 600


def _pure_plus_mixed(tmp_path, spark, name) -> Table:
    """One pure file of date 2024-01-01 plus files mixing all four dates:
    the dates only the mixed files hold are found by the census alone."""
    t = Table.create(str(tmp_path / name), SCHEMA, partition_cols=["ingest_date"],
                     stats_cols=STATS)
    t.commit("append", t.write_files(
        generate_images(spark, 40, n_files=1, n_dates=1, start=10_000)))
    t.commit("append", t.write_files(generate_images(spark, 400, n_files=6)))
    assert len(_mixed(t)) == 6
    return t


def test_tuple_census_counts_mixed_and_pure_files(tmp_path, spark):
    t = _pure_plus_mixed(tmp_path, spark, "census")
    man = t.manifest_pdf()
    census = tf.tuple_census(t, spark, man)
    assert sorted(census["tuple"].unique()) == [f"2024-01-0{d}" for d in (1, 2, 3, 4)]
    assert int(census["record_count"].sum()) == 440
    # each file's bytes, pro rata over its tuples (floored per tuple)
    sizes = census.groupby("path")["file_size_bytes"].sum()
    want = man.set_index("path")["file_size_bytes"][sizes.index]
    assert ((want - sizes) >= 0).all() and ((want - sizes) < 4).all()
    pure = census[census["slice"].isna()]
    assert list(pure["tuple"]) == ["2024-01-01"]
    assert list(pure["partition_json"]) == ['{"ingest_date": "2024-01-01"}']
    assert census["slice"].notna().sum() == 24  # six files × four dates


def test_cluster_finds_tuples_only_mixed_files_hold(tmp_path, spark):
    t = _pure_plus_mixed(tmp_path, spark, "cl")
    before = _fingerprint(t, spark)
    cluster(t, spark, curve="morton", target_file_size_bytes=TARGET // 4)
    assert _mixed(t) == [] and _one_date_per_file(t, spark)
    assert _fingerprint(t, spark) == before


def test_silver_refine_finds_dates_only_mixed_files_hold(tmp_path, spark):
    bronze = _pure_plus_mixed(tmp_path, spark, "bronze")
    silver = silver_refine(bronze, spark, str(tmp_path / "silver"))
    assert _mixed(silver) == [] and _one_date_per_file(silver, spark)
    got = silver.scan(spark).groupBy("ingest_date").count().collect()
    want = bronze.scan(spark).groupBy("ingest_date").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_merge_delta_sorted_by_partition_spec(tmp_path, spark):
    """MERGE's delta files sort by the table's own partition spec (here
    ``fmt``), not by a fixed column."""
    t = Table.create(str(tmp_path / "fmt"), SCHEMA, partition_cols=["fmt"],
                     stats_cols=STATS)
    t.commit("append", t.write_files(generate_images(spark, 200, n_files=2)))
    src = generate_images(spark, 120, n_files=1, start=5_000)
    assert src.select("fmt").distinct().count() > 1
    snap = merge_into(t, spark, src, key="image_id")
    prefix = os.path.join(t.root, snap.summary["delta_prefix"])
    files = [f for f in os.listdir(prefix) if f.endswith(".parquet")]
    assert files
    for f in files:
        fmts = pq.read_table(os.path.join(prefix, f), columns=["fmt"])["fmt"].to_pylist()
        assert fmts == sorted(fmts)


def test_binpack_cuts_a_sliced_tuple_into_near_equal_bins():
    """A tuple that mixed files hold is packed into round(bytes / target)
    bins of near-equal bytes, and every slice lands in one of them."""
    import pandas as pd

    from aws_medallion_datalake_spark.plans.binpack import plan_compaction

    man = pd.DataFrame({
        "path": [f"f{i}" for i in range(24)],
        "partition_json": ['{"d": "1"}'] * 24,
        "record_count": [10] * 24,
        "file_size_bytes": [100] * 24,
        "slice": ["1"] * 20 + [None] * 4,
    })
    plan = plan_compaction(man, target_file_size_bytes=1000)
    assert sorted(len(g.paths) for g in plan.groups) == [12, 12]
    assert plan.rewritten_paths == set(man["path"])
    assert [s for g in plan.groups for s in g.slices].count("1") == 20


def test_binpack_keeps_a_lone_empty_string_slice():
    """A bin that holds one slice is kept whatever its input count, also
    when the slice's tuple key is the empty string."""
    import pandas as pd

    from aws_medallion_datalake_spark.plans.binpack import plan_compaction

    man = pd.DataFrame({
        "path": ["f0", "f0"],
        "partition_json": ['{"p": ""}', '{"p": "b"}'],
        "record_count": [5, 5],
        "file_size_bytes": [50, 50],
        "slice": ["", "b"],
    })
    plan = plan_compaction(man, target_file_size_bytes=1000, min_input_files=2)
    assert sorted(s for g in plan.groups for s in g.slices) == ["", "b"]


def _small_table(tmp_path, spark, name, ddl, files) -> Table:
    """A table partitioned by ``p``, one appended file per row list."""
    t = Table.create(str(tmp_path / name), ddl, partition_cols=["p"], stats_cols=["id"])
    for rows in files:
        t.commit("append", t.write_files(spark.createDataFrame(rows, ddl).coalesce(1)))
    return t


def test_compaction_keeps_the_empty_string_tuple(tmp_path, spark):
    """The '' value of a string partition column is a tuple like any
    other: a mixed file that alone holds it keeps those rows."""
    ddl = "id int, p string"
    t = _small_table(tmp_path, spark, "empty", ddl, [
        [(i, "" if i < 5 else "b") for i in range(10)],
        [(i, "b") for i in range(10, 15)],
    ])
    compact(t, spark, target_file_size_bytes=TARGET)
    assert _mixed(t) == []
    got = sorted(map(tuple, t.scan(spark).groupBy("p").count().collect()))
    assert got == [("", 5), ("b", 10)]


@pytest.mark.parametrize("op", ["compact", "cluster"])
def test_boolean_tuple_of_pure_and_mixed_files_writes_one_file(tmp_path, spark, op):
    """A pure and a mixed file of one boolean tuple meet in one output:
    the census formats the mixed file's values as the manifest does
    (``True``), not as Spark's string cast (``true``)."""
    ddl = "id int, image_id string, p boolean, phash long, w int, h int"
    t = _small_table(tmp_path, spark, op, ddl, [
        [(i, str(i), True, i, 1, 1) for i in range(5)],
        [(i, str(i), i % 2 == 0, i, 1, 1) for i in range(5, 15)],
    ])
    if op == "compact":
        compact(t, spark, target_file_size_bytes=TARGET)
    else:
        cluster(t, spark, curve="morton", target_file_size_bytes=TARGET)
    man = t.manifest_pdf()
    assert sorted(man["partition_json"]) == ['{"p": "False"}', '{"p": "True"}']
    got = sorted(map(tuple, t.scan(spark).groupBy("p").count().collect()))
    assert got == [(False, 5), (True, 10)]


def test_compaction_refuses_a_plan_that_loses_rows(tmp_path, spark, monkeypatch):
    """A plan that rewrites a mixed file but leaves one of its slices
    unwritten must not commit: the file would be dropped whole."""
    import importlib

    compact_mod = importlib.import_module("aws_medallion_datalake_spark.operators.compact")

    t = _table(tmp_path, spark)
    plan_compaction = compact_mod.plan_compaction

    def lose_a_slice(*a, **k):
        plan = plan_compaction(*a, **k)
        plan.groups = plan.groups[1:]
        assert any(s is not None for g in plan.groups for s in g.slices)
        return plan

    monkeypatch.setattr(compact_mod, "plan_compaction", lose_a_slice)
    before = (t.metadata().current_snapshot_id, sorted(os.listdir(t.data_dir)))
    with pytest.raises(RuntimeError, match="rows"):
        compact(t, spark, target_file_size_bytes=TARGET // 2)
    assert (t.metadata().current_snapshot_id, sorted(os.listdir(t.data_dir))) == before


def test_an_all_null_partition_file_is_pure(tmp_path, spark, monkeypatch):
    """A file whose partition value is NULL on every row is the NULL
    tuple's: tagged pure (JSON null), so the census reads it off the
    manifest, and compaction packs NULL files together."""
    ddl = "id int, p string"
    t = _small_table(tmp_path, spark, "nulls", ddl, [
        [(i, None) for i in range(5)],
        [(i, None) for i in range(5, 9)],
        [(i, "b") for i in range(9, 14)],
    ])
    man = t.manifest_pdf()
    assert sorted(man["partition_json"]) == ['{"p": "b"}', '{"p": null}', '{"p": null}']

    def no_scan(*a, **k):
        raise AssertionError("the census read a pure file")

    with monkeypatch.context() as m:
        m.setattr(Table, "read_data", no_scan)
        census = tf.tuple_census(t, spark, man)
    assert sorted(census["tuple"]) == [tf.TUPLE_NULL, tf.TUPLE_NULL, "b"]
    assert census["slice"].isna().all()
    compact(t, spark, target_file_size_bytes=TARGET)
    man = t.manifest_pdf()
    assert sorted(zip(man["partition_json"], man["record_count"])) == [
        ('{"p": "b"}', 5), ('{"p": null}', 9)
    ]


def test_a_value_beside_nulls_is_mixed(tmp_path, spark):
    """A file holding ``p='a'`` and ``p=NULL`` rows holds two tuples
    (min == max ignores NULLs): it is tagged mixed, the census counts
    both, and compaction writes them to separate files."""
    ddl = "id int, p string"
    t = _small_table(tmp_path, spark, "mixed_null", ddl, [
        [(i, "a" if i < 6 else None) for i in range(10)],
        [(i, "a") for i in range(10, 15)],
    ])
    assert len(_mixed(t)) == 1
    census = tf.tuple_census(t, spark, t.manifest_pdf())
    assert census.groupby("tuple")["record_count"].sum().to_dict() == {
        tf.TUPLE_NULL: 4, "a": 11
    }
    compact(t, spark, target_file_size_bytes=TARGET)
    man = t.manifest_pdf()
    assert sorted(zip(man["partition_json"], man["record_count"])) == [
        ('{"p": "a"}', 11), ('{"p": null}', 4)
    ]
    got = {r["p"]: r["count"] for r in t.scan(spark).groupBy("p").count().collect()}
    assert got == {"a": 11, None: 4}
