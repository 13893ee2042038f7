"""Predicate-scoped maintenance: compact/cluster over a stats-bounded
file subset (Iceberg ``rewrite_data_files(where=…)`` / ``OPTIMIZE …
WHERE``). At 10^12 rows maintenance targets the hot partitions of the
day's ingest; whole files are selected by manifest stats, never
row-filtered, so out-of-scope files pass through untouched."""

import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators.cluster import cluster
from aws_medallion_datalake_spark.operators.compact import compact
from aws_medallion_datalake_spark.sources.generator import SCHEMA, generate_images
from aws_medallion_datalake_spark.sources.tableformat import Table

OLD_MAX = "img-000000000099"
NEW_MIN = "img-000000010000"


@pytest.fixture()
def table(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "images"),
        schema_ddl=SCHEMA,
        partition_cols=["ingest_date"],
        stats_cols=["phash", "image_id"],
    )
    # files split the id range contiguously -> per-file image_id stats
    # are disjoint between the two appends
    t.commit("append", t.write_files(generate_images(spark, 100, n_files=4)))
    t.commit(
        "append",
        t.write_files(generate_images(spark, 60, n_files=3, start=10_000)),
    )
    return t


def _fingerprint(t, spark):
    return t.scan(spark).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("image_id").alias("ids"),
        F.sum(F.length("bytes")).alias("payload"),
    ).first()


def test_scoped_compact_rewrites_only_matching_files(table, spark):
    before = _fingerprint(table, spark)
    old_paths = set(
        table.manifest_pdf()[lambda m: m["max_image_id"] <= OLD_MAX]["path"]
    )
    assert len(old_paths) == 4
    snap = compact(
        table,
        spark,
        target_file_size_bytes=1 << 22,
        predicates=[("image_id", ">=", NEW_MIN)],
    )
    assert snap is not None
    man = table.manifest_pdf()
    # out-of-scope files carried through byte-identical (same paths)
    assert old_paths <= set(man["path"])
    # in-scope fragments got packed: their three files each mix the four
    # dates, so they become one file per date
    new = man[~man["path"].isin(old_paths)]
    assert len(new) == new["partition_json"].nunique() == 4
    assert not new["partition_json"].str.contains("__mixed__").any()
    assert _fingerprint(table, spark) == before


def test_scoped_compact_no_match_is_noop(table, spark):
    assert (
        compact(
            table,
            spark,
            target_file_size_bytes=1 << 22,
            predicates=[("image_id", ">=", "img-000000099999")],
        )
        is None
    )


def test_scoped_cluster_keeps_out_of_scope_paths(table, spark):
    before = _fingerprint(table, spark)
    old_paths = set(
        table.manifest_pdf()[lambda m: m["max_image_id"] <= OLD_MAX]["path"]
    )
    snap = cluster(
        table,
        spark,
        mode="full",
        target_file_size_bytes=1 << 22,
        predicates=[("image_id", ">=", NEW_MIN)],
    )
    assert snap is not None
    man = table.manifest_pdf()
    assert old_paths <= set(man["path"])
    new = man[~man["path"].isin(old_paths)]
    # scoped rewrite output is key-clustered: files' phash ranges exist
    assert len(new) >= 1 and new["min_phash"].notna().all()
    assert _fingerprint(table, spark) == before
    # nothing in scope -> no commit
    assert (
        cluster(
            table,
            spark,
            mode="full",
            predicates=[("image_id", ">=", "img-000000099999")],
        )
        is None
    )


def test_scoped_then_full_cluster_converges(table, spark):
    before = _fingerprint(table, spark)
    cluster(
        table,
        spark,
        mode="full",
        target_file_size_bytes=1 << 22,
        predicates=[("image_id", ">=", NEW_MIN)],
    )
    # the follow-up INCREMENTAL run clusters only the remainder, keeping
    # the scoped run's sorted generation alive (kept untouched)
    snap = cluster(
        table, spark, mode="incremental", target_file_size_bytes=1 << 22
    )
    assert snap is not None and snap.summary["mode"] == "incremental"
    assert _fingerprint(table, spark) == before
    # converged: one more auto run finds nothing dirty
    assert cluster(table, spark, mode="auto") is None
