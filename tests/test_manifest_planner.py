"""One manifest planner per question, on both sides of the manifest-size
threshold: which files survive a predicate (``prune_manifest``), which
files each snapshot added and removed (``Table.snapshot_diffs``) and how
clustered a table is (``clustering_quality`` / ``table_health``). Below
``SPARK_MANIFEST_THRESHOLD`` they run on the driver, above it on
executors; the answers must be the same."""

import random
from datetime import datetime, timezone

import pandas as pd
import pytest
from pyspark.sql import functions as F

import aws_medallion_datalake_spark.sources.tableformat as tf
from aws_medallion_datalake_spark.operators import policy
from aws_medallion_datalake_spark.operators.cluster import (
    clustering_quality,
    overlap_pairs,
)
from aws_medallion_datalake_spark.operators.compact import compact
from aws_medallion_datalake_spark.operators.delete import delete_where
from aws_medallion_datalake_spark.operators.merge import merge_into
from aws_medallion_datalake_spark.operators.metascan import (
    _fully_covered_mask,
    fast_count,
)
from aws_medallion_datalake_spark.sources.datasource import MedallionStreamReader
from aws_medallion_datalake_spark.sources.tableformat import Table, prune_manifest
from aws_medallion_datalake_spark.sqlcmd import EngineSQL


def _spark_side(monkeypatch):
    monkeypatch.setattr(tf, "SPARK_MANIFEST_THRESHOLD", 0)
    monkeypatch.setattr(policy, "SPARK_MANIFEST_THRESHOLD", 0)


def _dated(tmp_path, spark, name):
    """40 rows over four dates, one file per date."""
    t = Table.create(
        str(tmp_path / name), "id bigint, d date, v string",
        partition_cols=["d"], stats_cols=["id", "v"],
    )
    rows = spark.range(40).selectExpr(
        "id",
        "date_add(date'2024-01-01', cast(id % 4 AS int)) AS d",
        "concat('v', id) AS v",
    )
    for k in range(4):
        t.append(rows.filter(F.col("id") % 4 == k).coalesce(1))
    return t


@pytest.mark.parametrize("spark_side", [False, True])
def test_string_date_literal_prunes(tmp_path, spark, monkeypatch, spark_side):
    """An ISO date string on a date column prunes like a date, in a scan,
    a metadata count and a SQL DELETE (on the driver side they raised
    TypeError)."""
    if spark_side:
        _spark_side(monkeypatch)
    t = _dated(tmp_path, spark, "t")
    one_day = t.scan(spark, predicates=[("d", "=", "2024-01-03")])
    assert one_day.count() == 10
    assert len(one_day.inputFiles()) == 1
    two_days = [("d", "between", ("2024-01-02", "2024-01-03"))]
    assert t.scan(spark, predicates=two_days).count() == 20
    assert t.scan(spark, predicates=[("d", "in", ["2024-01-01", "2024-01-04"])]).count() == 20
    # containment is proved on the typed literal: no data file is read
    assert fast_count(t, None, [("d", "=", "2024-01-03")]) == 10
    EngineSQL(spark, {"t": t}).sql("DELETE FROM t WHERE d = '2024-01-03'").collect()
    assert t.scan(spark).count() == 30
    assert t.scan(spark).filter(F.col("d") == "2024-01-03").count() == 0


def test_incomparable_literal_proves_nothing(tmp_path, spark):
    """A literal the stats cannot be compared with keeps every file and
    proves no file fully covered, instead of raising."""
    t = _dated(tmp_path, spark, "t")
    man = t.manifest_pdf()
    for value in ("someday", 3):
        assert len(prune_manifest(man, [("d", ">=", value)], ["d"])) == len(man)
        assert not _fully_covered_mask(man, [("d", ">=", value)]).any()
    with pytest.raises(ValueError, match="unsupported predicate op"):
        prune_manifest(man, [("d", "~", 1)], ["d"])


@pytest.mark.parametrize("spark_side", [False, True])
def test_scoped_compaction_across_threshold(tmp_path, spark, monkeypatch, spark_side):
    """``compact(predicates=…)`` rewrites the files in scope, a file that
    mixes two dates among them, into one file per date, and leaves the
    files out of scope as they are, on either side of the threshold
    (compaction plans on the driver at every manifest size)."""
    if spark_side:
        _spark_side(monkeypatch)
    t = _dated(tmp_path, spark, "t")
    mixed = spark.range(40, 50).selectExpr(
        "id", "date_add(date'2024-01-02', cast(id % 2 AS int)) AS d", "concat('v', id) AS v"
    )
    t.commit("append", t.write_files(mixed.coalesce(1)))
    man = t.manifest_pdf()
    assert man["partition_json"].str.contains("__mixed__").sum() == 1
    out_of_scope = set(man.loc[man["min_d"].astype(str).isin(["2024-01-01", "2024-01-04"]), "path"])
    assert len(out_of_scope) == 2
    compact(t, spark, predicates=[("d", "between", ("2024-01-02", "2024-01-03"))])
    man = t.manifest_pdf()
    assert out_of_scope <= set(man["path"])
    assert sorted(zip(man["partition_json"], man["record_count"])) == [
        ('{"d": "2024-01-01"}', 10),
        ('{"d": "2024-01-02"}', 15),
        ('{"d": "2024-01-03"}', 15),
        ('{"d": "2024-01-04"}', 10),
    ]
    assert t.scan(spark).count() == 50


def test_append_diff_reads_only_its_manifest(tmp_path, spark, monkeypatch):
    """An append shares its parent's manifest files, which cancel out of
    the diff: only the manifest it adds is read."""
    t = _dated(tmp_path, spark, "t")
    s = t.snapshot()
    new = set(s.manifest_paths) - set(t.snapshot(s.parent_snapshot_id).manifest_paths)
    assert len(new) == 1 and len(s.manifest_paths) == 4
    read = []
    read_table = tf.pq.read_table
    monkeypatch.setattr(
        tf.pq, "read_table", lambda p, **k: read.append(p) or read_table(p, **k)
    )
    [(_, added, removed)] = t.snapshot_diffs(
        s.parent_snapshot_id, s.snapshot_id, None, ("append",)
    )
    assert read == [f"{t.root}/{p}" for p in new]
    assert len(added) == 1 and removed == []


def _pairs_oracle(lo, hi):
    """Ordered pairs (i, j), i != j, whose [min, max] ranges overlap
    strictly; a file without stats overlaps none."""
    n, hits = len(lo), 0
    for i in range(n):
        for j in range(n):
            if i == j or lo[i] is None or lo[j] is None:
                continue
            hits += lo[j] < hi[i] and hi[j] > lo[i]
    return hits, n * (n - 1)


def test_overlap_count_matches_pair_oracle():
    rng = random.Random(7)
    for _ in range(2000):
        lo, hi = [], []
        for _ in range(rng.randint(0, 12)):
            a = rng.randint(0, 10)
            b = a if rng.random() < 0.3 else rng.randint(a, 12)
            if rng.random() < 0.05:
                a = b = None
            lo.append(a)
            hi.append(b)
        part = pd.DataFrame(
            {"min_k": pd.array(lo, dtype="Int64"), "max_k": pd.array(hi, dtype="Int64")}
        )
        assert overlap_pairs(part, "k") == _pairs_oracle(lo, hi), (lo, hi)


class _Manifest:
    def __init__(self, man):
        self.man = man

    def manifest_pdf(self):
        return self.man


@pytest.mark.parametrize(
    "lo, hi",
    [
        ([5, 5], [5, 5]),  # -1.0 when a self-pair was always subtracted
        ([1, 5], [3, 5]),  # -0.5
        ([1, 5], [9, 5]),  # a point inside a range overlaps it both ways
        ([1, 2, 4], [3, 5, 4]),
    ],
)
def test_clustering_quality_never_negative(lo, hi):
    man = pd.DataFrame({"partition_json": "{}", "min_k": lo, "max_k": hi})
    hits, pairs = _pairs_oracle(lo, hi)
    q = clustering_quality(_Manifest(man), "k")
    assert q == hits / pairs and q >= 0.0


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_planner_parity_across_threshold(tmp_path, spark, monkeypatch):
    """Every answer the manifest planners give on the driver, they give
    on executors: scans (int, full-range long, double, string, date and
    timestamp stats; string-date literals), changes, changes_cdc, the
    stream reader's files and table_health."""
    t = Table.create(
        str(tmp_path / "p"),
        "id bigint, i int, ph bigint, x double, s string, d date, ts timestamp, "
        "v string",
        partition_cols=["d"],
        stats_cols=["id", "i", "ph", "x", "s", "ts", "v"],
        properties={"sort.order": "id"},
    )

    def batch(lo, n):
        # ph spans the full int64 range: past 2^53 a float64 round trip
        # would move the bounds
        return spark.range(lo, lo + n).selectExpr(
            "id",
            "CAST(id % 17 AS int) AS i",
            "xxhash64(id) AS ph",
            "CAST(id AS double) / 2 AS x",
            "concat('s', lpad(CAST(id AS string), 3, '0')) AS s",
            "date_add(date'2024-01-01', CAST(id % 4 AS int)) AS d",
            "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, CAST(id AS int), 0, 0) AS ts",
            "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('v', id) END AS v",
        )

    sid0 = t.append(batch(0, 60).repartitionByRange(6, "id")).snapshot_id
    t.append(batch(60, 30).repartition(3, "d"))
    delete_where(t, spark, [("id", "=", 7)])
    merge_into(
        t, spark, batch(80, 20).withColumn("x", F.col("x") + 1), key="id"
    )
    ph = sorted(r.ph for r in t.scan(spark).select("ph").collect())
    assert ph[-1] > 1 << 53 and ph[0] < -(1 << 53)
    preds = [
        [("ph", "=", ph[-3])],
        [("ph", "between", (ph[10], ph[40]))],
        [("i", "in", [3, 5])],
        [("x", ">=", 30.0), ("s", "<=", "s070")],
        [("d", "=", "2024-01-03")],
        [("d", "between", ("2024-01-02", "2024-01-03"))],
        [("d", "in", ["2024-01-01", "2024-01-04"])],
        [("ts", ">=", datetime(2024, 1, 3, 12, tzinfo=timezone.utc))],
        [("v", "isnull", None)],
        [("v", "notnull", None)],
    ]
    cur = t.snapshot().snapshot_id
    stream = MedallionStreamReader({"path": t.root})

    def answers():
        out = {}
        for p in preds:
            df = t.scan(spark, predicates=p)
            out[str(p)] = (_rows(df), sorted(df.inputFiles()))
        out["changes"] = _rows(t.changes(spark, sid0))
        out["changes_cdc"] = _rows(t.changes_cdc(spark, sid0, key_cols=["id"]))
        out["added"] = t.added_paths(None, cur, spark)
        out["stream"] = sorted(
            s.abs_path
            for s in stream.partitions({"snapshot_id": 0}, {"snapshot_id": cur})
        )
        out["health"] = policy.table_health(t, spark)
        return out

    driver = answers()
    _spark_side(monkeypatch)
    executors = answers()
    for k in driver:
        assert executors[k] == driver[k], k
    assert driver["health"]["cluster_metric"] is not None
    assert driver["health"]["cluster_metric"] == clustering_quality(t, "id")
    # range, date and timestamp predicates pruned: they read fewer files
    # than the table holds
    n_files = len(t.manifest_pdf())
    for p in (preds[3], preds[4], preds[7]):
        assert len(driver[str(p)][1]) < n_files, p
