"""One write order: the ``sort.order`` property, parsed by
``transforms.parse_order`` and read through ``Table.write_order`` by every
layout writer (range-mode ingest, compaction, the MERGE delta, ``cluster``
and ``run_maintenance``), validated by the same parser at the SQL surface,
and kept valid by schema changes."""

import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import aws_medallion_datalake_spark
from aws_medallion_datalake_spark.functions import zcurve
from aws_medallion_datalake_spark.operators import cluster, compact, merge_into
from aws_medallion_datalake_spark.operators.run import run_maintenance
from aws_medallion_datalake_spark.sources.generator import (
    SCHEMA,
    generate_images,
    generate_updates,
)
from aws_medallion_datalake_spark.sources.tableformat import Table
from aws_medallion_datalake_spark.sqlcmd import EngineSQL, SQLCommandError

STATS = ["phash", "w", "h", "image_id", "ingest_date"]
# declared order -> (curve, columns); a linear order clusters by the default curve
ORDERS = {
    "morton(phash, w, h)": ("morton", ("phash", "w", "h")),
    "hilbert(phash, w, h)": ("hilbert", ("phash", "w", "h")),
    "w, phash": (None, ("w", "phash")),
}
DEFAULT = ("morton", ("phash", "w", "h"))


def _table(tmp_path, spark, name, order, n=240, n_files=8, props=None) -> Table:
    t = Table.create(
        str(tmp_path / name), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=STATS, properties={"sort.order": order, **(props or {})},
    )
    t.commit("append", t.write_files(generate_images(spark, n, n_files=n_files, n_dates=2)))
    return t


def _file_keys(t, order, paths) -> dict:
    """Per data file in ``paths``: its rows' (ingest_date, *sort keys of
    ``order``, a (curve, columns) pair), in the file's row order. Curve
    keys come from the numpy kernels in ``zcurve``, not from the engine's
    Spark key, so a wrong engine key cannot check itself."""
    curve, cols = order
    out = {}
    for p in paths:
        pdf = pq.read_table(os.path.join(t.root, p), columns=["ingest_date", *cols]).to_pandas()
        keys = [pdf[c] for c in cols]
        if curve is not None:
            fn = zcurve.hilbert64 if curve == "hilbert" else zcurve.morton64
            keys = [fn(*(k.to_numpy() for k in keys))]
        out[p] = list(zip(pdf["ingest_date"], *keys))
    return out


def _unordered(t, order, paths) -> list:
    """The files among ``paths`` whose rows are not in (ingest_date,
    order) order."""
    return [p for p, keys in _file_keys(t, order, paths).items() if keys != sorted(keys)]


def _added(before, t) -> list:
    man = t.manifest_pdf()
    return list(man.loc[~man["path"].isin(before["path"]), "path"])


@pytest.mark.parametrize("declared", ORDERS)
def test_every_writer_applies_the_declared_order(tmp_path, spark, declared):
    """Each writer in turn; ``ignored`` names every one that did not write
    in the declared order."""
    order = ORDERS[declared]
    curve = order if order[0] else DEFAULT
    ignored = {}

    # range-mode ingest: every file sorted by (date, order), several per date
    t = _table(tmp_path, spark, "t", declared, props={"write.distribution-mode": "range"})
    man = t.manifest_pdf()
    if len(man) <= 2 or _unordered(t, order, man["path"]):
        ignored["range ingest"] = len(man)

    # compaction: splitting a one-date file range-orders and sorts its outputs
    one = Table.create(
        str(tmp_path / "one"), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=STATS, properties={"sort.order": declared},
    )
    one.commit("append", one.write_files(generate_images(spark, 240, n_files=1, n_dates=1)))
    (size,) = one.manifest_pdf()["file_size_bytes"]
    compact(one, spark, target_file_size_bytes=size // 3)
    man = one.manifest_pdf()
    assert len(man) == 3
    if _unordered(one, order, man["path"]):
        ignored["compaction"] = True

    # MERGE: the delta files are sorted by (date, order)
    before = t.manifest_pdf()
    snap = merge_into(t, spark, generate_updates(spark, 240, 30, 10, n_files=2))
    delta = [p for p in _added(before, t) if p.startswith(snap.summary["delta_prefix"])]
    assert delta
    if _unordered(t, order, delta):
        ignored["merge delta"] = True

    # bare cluster: the declared curve, its files in curve order
    before = t.manifest_pdf()
    snap = cluster(t, spark, target_file_size_bytes=1 << 26, mode="full")
    got = (snap.summary["curve"], tuple(snap.summary["cluster_cols"]))
    if got != curve or _unordered(t, curve, _added(before, t)):
        ignored["cluster"] = got
    assert t.metadata().properties["cluster.sort_spec"] == f"{got[0]}({','.join(got[1])})"

    # run_maintenance: a cluster stage and a policy-planned one
    out = run_maintenance(
        t, spark, checkpoint_path=str(tmp_path / "cp1"), stages=("cluster",),
        cluster_mode="full",
    )
    got = (out["cluster"]["curve"], tuple(out["cluster"]["cluster_cols"]))
    if got != curve:
        ignored["run_maintenance cluster"] = got
    raw = _table(tmp_path, spark, "raw", declared, n_files=16)
    out = run_maintenance(
        raw, spark, checkpoint_path=str(tmp_path / "cp2"), stages=("auto",),
        target_file_size_bytes=1 << 20,
    )
    assert "cluster" in out["auto_plan"] and raw.scan(spark).count() == 240
    got = (out["cluster"]["curve"], tuple(out["cluster"]["cluster_cols"]))
    if got != curve:
        ignored["--stages auto"] = got
    assert ignored == {}


@pytest.mark.parametrize("bad", ["morton(phash, w)", "hilbert(phash, w, h, fmt)"])
def test_curve_arity_is_checked_by_sql(tmp_path, spark, bad):
    t = _table(tmp_path, spark, "t", "w, phash", n=40, n_files=2)
    eng = EngineSQL(spark, {"images": t})
    for stmt in (
        f"ALTER TABLE images WRITE ORDERED BY ({bad})",
        f"ALTER TABLE images WRITE LOCALLY ORDERED BY ({bad})",
        f"CALL system.rewrite_data_files(table => 'images', strategy => 'sort', "
        f"sort_order => '{bad}')",
    ):
        with pytest.raises(SQLCommandError, match="exactly 3 columns"):
            eng.sql(stmt)
    assert t.metadata().properties["sort.order"] == "w, phash"
    assert len(t.metadata().snapshots) == 1


def test_call_sort_order_clusters_by_it(tmp_path, spark):
    t = _table(tmp_path, spark, "t", "w, phash", n=40, n_files=4)
    eng = EngineSQL(spark, {"images": t})
    eng.sql(
        "CALL system.rewrite_data_files(table => 'images', strategy => 'sort', "
        "sort_order => 'hilbert(w, h, phash)')"
    )
    s = t.snapshot().summary
    assert (s["curve"], s["cluster_cols"]) == ("hilbert", ["w", "h", "phash"])
    assert t.scan(spark).count() == 40


def test_rename_rewrites_the_write_order(tmp_path, spark):
    t = _table(tmp_path, spark, "t", "hilbert(phash, w, h)", n=60, n_files=4)
    t.rename_column("phash", "ph")
    assert t.metadata().properties["sort.order"] == "hilbert(ph,w,h)"
    snap = cluster(t, spark, target_file_size_bytes=1 << 26)
    assert snap.summary["cluster_cols"] == ["ph", "w", "h"]
    assert t.scan(spark).count() == 60
    # a column the order does not name leaves its text alone
    t.set_properties({"sort.order": "w, ph"})
    t.rename_column("fmt", "format")
    assert t.metadata().properties["sort.order"] == "w, ph"


def test_drop_refuses_a_column_the_write_order_names(tmp_path, spark):
    t = _table(tmp_path, spark, "t", "w, phash", n=20, n_files=2)
    with pytest.raises(ValueError, match="write order"):
        t.drop_column("w")
    assert "w" in t._schema(spark).fieldNames()
    t.drop_column("fmt")
    assert "fmt" not in t._schema(spark).fieldNames()


def test_cluster_a_table_without_image_id(tmp_path, spark):
    """The routing salt hashes ``image_id``; a table without one clusters
    unsalted, content and counts unchanged, one partition value per file."""
    ddl = "id int, p string, phash long, w int, h int"
    t = Table.create(str(tmp_path / "t"), ddl, partition_cols=["p"], stats_cols=["phash"])
    for k in range(3):
        rows = [
            (i, "ab"[i % 2], (i * 0x9E3779B97F4A7C15) % (1 << 64) - (1 << 63), i % 500, i % 400)
            for i in range(k * 40, k * 40 + 40)
        ]
        t.commit("append", t.write_files(spark.createDataFrame(rows, ddl).coalesce(1)))
    want = sorted(map(tuple, t.scan(spark).collect()))
    # each partition value writes about two files: the route bounds run
    target = int(t.manifest_pdf()["file_size_bytes"].sum()) // 4
    snap = cluster(t, spark, target_file_size_bytes=target, mode="full")
    assert snap.summary["curve"] == "morton" and snap.summary["files_out"] >= 3
    assert sorted(map(tuple, t.scan(spark).collect())) == want
    per_file = t.scan(spark).groupBy(F.col("_metadata.file_path")).agg(
        F.countDistinct("p").alias("n")
    )
    assert {r["n"] for r in per_file.collect()} == {1}


def test_cluster_without_a_curve_names_sort_order(tmp_path, spark):
    ddl = "id int, p string"
    t = Table.create(str(tmp_path / "t"), ddl, partition_cols=["p"])
    t.commit("append", t.write_files(spark.createDataFrame([(1, "a"), (2, "b")], ddl)))
    assert t.write_order() is None
    with pytest.raises(ValueError, match="sort.order"):
        cluster(t, spark)
    t.set_properties({"sort.order": "id"})  # linear: still no curve
    with pytest.raises(ValueError, match="sort.order"):
        cluster(t, spark)


def test_one_write_order_parser_and_default():
    """``sort.order`` is parsed only in the write-order module, and the
    image default order is written only there."""
    pkg = os.path.dirname(aws_medallion_datalake_spark.__file__)
    home = os.path.join(pkg, "sources", "transforms.py")
    curve_regex = re.compile(r"(morton|hilbert|zorder)\|(morton|hilbert|zorder)")
    image_cols = re.compile(r"""[(\[{]\s*["']phash["']\s*,\s*["']w["']\s*,\s*["']h["']\s*[)\]}]""")
    prop = re.compile(r"""["']sort\.order["']""")
    found: dict = {"regex": [], "default": [], "prop": []}
    for d, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(d, fn)
            with open(path) as f:
                src = f.read()
            for what, pat in (("regex", curve_regex), ("default", image_cols), ("prop", prop)):
                found[what] += [path] * len(pat.findall(src))
    assert found["regex"] == []
    assert found["default"] == [home]
    assert found["prop"] == [home]
