"""Fixed Spark costs of a maintenance pass: small driver-built frames are
LocalRelations (no Python RDD, no job, no Python worker), and explicit
file paths are listed on the driver up to the footer fan-out bound."""

from types import SimpleNamespace

from aws_medallion_datalake_spark.operators.cluster import _tile_frame
from aws_medallion_datalake_spark.operators.compact import _route_frame
from aws_medallion_datalake_spark.session import get_session, local_frame
from aws_medallion_datalake_spark.sources.tableformat import FOOTER_SPARK_THRESHOLD


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_routing_and_tile_frames_are_local_relations(spark):
    groups = [SimpleNamespace(paths=["a.parquet", "b.parquet"]),
              SimpleNamespace(paths=["c.parquet"])]
    route = _route_frame(spark, groups)
    tile = _tile_frame(spark, {0: ["a.parquet"], 3: ["b.parquet", "c.parquet"]})
    for df in (route, tile):
        plan = _analyzed(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert route.dtypes == [("__route_path", "string"), ("__rt", "int")]
    rt = {r["__route_path"]: r["__rt"] for r in route.collect()}
    assert rt["a.parquet"] == rt["b.parquet"] != rt["c.parquet"]
    assert sorted(tuple(r) for r in tile.collect()) == [
        ("a.parquet", 0), ("b.parquet", 3), ("c.parquet", 3)
    ]


def test_local_frame_infers_or_casts_types(spark):
    inferred = local_frame(spark, {"k": [3, 1]})
    assert inferred.dtypes == [("k", "bigint")]
    typed = local_frame(spark, {"p": ["x"], "n": [7]}, "n int, p string")
    assert typed.dtypes == [("n", "int"), ("p", "string")]
    assert tuple(typed.first()) == (7, "x")
    empty = local_frame(spark, {"p": []}, "p string")
    assert empty.count() == 0 and "LocalRelation" in _analyzed(empty)


def test_get_session_lists_explicit_paths_on_driver_up_to_footer_bound(spark):
    s = get_session(ship_package=False)  # the live session, reconfigured
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert s.conf.get(key) == str(FOOTER_SPARK_THRESHOLD)
