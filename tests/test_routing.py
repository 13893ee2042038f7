"""Exact hash routing + boundary bucketing: the no-sampling shuffle path."""

import pandas as pd
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators.cluster import (
    _composite,
    exact_route_salts,
)


def test_exact_route_salts_invert_hash(spark):
    """pmod(hash(salt_i), n) == i for every i — the property that makes
    repartition(n, route) an exact router."""
    for n in (2, 7, 44, 128):
        salts = [int(x) for x in exact_route_salts(n)]
        assert len(salts) == n
        pdf = (
            spark.createDataFrame(
                pd.DataFrame({"i": range(n), "s": salts})
            )
            .select("i", F.pmod(F.hash(F.col("s").cast("int")), F.lit(n)).alias("b"))
            .toPandas()
        )
        assert (pdf["i"] == pdf["b"]).all()


def test_routing_partitions_are_exact(spark):
    """Each bucket value lands in exactly one shuffle partition and no
    partition holds two buckets (n_out == n_buckets)."""
    n = 16
    salts = [int(x) for x in exact_route_salts(n)]
    df = spark.range(0, 10_000).select(
        (F.col("id") % n).alias("bucket"),
    )
    route = F.element_at(
        F.array(*[F.lit(s) for s in salts]), F.col("bucket").cast("int") + 1
    ).cast("int")
    routed = df.withColumn("r", route).repartition(n, F.col("r"))
    pid = routed.withColumn("pid", F.spark_partition_id())
    per = pid.groupBy("bucket").agg(F.countDistinct("pid").alias("np")).toPandas()
    assert (per["np"] == 1).all()
    per2 = pid.groupBy("pid").agg(F.countDistinct("bucket").alias("nb")).toPandas()
    assert (per2["nb"] == 1).all() and len(per2) == n


def test_composite_orders_by_partition_then_key(spark):
    dates = ["2024-01-01", "2024-01-02"]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["a", "b", "c", "d"],
                "ingest_date": ["2024-01-02", "2024-01-01", "2024-01-02", "2024-01-01"],
                "k": [1 << 20, 1 << 40, 5 << 20, 1 << 10],
            }
        )
    )
    idx = F.array_position(F.array(*[F.lit(d) for d in dates]), F.col("ingest_date"))
    ck = _composite(F.col("k"), idx, True)
    pdf = df.select("image_id", "ingest_date", "k", ck.alias("ck")).toPandas()
    pdf = pdf.sort_values("ck")
    # all date-1 rows sort before all date-2 rows regardless of key
    assert list(pdf["ingest_date"]) == sorted(pdf["ingest_date"])
    # within a date, order follows the key
    for d in dates:
        sub = pdf[pdf["ingest_date"] == d]
        assert list(sub["k"]) == sorted(sub["k"])


def test_driver_murmur3_matches_spark_hash(spark):
    """exact_route_salts plans driver-side with a numpy murmur3; it must
    be bit-exact with the Murmur3Hash expression HashPartitioning uses."""
    from aws_medallion_datalake_spark.operators.cluster import _murmur3_int32

    vals = list(range(-5, 60)) + [2**31 - 1, -(2**31), 123456789]
    pdf = (
        spark.createDataFrame(pd.DataFrame({"v": vals}))
        .select("v", F.hash(F.col("v").cast("int")).alias("h"))
        .toPandas()
    )
    for v, h in zip(pdf["v"], pdf["h"]):
        assert _murmur3_int32(int(v)) == int(h), v


def test_route_jvm_matches_searchsorted(spark):
    """The one route expression (a Catalyst binary search) agrees with
    np.searchsorted(side='left') on every edge: below the first bound,
    exactly on a bound, duplicated bounds, between and above the last,
    at every n_out a tile can plan (max_files_per_job is 4096)."""
    import numpy as np

    from aws_medallion_datalake_spark.operators.cluster import _route_expr

    for n_out in (2, 64, 512, 513, 4096):
        rng = np.random.default_rng(n_out)
        bounds = np.sort(rng.integers(-(1 << 62), 1 << 62, n_out - 1))
        if n_out > 2:
            bounds[1] = bounds[0]  # a duplicated bound
        salts = exact_route_salts(n_out)
        keys = np.concatenate(
            [bounds, bounds - 1, bounds + 1, [bounds[0] - 5, bounds[-1] + 5]]
        )
        keys = np.concatenate([keys, rng.integers(-(1 << 63), (1 << 63) - 1, 2000)])
        df = spark.createDataFrame(pd.DataFrame({"ck": keys.astype(np.int64)}))
        out = df.withColumn("r", _route_expr("ck", bounds, salts)).toPandas()
        exp = salts[np.searchsorted(bounds, out["ck"].to_numpy(), side="left")]
        assert (out["r"].to_numpy() == exp).all(), n_out


def test_route_literal_arrays_keep_their_types(spark):
    """The router's literal arrays come from one SQL parse: bounds stay
    BIGINT and salts INT, down to each type's extremes."""
    from aws_medallion_datalake_spark.operators.cluster import _array_sql

    bounds = [-(1 << 63), -5, 0, (1 << 63) - 1]
    salts = [-(1 << 31), -1, 7, (1 << 31) - 1]
    df = spark.range(1).select(
        F.expr(_array_sql(bounds, "L")).alias("b"), F.expr(_array_sql(salts)).alias("s")
    )
    assert df.schema.simpleString() == "struct<b:array<bigint>,s:array<int>>"
    (row,) = df.collect()
    assert (row["b"], row["s"]) == (bounds, salts)
