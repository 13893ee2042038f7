"""The engine's Morton sort key (``udfs.morton64_expr``, the key every
curve-ordered writer sorts and routes by) against the numpy kernel
``zcurve.morton64``: bit-identical on random rows and on every edge of
the normalization, NULL in, NULL out, under the session's default ANSI
mode, and small enough to analyze cheaply on every query."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.functions import zcurve
from aws_medallion_datalake_spark.functions.udfs import morton64_expr

I64 = np.iinfo(np.int64)
DDL = "phash long, w int, h int"


def _rows(n=100_000):
    rng = np.random.default_rng(12)
    edges = pd.DataFrame(
        [
            (I64.min, 0, 0),
            (I64.max, (1 << 21) - 1, (1 << 21) - 1),
            (-1, 1 << 21, 1 << 21),
            (0, -1, -1),
            (1, (1 << 21) - 1, -5),
            (I64.min, 1 << 21, -(1 << 21)),
            (I64.max, -(1 << 31), (1 << 31) - 1),
        ],
        columns=["phash", "w", "h"],
    )
    rand = pd.DataFrame(
        {
            "phash": rng.integers(I64.min, I64.max, n, dtype=np.int64, endpoint=True),
            "w": rng.integers(-(1 << 31), 1 << 31, n, dtype=np.int64),
            "h": rng.integers(-(1 << 23), 1 << 23, n, dtype=np.int64),
        }
    )
    return pd.concat([edges, rand], ignore_index=True).astype(
        {"phash": "int64", "w": "int32", "h": "int32"}
    )


def test_key_equals_the_numpy_kernel(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    pdf = _rows()
    got = (
        spark.createDataFrame(pdf, DDL)
        .select(morton64_expr("phash", "w", "h").alias("k"))
        .toPandas()["k"]
        .to_numpy()
    )
    exp = zcurve.morton64(pdf["phash"].to_numpy(), pdf["w"].to_numpy(), pdf["h"].to_numpy())
    assert got.dtype == np.int64
    bad = np.flatnonzero(got != exp)
    assert bad.size == 0, pdf.iloc[bad[:5]].assign(got=got[bad[:5]], exp=exp[bad[:5]])


def test_null_in_any_column_gives_null(spark):
    df = spark.createDataFrame(
        [(None, 1, 2), (3, None, 2), (3, 1, None), (3, 1, 2)], DDL
    )
    keys = [r["k"] for r in df.select(morton64_expr("phash", "w", "h").alias("k")).collect()]
    assert keys[:3] == [None, None, None]
    assert keys[3] == int(zcurve.morton64(np.array([3]), np.array([1]), np.array([2]))[0])


def test_key_takes_names_that_need_quoting(spark):
    df = spark.createDataFrame(pd.DataFrame({"phash": [I64.min, -7, 9], "w": [1, 2, 3], "h": [4, 5, 6]}))
    odd = df.toDF("select", "a b", "from")
    assert [r[0] for r in odd.select(morton64_expr("select", "a b", "from")).collect()] == [
        r[0] for r in df.select(morton64_expr("phash", "w", "h")).collect()
    ]


def test_analyzed_key_stays_small(spark):
    """The key grows linearly in its bit width. The ``(x | x << s) & m``
    ladder names ``x`` twice a step and analyzed to ~10 KB of SQL, which
    every sort and route query re-analyzed, optimized and codegenned."""
    df = spark.createDataFrame([], DDL).select(morton64_expr("phash", "w", "h").alias("k"))
    sql = df._jdf.queryExecution().analyzed().expressions().head().sql()
    assert len(sql) <= 2000, len(sql)
