"""As-of and range (interval) joins as compositions of DataFrame ops.

Spark has no native ASOF JOIN or interval join; both are staples of a
training-data / event-analytics pipeline (attribution, sensor alignment,
point-in-interval enrichment). Beyond the reference's equi-join surface
(SURVEY §2.3 J1–J5): the reference's Athena layer is equi-join only
(/root/reference/sql/athena_gold_queries.sql). Both operators here are
pure Catalyst compositions — no Python row path, no driver loop.

**asof_join** — the classic scalable shape (one shuffle, linear scan):
tag both sides, UNION them, and run a running ``last(payload,
ignorenulls)`` window partitioned by key and ordered by (time, tag,
payload). Right rows sort before left rows at equal time (backward
as-of includes exact matches), and among equal-time right rows the
payload struct's ascending sort makes the carried match deterministic
(greatest payload wins). Cost at 10^12 rows: ONE hash shuffle of
|left| + |right| rows on the join key plus a per-partition sort — the
same price as the equi-join Spark would plan, with no O(n·m)
inequality-join blowup and no per-key driver work. A pathologically hot
key serializes its running scan inside one task (running windows cannot
be salted without breaking the carry); the mitigation at scale is
time-bucket chunking: split the window into coarse time buckets and
carry each bucket's closing state into the next — the structure
``streaming/sessionize.py`` uses for the stateful variant.

**range_join** — point-in-interval join via bucketization (the
published equi-join reduction used by Spark's own range-join hints and
by the IEJoin literature): quantize the time/number line into
fixed-width buckets; each interval EXPLODES to the buckets it covers,
each point maps to exactly one bucket, the pair equi-joins on (bucket
[+ optional keys]) and the exact predicate filters the candidates.
Picking ``bucket_width`` ≈ the typical interval length bounds the
explode factor at ~2× and confines every comparison to its bucket —
the shuffle key that keeps the join linear at 100 TB instead of the
O(n·m) cross product a naive inequality join plans. Hot buckets (a
burst of intervals over one week) are ordinary equi-join skew: AQE
skew-join splitting applies, unlike the naive plan.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["asof_join", "bucketed_join", "range_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: Sequence[str],
    tolerance: Optional[Column] = None,
) -> DataFrame:
    """Backward as-of join: for every left row, attach the payload of
    the right row with the greatest ``right_time`` <= ``left_time`` for
    the same ``on`` key (NULLs when no right row precedes — LEFT ASOF
    semantics). Ties on ``right_time`` resolve to the greatest payload
    struct (deterministic across engines). ``tolerance`` (a Column in
    the time column's comparison domain) optionally voids matches older
    than ``left_time - tolerance``.

    Output: every left column, plus ``payload_cols`` from the right
    (same names — rename right columns that collide with left ones
    before the call). See module docstring for the plan shape.
    """
    pay = F.struct(
        *[F.col(c).alias(c) for c in payload_cols],
        F.col(right_time).alias("__asof_t"),
    )
    r = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__tag"),
        pay.alias("__pay"),
    )
    left_cols = list(left.columns)
    left_struct_t = StructType(left.schema.fields)
    r = r.withColumn("__row", F.lit(None).cast(left_struct_t))
    l = left.select(  # noqa: E741
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(r.schema["__pay"].dataType).alias("__pay"),
        F.struct(*left_cols).alias("__row"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__tag", "__pay")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        r.unionByName(l)
        .withColumn("__m", F.last("__pay", ignorenulls=True).over(w))
        .filter(F.col("__tag") == 1)
    )
    if tolerance is not None:
        carried = carried.withColumn(
            "__m",
            F.when(
                F.col("__m.__asof_t") >= F.col("__t") - tolerance, F.col("__m")
            ),
        )
    return carried.select(
        *[F.col(f"__row.{c}").alias(c) for c in left_cols],
        *[F.col(f"__m.{c}").alias(c) for c in payload_cols],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Point-in-interval join (``start <= point < end``), reduced to an
    equi-join on quantized buckets (+ optional equi ``keys``). Returns
    the joined rows (all interval columns, then the point columns not
    named in ``keys``); callers aggregate on top. ``bucket_width`` is in
    the value columns' numeric domain — timestamps compare on epoch
    seconds, so a 7-day bucket is ``7 * 86400``. See module docstring
    for why this is the 100 TB-safe plan.
    """

    def numeric(df: DataFrame, col: str) -> Column:
        if dict(df.dtypes)[col].startswith("timestamp"):
            return F.unix_timestamp(F.col(col)).cast("double")
        return F.col(col).cast("double")

    width = F.lit(float(bucket_width))
    pts = points.withColumn("__pn", numeric(points, point_col)).withColumn(
        "__bucket", F.floor(F.col("__pn") / width)
    )
    ivs = (
        intervals.withColumn("__sn", numeric(intervals, start_col))
        .withColumn("__en", numeric(intervals, end_col))
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col("__sn") / width),
                    F.floor(F.col("__en") / width),
                )
            ),
        )
    )
    cond = [ivs["__bucket"] == pts["__bucket"]] + [
        ivs[k] == pts[k] for k in keys
    ]
    joined = ivs.join(pts, cond, "inner").filter(
        (pts["__pn"] >= ivs["__sn"]) & (pts["__pn"] < ivs["__en"])
    )
    out_cols = [ivs[c] for c in intervals.columns] + [
        pts[c] for c in points.columns if c not in keys
    ]
    return joined.select(*out_cols)


def bucketed_join(
    table_a,
    table_b,
    spark,
    *,
    key: str,
    how: str = "inner",
    columns_a: Optional[Sequence[str]] = None,
    columns_b: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Storage-partitioned join over two engine tables bucketed on the
    same key: the brief's "bucketing for co-located joins", the Iceberg
    SPJ (storage-partitioned join) shape, built without DSv2 hooks.

    Both tables must carry ``bucket(N, key)`` with the SAME N in their
    partition spec (``sources/transforms.py``); writers make files
    partition-homogeneous, so every data file belongs to exactly one
    bucket and the manifests name it. The join then decomposes into N
    independent per-bucket joins — rows of bucket i can only match rows
    of bucket i — compiled into ONE plan: a union of N joins where each
    bucket BROADCASTS its smaller side (chosen by manifest bytes, no
    data IO). The big side is never shuffled: at 10^12 rows a
    fact⋈fact co-located join costs N broadcast hash joins over
    manifest-listed file groups instead of a full-table exchange of
    both sides — the same IO shape Iceberg SPJ plans. A pathologically
    large bucket pair falls back to a per-bucket shuffle join
    (``broadcast_limit_bytes``), which AQE handles as ordinary skew.

    The plan is O(N) operators wide; keep N at the spec's granularity
    (Iceberg practice: tens to low hundreds of buckets — bucket counts
    size WRITE distribution, not file counts). ``how`` supports
    ``inner`` and ``left`` (left keeps a-side buckets with no b files).
    Column collisions other than ``key`` must be resolved by the
    caller (``columns_a`` / ``columns_b`` project each side first).
    Tables with pending merge-on-read deletes must run ``apply_deletes``
    first (same guard as every whole-file reader).
    """
    import json as _json
    import os as _os

    from functools import reduce as _reduce

    from ..sources import transforms as _tr

    if how not in ("inner", "left"):
        raise ValueError(f"bucketed_join supports inner|left, got {how!r}")

    def _bucket_tf(t):
        for tf in _tr.parse_spec(t.metadata().partition_cols):
            if tf.kind == "bucket" and tf.source == key:
                return tf
        raise ValueError(
            f"table {t.root} has no bucket(N, {key}) in its partition spec"
        )

    tfa, tfb = _bucket_tf(table_a), _bucket_tf(table_b)
    if tfa.param != tfb.param:
        raise ValueError(
            f"bucket counts differ: {tfa.param} vs {tfb.param} — co-located "
            "join requires identical bucketing"
        )
    for t in (table_a, table_b):
        t.refuse_pending_deletes(f"a whole-file bucketed join of {t.root}")

    def _groups(t, tf):
        g: dict = {}
        for _, r in t.manifest_pdf().iterrows():
            b = _json.loads(r["partition_json"]).get(tf.name)
            if b is None:
                raise ValueError(
                    f"file {r['path']} predates the bucket spec; cluster or "
                    "compact the table to materialize bucket partitions"
                )
            ent = g.setdefault(int(b), {"paths": [], "bytes": 0})
            ent["paths"].append(_os.path.join(t.root, r["path"]))
            ent["bytes"] += int(r["file_size_bytes"])
        return g

    ga, gb = _groups(table_a, tfa), _groups(table_b, tfb)

    def _side(t, group, cols):
        df = t.read_data(spark, group["paths"])
        return df.select(*cols) if cols else df

    b_schema = table_b._schema(spark)
    b_cols = list(columns_b) if columns_b else [f.name for f in b_schema.fields]
    parts = []
    for b in sorted(set(ga) | (set(gb) if how == "inner" else set())):
        if b not in ga:
            continue  # b-side-only bucket: no output under inner/left
        a = _side(table_a, ga[b], columns_a)
        if b not in gb:
            # left join, no right files in this bucket: null-extend
            empty = spark.createDataFrame([], schema=b_schema).select(*b_cols)
            parts.append(a.join(empty, key, "left"))
            continue
        bdf = _side(table_b, gb[b], b_cols)
        # broadcast the smaller side (manifest bytes — no data IO);
        # a left join can only broadcast its right side
        if gb[b]["bytes"] <= ga[b]["bytes"] or how == "left":
            parts.append(a.join(F.broadcast(bdf), key, how))
        else:
            parts.append(F.broadcast(a).join(bdf, key, how))
    if not parts:
        a_schema = table_a._schema(spark)
        a_cols = (
            list(columns_a) if columns_a else [f.name for f in a_schema.fields]
        )
        return (
            spark.createDataFrame([], schema=a_schema)
            .select(*a_cols)
            .join(spark.createDataFrame([], schema=b_schema).select(*b_cols),
                  key, how)
        )
    return _reduce(lambda x, y: x.unionByName(y), parts)
