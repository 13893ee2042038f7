"""ANALYZE TABLE — table/column statistics kept in table metadata.

The Iceberg ``ANALYZE TABLE … COMPUTE STATISTICS`` / Puffin-stats
analogue (Spark itself: ``AnalyzeColumnCommand``). The reference has no
statistics story at all — Athena relies on Glue crawler row counts
(/root/reference/terraform/glue_digit.tf — SURVEY.md §2.1 S10); this
engine keeps planner-grade column statistics in TABLE PROPERTIES, pinned
to the snapshot they were computed at, so they version, survive expiry,
and travel with the metadata JSON like every other table fact.

One Spark job computes, per requested column:

- ``ndv`` — approx_count_distinct (HLL++, the same sketch family
  Iceberg's Puffin ``apache-datasketches-theta-v1`` blobs serve),
- ``null_count`` (exact),
- ``min`` / ``max`` for orderable types (stringified for JSON),
- ``avg_len`` for string/binary payloads (the image ``bytes`` column's
  mean size is the number every capacity plan wants).

Consumers:

- ``Table.column_stats()`` — programmatic access, staleness-aware.
- ``sources/metatables.column_stats_df`` — the ``<t>$column_stats``
  relation on the SQL surface.
- ``operators/policy.table_health`` — reports ``stats_snapshot_id`` /
  ``stats_stale`` so need-based maintenance can schedule a re-analyze.
- write-path bloom sizing: with ``tune_bloom=True`` the measured NDV
  replaces the static ``write.parquet.bloom-filter.expected-ndv``
  default. Per ROW GROUP the expected distinct count of a
  uniformly-hashed key is ~min(table NDV, rows per file), so the tuned
  value is ``min(max bloom-column NDV, avg rows/file)`` — a unique key
  on a 10^12-row table then sizes blooms for ~10^5 distinct values per
  group instead of allocating for 10^12.

At 100 TB this is one full-scan aggregation job (map-side partial HLL
sketches, one shuffle of constant-size sketch state per column), run at
the cadence of a maintenance stage — never on the query path.
"""

from __future__ import annotations

import json
import time
from typing import Iterable, Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tableformat import BLOOM_NDV_PROP, Table, bloom_columns

STATS_PROP = "stats.columns"  # json: {col: {ndv, null_count, min, max, avg_len}}
STATS_SNAPSHOT_PROP = "stats.snapshot-id"
STATS_ROWS_PROP = "stats.row-count"
STATS_TS_PROP = "stats.analyzed-at-ms"

_ORDERABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType, T.StringType, T.DateType, T.TimestampType,
    T.BooleanType,
)
_SIZED = (T.StringType, T.BinaryType)


def analyze_table(
    table: Table,
    spark: SparkSession,
    columns: Optional[Iterable[str]] = None,
    *,
    rsd: float = 0.03,
    tune_bloom: bool = False,
) -> dict:
    """Compute column statistics in ONE aggregation job and persist them
    in table properties pinned to the current snapshot. Returns the
    stats dict. ``rsd`` is the HLL++ relative standard deviation (3%
    default, Spark's ``approx_count_distinct`` knob). Array/map/struct
    columns get ndv/null_count only if named explicitly; by default all
    top-level columns are analyzed."""
    meta = table.metadata()
    if meta.current_snapshot_id is None:
        raise ValueError("analyze_table on an empty table (no snapshot)")
    schema = table._schema(spark)
    fields = {f.name: f.dataType for f in schema.fields}
    cols = list(columns) if columns is not None else [f.name for f in schema.fields]
    unknown = [c for c in cols if c not in fields]
    if unknown:
        raise ValueError(f"analyze_table: unknown columns {unknown}")

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        dt = fields[c]
        aggs.append(F.approx_count_distinct(c, rsd).alias(f"ndv__{c}"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}")
        )
        if isinstance(dt, _ORDERABLE):
            aggs.append(F.min(c).cast("string").alias(f"min__{c}"))
            aggs.append(F.max(c).cast("string").alias(f"max__{c}"))
        if isinstance(dt, _SIZED):
            aggs.append(F.avg(F.length(c)).alias(f"len__{c}"))

    row = table.scan(spark, columns=cols).agg(*aggs).first()
    n_rows = int(row["__rows"])
    stats = {}
    for c in cols:
        st = {
            "ndv": int(row[f"ndv__{c}"]),
            "null_count": int(row[f"nulls__{c}"]),
        }
        if f"min__{c}" in row.asDict():
            st["min"] = row[f"min__{c}"]
            st["max"] = row[f"max__{c}"]
        if f"len__{c}" in row.asDict() and row[f"len__{c}"] is not None:
            st["avg_len"] = round(float(row[f"len__{c}"]), 1)
        stats[c] = st

    version = table.current_version()
    meta = table.metadata(version)
    meta.properties[STATS_PROP] = json.dumps(stats, sort_keys=True)
    meta.properties[STATS_SNAPSHOT_PROP] = str(meta.current_snapshot_id)
    meta.properties[STATS_ROWS_PROP] = str(n_rows)
    meta.properties[STATS_TS_PROP] = str(int(time.time() * 1000))
    if tune_bloom:
        bloom_cols = [b for b in bloom_columns(meta) if b in stats]
        if bloom_cols:
            man = table.manifest_pdf()
            rows_per_file = max(
                1, int(man["record_count"].sum()) // max(1, len(man))
            )
            ndv = max(stats[b]["ndv"] for b in bloom_cols)
            meta.properties[BLOOM_NDV_PROP] = str(
                max(1024, min(ndv, rows_per_file))
            )
    table._write_metadata_version(version + 1, meta)
    return stats
