"""Emulates the driver's correctness gate: runs every __spark_entry__
query on Spark AND its oracle SQL on DuckDB at a given sf dir, then
compares row count, column-name set, and order-insensitive values
(columns sorted by name, rows sorted). ``norm_cell`` stringifies values,
which hides their types, so types are checked on their own: an oracle
column typed HUGEINT or DECIMAL fails (DuckDB's integer ``sum()``
returns int128, which no Spark integer type matches; cast it, e.g. with
``_isum``), and so does any column whose Spark type family (int,
float, decimal, string, ...) differs from its oracle's.

Usage: python tools/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from aws_medallion_datalake_spark.session import get_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# oracle result types the Spark queries here never produce: DuckDB sums
# integers into HUGEINT (int128), and decimal literals make DECIMALs
WIDE_TYPES = ("HUGEINT", "DECIMAL")


# the type family a Spark column and its DuckDB oracle column must share:
# int, float, decimal, string, bool, date, timestamp, binary, list, map or
# struct; widths within a family (INTEGER vs BIGINT) may differ
_SPARK_FAMILY = {
    "ByteType": "int", "ShortType": "int", "IntegerType": "int",
    "LongType": "int", "FloatType": "float", "DoubleType": "float",
    "DecimalType": "decimal", "StringType": "string",
    "VarcharType": "string", "CharType": "string", "BooleanType": "bool",
    "DateType": "date", "TimestampType": "timestamp",
    "TimestampNTZType": "timestamp", "BinaryType": "binary",
    "ArrayType": "list", "MapType": "map", "StructType": "struct",
}
_DUCK_FAMILY = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "HUGEINT": "int", "UTINYINT": "int", "USMALLINT": "int",
    "UINTEGER": "int", "UBIGINT": "int", "UHUGEINT": "int",
    "FLOAT": "float", "DOUBLE": "float", "DECIMAL": "decimal",
    "VARCHAR": "string", "BOOLEAN": "bool", "DATE": "date",
    "TIMESTAMP": "timestamp", "TIMESTAMP WITH TIME ZONE": "timestamp",
    "TIMESTAMP_S": "timestamp", "TIMESTAMP_MS": "timestamp",
    "TIMESTAMP_NS": "timestamp", "BLOB": "binary", "MAP": "map",
    "STRUCT": "struct",
}


def spark_family(dtype) -> str:
    """Type family of a Spark ``DataType`` (its class name when it has
    none, which matches no oracle family)."""
    name = type(dtype).__name__
    return _SPARK_FAMILY.get(name, name)


def duck_family(dtype: str) -> str:
    """Type family of a DuckDB type string: ``INTEGER[]`` and
    ``INTEGER[3]`` are lists, ``DECIMAL(18,2)`` a decimal,
    ``MAP(VARCHAR, INTEGER)`` a map (the type string itself when it has
    none)."""
    t = dtype.strip().upper()
    if t.endswith("]"):
        return "list"
    return _DUCK_FAMILY.get(t.split("(", 1)[0].strip(), dtype)


def family_mismatches(scols, stypes, ocols, otypes) -> list:
    """``"col spark/oracle"`` for each column (paired by name) whose type
    families differ."""
    spark = sorted(zip(scols, map(spark_family, stypes)))
    duck = sorted(zip(ocols, map(duck_family, map(str, otypes))))
    return [
        f"{c} {a}/{b}" for (c, a), (_, b) in zip(spark, duck) if a != b
    ]


def norm_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_session(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = [f.dataType for f in sdf.schema.fields]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"WARN {name}: zero rows")
            n_pass += 1
            continue
        try:
            res = con.sql(oracles[name])
            ocols, otypes = res.columns, res.types
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        wide = [
            f"{c} {t}" for c, t in zip(ocols, map(str, otypes))
            if t.startswith(WIDE_TYPES)
        ]
        if wide:
            print(f"FAIL {name}: oracle column types {wide}")
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns differ spark={sc} duck={oc}")
            n_fail += 1
            continue
        mixed = family_mismatches(scols, stypes, ocols, otypes)
        if mixed:
            print(f"FAIL {name}: type families differ (spark/oracle) {mixed}")
            n_fail += 1
            continue
        if len(sr) != len(orr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duck={len(orr)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(sr, orr) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; first: ")
            print(f"   spark={bad[0][0]}")
            print(f"   duck ={bad[0][1]}  (cols {sc})")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(sr)} rows, {time.time()-t0:.1f}s)")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
