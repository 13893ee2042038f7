"""Partition-scoped atomic overwrites: dynamic partition overwrite and
predicate overwrite (REPLACE WHERE).

Reference parity: the daily bronze/silver jobs refresh ONE day of data
by rewriting its ``year=/month=/day=`` prefix in place
(/root/reference/scripts/bronze_digit_daily.py:184-190, SURVEY.md §2.9
T6) — a blind, non-atomic refresh a concurrent reader can observe
half-done. These operators are the snapshot-isolated versions:

- :func:`overwrite_partitions` — Iceberg ``overwritePartitions()`` /
  Spark ``partitionOverwriteMode=dynamic``: atomically replace exactly
  the partition tuples PRESENT IN the incoming frame, leaving every
  other partition untouched. The daily-refresh shape: recompute one
  day, commit, readers flip atomically.
- :func:`replace_where` — Delta ``replaceWhere`` / Iceberg
  ``overwrite(expr)``: atomically delete every row matching a
  predicate and insert the incoming frame, validating (like Delta)
  that the incoming rows all satisfy the predicate.

100 TB shape: both plan entirely from manifest statistics. Dynamic
overwrite writes the incoming frame first and reads the touched tuples
off the written files' partition stats (one column-pruned distinct over
those files when a file straddles tuples; the incoming refresh is the
small side — a day of a 10^12-row table), drops exactly-matching
files WHOLESALE (zero IO; provable from min==max==value + zero nulls
per partition field), and row-rewrites only range-partitioned boundary
files whose stats straddle a touched value. REPLACE WHERE is the
row-level planner's (``delete.row_level_write``) copy-on-write DELETE
fused with the insert. Both commit through ``tableformat.FileSwap``, so
readers never observe the delete without the insert, and a failure
before the commit removes every file the call wrote.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import transforms
from ..sources.tableformat import (
    DEFAULTS_PROP,
    FileSwap,
    Snapshot,
    Table,
    prune_manifest,
    records,
    statable_cols,
)
from .delete import row_level_write
from .metascan import _fully_covered_mask
from .timing import PhaseTimer

__all__ = ["overwrite_partitions", "replace_where"]

# Dynamic overwrite plans per touched tuple; a refresh that touches this
# many partitions is a rewrite of the table, not a partition refresh.
_MAX_TOUCHED_TUPLES = 10_000


def _conform(df: DataFrame, table: Table) -> DataFrame:
    """Match columns BY NAME against the table schema, cast to the
    declared types (same contract as SQL INSERT)."""
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(table.metadata().schema_ddl)
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"incoming frame lacks table columns {missing}")
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _written_tuples(table: Table, spark: SparkSession, specs, entries) -> list:
    """Distinct partition tuples of the freshly written files ``entries``.

    Read from their partition stats when every file is homogeneous on
    every partition field (min == max with no nulls, or all null); else
    one column-pruned distinct over the written files."""
    found: set = set()
    for r in entries.to_dict("records"):
        vals = []
        for t in specs:
            nulls = r[f"nulls_{t.name}"]
            if pd.isna(nulls):
                break
            if nulls == r["record_count"]:
                vals.append(None)
            elif nulls == 0 and r[f"min_{t.name}"] == r[f"max_{t.name}"]:
                vals.append(r[f"min_{t.name}"])
            else:
                break
        else:
            found.add(tuple(vals))
            continue
        paths = [os.path.join(table.root, p) for p in entries["path"]]
        return [
            tuple(row)
            for row in table.read_data(spark, paths)
            .select(*[t.expr().alias(t.name) for t in specs])
            .distinct()
            .collect()
        ]
    return list(found)


def overwrite_partitions(
    table: Table,
    spark: SparkSession,
    df: DataFrame,
    *,
    target_file_size_bytes: int = 128 * 1024 * 1024,
) -> Snapshot:
    """Dynamic partition overwrite: one atomic snapshot that replaces
    exactly the partition tuples present in ``df``.

    Unpartitioned tables degrade to a full replace (Iceberg's
    ``overwritePartitions`` semantics). File-level planning is
    per-tuple against manifest stats; files the stats PROVE homogeneous
    on a touched tuple drop wholesale, stats-straddling boundary files
    (range-partitioned writers produce them) are row-rewritten with the
    touched rows removed — null-safe on the partition value, so a NULL
    partition tuple replaces like any other. ``df``'s own partitioning
    is respected by the write (pre-route with ``repartition`` on the
    partition expressions, or declare ``write.distribution-mode=hash``
    on the table, for partition-homogeneous output files).
    """
    table.refuse_pending_deletes("overwrite_partitions")
    t0 = time.time()
    pt = PhaseTimer()
    meta = table.metadata()
    out = _conform(df, table)
    specs = transforms.parse_spec(meta.partition_cols)

    def done(summ: dict) -> dict:
        return dict(
            summ, duration_sec=round(time.time() - t0, 3), phase_sec=pt.summary()
        )

    # plan from the files just written, not from a second evaluation of
    # ``df``: the touched tuples and the written rows then agree by
    # construction, even for a non-deterministic source
    with FileSwap(table, spark, pt) as swap:
        n_new = records(swap.insert(out))
        summ = {"stage": "overwrite_partitions", "rows_inserted": n_new}
        if not specs or meta.current_snapshot_id is None:
            # unpartitioned (or empty) table: dynamic overwrite IS a replace
            swap.drop(swap.man)
            return swap.commit("overwrite", done({**summ, "partitions_replaced": -1}))
        with pt.phase("plan"):
            tuples = _written_tuples(table, spark, specs, swap.inserted)
        if len(tuples) > _MAX_TOUCHED_TUPLES:
            raise ValueError(
                f"incoming frame touches {len(tuples)} partition tuples "
                f"(> {_MAX_TOUCHED_TUPLES}); use a full INSERT OVERWRITE "
                f"for table-scale refreshes"
            )

        with pt.phase("plan"):
            man = swap.man
            statable = statable_cols(meta)
            dfl = set(json.loads(str(meta.properties.get(DEFAULTS_PROP, "{}"))))
            drop = pd.Series(False, index=man.index)
            boundary = pd.Series(False, index=man.index)
            for vals in tuples:
                preds = [
                    (t.name, "=", v)
                    for t, v in zip(specs, vals)
                    if v is not None
                ]
                nulls = [t for t, v in zip(specs, vals) if v is None]
                preds += [(t.name, "isnull", None) for t in nulls]
                cand = prune_manifest(man, preds, statable)
                if not len(cand):
                    continue
                full = _fully_covered_mask(cand, preds, unsound_cols=dfl)
                drop.loc[cand.index[full]] = True
                boundary.loc[cand.index[~full]] = True
            boundary &= ~drop

        cond = reduce(
            lambda a, b: a | b,
            (
                reduce(
                    lambda a, b: a & b,
                    (t.expr().eqNullSafe(F.lit(v)) for t, v in zip(specs, vals)),
                )
                for vals in tuples
            ),
            F.lit(False),
        )
        swap.drop(man.loc[drop])
        swap.rewrite(
            man.loc[boundary],
            lambda rows: rows.filter(~F.coalesce(cond, F.lit(False))),
            target_file_size_bytes,
        )
        return swap.commit(
            "overwrite",
            done({
                **summ,
                "partitions_replaced": len(tuples),
                "files_dropped_wholesale": int(drop.sum()),
                "files_rewritten": int(boundary.sum()),
            }),
        )


def replace_where(
    table: Table,
    spark: SparkSession,
    df: DataFrame,
    predicates: Iterable[tuple],
    *,
    target_file_size_bytes: int = 128 * 1024 * 1024,
) -> Snapshot:
    """Atomic predicate overwrite (Delta ``replaceWhere`` / Iceberg
    ``overwrite(expr)``): delete every row matching ALL predicates and
    land ``df`` in the SAME snapshot.

    Like Delta, the commit is rejected if any incoming row does NOT
    satisfy the predicate — the guard that keeps "replace March" from
    quietly inserting April rows. Predicates are the engine's standard
    ``(col, op, value)`` triples, so file pruning is identical to
    ``scan``/``delete_where``; fully-covered files drop with zero IO.
    """
    preds = list(predicates)
    if not preds:
        raise ValueError(
            "replace_where with no predicate is INSERT OVERWRITE; "
            "pass an explicit predicate list"
        )
    return row_level_write(
        table,
        spark,
        preds,
        insert=_conform(df, table),
        target_file_size_bytes=target_file_size_bytes,
    )
