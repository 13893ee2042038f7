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
files whose stats straddle a touched value. REPLACE WHERE splits the
stats-pruned candidates the same way ``fast_count`` does: files FULLY
covered by the predicate drop wholesale, boundary files take a
column-pruned probe then a keep-rewrite — the identical plan shape as
``delete_where``, fused with the insert into one commit so readers
never observe the delete without the insert.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import transforms
from ..sources.tableformat import (
    DEFAULTS_PROP,
    Snapshot,
    Table,
    _pred_to_column,
    prune_manifest,
    rewrite_files,
    statable_cols,
)
from .delete import delete_matching
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

    if not specs or meta.current_snapshot_id is None:
        # unpartitioned (or empty) table: dynamic overwrite IS a replace
        with pt.phase("write"):
            entries = table.write_files(out)
        n_new = int(entries["record_count"].sum()) if len(entries) else 0
        summ = {
            "stage": "overwrite_partitions",
            "rows_inserted": n_new,
            "partitions_replaced": -1,
            "duration_sec": round(time.time() - t0, 3),
            "phase_sec": pt.summary(),
        }
        if len(entries):
            summ["insert_prefix"] = (
                os.path.dirname(str(entries.iloc[0]["path"])) + "/"
            )
        return table.commit("overwrite", entries, summ)

    # plan from the files just written, not from a second evaluation of
    # ``df``: the touched tuples and the written rows then agree by
    # construction, even for a non-deterministic source. Until the commit
    # lands, a failure (the tuple cap included) deletes what was written.
    with pt.phase("write"):
        entries = table.write_files(out)
    try:
        return _replace_written(
            table, spark, meta, specs, entries, pt, t0, target_file_size_bytes
        )
    except BaseException:
        if len(entries):
            shutil.rmtree(
                os.path.join(
                    table.root, os.path.dirname(entries.iloc[0]["path"])
                ),
                ignore_errors=True,
            )
        raise


def _replace_written(
    table, spark, meta, specs, entries, pt, t0, target_file_size_bytes
) -> Snapshot:
    """``overwrite_partitions`` after the incoming files are written:
    plan the touched tuples from ``entries``, drop or boundary-rewrite
    the files holding them, and commit."""
    n_new = int(entries["record_count"].sum()) if len(entries) else 0
    with pt.phase("plan"):
        tuples = _written_tuples(table, spark, specs, entries)
    if len(tuples) > _MAX_TOUCHED_TUPLES:
        raise ValueError(
            f"incoming frame touches {len(tuples)} partition tuples "
            f"(> {_MAX_TOUCHED_TUPLES}); use a full INSERT OVERWRITE "
            f"for table-scale refreshes"
        )

    with pt.phase("plan"):
        man = table.manifest_pdf()
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

    n_rewritten_files = int(boundary.sum())
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
    rewritten = rewrite_files(
        table,
        spark,
        man.loc[boundary],
        lambda rows: rows.filter(~F.coalesce(cond, F.lit(False))),
        target_file_size_bytes,
        pt,
    )

    removed = man.loc[drop | boundary]
    kept = man.loc[~(drop | boundary)]
    new_man = pd.concat([kept, rewritten, entries], ignore_index=True)
    n_removed = int(removed["record_count"].sum()) - (
        int(rewritten["record_count"].sum()) if len(rewritten) else 0
    )
    summ = {
        "stage": "overwrite_partitions",
        "partitions_replaced": len(tuples),
        "rows_inserted": n_new,
        "rows_deleted": n_removed,
        "files_dropped_wholesale": int(drop.sum()),
        "files_rewritten": n_rewritten_files,
        "duration_sec": round(time.time() - t0, 3),
        "phase_sec": pt.summary(),
    }
    if len(entries):
        # incremental consumers (changes()) emit ONLY these files —
        # boundary keep-rewrites carry pre-existing rows
        summ["insert_prefix"] = (
            os.path.dirname(str(entries.iloc[0]["path"])) + "/"
        )
    return table.commit("overwrite", new_man, summ)


def replace_where(
    table: Table,
    spark: SparkSession,
    df: DataFrame,
    predicates: Iterable[tuple],
    *,
    validate: bool = True,
    target_file_size_bytes: int = 128 * 1024 * 1024,
) -> Snapshot:
    """Atomic predicate overwrite (Delta ``replaceWhere`` / Iceberg
    ``overwrite(expr)``): delete every row matching ALL predicates and
    land ``df`` in the SAME snapshot.

    ``validate=True`` (Delta's default) rejects the commit if any
    incoming row does NOT satisfy the predicate — the guard that keeps
    "replace March" from quietly inserting April rows. Predicates are
    the engine's standard ``(col, op, value)`` triples, so file pruning
    is identical to ``scan``/``delete_where``; fully-covered files drop
    with zero IO.
    """
    table.refuse_pending_deletes("replace_where")
    preds = list(predicates)
    if not preds:
        raise ValueError(
            "replace_where with no predicate is INSERT OVERWRITE; "
            "pass an explicit predicate list"
        )
    t0 = time.time()
    pt = PhaseTimer()
    meta = table.metadata()
    out = _conform(df, table)
    cond = reduce(
        lambda a, b: a & b, (_pred_to_column(c, op, v) for c, op, v in preds)
    )
    if validate:
        with pt.phase("validate"):
            bad = out.filter(~F.coalesce(cond, F.lit(False))).limit(1).count()
        if bad:
            raise ValueError(
                "replace_where validation failed: incoming rows exist "
                "outside the predicate (pass validate=False to land them "
                "anyway, Iceberg overwrite semantics)"
            )

    with pt.phase("write"):
        entries = table.write_files(out)
    n_new = int(entries["record_count"].sum()) if len(entries) else 0

    if meta.current_snapshot_id is None:
        summ = {
            "stage": "replace_where",
            "rows_inserted": n_new,
            "duration_sec": round(time.time() - t0, 3),
            "phase_sec": pt.summary(),
        }
        if len(entries):
            summ["insert_prefix"] = (
                os.path.dirname(str(entries.iloc[0]["path"])) + "/"
            )
        return table.commit("overwrite", entries, summ)

    with pt.phase("plan"):
        man = table.manifest_pdf()
        cand = prune_manifest(
            man,
            transforms.extend_predicates(meta.partition_cols, preds),
            statable_cols(meta),
        )
    dropped, touched_rel, rewritten = delete_matching(
        table, spark, cand, preds, cond, target_file_size_bytes, pt
    )

    removed_paths = set(dropped["path"]) | touched_rel
    kept = man[~man["path"].isin(removed_paths)]
    new_man = pd.concat([kept, rewritten, entries], ignore_index=True)
    removed_records = int(man[man["path"].isin(removed_paths)]["record_count"].sum())
    n_deleted = removed_records - (
        int(rewritten["record_count"].sum()) if len(rewritten) else 0
    )
    summ = {
        "stage": "replace_where",
        "predicates": [[str(c), str(op), str(v)] for c, op, v in preds],
        "rows_inserted": n_new,
        "rows_deleted": n_deleted,
        "files_dropped_wholesale": int(len(dropped)),
        "files_rewritten": len(touched_rel),
        "files_candidate": int(len(cand)),
        "duration_sec": round(time.time() - t0, 3),
        "phase_sec": pt.summary(),
    }
    if len(entries):
        summ["insert_prefix"] = (
            os.path.dirname(str(entries.iloc[0]["path"])) + "/"
        )
    return table.commit("overwrite", new_man, summ)
