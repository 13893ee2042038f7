"""Metadata-only aggregates: COUNT(*) / MIN / MAX answered from manifest
statistics in O(manifest files) instead of O(data rows).

Reference parity: the Athena consumption layer runs ``SELECT COUNT(*)``
health checks over every gold table
(/root/reference/sql/athena_gold_queries.sql, gold_agilean.py:103-162
completeness metrics). At 10^12 rows a full scan for a row count is the
wrong physical plan; Iceberg answers it from manifest record counts, and
so does this engine. The same file-level stats that prune scans prove
*containment*: a predicate COUNT splits the manifest into files FULLY
covered by the predicate (counted wholesale from ``record_count``) and
files the predicate range merely intersects (scanned and filtered — the
only data IO). For recency-shaped predicates over a clustered table the
partial set is a sliver, so a predicated count is O(boundary files).

Soundness rules:

- Pending merge-on-read deletes (positional or equality) make
  ``record_count`` an over-count and can remove a column extreme, so
  every helper falls back to a real scan (or raises when ``spark`` is
  None) until ``apply_deletes`` materializes them.
- Full containment additionally requires a known-zero null count for
  the predicate column (nulls fail every comparison but live in
  ``record_count``); files with unknown stats are conservatively
  treated as partial.
- ``fast_min_max`` ignores all-null files (their min/max stats are
  NaN) — matching ``MIN``/``MAX``'s null-skipping semantics.
"""

from __future__ import annotations

import json
import os
from functools import reduce
from typing import Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import SparkSession

from ..sources.tableformat import (
    DEFAULTS_PROP,
    Table,
    _pred_to_column,
    prune_manifest,
    prune_predicates,
    statable_cols,
    typed_predicates,
)

__all__ = ["fast_count", "fast_min_max"]


def _has_pending_deletes(table: Table) -> bool:
    return bool(table.pending_delete_paths() or table.pending_eq_deletes())


def _fully_covered_mask(man: pd.DataFrame, preds, unsound_cols=()) -> pd.Series:
    """True for manifest rows whose EVERY data row satisfies every
    predicate — provable from (min, max, nulls, record_count) alone.
    ``unsound_cols`` (default-valued columns): their physical stats no
    longer describe what a scan observes, so nothing is provable; nor is
    it on a predicate whose literal the stats cannot be compared with."""
    mask = pd.Series(True, index=man.index)
    false = pd.Series(False, index=man.index)
    try:
        for col, op, value in preds:
            mn_c, mx_c, nu_c = f"min_{col}", f"max_{col}", f"nulls_{col}"
            if col in unsound_cols or mn_c not in man.columns:
                return false  # no (trustworthy) stats: nothing is provable
            mn, mx = man[mn_c], man[mx_c]
            nu = man[nu_c] if nu_c in man.columns else None
            known = mn.notna() & mx.notna()
            no_nulls = (
                nu.notna() & (nu == 0) if nu is not None else false
            )
            if op == ">=":
                c = known & no_nulls & (mn >= value)
            elif op == "<=":
                c = known & no_nulls & (mx <= value)
            elif op == "=":
                c = known & no_nulls & (mn == value) & (mx == value)
            elif op == "between":
                lo, hi = value
                c = known & no_nulls & (mn >= lo) & (mx <= hi)
            elif op == "in":
                c = known & no_nulls & (mn == mx) & mn.isin(list(value))
            elif op == "isnull":
                c = (
                    nu.notna() & (nu == man["record_count"])
                    if nu is not None
                    else false
                )
            elif op == "notnull":
                c = no_nulls
            else:
                return false
            mask &= c
    except (TypeError, ValueError):
        return false  # an incomparable literal proves nothing
    return mask


def fast_count(
    table: Table,
    spark: Optional[SparkSession] = None,
    predicates: Optional[Sequence] = None,
) -> int:
    """Row count at the current snapshot, O(manifest) where provable.

    Without predicates and without pending deletes this touches zero
    data bytes and needs no SparkSession at all (``spark=None``). With
    predicates, fully-covered files are counted from ``record_count``
    and only boundary files are scanned; ``spark=None`` raises if any
    scan would be required instead of silently paying for one.
    """
    preds = list(predicates) if predicates else None
    if _has_pending_deletes(table):
        if spark is None:
            raise ValueError(
                "pending merge-on-read deletes: metadata-only count is "
                "an over-count; pass a SparkSession or run apply_deletes()"
            )
        return table.scan(spark, predicates=preds).count()
    meta = table.metadata()
    if meta.current_snapshot_id is None:
        return 0
    man = table.manifest_pdf()
    if not len(man):
        return 0
    if not preds:
        return int(man["record_count"].sum())

    statable = statable_cols(meta)
    cand = prune_manifest(man, prune_predicates(meta, preds), statable)
    if not len(cand):
        return 0
    dfl = set(
        json.loads(str(meta.properties.get(DEFAULTS_PROP, "{}")))
    )
    full = _fully_covered_mask(
        cand, typed_predicates(meta, preds), unsound_cols=dfl
    )
    n = int(cand.loc[full, "record_count"].sum())
    partial = cand.loc[~full]
    if len(partial):
        if spark is None:
            raise ValueError(
                f"{len(partial)} files intersect the predicate without "
                "full containment: a scan is required (pass a SparkSession)"
            )
        cond = reduce(
            lambda a, b: a & b, [_pred_to_column(*p) for p in preds]
        )
        n += (
            table.read_data(
                spark,
                [os.path.join(table.root, p) for p in partial["path"]],
            )
            .filter(cond)
            .count()
        )
    return n


def fast_min_max(table: Table, col: str) -> Tuple[object, object]:
    """(min, max) of a stats column from manifest stats — zero data IO,
    no SparkSession. Null rows are skipped (SQL MIN/MAX semantics)."""
    meta = table.metadata()
    statable = statable_cols(meta)
    if col not in statable:
        raise ValueError(
            f"{col!r} carries no manifest stats (stats_cols={meta.stats_cols})"
        )
    if _has_pending_deletes(table):
        raise ValueError(
            "pending merge-on-read deletes may suppress a column extreme; "
            "run apply_deletes() first or aggregate over scan()"
        )
    if meta.current_snapshot_id is None:
        return (None, None)
    man = table.manifest_pdf()
    if not len(man) or f"min_{col}" not in man.columns:
        return (None, None)
    mn = man[f"min_{col}"].dropna()
    mx = man[f"max_{col}"].dropna()
    return (
        mn.min() if len(mn) else None,
        mx.max() if len(mx) else None,
    )
