"""UPDATE ... SET ... WHERE (copy-on-write and merge-on-read).

Completes the DML triad next to MERGE INTO (operators/merge.py) and
DELETE FROM (operators/delete.py). The reference's only value-correction
story is a full overwrite-refresh of the layer
(/root/reference/scripts/silver_digit_clean.py:127 — SURVEY.md §2.9 T6);
this is the Iceberg ``UPDATE t SET c = expr WHERE p`` semantics, in both
Iceberg write modes:

``mode="copy-on-write"`` (default — bulk updates): manifest-stats prune →
column-pruned probe for files that ACTUALLY hold a matching row → rewrite
only those files with the assignments applied to matching rows → one
``update`` snapshot. Cost is O(touched files); a predicate on the cluster
column after a cluster run rewrites a handful of files out of 10^8.

``mode="merge-on-read"`` (sparse updates): write Iceberg-v2-style
POSITIONAL DELETE files naming the old row versions plus a delta append
of the updated rows — O(updated rows) IO, zero manifest rewrite; scans
compose the delete set until the next ``apply_deletes`` maintenance run
materializes it. At 10^12 rows this is the shape a "fix this caption on
these 100 images" correction runs: copy-on-write would rewrite every
touched 128 MB file for a handful of rows each.

Semantics (both modes):

- All assignment right-hand sides are evaluated against the OLD row
  (standard SQL UPDATE): ``SET w = h, h = w`` swaps.
- SQL tri-state WHERE: rows where the predicate is NULL are NOT updated
  (only predicate-TRUE rows are), mirroring DELETE's keep of NULL rows.
- Assigned values are cast to the column's declared type — the table
  schema never drifts.
- Snapshot isolation: readers of the parent snapshot keep the old
  values; time travel still serves them after the commit.

CDC: ``changes_cdc`` reads a copy-on-write update as delete+insert pairs
from the removed-vs-added file diff (survivor rows cancel), and with
``key_cols`` pairs them into ``update_preimage``/``update_postimage``;
a merge-on-read update is read as delta inserts + the positional-delete
feed. The append-only ``changes()`` feed emits a merge-on-read update's
delta rows (new row versions, like merge's upserts) but — like DELETE —
emits nothing for a copy-on-write update, whose rewritten files hold
mostly-unchanged rows; consumers that must observe in-place value
changes use the CDC feed.
"""

from __future__ import annotations

import os
import time
from functools import reduce
from typing import Iterable, Mapping, Optional

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..sources import transforms
from ..sources.tableformat import (
    Snapshot,
    Table,
    _pred_to_column,
    prune_manifest,
    rel_path_expr,
    resolve_write_mode,
    rewrite_files,
    statable_cols,
    write_position_deletes,
    written_entries,
)
from .timing import PhaseTimer


def _resolve_assignments(
    schema, assignments: Mapping[str, object]
) -> dict:
    """Validate assigned columns exist and build type-preserving Column
    expressions (strings go through ``F.expr``)."""
    fields = {f.name: f.dataType for f in schema.fields}
    out = {}
    for col, rhs in assignments.items():
        if col not in fields:
            raise ValueError(
                f"UPDATE assigns unknown column {col!r}; table columns: "
                f"{sorted(fields)}"
            )
        expr = F.expr(rhs) if isinstance(rhs, str) else rhs
        if not isinstance(expr, Column):
            raise TypeError(
                f"assignment for {col!r} must be a Column or SQL string, "
                f"got {type(rhs).__name__}"
            )
        out[col] = expr.cast(fields[col])
    return out


def update_where(
    table: Table,
    spark: SparkSession,
    predicates: Iterable[tuple],
    assignments: Mapping[str, object],
    *,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    mode: Optional[str] = None,
) -> Optional[Snapshot]:
    """Update rows matching ALL predicates; returns the new snapshot, or
    None when no file holds a matching row (no-op, no commit).

    ``predicates`` are the same ``(col, op, value)`` triples as
    ``Table.scan`` — file pruning is shared with the scan/delete stack,
    including hidden-partitioning transform derivation. ``assignments``
    maps column name → new value (a ``pyspark.sql.Column`` or a SQL
    expression string evaluated against the old row).
    """
    mode = resolve_write_mode(table.metadata(), "update", mode)
    t0 = time.time()
    pt = PhaseTimer()
    preds = list(predicates)
    if not preds:
        raise ValueError(
            "update_where with no predicate would rewrite the whole table; "
            "pass an explicit predicate list"
        )
    if not assignments:
        raise ValueError("update_where with no assignments is a no-op")
    if mode == "copy-on-write":
        table.refuse_pending_deletes("a copy-on-write update")
    meta = table.metadata()
    man = table.manifest_pdf()
    schema = table._schema(spark)
    set_exprs = _resolve_assignments(schema, assignments)

    with pt.phase("plan"):
        statable = statable_cols(meta)
        cand = prune_manifest(
            man, transforms.extend_predicates(meta.partition_cols, preds), statable
        )
    if not len(cand):
        return None

    cond = reduce(
        lambda a, b: a & b, (_pred_to_column(c, op, v) for c, op, v in preds)
    )
    cand_paths = [os.path.join(table.root, p) for p in cand["path"]]

    if mode == "merge-on-read":
        return _mor_update(
            table, spark, preds, cond, schema, set_exprs, cand_paths,
            len(cand), t0, pt,
        )

    rel = rel_path_expr(table.root)
    with pt.phase("probe"):
        touched_pdf = (
            table.read_data(spark, cand_paths)
            .filter(cond)
            .select(rel.alias("path"))
            .groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_matched_rows"))
            .toPandas()
        )
    touched_rel = set(touched_pdf["path"])
    if not touched_rel:
        return None
    rows_updated = int(touched_pdf["n_matched_rows"].sum())

    # predicate-TRUE rows take the assignment; FALSE and NULL rows pass
    # through untouched (SQL tri-state). All RHS see OLD values: one
    # select evaluates every expression against the input row.
    hit = F.coalesce(cond, F.lit(False))
    new_entries = rewrite_files(
        table,
        spark,
        cand[cand["path"].isin(touched_rel)],
        lambda rows: rows.select(
            *[
                F.when(hit, set_exprs[f.name]).otherwise(F.col(f.name)).alias(f.name)
                if f.name in set_exprs
                else F.col(f.name)
                for f in schema.fields
            ]
        ),
        target_file_size_bytes,
        pt,
    )
    keep_man = man[~man["path"].isin(touched_rel)]
    new_man = pd.concat([keep_man, new_entries], ignore_index=True)

    return table.commit(
        "update",
        new_man,
        {
            "stage": "update",
            "predicates": [[str(c), str(op), str(v)] for c, op, v in preds],
            "set_columns": sorted(set_exprs),
            "rows_updated": rows_updated,
            "files_rewritten": len(touched_rel),
            "files_candidate": int(len(cand)),
            "duration_sec": round(time.time() - t0, 3),
            "phase_sec": pt.summary(),
        },
    )


def _mor_update(
    table: Table,
    spark: SparkSession,
    preds: list,
    cond,
    schema,
    set_exprs: dict,
    cand_paths: list,
    n_candidates: int,
    t0: float,
    pt: PhaseTimer,
) -> Optional[Snapshot]:
    """Merge-on-read branch: positional deletes suppress the old row
    versions, a delta append carries the new versions — O(updated rows)
    IO, manifests shared with the parent (delta-append commit).

    The probe reads the candidates THROUGH the pending positional and
    equality delete sets, so a row an earlier merge-on-read commit
    already suppressed is neither re-deleted nor re-emitted."""
    from .merge import _modest_write

    with pt.phase("probe"):
        live = table.live_rows(
            spark, table.read_data(spark, cand_paths), table.snapshot()
        )
        matched = live.filter(cond).persist()
        new_delete_rel, n_updated = write_position_deletes(table, matched)
    if n_updated == 0:  # stats-overlap false positives only — no commit
        matched.unpersist()
        return None

    key = "image_id" if "image_id" in {f.name for f in schema.fields} else (
        schema.fields[0].name
    )
    with pt.phase("rewrite"):
        updated = matched.select(
            *[
                set_exprs[f.name].alias(f.name)
                if f.name in set_exprs
                else F.col(f.name)
                for f in schema.fields
            ]
        )
        delta_prefix = _modest_write(table, updated, key)
    matched.unpersist()
    entries = written_entries(table, spark, delta_prefix, pt)

    return table.commit(
        "update",
        entries,
        {
            "stage": "update",
            "mode": "merge-on-read",
            "delta_prefix": os.path.relpath(delta_prefix, table.root) + "/",
            "predicates": [[str(c), str(op), str(v)] for c, op, v in preds],
            "set_columns": sorted(set_exprs),
            "rows_updated": int(n_updated),
            "files_rewritten": 0,
            "files_candidate": int(n_candidates),
            "delete_files_added": len(new_delete_rel),
            "duration_sec": round(time.time() - t0, 3),
            "phase_sec": pt.summary(),
        },
        delta_manifest=True,
        delete_paths=table.pending_delete_paths() + new_delete_rel,
    )
