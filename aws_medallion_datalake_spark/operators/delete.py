"""The row-level planner: DELETE, UPDATE and REPLACE WHERE in both write
modes, and the merge-on-read delete family beside it.

The reference's only row-changing story is a full overwrite-refresh of
the layer (its scripts/silver_digit_clean.py:127 — SURVEY.md §2.9 T6). ``row_level_write`` is the Iceberg ``DELETE FROM t WHERE p`` /
``UPDATE t SET … WHERE p`` / ``overwrite(expr)`` plan, one planner for
all three (Spark's DSv2 ``RowLevelOperation``; Iceberg's
``write.{delete,update}.mode`` pick the mode):

1. **Mode** — copy-on-write (default) or merge-on-read, resolved once; a
   copy-on-write write refuses while merge-on-read deletes are pending.
   REPLACE WHERE is copy-on-write, and first checks that every incoming
   row satisfies the predicate, then writes them.
2. **Candidates** — prune the manifest with the predicate (plus the
   hidden-partitioning derived predicates) against per-file min/max
   stats: only files whose range overlaps the predicate can hold a
   matching row. Everything is file-pruned BEFORE any payload IO.
3. **Merge-on-read** — one probe reads the candidates through the
   pending deletes (``Table.live_rows``) and writes Iceberg-v2-style
   POSITIONAL DELETE files naming the matching rows; an UPDATE also
   appends the new row versions as a delta. The snapshot shares the
   parent's manifests: O(matched rows) IO.
4. **Copy-on-write** — when matching rows are removed (DELETE, REPLACE
   WHERE), candidates whose stats PROVE every row matches (the proof
   ``fast_count`` uses) drop WHOLESALE with zero payload IO; one
   column-pruned probe, grouped by file, finds the other candidates that
   ACTUALLY hold a match and how many (stats false positives drop out
   here), and ``rewrite_files`` rewrites exactly those: a DELETE keeps
   the rows the predicate is NOT true for (SQL tri-state: NULL survives),
   an UPDATE applies its assignments to predicate-TRUE rows only. The
   ``tableformat.FileSwap`` commit lands removals, rewrites and inserts
   as one snapshot.

Predicates use the same ``(col, op, value)`` triples as ``Table.scan``
so the pruning logic is shared, not reimplemented.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.tableformat import (
    DEFAULTS_PROP,
    FileSwap,
    Snapshot,
    Table,
    _pred_to_column,
    prefix_files,
    prune_manifest,
    prune_predicates,
    records,
    rel_path_expr,
    resolve_write_mode,
    statable_cols,
    typed_predicates,
    write_position_deletes,
    written_entries,
)
from .merge import _modest_write
from .metascan import _fully_covered_mask
from .timing import PhaseTimer

# Fewest pending positional-delete files rewrite_delete_files compacts.
MIN_DELETE_FILES = 2

_OPERATION = {"delete": "delete", "update": "update", "replace_where": "overwrite"}


def row_level_write(
    table: Table,
    spark: SparkSession,
    preds: list,
    *,
    assignments: Optional[dict] = None,
    insert: Optional[DataFrame] = None,
    mode: Optional[str] = None,
    target_file_size_bytes: int = 128 * 1024 * 1024,
) -> Optional[Snapshot]:
    """The plan of the module docstring. ``preds``: the predicate triples;
    ``assignments``: column name → Column for an UPDATE; ``insert``: the
    frame a REPLACE WHERE lands, already cast to the table schema.
    Returns the new snapshot, or None when a DELETE or UPDATE matches no
    row (no commit)."""
    stage = (
        "update" if assignments else "replace_where" if insert is not None
        else "delete"
    )
    meta = table.metadata()
    mode = resolve_write_mode(
        meta, stage, "copy-on-write" if insert is not None else mode
    )
    if mode == "copy-on-write":
        table.refuse_pending_deletes(f"a copy-on-write {stage}")
    t0 = time.time()
    pt = PhaseTimer()
    cond = reduce(
        lambda a, b: a & b, (_pred_to_column(c, op, v) for c, op, v in preds)
    )
    hit = F.coalesce(cond, F.lit(False))
    summ = {"stage": stage}

    def done() -> dict:
        return dict(
            summ, duration_sec=round(time.time() - t0, 3), phase_sec=pt.summary()
        )

    with FileSwap(table, spark, pt) as swap:
        if insert is not None:
            with pt.phase("validate"):
                bad = insert.filter(~hit).limit(1).count()
            if bad:
                raise ValueError(
                    "replace_where validation failed: incoming rows exist "
                    "outside the predicate"
                )
            summ["rows_inserted"] = records(swap.insert(insert))
            if meta.current_snapshot_id is None:
                return swap.commit("overwrite", done())
        summ["predicates"] = [[str(c), str(op), str(v)] for c, op, v in preds]
        if assignments:
            summ["set_columns"] = sorted(assignments)
        with pt.phase("plan"):
            cand = prune_manifest(
                swap.man,
                prune_predicates(meta, preds),
                statable_cols(meta),
            )
        if not len(cand) and insert is None:
            return None
        summ["files_candidate"] = int(len(cand))
        if mode == "merge-on-read":
            return _merge_on_read(table, spark, swap, cand, cond, assignments, summ, done)

        if assignments:
            # predicate-TRUE rows take the assignments, all evaluated
            # against the OLD row; FALSE and NULL rows pass through
            cols = table._schema(spark).fieldNames()

            def keep(rows: DataFrame) -> DataFrame:
                return rows.select(*[
                    F.when(hit, assignments[c]).otherwise(F.col(c)).alias(c)
                    if c in assignments else F.col(c)
                    for c in cols
                ])

            boundary = cand
        else:
            def keep(rows: DataFrame) -> DataFrame:
                # the predicate is NOT TRUE (false OR null): NULL survives
                return rows.filter(~hit)

            with pt.phase("plan"):
                dfl = set(json.loads(str(meta.properties.get(DEFAULTS_PROP, "{}"))))
                full = _fully_covered_mask(
                    cand, typed_predicates(meta, preds), unsound_cols=dfl
                )
            swap.drop(cand.loc[full])
            summ["files_dropped_wholesale"] = int(full.sum())
            boundary = cand.loc[~full]
        touched = boundary.iloc[0:0]
        if len(boundary):
            with pt.phase("probe"):
                hits = (
                    table.read_data(
                        spark, [os.path.join(table.root, p) for p in boundary["path"]]
                    )
                    .filter(cond)
                    .select(rel_path_expr(table.root).alias("path"))
                    .groupBy("path")
                    .count()
                    .toPandas()
                )
            touched = boundary[boundary["path"].isin(hits["path"])]
            if assignments:
                summ["rows_updated"] = int(hits["count"].sum())
        if insert is None and not len(touched) and len(boundary) == len(cand):
            return None  # no match, and no file dropped wholesale
        summ["files_rewritten"] = len(touched)
        swap.rewrite(touched, keep, target_file_size_bytes)
        return swap.commit(
            _OPERATION[stage], done(), rows_key=None if assignments else "rows_deleted"
        )


def _merge_on_read(table, spark, swap, cand, cond, assignments, summ, done):
    """Step 3: positional deletes for the matching live rows, plus the
    UPDATE's delta of new row versions; no data file is rewritten.

    The probe reads the candidates THROUGH the pending positional and
    equality deletes, so a row an earlier merge-on-read commit already
    suppressed is neither re-deleted nor re-emitted."""
    pt = swap.pt
    with pt.phase("probe"):
        matched = table.live_rows(
            spark,
            table.read_data(spark, [os.path.join(table.root, p) for p in cand["path"]]),
            swap.snapshot,
        ).filter(cond)
        if assignments:
            matched = matched.persist()
        new_deletes, n = write_position_deletes(table, matched)
    swap.add_deletes(new_deletes)
    summ.update(
        mode="merge-on-read",
        files_rewritten=0,
        delete_files_added=len(new_deletes),
        **{"rows_updated" if assignments else "rows_deleted": int(n)},
    )
    if n == 0:  # stats-overlap false positives only — no commit
        if assignments:
            matched.unpersist()
        return None
    if not assignments:
        return swap.commit("delete", done(), rows_key=None)
    names = table._schema(spark).fieldNames()
    key = "image_id" if "image_id" in names else names[0]
    with pt.phase("rewrite"):
        delta_prefix = _modest_write(
            table,
            matched.select(
                *[assignments[c].alias(c) if c in assignments else F.col(c) for c in names]
            ),
            key,
        )
    matched.unpersist()
    swap.add(written_entries(table, spark, delta_prefix, pt))
    summ["delta_prefix"] = os.path.relpath(delta_prefix, table.root) + "/"
    return swap.commit("update", done(), rows_key=None)


def delete_where(
    table: Table,
    spark: SparkSession,
    predicates: Iterable[tuple],
    *,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    mode: Optional[str] = None,
) -> Optional[Snapshot]:
    """Delete rows matching ALL predicates; returns the new snapshot, or
    None when no file holds a matching row (no-op, no commit).

    ``mode="copy-on-write"`` (default) rewrites every touched file minus
    the matching rows — right for bulk deletes, wrong for sparse ones: at
    100 TB, deleting one row per 128 MB file rewrites the whole table.
    ``mode="merge-on-read"`` writes Iceberg-v2-style POSITIONAL DELETE
    files instead — parquet rows of ``(path, pos)`` naming the deleted
    rows — and commits a snapshot that shares the parent's manifests
    verbatim: the delete costs O(deleted rows) IO and zero manifest
    bytes. Scans anti-join the (small) delete set out; a later
    ``apply_deletes`` run materializes them back to copy-on-write form.
    """
    preds = list(predicates)
    if not preds:
        raise ValueError("delete_where with no predicate would truncate the "
                         "table; pass an explicit predicate list")
    return row_level_write(
        table, spark, preds, mode=mode,
        target_file_size_bytes=target_file_size_bytes,
    )


def equality_delete(
    table: Table,
    spark: SparkSession,
    values,
    *,
    cols: Iterable[str] = ("image_id",),
) -> Optional[Snapshot]:
    """Iceberg-v2-style EQUALITY delete: suppress every row whose ``cols``
    tuple matches a value row, by writing only the (tiny) value file —
    O(|values|) IO, no probe, no data-file read, zero manifest bytes.
    This is the delete shape a GDPR/forget-these-keys pipeline runs at
    10^12 rows: the keys are known, finding their files is the expensive
    part, and equality deletes defer that cost to the next
    ``apply_deletes`` maintenance run while scans stay correct.

    Sequence semantics (matching Iceberg's sequence-number rule): the
    delete applies only to data files present in the CURRENT snapshot —
    rows inserted later with the same key survive. The as-of snapshot is
    pinned from expiry until the delete is applied.

    ``values``: a DataFrame holding the equality columns (extra columns
    are ignored), or a list of scalars when ``cols`` names one column.
    Returns the new snapshot, or None for an empty table/value set.
    """
    cols = list(cols)
    swap = FileSwap(table, spark)
    if swap.base is None:
        return None
    fields = {f.name for f in table._schema(spark).fields}
    missing = [c for c in cols if c not in fields]
    if missing:
        raise ValueError(f"equality-delete columns not in schema: {missing}")
    t0 = time.time()
    if not isinstance(values, DataFrame):  # list of scalars
        if len(cols) != 1:
            raise ValueError("pass a DataFrame for multi-column equality deletes")
        values = local_frame(spark, {cols[0]: list(values)})
        # cast to the table's column type so the scan-side join matches
        tgt_type = {f.name: f.dataType for f in table._schema(spark).fields}[cols[0]]
        values = values.select(F.col(cols[0]).cast(tgt_type).alias(cols[0]))
    with swap:
        prefix = table.new_data_prefix()
        values.select(*cols).distinct().coalesce(1).write.mode("append").parquet(prefix)
        new_rel, n_values = prefix_files(table, prefix)
        if n_values == 0:
            return None
        swap.add_deletes(
            equality=[
                {"path": p, "cols": cols, "as_of_snapshot_id": swap.base}
                for p in new_rel
            ]
        )
        return swap.commit(
            "delete",
            {
                "stage": "delete",
                "mode": "equality",
                "equality_cols": cols,
                "delete_values": int(n_values),
                "files_rewritten": 0,
                "duration_sec": round(time.time() - t0, 3),
            },
            rows_key=None,
        )


def rewrite_delete_files(table: Table, spark: SparkSession) -> Optional[Snapshot]:
    """Minor-compact the pending positional-delete set: many small delete
    files (one per merge-on-read DELETE) → one sorted file. Purely
    physical — the suppressed row set is unchanged, data files untouched,
    manifests shared — but every scan's anti-join build side drops from
    N tiny parquet reads to one. The MoR analogue of
    ``rewrite_manifests``. No-op below ``MIN_DELETE_FILES``."""
    t0 = time.time()
    swap = FileSwap(table, spark)
    pend = list(swap.snapshot.delete_paths) if swap.snapshot else []
    if len(pend) < MIN_DELETE_FILES:
        return None
    dabs = [os.path.join(table.root, p) for p in pend]
    prefix = table.new_data_prefix()
    (
        spark.read.schema("path string, pos long")
        .parquet(*dabs)
        .distinct()  # re-deletes are prevented upstream; cheap belt+braces
        .sort("path", "pos")
        .coalesce(1)
        .write.mode("append")
        .parquet(prefix)
    )
    new_rel, _ = prefix_files(table, prefix)
    with swap:
        swap.add_deletes(new_rel, retire=pend)
        return swap.commit(
            "replace",
            {
                "stage": "rewrite_delete_files",
                "delete_files_in": len(pend),
                "delete_files_out": len(new_rel),
                "duration_sec": round(time.time() - t0, 3),
            },
            rows_key=None,
        )


def apply_deletes(
    table: Table,
    spark: SparkSession,
    *,
    target_file_size_bytes: int = 128 * 1024 * 1024,
) -> Optional[Snapshot]:
    """Materialize pending merge-on-read deletes into copy-on-write form:
    rewrite exactly the data files the delete files reference (minus the
    deleted rows) and clear the delete set. Physical-only — the rows were
    logically removed by the merge-on-read commit, so this is committed
    as a ``replace`` and incremental consumers see nothing new. Run this
    when the accumulated delete set starts taxing scans, and always
    before compaction/clustering/merge (those rewrites would resurrect
    suppressed rows)."""
    t0 = time.time()
    pt = PhaseTimer()
    swap = FileSwap(table, spark, pt)
    snap = swap.snapshot
    pend = list(snap.delete_paths) if snap else []
    pend_eq = list(snap.eq_deletes) if snap else []
    if not pend and not pend_eq:
        return None
    man = swap.man
    touched: set = set()
    with pt.phase("plan"):
        if pend:
            # positional: touched-file list is bounded by the delete set
            dabs = [os.path.join(table.root, p) for p in pend]
            touched.update(
                r["path"]
                for r in spark.read.schema("path string, pos long")
                .parquet(*dabs)
                .select("path")
                .distinct()
                .collect()
            )
        # equality: probe which covered files actually hold a matching
        # key — candidates are (files at as_of ∩ current), stats-pruned
        # to the value range when the column carries min/max stats,
        # then a column-pruned semi-join finds real matches
        statable = statable_cols(table.metadata())
        rel = rel_path_expr(table.root)
        for cols, vals, covered in table.eq_delete_scopes(
            spark, snap, set(man["path"])
        ):
            cand = man[man["path"].isin(covered)]
            if len(cols) == 1 and cols[0] in statable and len(cand):
                b = vals.agg(
                    F.min(cols[0]).alias("lo"), F.max(cols[0]).alias("hi")
                ).first()
                if b["lo"] is not None:
                    cand = prune_manifest(
                        cand,
                        [(cols[0], "between", (b["lo"], b["hi"]))],
                        statable,
                    )
            if not len(cand):
                continue
            probe = (
                table.read_data(
                    spark,
                    [os.path.join(table.root, p) for p in cand["path"]],
                )
                .select(*cols, rel.alias("__p"))
                .join(F.broadcast(vals), list(cols), "left_semi")
                .select("__p")
                .distinct()
            )
            touched.update(r["__p"] for r in probe.collect())

    def keep(rows):
        return table.live_rows(spark, rows, snap).drop("__mor_path", "__mor_pos")

    # with nothing touched (e.g. equality values that match no row) the
    # commit only clears the pending sets
    with swap:
        swap.rewrite(man[man["path"].isin(touched)], keep, target_file_size_bytes)
        swap.add_deletes(retire=pend + [e["path"] for e in pend_eq])
        return swap.commit(
            "replace",
            {
                "stage": "apply_deletes",
                "files_rewritten": len(touched),
                "delete_files_applied": len(pend) + len(pend_eq),
                "duration_sec": round(time.time() - t0, 3),
                "phase_sec": pt.summary(),
            },
            rows_key="rows_removed",
        )
