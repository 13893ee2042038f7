"""DELETE FROM ... WHERE (predicate copy-on-write).

Rounds out the write family next to MERGE INTO: the reference's only
row-removal story is a full overwrite-refresh of the layer
(/root/reference/scripts/silver_digit_clean.py:127 — SURVEY.md §2.9 T6);
this is the Iceberg ``DELETE FROM t WHERE p`` copy-on-write semantics.

Plan (everything is file-pruned BEFORE any payload IO):

1. **Candidates** — prune the manifest with the predicate against
   per-file min/max stats: only files whose range overlaps the predicate
   can hold a matching row. A delete keyed on the cluster column after a
   cluster run touches a handful of files out of 10^8.
2. **Containment split** — candidates whose stats PROVE every row
   matches (min/max inside the predicate, zero nulls — the same proof
   ``fast_count`` uses) are dropped WHOLESALE: a partition-scoped
   DELETE over partition-homogeneous files is a metadata-only commit
   with zero payload IO. Only boundary files continue to:
3. **Probe** — a column-pruned scan of the boundary files (predicate
   columns + ``_metadata.file_path`` only) finds the files that
   ACTUALLY contain matches; stats-overlap false positives drop out
   here and are never rewritten.
4. **Rewrite** — read the touched files, keep rows for which the
   predicate is NOT true (SQL tri-state: NULL predicate rows survive a
   DELETE), write each read split straight back out — split size is
   aligned with the target file size, so the keep path preserves
   clustering and sizing with zero shuffle, exactly like MERGE's keep
   path.
5. **Commit** — manifest minus dropped/touched files plus rewritten
   entries as one ``delete`` snapshot; readers never observe a
   half-delete, and time travel still reads the pre-delete snapshot.

Predicates use the same ``(col, op, value)`` triples as ``Table.scan``
so the pruning logic is shared, not reimplemented.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce
from typing import Iterable, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import transforms
from ..sources.tableformat import (
    DEFAULTS_PROP,
    Snapshot,
    Table,
    _pred_to_column,
    prefix_files,
    prune_manifest,
    rel_path_expr,
    resolve_write_mode,
    rewrite_files,
    statable_cols,
    write_position_deletes,
)
from .metascan import _fully_covered_mask
from .timing import PhaseTimer


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
    mode = resolve_write_mode(table.metadata(), "delete", mode)
    t0 = time.time()
    pt = PhaseTimer()
    preds = list(predicates)
    if not preds:
        raise ValueError("delete_where with no predicate would truncate the "
                         "table; pass an explicit predicate list")
    if mode == "copy-on-write":
        table.refuse_pending_deletes("a copy-on-write delete")
    meta = table.metadata()
    man = table.manifest_pdf()

    with pt.phase("plan"):
        statable = statable_cols(meta)
        # hidden-partitioning transforms add derived predicates for the
        # FILE-level prune; the row-level predicate stays the original
        cand = prune_manifest(
            man, transforms.extend_predicates(meta.partition_cols, preds), statable
        )
    if not len(cand):
        return None

    cond = reduce(
        lambda a, b: a & b, (_pred_to_column(c, op, v) for c, op, v in preds)
    )

    if mode == "merge-on-read":
        cand_paths = [os.path.join(table.root, p) for p in cand["path"]]
        return _mor_delete(
            table, spark, preds, cond, cand_paths, len(cand), t0, pt
        )

    dropped, touched_rel, new_entries = delete_matching(
        table, spark, cand, preds, cond, target_file_size_bytes, pt
    )
    if not touched_rel and not len(dropped):
        return None

    removed_rel = touched_rel | set(dropped["path"])
    touched_man = man[man["path"].isin(removed_rel)]
    keep_man = man[~man["path"].isin(removed_rel)]
    new_man = pd.concat([keep_man, new_entries], ignore_index=True)

    touched_records = int(touched_man["record_count"].sum())
    kept_records = int(new_entries["record_count"].sum()) if len(new_entries) else 0
    return table.commit(
        "delete",
        new_man,
        {
            "stage": "delete",
            "predicates": [[str(c), str(op), str(v)] for c, op, v in preds],
            "rows_deleted": touched_records - kept_records,
            "files_rewritten": len(touched_rel),
            "files_dropped_wholesale": int(len(dropped)),
            "files_candidate": int(len(cand)),
            "duration_sec": round(time.time() - t0, 3),
            "phase_sec": pt.summary(),
        },
    )


def delete_matching(
    table: Table,
    spark: SparkSession,
    cand: pd.DataFrame,
    preds: list,
    cond,
    target_file_size_bytes: int,
    pt: PhaseTimer,
) -> tuple:
    """Remove the rows matching ``cond`` (the conjunction of ``preds``)
    from the stats-pruned candidate files ``cand``: steps 2-4 of the
    module docstring, shared by ``delete_where`` and ``replace_where``.

    Returns ``(dropped, touched_rel, new_entries)``: the candidate rows
    dropped wholesale, the paths of the files rewritten, and the
    manifest entries of their rewrites."""
    # containment split (same proof as metascan.fast_count): files whose
    # EVERY row provably matches the predicate drop WHOLESALE — a
    # partition-scoped DELETE over partition-homogeneous files is then a
    # metadata-only commit (zero payload IO), not a read-and-rewrite-
    # nothing job. Only boundary files take the probe + keep-rewrite.
    with pt.phase("plan"):
        dfl = set(
            json.loads(str(table.metadata().properties.get(DEFAULTS_PROP, "{}")))
        )
        full_mask = _fully_covered_mask(cand, preds, unsound_cols=dfl)
        dropped = cand.loc[full_mask]
        boundary = cand.loc[~full_mask]

    touched_rel: set = set()
    if len(boundary):
        with pt.phase("probe"):
            touched_rel = set(
                table.read_data(
                    spark,
                    [os.path.join(table.root, p) for p in boundary["path"]],
                )
                .filter(cond)
                .select(rel_path_expr(table.root).alias("path"))
                .distinct()
                .toPandas()["path"]
            )
    # keep rows where the predicate is NOT TRUE (false OR null) — plain
    # ~cond drops predicate-NULL rows, which DELETE must keep
    new_entries = rewrite_files(
        table,
        spark,
        boundary[boundary["path"].isin(touched_rel)],
        lambda rows: rows.filter(~F.coalesce(cond, F.lit(False))),
        target_file_size_bytes,
        pt,
    )
    return dropped, touched_rel, new_entries


def _mor_delete(
    table: Table,
    spark: SparkSession,
    preds: list,
    cond,
    cand_paths: list,
    n_candidates: int,
    t0: float,
    pt: PhaseTimer,
) -> Optional[Snapshot]:
    """Merge-on-read branch: write positional delete files, touch no data.

    The probe reads the candidates THROUGH the pending-delete filter so a
    row already deleted by an earlier merge-on-read commit is not
    re-recorded (duplicate (path, pos) rows are harmless to the anti-join
    but would double-count ``rows_deleted``)."""
    with pt.phase("probe"):
        live = table.live_rows(
            spark, table.read_data(spark, cand_paths), table.snapshot()
        )
        new_delete_rel, n_deleted = write_position_deletes(table, live.filter(cond))
    if n_deleted == 0:  # stats-overlap false positives only — no commit
        return None
    man = table.manifest_pdf()
    return table.commit(
        "delete",
        man.iloc[0:0],
        {
            "stage": "delete",
            "mode": "merge-on-read",
            "predicates": [[str(c), str(op), str(v)] for c, op, v in preds],
            "rows_deleted": int(n_deleted),
            "files_rewritten": 0,
            "files_candidate": int(n_candidates),
            "delete_files_added": len(new_delete_rel),
            "duration_sec": round(time.time() - t0, 3),
            "phase_sec": pt.summary(),
        },
        reuse_manifests=True,
        delete_paths=table.pending_delete_paths() + new_delete_rel,
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
    meta = table.metadata()
    if meta.current_snapshot_id is None:
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
    prefix = table.new_data_prefix()
    vals = values.select(*cols).distinct()
    vals.coalesce(1).write.mode("append").parquet(prefix)
    new_rel, n_values = prefix_files(table, prefix)
    if n_values == 0:
        return None
    as_of = int(meta.current_snapshot_id)
    man = table.manifest_pdf()
    return table.commit(
        "delete",
        man.iloc[0:0],
        {
            "stage": "delete",
            "mode": "equality",
            "equality_cols": cols,
            "delete_values": int(n_values),
            "files_rewritten": 0,
            "duration_sec": round(time.time() - t0, 3),
        },
        reuse_manifests=True,
        eq_deletes=table.pending_eq_deletes()
        + [
            {"path": p, "cols": cols, "as_of_snapshot_id": as_of}
            for p in new_rel
        ],
    )


def rewrite_delete_files(
    table: Table,
    spark: SparkSession,
    *,
    min_files: int = 2,
) -> Optional[Snapshot]:
    """Minor-compact the pending positional-delete set: many small delete
    files (one per merge-on-read DELETE) → one sorted file. Purely
    physical — the suppressed row set is unchanged, data files untouched,
    manifests shared — but every scan's anti-join build side drops from
    N tiny parquet reads to one. The MoR analogue of
    ``rewrite_manifests``. No-op below ``min_files``."""
    t0 = time.time()
    pend = table.pending_delete_paths()
    if len(pend) < min_files:
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
    man = table.manifest_pdf()
    return table.commit(
        "replace",
        man.iloc[0:0],
        {
            "stage": "rewrite_delete_files",
            "delete_files_in": len(pend),
            "delete_files_out": len(new_rel),
            "duration_sec": round(time.time() - t0, 3),
        },
        reuse_manifests=True,
        delete_paths=new_rel,
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
    pend = table.pending_delete_paths()
    pend_eq = table.pending_eq_deletes()
    if not pend and not pend_eq:
        return None
    man = table.manifest_pdf()
    snap = table.snapshot()
    meta = table.metadata()
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
        if pend_eq:
            # equality: probe which covered files actually hold a matching
            # key — candidates are (files at as_of ∩ current), stats-pruned
            # to the value range when the column carries min/max stats,
            # then a column-pruned semi-join finds real matches
            from collections import defaultdict

            groups: dict = defaultdict(list)
            for e in pend_eq:
                groups[(tuple(e["cols"]), int(e["as_of_snapshot_id"]))].append(
                    e["path"]
                )
            statable = statable_cols(meta)
            cur = set(man["path"])
            rel = rel_path_expr(table.root)
            for (cols, as_of), dpaths in groups.items():
                vals = (
                    spark.read.parquet(
                        *[os.path.join(table.root, p) for p in dpaths]
                    )
                    .select(*cols)
                    .distinct()
                )
                covered = set(table.manifest_pdf(as_of)["path"]) & cur
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
    if not touched:
        # stats/probe found nothing to rewrite (e.g. equality values that
        # match no row) — clear the pending sets with a metadata-only commit
        return table.commit(
            "replace",
            man.iloc[0:0],
            {
                "stage": "apply_deletes",
                "rows_removed": 0,
                "files_rewritten": 0,
                "delete_files_applied": len(pend) + len(pend_eq),
                "duration_sec": round(time.time() - t0, 3),
                "phase_sec": pt.summary(),
            },
            reuse_manifests=True,
            delete_paths=[],
            eq_deletes=[],
        )

    def keep(rows):
        return table.live_rows(spark, rows, snap).drop("__mor_path", "__mor_pos")

    touched_man = man[man["path"].isin(touched)]
    new_entries = rewrite_files(
        table, spark, touched_man, keep, target_file_size_bytes, pt
    )
    keep_man = man[~man["path"].isin(touched)]
    new_man = pd.concat([keep_man, new_entries], ignore_index=True)
    touched_records = int(touched_man["record_count"].sum())
    kept_records = int(new_entries["record_count"].sum()) if len(new_entries) else 0
    return table.commit(
        "replace",
        new_man,
        {
            "stage": "apply_deletes",
            "rows_removed": touched_records - kept_records,
            "files_rewritten": len(touched),
            "delete_files_applied": len(pend) + len(pend_eq),
            "duration_sec": round(time.time() - t0, 3),
            "phase_sec": pt.summary(),
        },
        delete_paths=[],
        eq_deletes=[],
    )
