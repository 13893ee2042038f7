"""UPDATE ... SET ... WHERE (copy-on-write and merge-on-read).

Completes the DML triad next to MERGE INTO (operators/merge.py) and
DELETE FROM (operators/delete.py). The reference's only value-correction
story is a full overwrite-refresh of the layer
(/root/reference/scripts/silver_digit_clean.py:127 — SURVEY.md §2.9 T6);
this is the Iceberg ``UPDATE t SET c = expr WHERE p`` semantics, planned
by ``delete.row_level_write`` in both Iceberg write modes:
copy-on-write (default, bulk updates) rewrites the touched files through
the ``FileSwap`` commit; merge-on-read (sparse updates) writes positional
deletes for the old row versions plus a delta append of the new ones.

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

from typing import Iterable, Mapping, Optional

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..sources.tableformat import Snapshot, Table
from .delete import row_level_write


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
    preds = list(predicates)
    if not preds:
        raise ValueError(
            "update_where with no predicate would rewrite the whole table; "
            "pass an explicit predicate list"
        )
    if not assignments:
        raise ValueError("update_where with no assignments is a no-op")
    return row_level_write(
        table,
        spark,
        preds,
        assignments=_resolve_assignments(table._schema(spark), assignments),
        mode=mode,
        target_file_size_bytes=target_file_size_bytes,
    )
