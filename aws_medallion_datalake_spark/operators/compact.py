"""Bin-packing small-file compaction with batched concurrent rewrites.

The scale path the reference lacks: its writers ``coalesce(1)`` every run
(/root/reference/scripts/silver_digit_clean.py:127 — SURVEY.md §4
"small-file management"), accumulating one small file per partition per day
forever. A planner packs manifest entries into ≈target-size rewrite groups
(plans/binpack.py) on the driver, from the swap's base manifest, at every
manifest size: the batches and the commit read that manifest anyway, and
planning costs a sort and an array pass per partition. Groups are then
rewritten in BATCHES: one Spark job routes up to
``DEFAULT_GROUPS_PER_JOB`` groups' rows (broadcast path→salt join + one
exact shuffle, plan size O(1) in the batch width) into one output file
per group — a 10^6-small-file backlog costs
hundreds of jobs, not a job per file pack.

Mixed files are packed per tuple: the planner's input replaces every
file that mixes partition tuples by its (file, tuple) pieces from the
tuple census (``tableformat.tuple_census``: one column-pruned count over
only those files' partition columns; pure files are read off the
manifest), and the batch job routes rows by (file, tuple). A tuple that
mixed files hold is written as ``max(1, round(bytes / target))`` files
of near-equal size, the rule ``cluster`` writes a tuple by. So every
output file holds one tuple, a tuple under the target gets one file, and
the next ``overwrite_partitions`` of a tuple drops its files by metadata.

Batches are the units of ``tableformat.rewrite_units``, the runner every
data-file rewrite shares: it runs them concurrently (up to
``parallelism`` jobs), collects each batch's stats as its write lands,
and with a ``checkpoint`` records per-batch lineage (plus the batch's
``groups`` and ``partitions``) so a killed run rewrites only the
remaining batches and commits the identical snapshot content. The
commit is a ``tableformat.FileSwap`` delta (rewritten files out, batch
outputs in), so an append that lands during the rewrite is kept.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from typing import Optional

import pandas as pd
from pyspark.sql import SparkSession

from ..plans.binpack import CompactionGroup, CompactionPlan, plan_compaction
from ..session import local_frame
from ..sources import transforms
from ..sources.tableformat import (
    FileSwap,
    Snapshot,
    Table,
    check_rows_kept,
    join_pieces,
    prune_manifest,
    prune_predicates,
    rewrite_units,
    statable_cols,
    tuple_census,
)
from .checkpoint import RunCheckpoint
from .timing import PhaseTimer

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024
# Same per-job width bound as cluster tiles: the routing table is data
# (not plan literals), so a batch can carry thousands of groups; the cap
# bounds the broadcast row count and the shuffle width of one job.
DEFAULT_GROUPS_PER_JOB = 4096


def _group_plan(group: CompactionGroup, df, part_cols: list, keys: list):
    """One group's rewrite plan over ``df``, its files' rows, ordered by
    the partition expressions ``part_cols``, then ``keys``, the table's
    write order (``Table.write_order``; empty when it has none).

    Sort order is preserved, not destroyed: pack groups (N small files →
    1) concatenate key-adjacent inputs with ``coalesce(1)`` (no
    exchange) and, when the inputs are range-structured, re-sort the
    single output partition in memory; split groups (1 oversized file →
    N) use ``repartitionByRange`` on the cluster key — its sampling pass
    reads only this group's file — so post-compaction files keep
    disjoint key ranges and manifest pruning quality survives until the
    next cluster run. (Sorting random bronze input is skipped: it buys
    no pruning and costs CPU.)"""
    sort_cols = part_cols + keys
    if group.n_output_files == 1:
        df = df.coalesce(1)
        if sort_cols and group.ordered:
            df = df.sortWithinPartitions(*sort_cols)
    elif keys:
        df = df.repartitionByRange(group.n_output_files, *sort_cols)
        df = df.sortWithinPartitions(*sort_cols)
    else:
        df = df.repartition(group.n_output_files)  # round-robin: even sizes
    return df


def _route_frame(spark: SparkSession, groups: list):
    """The pieces (``tableformat.join_pieces``) of ``groups``: every input
    file of group i, or the slice of it group i takes, carries the
    exact-route salt ``__rt`` that lands it in shuffle partition i.
    Built from Arrow, so it is a ``LocalRelation`` (no job, no Python
    worker)."""
    from .cluster import exact_route_salts

    salts = exact_route_salts(len(groups))
    return local_frame(
        spark,
        {
            "__pp": [p for g in groups for p in g.paths],
            "__pt": [s for g in groups for s in g.slices],
            "__rt": [int(salts[i]) for i, g in enumerate(groups) for _ in g.paths],
        },
        "__pp string, __pt string, __rt int",
    )


def _sliced(table: Table, spark: SparkSession, man: pd.DataFrame) -> pd.DataFrame:
    """The manifest rows ``man`` with every file that mixes partition
    tuples replaced by one row per (file, tuple) of ``tuple_census``,
    carrying the file's other columns and the tuple as ``slice``. Pure
    files keep their one row (``slice`` None); only the mixed files are
    read, by the census's one column-pruned count."""
    census = tuple_census(table, spark, man).drop(columns="tuple")
    return man.drop(columns=["partition_json", "record_count", "file_size_bytes"]).merge(
        census, on="path"
    )


def _rewrite_batch(table: Table, spark: SparkSession, groups: list, df, part_cols, keys):
    """A batch of PACK groups as ONE Spark job over ``df``, the rows of
    all their files, each output ordered as ``_group_plan`` orders it.

    Each input file, or each tuple's slice of a file that mixes
    partition tuples, belongs to exactly one group, so rows are routed by
    their source piece: a (path, slice → routing salt) TABLE is broadcast
    and hash-joined against ``_metadata.file_path`` (``join_pieces``),
    then one exact shuffle lands one partition — and one output file, of
    one tuple — per group. The routing
    table is DATA, not plan literals (an earlier version in-lined a
    ``create_map`` with one literal pair per file, which grows the plan
    O(files-per-batch) and forced small batches — the same plan-size
    failure mode the cluster router had); the plan is O(1) in the batch
    size, so one job per ordered-class can carry thousands of groups and
    the per-job driver fixed cost is amortized across ALL of them.
    Groups are batched with like ``ordered`` flags: ordered batches
    re-sort each packed partition, unordered (raw bronze) skip the sort.

    (A union of per-group ``coalesce(1)`` plans does NOT work: Spark
    collapses the union of coalesced children into a single partition.)"""
    from pyspark.sql import functions as F

    sliced = any(s is not None for g in groups for s in g.slices)
    if len(groups) == 1 and not sliced:
        return _group_plan(groups[0], df, part_cols, keys)
    df = join_pieces(table, df, _route_frame(spark, groups), sliced)
    if len(groups) == 1:
        return _group_plan(groups[0], df.drop("__rt"), part_cols, keys)
    df = df.repartition(len(groups), F.col("__rt")).drop("__rt")
    sort_cols = part_cols + keys
    if sort_cols and groups[0].ordered:
        df = df.sortWithinPartitions(*sort_cols)
    return df


def compact(
    table: Table,
    spark: SparkSession,
    *,
    target_file_size_bytes: int = DEFAULT_TARGET_BYTES,
    min_input_files: int = 2,
    parallelism: int = 8,
    checkpoint: Optional[RunCheckpoint] = None,
    predicates: Optional[list] = None,
) -> Optional[Snapshot]:
    """Compact the current snapshot; returns the new snapshot or None if
    nothing to do. Safe to re-run; resumable via ``checkpoint``.

    ``predicates``: scope the rewrite to files whose stats intersect the
    scan-style ``(col, op, value)`` predicates (Iceberg
    ``rewrite_data_files(where=…)``). Whole files are selected, never
    row-filtered, so out-of-scope files are carried through untouched —
    at 10^12-row scale maintenance targets the hot partitions of the
    day's ingest, not the whole table. Hidden-partition transforms apply
    (a plain ``ingest_date`` predicate scopes a ``days(ingest_date)``
    table).

    Every file in scope that mixes partition tuples is rewritten, its
    rows routed by tuple (``tableformat.tuple_census`` slices), so every
    output file holds one partition tuple."""
    # a pack-group rewrite copies whole files (and re-stamping a file's
    # path would break the equality sequence rule)
    table.refuse_pending_deletes("compaction")
    t0 = time.time()
    pt = PhaseTimer()
    swap = FileSwap(table, spark, pt)
    with pt.phase("plan"):
        # one planner at every manifest size: the swap's base manifest is
        # on the driver anyway (the batches' rows and the commit read it)
        meta = table.metadata()
        order = table.write_order()
        man = swap.man
        prune_preds = prune_predicates(meta, list(predicates or []))
        scope = prune_manifest(man, prune_preds, statable_cols(meta)) if prune_preds else man
        plan: CompactionPlan = plan_compaction(
            _sliced(table, spark, scope),
            target_file_size_bytes,
            min_input_files=min_input_files,
            order_col=order.cols[0] if order else None,
        )
    if not plan.groups:
        return None

    # batchable = single-output pack groups, batched with like `ordered`
    # flags; split groups (and any multi-output group) run individually
    packs_ordered = [g for g in plan.groups if g.n_output_files == 1 and g.ordered]
    packs_plain = [g for g in plan.groups if g.n_output_files == 1 and not g.ordered]
    singles = [g for g in plan.groups if g.n_output_files != 1]
    k = DEFAULT_GROUPS_PER_JOB
    batches: list = []
    for pool_groups in (packs_ordered, packs_plain):
        batches += [pool_groups[i : i + k] for i in range(0, len(pool_groups), k)]
    batches += [[g] for g in singles]

    part_cols = transforms.exprs(meta.partition_cols)
    keys = order.exprs() if order else []
    # the batches' manifest rows; a file sliced across batches is read
    # by each
    by_path = man.set_index("path", drop=False)
    # Concurrent batch jobs keep many executors busy on a real cluster
    # (Iceberg's RewriteDataFiles ships 5 by default); more driver threads
    # than ~8 just contend on the GIL/py4j in local mode.
    new_entries, _ = rewrite_units(
        table,
        spark,
        {
            i: by_path.loc[list(dict.fromkeys(p for g in b for p in g.paths))]
            for i, b in enumerate(batches)
        },
        lambda i, df: _rewrite_batch(table, spark, batches[i], df, part_cols, keys),
        pt,
        threads=min(parallelism, 8),
        checkpoint=checkpoint,
        stage=("compact", "batch"),
        lineage=lambda i: {
            "groups": [g.group_id for g in batches[i]],
            "partitions": sorted({g.partition_json for g in batches[i]}),
        },
    )

    rewritten = plan.rewritten_paths
    dropped = man[man["path"].isin(rewritten)]
    swap.drop(dropped)
    swap.add(new_entries)
    # a checkpointed pass keeps its prefixes on failure, so it can resume;
    # residual of duration_sec minus the phases = commit/manifest IO
    with swap if checkpoint is None else nullcontext():
        check_rows_kept("compaction", dropped, new_entries)
        snap = swap.commit(
            "replace",
            {
                "stage": "compact",
                **plan.summary(),
                "batches": len(batches),
                "rewritten_files": len(rewritten),
                "duration_sec": round(time.time() - t0, 3),
                "phase_sec": pt.summary(),
            },
            rows_key=None,
        )
    if checkpoint is not None:
        checkpoint.stage_done("compact", dict(snap.summary, snapshot_id=snap.snapshot_id))
    return snap
