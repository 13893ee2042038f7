"""MERGE INTO: one planner for every clause set, two write modes.

The reference's only write semantic is blind overwrite-refresh
(/root/reference/scripts/silver_digit_clean.py:127, SURVEY.md §2.9 T6);
MERGE is the operation the north_rule adds. The clause surface is the
SQL:2003 / Delta one (``MergeClauses``); its defaults are the classic
upsert ``MERGE INTO t USING s ON t.image_id = s.image_id WHEN MATCHED
THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``. Every clause set and
both Iceberg write modes take the same plan; the write mode picks only
its last step.

1. **Source check** — duplicate source keys make MERGE non-deterministic
   (Iceberg's cardinality check), so they raise. When the source reads
   parquet files whose footers hold at most ``_HELD_KEYS`` rows (10^4;
   the measurements behind it sit beside the constant), its key column
   is fetched to the driver once (one column-pruned ``limit(limit + 1)``
   Arrow fetch: duplicate check, key count and key range in pyarrow) and
   re-enters Spark as a ``LocalRelation``. Every other source (larger,
   computed, or not parquet) keeps a persisted ``groupBy(key).count()``,
   with no fetch tried first: the footer sum costs no Spark job. This
   *held* versus *persisted* choice is the planner's only fork. The
   source PAYLOAD is never cached: only the delta write reads it.
2. **Probe** — one live-row probe (``Table.live_rows``, so merge-on-read
   reads through pending deletes) of the key, the target columns the
   clause conditions reference, the file path and, for merge-on-read
   only, the row position. It reads only the files whose key stats meet
   the source key range, unless WHEN NOT MATCHED BY SOURCE (NMBS) is
   set: a row NMBS deletes is one the source does not cover, so NMBS
   reads every file. The probe joins the source key set (plus the
   ``src_``-prefixed source columns a matched condition references):
   inner, or left with a membership marker under NMBS.
3. **Split** — matched rows that pass the matched condition are
   *affected*; unmatched rows that pass the NMBS condition are *NMBS
   rows*. Held: ONE query grouped by matched key, at most one row per
   source key, fetched as Arrow, gives the affected-key count, the files
   holding affected rows and the key sets the rewrite and delta join,
   with nothing persisted. Persisted: the matched rows are persisted and
   the affected keys are counted beside the write (``count_matched``).
4. **Delta** — for the default clauses the source wholesale,
   ``src.select(cols)`` with no join: matched keys replace their rows,
   the rest insert, and since the probe sees EVERY file holding a source
   key, updates ∪ inserts == source. Otherwise the affected source rows
   plus the unmatched ones that pass the insert condition. The delta is
   a modest cluster-key-sorted write.
5. **Write** — the two modes differ only here:

   - *copy-on-write*: ``tableformat.rewrite_files`` rewrites the files
     holding affected or NMBS rows, keeping the rows whose key is not
     affected and that are not NMBS rows, in bounded groups beside the
     delta write.
   - *merge-on-read*: positional delete files name the affected and NMBS
     rows (``write_position_deletes``), and the delta lands as a delta
     manifest with the grown delete set — O(changes) IO, the rewrite
     deferred to ``apply_deletes``. After a cluster run source keys
     scatter over the curve and a copy-on-write merge rewrites most
     files; this mode does not.

   Both modes commit one ``merge`` snapshot through
   ``tableformat.FileSwap``, created before the probe: a delta against
   the snapshot the probe read, which keeps any append that lands
   meanwhile and refuses to rebase over anything else.

The source key set is broadcast EXPLICITLY (``F.broadcast``) up to
``_BROADCAST_KEYS`` keys: relying on AQE to convert the keep anti-join
was measured NOT to fire here — the planner kept a sort-merge join and
funnelled every payload byte through a ``shuffle.partitions``-wide
exchange (1.4 GB through 8 reducers in the 96k-row bench). With the hint
no image payload shuffles: each keep-rewrite read task writes its
already-clustered, already-sized split straight back out. Larger key
sets take the sort-merge join, where AQE skew-join splitting handles a
hot key's oversized partitions; at that size the source rivals the table
and a shuffle is the honest cost.

Counts: ``rows_updated`` / ``rows_deleted`` count affected DISTINCT
target keys, so ``rows_inserted`` (delta rows minus updated keys) is
never negative when plain appends left a key duplicated across files;
the extra copies the write removes are ``rows_replaced_dupes``, from
manifest arithmetic (copy-on-write) or delete-file footers
(merge-on-read). ``rows_nmbs_deleted`` is part of ``rows_deleted``.

Repeated copy-on-write merges shrink keep-files below target and accrete
small delta files — the debt bin-packing compaction repays; clustering
restores global sort order (Iceberg's MERGE + RewriteDataFiles split).
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass
from functools import reduce
from typing import Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import transforms
from ..sources.tableformat import (
    FOOTER_SPARK_THRESHOLD,
    FileSwap,
    Snapshot,
    Table,
    _pred_to_column,
    _strip_scheme,
    prune_manifest,
    prune_predicates,
    records,
    resolve_write_mode,
    statable_cols,
    write_position_deletes,
    written_entries,
)
from .timing import PhaseTimer

_SRC_REF = re.compile(r"\bsrc_([A-Za-z_][A-Za-z0-9_]*)\b")

# Most source rows (by parquet footers) whose keys merge_into holds on
# the driver (module docstring, step 1); other sources take the
# persisted path. tools/merge_key_scale.py on a 4-vCPU host, one merge
# into a 4x-larger 32-file table, medians of alternating runs, held vs
# persisted, CPU (driver + JVM) and wall: 10^3 keys 1.43 vs 1.84 s and
# 0.75 vs 0.88 s; 3*10^3 1.71 vs 2.33 and 0.88 vs 1.14; 10^4 1.91 vs
# 2.28 and 0.94 vs 1.05 (an earlier series, warmed at 10^3 keys: 1.54
# vs 1.51 and 0.92 vs 0.78); 3*10^4 2.45 vs 2.93 and 1.24 vs 1.34;
# 10^5 3.31 vs 3.82 and 1.86 vs 1.60; 10^6 15.0 vs 9.1 and 6.9 vs 3.1.
# The bound is the largest size run for ten pairs; by 10^5 wall is worse.
_HELD_KEYS = 10_000

# Most source keys the probe and keep joins broadcast (a hash map of a
# few hundred MB); larger key sets take a sort-merge join (module
# docstring).
_BROADCAST_KEYS = 4_000_000


@dataclass(frozen=True)
class MergeClauses:
    """Resolved WHEN-clause configuration (SQL:2003 / Delta MERGE surface).

    Conditions are SQL boolean expressions. Target columns are referenced
    by their plain names; SOURCE columns by a ``src_`` prefix (``src_ts >
    ts`` = "source row is newer than the target row"), mirroring Delta's
    ``s.ts > t.ts`` with the alias folded into the name — keeps condition
    evaluation a single joined projection instead of an expression
    rewriter. ``not_matched_condition`` sees only source rows, so its
    columns use plain names.
    """

    matched: str = "update"                   # update | delete | ignore
    matched_condition: Optional[str] = None
    not_matched: str = "insert"               # insert | ignore
    not_matched_condition: Optional[str] = None
    nmbs: Optional[str] = None                # None | delete
    nmbs_condition: Optional[str] = None

    def is_default(self) -> bool:
        return (
            self.matched in ("update", "delete")
            and self.matched_condition is None
            and self.not_matched == "insert"
            and self.not_matched_condition is None
            and self.nmbs is None
        )

    def delta_is_source(self) -> bool:
        """Every source row lands: matched keys replace their rows and the
        rest insert, with no condition on either."""
        return (
            self.matched == "update"
            and self.matched_condition is None
            and self.not_matched == "insert"
            and self.not_matched_condition is None
        )

    def validate(self, src_cols: list, tgt_cols: list) -> None:
        if self.matched not in ("update", "delete", "ignore"):
            raise ValueError(
                f"when_matched must be 'update'|'delete'|'ignore', got {self.matched!r}"
            )
        if self.not_matched not in ("insert", "ignore"):
            raise ValueError(
                f"when_not_matched must be 'insert'|'ignore', got {self.not_matched!r}"
            )
        if self.nmbs not in (None, "delete"):
            raise ValueError(
                f"when_not_matched_by_source must be None|'delete', got {self.nmbs!r}"
            )
        if self.matched == "ignore" and self.not_matched == "ignore" and not self.nmbs:
            raise ValueError("MERGE with every clause a no-op")
        for cond, where in (
            (self.matched_condition, "matched_condition"),
            (self.nmbs_condition, "not_matched_by_source_condition"),
        ):
            for c in _cond_src_cols(cond):
                if c not in src_cols:
                    raise ValueError(
                        f"{where} references src_{c} but the source has no column {c!r}"
                    )
        if self.nmbs_condition and _cond_src_cols(self.nmbs_condition):
            raise ValueError(
                "not_matched_by_source_condition sees only target rows; "
                "src_ references are meaningless there"
            )


def _cond_src_cols(cond: Optional[str]) -> list:
    """Source columns a condition references via the ``src_`` prefix."""
    return sorted({m.group(1) for m in _SRC_REF.finditer(cond or "")})


def _cond_tgt_cols(cond: Optional[str], schema_cols: list) -> list:
    """Target schema columns a condition references by plain name —
    over-selection is harmless (probe stays column-pruned to the hits)."""
    if not cond:
        return []
    return [
        c
        for c in schema_cols
        if re.search(rf"(?<!src_)\b{re.escape(c)}\b", cond)
    ]


def merge_into(
    table: Table,
    spark: SparkSession,
    source: DataFrame,
    *,
    key: str = "image_id",
    target_file_size_bytes: int = 128 * 1024 * 1024,
    when_matched: str = "update",
    matched_condition: Optional[str] = None,
    when_not_matched: str = "insert",
    not_matched_condition: Optional[str] = None,
    when_not_matched_by_source: Optional[str] = None,
    not_matched_by_source_condition: Optional[str] = None,
    properties: Optional[dict] = None,
    mode: Optional[str] = None,
) -> Snapshot:
    """See module docstring. ``properties`` are merged into the table
    properties atomically with the merge commit (the hook transactional
    consumers use to record an applied range — see
    pipeline/incremental.py). ``when_matched``:

    - ``"update"`` (default): WHEN MATCHED THEN UPDATE SET * WHEN NOT
      MATCHED THEN INSERT * — the delta is the source wholesale.
    - ``"delete"``: WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN
      INSERT * — matched target rows are dropped; the delta is only the
      UNMATCHED source rows (the retention/replace merge shape).
    - ``"ignore"``: matched rows untouched (insert-only MERGE).

    Clause surface (SQL:2003 / Delta parity — see ``MergeClauses``):
    ``matched_condition`` gates the matched action per TARGET row
    (source columns referenced as ``src_<name>``, e.g. ``src_ts > ts``
    for the only-if-newer CDC shape; a key whose every target copy
    fails the condition is left untouched and its source row is
    dropped); ``when_not_matched="ignore"`` suppresses inserts;
    ``not_matched_condition`` filters insert rows (source columns,
    plain names); ``when_not_matched_by_source="delete"`` removes
    target rows whose key is absent from the source (the full-sync /
    mirror shape — inherently a whole-table probe unless
    ``not_matched_by_source_condition`` scopes it). ``mode`` is
    ``"copy-on-write"`` or ``"merge-on-read"`` (default: the table's
    write-mode property).
    """
    cl = MergeClauses(
        matched=when_matched,
        matched_condition=matched_condition,
        not_matched=when_not_matched,
        not_matched_condition=not_matched_condition,
        nmbs=when_not_matched_by_source,
        nmbs_condition=not_matched_by_source_condition,
    )
    declared = {f.name: f.dataType for f in table._schema(spark).fields}
    cols = list(declared)
    cl.validate(source.columns, cols)
    meta = table.metadata()
    mode = resolve_write_mode(meta, "merge", mode)
    mor = mode == "merge-on-read"
    if not mor:
        # the keep rewrite copies whole files, resurrecting rows a pending
        # positional/equality delete suppresses (the merge-on-read probe
        # reads THROUGH the pending sets, so it composes with them)
        table.refuse_pending_deletes("MERGE")
    t0 = time.time()
    pt = PhaseTimer()
    # the table's columns in their declared types, matched by name (the
    # rule of SQL INSERT and ``Table.append``), before anything is
    # planned or written; other columns stay for ``src_`` references
    src = source.select(
        *[
            F.col(c).cast(declared[c]).alias(c) if c in declared else F.col(c)
            for c in source.columns
        ]
    )
    with pt.phase("source_check"):
        held, src_key_counts, n_src_keys, src_lo, src_hi = _source_keys(src, key)

    def bc(df: DataFrame) -> DataFrame:
        # explicit hint (module docstring): AQE does NOT convert these
        # joins on its own, and the sort-merge join shuffles the payload
        return F.broadcast(df) if n_src_keys <= _BROADCAST_KEYS else df

    matched = nm = aff = None
    with FileSwap(table, spark, pt) as swap:
        try:
            key_frame = (
                local_frame(spark, {key: held})
                if held is not None
                else src_key_counts.select(key)
            )
            man = swap.man

            # probe: the live rows of the candidate files against the source
            # keys. Without NMBS only files whose key range meets the SOURCE
            # key range can hold a match: at 10^12 rows, recency-biased
            # (monotone) merge keys then scan a sliver of the key column, while
            # uniform keys prune nothing, which is the honest cost.
            preds: list = []
            cand = man
            if not cl.nmbs and src_lo is not None:
                statable = statable_cols(meta)
                stat_keys = transforms.identity_names(meta.partition_cols) + list(
                    meta.stats_cols
                )
                if key in stat_keys and key in statable:
                    preds = [(key, "between", (src_lo, src_hi))]
                    cand = prune_manifest(
                        man,
                        prune_predicates(meta, preds),
                        statable,
                    )
            # the matched rows the matched action applies to (None: all of them)
            aff_cond = None
            if cl.matched == "ignore":
                aff_cond = F.lit(False)
            elif cl.matched_condition:
                aff_cond = F.coalesce(F.expr(cl.matched_condition), F.lit(False))
            if len(cand):
                live = table.live_rows(
                    spark,
                    table.read_data(
                        spark,
                        [os.path.join(table.root, p) for p in cand["path"]],
                        meta=meta,
                    ),
                    swap.snapshot,
                )
                for c, op, v in preds:
                    live = live.filter(_pred_to_column(c, op, v))
                refs = set(
                    _cond_tgt_cols(cl.matched_condition, cols)
                    + _cond_tgt_cols(cl.nmbs_condition, cols)
                )
                probe = live.select(
                    key,
                    *[c for c in cols if c in refs and c != key],
                    "__mor_path",
                    *(["__mor_pos"] if mor else []),
                )
                src_refs = _cond_src_cols(cl.matched_condition)
                side = (
                    src.select(key, *[F.col(c).alias(f"src_{c}") for c in src_refs])
                    if src_refs
                    else key_frame
                )
                if cl.nmbs:
                    probe = probe.join(
                        bc(side.withColumn("__in_src", F.lit(True))), key, "left"
                    )
                    matched = probe.filter(F.col("__in_src").isNotNull())
                    nm = probe.filter(F.col("__in_src").isNull())
                    if cl.nmbs_condition:
                        nm = nm.filter(F.expr(cl.nmbs_condition))
                else:
                    matched = probe.join(bc(side), key, "inner")
                if held is None:
                    matched = matched.persist()
                aff = matched if aff_cond is None else matched.filter(aff_cond)

            hits = aff_hits = None
            if matched is not None and held is not None:
                # one row per matched key: the files holding its affected rows
                path = F.col("__mor_path")
                if aff_cond is not None:
                    path = F.when(aff_cond, path)
                with pt.phase("probe"):
                    hits = (
                        matched.groupBy(key)
                        .agg(F.collect_set(path).alias("paths"))
                        .toArrow()
                    )
                aff_hits = hits.filter(
                    pc.greater(pc.list_value_length(hits.column("paths")), 0)
                )

            def key_set(affected: bool) -> DataFrame:
                """The matched target keys (``affected``: only the affected
                ones) as a join build side."""
                if hits is not None:
                    got = aff_hits if affected else hits
                    return bc(local_frame(spark, {key: got.column(key)}))
                return bc((aff if affected else matched).select(key).distinct())

            touched: set = set()
            n_removed = n_nmbs = 0
            if mor:
                if aff is not None:
                    with pt.phase("probe"):
                        new_deletes, n_removed = write_position_deletes(table, aff)
                    swap.add_deletes(new_deletes)
                if nm is not None:
                    with pt.phase("nmbs_probe"):
                        nm_deletes, n_nmbs = write_position_deletes(table, nm)
                    swap.add_deletes(nm_deletes)
                    n_removed += n_nmbs
            else:
                if hits is not None:
                    flat = pc.list_flatten(hits.column("paths"))
                    touched = set(pc.unique(flat).to_pylist())
                elif aff is not None:
                    with pt.phase("probe"):
                        touched = set(
                            aff.select("__mor_path").distinct().toPandas()["__mor_path"]
                        )
                if nm is not None:
                    with pt.phase("nmbs_probe"):
                        per_file = nm.groupBy("__mor_path").count().toPandas()
                    touched |= set(per_file["__mor_path"])
                    n_nmbs = int(per_file["count"].sum())

            # with no matched condition every source key found in a touched
            # file is affected, so the source key set itself is the build side
            drop_keys = None
            if touched:
                drop_keys = bc(key_frame) if aff_cond is None else key_set(True)

            def keep(rows: DataFrame) -> DataFrame:
                kept = rows.join(drop_keys, key, "left_anti")
                if nm is None:
                    return kept
                # drop rows with no source coverage whose NMBS condition holds
                # (tri-state: only TRUE drops)
                gone = (
                    F.coalesce(F.expr(cl.nmbs_condition), F.lit(False))
                    if cl.nmbs_condition
                    else F.lit(True)
                )
                return (
                    kept.join(
                        bc(key_frame.withColumn("__in_src", F.lit(True))), key, "left"
                    )
                    .filter(~(gone & F.col("__in_src").isNull()))
                    .drop("__in_src")
                )

            def delta_frame() -> Optional[DataFrame]:
                if cl.delta_is_source():
                    return src.select(cols)
                parts = []
                if cl.matched == "update" and matched is not None:
                    parts.append(src.join(key_set(True), key, "left_semi"))
                if cl.not_matched == "insert":
                    ins = src
                    if matched is not None:
                        ins = ins.join(key_set(False), key, "left_anti")
                    if cl.not_matched_condition:
                        ins = ins.filter(F.expr(cl.not_matched_condition))
                    parts.append(ins)
                if not parts:
                    return None
                return reduce(DataFrame.unionByName, [p.select(cols) for p in parts])

            delta: dict = {}

            def write_delta() -> None:
                df = delta_frame()
                if df is not None:
                    delta["prefix"] = _modest_write(table, df, key)
                    delta["entries"] = written_entries(table, spark, delta["prefix"], pt)
                    swap.add(delta["entries"])

            def count_matched() -> None:
                # re-aggregated from the persisted probe rows (no second file
                # scan), inside the pool so its job hides behind the writes
                with pt.phase("count_matched"):
                    delta["n_aff"] = key_set(True).count()

            # the delta depends only on the source: it runs CONCURRENTLY with
            # the keep rewrites (none in merge-on-read), its cost hidden in the
            # rewrite wall time
            touched_man = man[man["path"].isin(touched)]
            keep_entries = swap.rewrite(
                touched_man,
                keep,
                target_file_size_bytes,
                alongside=[write_delta]
                + ([count_matched] if hits is None and matched is not None else []),
            )
            if not mor:
                n_removed = records(touched_man) - records(keep_entries)
        finally:
            _unpersist(matched, src_key_counts)

        n_aff = aff_hits.num_rows if aff_hits is not None else delta.get("n_aff", 0)
        delta_entries = delta.get("entries")
        n_delta = 0 if delta_entries is None else int(delta_entries["record_count"].sum())
        n_updated = n_aff if cl.matched == "update" else 0
        summary = {
            "stage": "merge",
            "mode": mode,
            "when_matched": cl.matched,
            "rows_updated": int(n_updated),
            "rows_deleted": int((n_aff if cl.matched == "delete" else 0) + n_nmbs),
            "rows_nmbs_deleted": int(n_nmbs),
            "rows_inserted": int(max(0, n_delta - n_updated)),
            "rows_replaced_dupes": int(max(0, n_removed - n_aff - n_nmbs)),
            "files_rewritten": len(touched),
            "duration_sec": round(time.time() - t0, 3),
            "phase_sec": pt.summary(),
        }
        if not cl.is_default():
            summary["clauses"] = {
                "matched_condition": cl.matched_condition,
                "when_not_matched": cl.not_matched,
                "not_matched_condition": cl.not_matched_condition,
                "when_not_matched_by_source": cl.nmbs,
                "not_matched_by_source_condition": cl.nmbs_condition,
            }
        if delta_entries is not None:
            # delta files = the upserted source rows; Table.changes() uses this
            # prefix for snapshot-diff incremental reads (T5)
            summary["delta_prefix"] = os.path.relpath(delta["prefix"], table.root) + "/"
        if mor:
            summary.update(
                rows_suppressed_positions=int(n_removed),
                delete_files_added=len(swap.delete_paths),
            )
        return swap.commit("merge", summary, rows_key=None, properties=properties)


def _source_keys(src: DataFrame, key: str) -> tuple:
    """Step 1 of the module docstring: ``(held, counts, n_keys, lo, hi)``
    — the source key column on the driver (``held``, a pyarrow array) or
    the persisted per-key counts (``counts``), the key count and the key
    range. Raises on a duplicate source key."""
    limit = min(_HELD_KEYS, _BROADCAST_KEYS)
    if _footer_rows_fit(src, limit):
        # ONE column-pruned fetch of at most limit+1 keys gives the
        # duplicate check, the key count AND the source key range for
        # probe-scan pruning, with no aggregate and nothing persisted. It
        # overflows only when the plan multiplies rows (a join).
        got = src.select(key).limit(limit + 1).toArrow()
        if got.num_rows <= limit:
            held = got.column(0)
            if pc.count_distinct(held, mode="all").as_py() < len(held):
                raise ValueError(f"MERGE source has duplicate keys on {key!r}")
            bounds = pc.min_max(held)
            lo, hi = bounds["min"].as_py(), bounds["max"].as_py()
            return held, None, len(held), lo, hi
    counts = src.groupBy(key).count().persist()
    # ONE job gives the duplicate check, the key count AND the key range
    # (a separate min/max job would re-scan the source key column). Read
    # as Arrow, like the held keys, so a timestamp range is tz-aware, as
    # the manifest stats it is compared with are.
    r = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("count").alias("max_dup"),
        F.min(key).alias("lo"),
        F.max(key).alias("hi"),
    ).toArrow().to_pylist()[0]
    if (r["max_dup"] or 0) > 1:
        counts.unpersist()
        raise ValueError(f"MERGE source has duplicate keys on {key!r}")
    return None, counts, int(r["n_keys"] or 0), r["lo"], r["hi"]


def _modest_write(table, df, key: str) -> str:
    """Write a small delta (updates/inserts) as a handful of files sorted
    by the table's partition spec, then its write order
    (``Table.write_order``; the key ``key`` when it has none) — no
    shuffle beyond a coalesce."""
    # parallel encode: a fixed-size delta written with 1 task is a pure
    # anti-scaling term (identical absolute cost at every core count)
    n_out = max(1, min(df.sparkSession.sparkContext.defaultParallelism // 2, 16))
    order = table.write_order()
    out = df.coalesce(n_out).sortWithinPartitions(
        *transforms.exprs(table.metadata().partition_cols),
        *(order.exprs() if order else [F.col(key)]),
    )
    prefix = table.new_data_prefix()
    table.data_writer(out).parquet(prefix)
    return prefix


def _footer_rows_fit(src: DataFrame, limit: int) -> bool:
    """Whether ``src`` reads only local parquet files whose footers hold
    at most ``limit`` rows in all — known without a Spark job, so a
    source the driver-held path cannot take costs no wasted fetch.
    False for computed frames, other formats and remote files, and
    after ``FOOTER_SPARK_THRESHOLD`` footers."""
    files = src.inputFiles()
    if not files or len(files) > FOOTER_SPARK_THRESHOLD:
        return False
    n = 0
    for uri in files:
        if not uri.startswith("file:"):
            return False
        try:
            n += pq.ParquetFile(_strip_scheme(uri)).metadata.num_rows
        except (OSError, pa.ArrowException):
            return False
        if n > limit:
            return False
    return True


def _unpersist(*dfs) -> None:
    for df in dfs:
        if df is not None:
            df.unpersist()
