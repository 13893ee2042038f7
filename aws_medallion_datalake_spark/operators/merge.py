"""MERGE INTO (upsert) with copy-on-write file rewrite and skew handling.

The reference's only write semantic is blind overwrite-refresh
(/root/reference/scripts/silver_digit_clean.py:127, SURVEY.md §2.9 T6);
MERGE is the operation the north_rule adds. Semantics (Iceberg
``MERGE INTO t USING s ON t.image_id = s.image_id WHEN MATCHED THEN UPDATE
SET * WHEN NOT MATCHED THEN INSERT *``):

1. **Find touched files** — join the target scan (key + hidden
   ``_metadata.file_path``) against the source keys; only files
   containing a matched key are rewritten (column-pruned scan: the probe
   reads just ``image_id`` from parquet). When the source reads parquet
   files whose footers hold at most ``_HELD_KEYS`` rows (10^4, below
   ``broadcast_key_limit``; the measurements behind it sit beside the
   constant), its key column is fetched to the driver once (one
   column-pruned ``limit(limit + 1)`` Arrow fetch: duplicate check, key
   count and key range in pyarrow) and re-enters Spark as a
   ``LocalRelation``, so neither the check nor the broadcast persists
   anything or aggregates. The probe is then ONE query grouped by key —
   ``collect_set(path)`` per matched key, at most one row per source
   key, fetched as Arrow — which yields the touched files, the matched
   key count and the matched keys. Every other source (larger, computed,
   or not parquet) keeps the persisted ``groupBy(key).count()`` check
   and a persisted (key, path) probe aggregated per file, with no fetch
   tried first: the footer sum costs no Spark job. Either way the driver
   never collects row objects.
2. **Rewrite without a payload join** — because MATCHED THEN UPDATE SET *
   replaces the whole row, the rewrite is pure set algebra on the KEY:

       keep  = touched-file rows ANTI-JOIN source keys
       delta = source, wholesale

   (`touched` holds EVERY file containing a source key, so
   updates ∪ inserts == source exactly — no insert anti-join needed.)
   The key set is broadcast EXPLICITLY (``F.broadcast``) whenever the
   source is small enough (``broadcast_key_limit`` rows, default 4M ≈
   a few hundred MB of hash map): relying on AQE to convert the
   anti-join was measured NOT to fire here — the planner keeps a
   sort-merge join and funnels every payload byte through a
   ``shuffle.partitions``-wide exchange (1.4 GB through 8 reducers in
   the 96k-row bench), which is both a full extra copy of the table
   and a parallelism cap. With the explicit hint the anti-join is a
   broadcast filter: **no image payload ever shuffles** — the keep-side
   write preserves its input splits (each read task writes its
   already-clustered, already-sized partition straight back out,
   Iceberg-style copy-on-write), and the source lands as modest
   cluster-key-sorted delta files. Sources above the limit fall back to
   the shuffled anti-join (AQE skew handling applies) — at that size the
   source rivals the table and a shuffle is the honest cost.

   Touched files are rewritten by ``tableformat.rewrite_files``, the
   copy-on-write rewrite every row-level write shares, in **bounded
   groups** of at most ``REWRITE_GROUP_FILES`` (4096, a constant) files
   running concurrently from a driver thread pool beside the delta
   write — the Iceberg RewriteDataFiles architecture: a broad merge over
   10^7 files becomes many independent medium jobs instead of one
   monster job, and group parallelism keeps a 1000-executor cluster
   busy.
3. **Counts** — rows_updated counts matched DISTINCT target keys (the
   row count of the per-key probe; on the persisted path, a distinct
   count over the persisted probe rows run beside the rewrites — no
   second scan of the touched files), so rows_inserted =
   |source| − rows_updated is never negative even when plain appends
   left duplicate keys across files; the duplicate copies swept by the
   rewrite are reported separately as ``rows_replaced_dupes`` (computed
   free of charge from manifest arithmetic: touched_records −
   keep_records − rows_updated).
4. **Commit** — old manifest minus touched files plus new entries, as one
   ``merge`` snapshot (readers never see a half-merge).

Repeated merges shrink keep-files below target and accrete small delta
files — exactly the debt bin-packing compaction repays; clustering
restores global sort order. This is the same division of labor as
Iceberg's MERGE + RewriteDataFiles.

Skew: the hot-phash tail concentrates matched keys in a few files; with
broadcast key-joins there is no shuffle for skew to poison. In the SMJ
fallback (source too large to broadcast its keys) two mechanisms apply:
AQE skew-join splitting (session default, splits oversized LEFT
partitions of the anti-join at runtime) and — opt-in via
``smj_salt_buckets=N`` — explicit SALTED keys: every target row gets a
row-local salt ``pmod(monotonically_increasing_id(), N)`` and the source
key set is replicated across all N salt values, so a key duplicated
across millions of target rows (hot phash bucket re-ingested many times)
spreads over N reduce partitions instead of one. Row-salting is always
correct for this replicate-the-keys join shape: a target row matches on
(key, salt) iff its key matches, whatever its salt. The cost is an N×
blow-up of the (small, key-only) build side, which is why it is opt-in
for known-pathological tails rather than the default.

Source key uniqueness is enforced (duplicate source keys make MERGE
non-deterministic — same rule as Iceberg's cardinality check).
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass
from typing import Optional

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import transforms
from ..sources.tableformat import (
    FOOTER_SPARK_THRESHOLD,
    Snapshot,
    Table,
    _strip_scheme,
    resolve_write_mode,
    rewrite_files,
    statable_cols,
    written_entries,
)
from ..sources.tableformat import rel_path_expr as _rel_path_expr
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
    broadcast_key_limit: int = 4_000_000,
    when_matched: str = "update",
    matched_condition: Optional[str] = None,
    when_not_matched: str = "insert",
    not_matched_condition: Optional[str] = None,
    when_not_matched_by_source: Optional[str] = None,
    not_matched_by_source_condition: Optional[str] = None,
    smj_salt_buckets: int = 0,
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
      INSERT * — matched target rows are dropped by the same key-only
      anti-join rewrite; the delta is only the UNMATCHED source rows
      (the retention/replace merge shape).
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
    ``not_matched_by_source_condition`` scopes it, so stats pruning on
    the condition bounds the touched set). Defaults reproduce the
    classic upsert exactly (same fast path, zero plan change).
    """
    cl = MergeClauses(
        matched=when_matched,
        matched_condition=matched_condition,
        not_matched=when_not_matched,
        not_matched_condition=not_matched_condition,
        nmbs=when_not_matched_by_source,
        nmbs_condition=not_matched_by_source_condition,
    )
    cl.validate(source.columns, [f.name for f in table._schema(spark).fields])
    mode = resolve_write_mode(table.metadata(), "merge", mode)
    if mode == "copy-on-write":
        # the keep-path rewrite copies whole files, resurrecting rows a
        # pending positional/equality delete suppresses (the
        # merge-on-read path instead probes THROUGH the pending sets, so
        # it composes with them)
        table.refuse_pending_deletes("MERGE")
    t0 = time.time()
    pt = PhaseTimer()
    man = table.manifest_pdf()

    # The source PAYLOAD is deliberately NOT cached: every payload column
    # is consumed exactly once (the delta write), while the KEY column is
    # consumed several times (duplicate check, probe join, delete-mode
    # anti-join) — so only the key set is kept. Caching the payload
    # forced a full materialization of the binary column during the
    # check, an allocation-heavy parallelism-independent term measured at
    # 6-14 s on the bench source (and anti-scaling with cores on
    # alloc-degraded hosts); the key-only scan is column-pruned at the
    # parquet reader. Computed (non-file) sources pay one re-evaluation
    # at the delta write — cache upstream if that plan is expensive.
    src = source
    src_key_counts = None
    # the source's key column on the driver, when its parquet footers
    # hold at most ``_HELD_KEYS`` rows (and they fit the broadcast limit)
    held = None
    held_limit = min(_HELD_KEYS, broadcast_key_limit)
    src_lo = src_hi = None
    with pt.phase("source_check"):
        if _footer_rows_fit(src, held_limit):
            # ONE column-pruned fetch of at most limit+1 keys gives the
            # duplicate check, the key count AND the source key range for
            # probe-scan pruning, with no aggregate and nothing persisted.
            # It overflows only when the plan multiplies rows (a join).
            got = src.select(key).limit(held_limit + 1).toArrow()
            if got.num_rows <= held_limit:
                held = got.column(0)
                if pc.count_distinct(held, mode="all").as_py() < len(held):
                    raise ValueError(f"MERGE source has duplicate keys on {key!r}")
                n_src_keys = len(held)
                bounds = pc.min_max(held)
                src_lo, src_hi = bounds["min"].as_py(), bounds["max"].as_py()
        if held is None:
            src_key_counts = src.groupBy(key).count().persist()
            # ONE job gives the duplicate check, the key count AND the
            # source key range for probe-scan pruning (its fixed driver
            # cost is the parallelism-independent term that caps merge's
            # measured scaling at small stage durations — a separate
            # min/max job would re-scan the source key column). Read as
            # Arrow, like the held keys, so a timestamp range is
            # tz-aware, as the manifest stats it is compared with are.
            r = src_key_counts.agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.max("count").alias("max_dup"),
                F.min(key).alias("lo"),
                F.max(key).alias("hi"),
            ).toArrow().to_pylist()[0]
            if (r["max_dup"] or 0) > 1:
                raise ValueError(f"MERGE source has duplicate keys on {key!r}")
            n_src_keys = int(r["n_keys"] or 0)
            src_lo, src_hi = r["lo"], r["hi"]
    # a driver-held key set re-enters Spark as a LocalRelation: nothing
    # persisted, no aggregate
    key_frame = (
        local_frame(spark, {key: held})
        if held is not None
        else src_key_counts.select(key)
    )
    src_keys = key_frame
    use_salt = n_src_keys > broadcast_key_limit and smj_salt_buckets > 1
    if n_src_keys <= broadcast_key_limit:
        # explicit hint — see module docstring: AQE does NOT convert this
        # anti-join on its own, and the SMJ it keeps shuffles the payload
        src_keys = F.broadcast(src_keys)
    elif use_salt:
        salted_keys = src_keys.crossJoin(
            spark.range(smj_salt_buckets).select(
                F.col("id").cast("int").alias("__salt")
            )
        )

    def _key_join(tgt_df: DataFrame, how: str) -> DataFrame:
        """Join target rows against the source key set (``inner`` for the
        probe, ``left_anti`` for the keep rewrite). In salted-SMJ mode the
        target side gets a ROW-local salt — duplicates of one hot key
        spread across ``smj_salt_buckets`` reduce partitions — and the
        key set is replicated over every salt value (see module
        docstring: correct for any row salt)."""
        if not use_salt:
            return tgt_df.join(src_keys, key, how)
        return (
            tgt_df.withColumn(
                "__salt",
                F.pmod(
                    F.monotonically_increasing_id(), F.lit(smj_salt_buckets)
                ).cast("int"),
            )
            .join(salted_keys, [key, "__salt"], how)
            .drop("__salt")
        )

    # 1. touched files: column-pruned probe scan, aggregated per file and
    #    resolved against the manifest — one Arrow batch of manifest rows
    #    for exactly the touched files, never a row-object collect. The
    #    (key, path) probe rows are persisted so the matched-DISTINCT-key
    #    count is a re-aggregation of this small cached set instead of a
    #    second scan of every touched file.
    #    When the merge key carries manifest min/max stats, the probe scan
    #    is additionally pruned to files whose key range intersects the
    #    SOURCE key range — sound (every match lies inside [min(src),
    #    max(src)]), and the difference between scanning the whole key
    #    column of a 10^12-row table and scanning a sliver of it when
    #    merges are recency-biased (monotone ids: the common production
    #    case). Uniform-random source keys span the table and prune
    #    nothing, which is the honest cost.
    meta = table.metadata()
    probe_preds = None
    if src_lo is not None and key in (
        [c for c in transforms.identity_names(meta.partition_cols)
        + list(meta.stats_cols) if c in statable_cols(meta)]
    ):
        probe_preds = [(key, "between", (src_lo, src_hi))]
    if mode == "merge-on-read":
        try:
            return _mor_merge(
                table, spark, src, key, src_keys, probe_preds, cl,
                n_src_keys, properties, pt, t0,
            )
        finally:
            _unpersist(src_key_counts)
    if not cl.is_default():
        try:
            return _cow_merge_clauses(
                table, spark, src, key,
                broadcast=n_src_keys <= broadcast_key_limit,
                held_keys=key_frame if held is not None else None,
                probe_preds=probe_preds, cl=cl, properties=properties,
                pt=pt, t0=t0,
                target_file_size_bytes=target_file_size_bytes,
            )
        finally:
            _unpersist(src_key_counts)

    target_all = table.scan(spark, predicates=probe_preds)
    rel = _rel_path_expr(table.root)
    probe_rows = _key_join(
        target_all.select(F.col(key), rel.alias("path")), "inner"
    )
    count_box = {"n": 0}
    probe = None
    if held is not None:
        # one row per matched key, at most n_src_keys rows: the touched
        # files, the matched-DISTINCT-key count and the matched keys
        # themselves, from one query and nothing persisted
        with pt.phase("probe"):
            hits = (
                probe_rows.groupBy(key)
                .agg(F.collect_set("path").alias("paths"))
                .toArrow()
            )
        touched_rel = set(
            pc.unique(pc.list_flatten(hits.column("paths"))).to_pylist()
        )
        count_box["n"] = hits.num_rows
        if when_matched == "delete":
            matched_keys = F.broadcast(
                local_frame(spark, {key: hits.column(key)})
            )
    else:
        probe = probe_rows.persist()
        with pt.phase("probe"):
            touched_pdf = (
                probe.groupBy("path")
                .agg(F.count(F.lit(1)).alias("n_matched_rows"))
                .toPandas()
            )
        touched_rel = set(touched_pdf["path"])
        matched_keys = probe.select(key).distinct()
    touched_man = man[man["path"].isin(touched_rel)]

    cols = [f.name for f in table._schema(spark).fields]
    delta: dict = {}

    def write_delta() -> None:
        # Every source row survives an UPDATE-mode MERGE: matched keys
        # replace target rows (their old copies were filtered from the
        # touched files), unmatched keys are inserts — and since
        # `touched` contains EVERY file holding a source key,
        # updates ∪ inserts == source exactly. One wholesale delta
        # write, no insert anti-join job. DELETE mode keeps only the
        # unmatched (insert) source rows: matched rows vanish with the
        # keep-side anti-join.
        delta_src = src.select(cols)
        if when_matched == "delete":
            delta_src = delta_src.join(matched_keys, key, "left_anti")
        delta["prefix"] = _modest_write(table, delta_src, key)
        delta["entries"] = written_entries(table, spark, delta["prefix"], pt)

    def count_matched() -> None:
        # rows_updated = matched DISTINCT keys (duplicate target copies
        # must not push rows_inserted negative) — re-aggregated from the
        # cached probe rows (no second file scan), and run INSIDE the
        # pool so its job hides behind the rewrites.
        with pt.phase("count_matched"):
            count_box["n"] = matched_keys.count()

    # MATCHED THEN UPDATE SET * == replace whole row → key-only anti-join;
    # the broadcast filter preserves input splits, so each read task
    # writes its (already clustered, already ≈target-sized) partition
    # straight back out. The delta write depends only on the source, so
    # it runs CONCURRENTLY with the keep-rewrites — its cost hides inside
    # the rewrite wall time instead of adding a serial tail.
    keep_entries = rewrite_files(
        table,
        spark,
        touched_man,
        lambda rows: _key_join(rows, "left_anti"),
        target_file_size_bytes,
        pt,
        alongside=[write_delta] + ([count_matched] if probe is not None else []),
    )

    n_matched = count_box["n"]
    delta_entries = delta["entries"]
    n_src = int(delta_entries["record_count"].sum()) if delta_entries is not None else 0
    keep_records = int(keep_entries["record_count"].sum())
    # delete mode: the delta holds only unmatched rows, so its record
    # count IS the insert count; matched keys were dropped, not updated
    n_inserts = n_src if when_matched == "delete" else n_src - n_matched
    touched_records = int(touched_man["record_count"].sum()) if len(touched_man) else 0
    n_dupes = max(0, touched_records - keep_records - n_matched)

    keep_man = man[~man["path"].isin(touched_rel)]
    new_man = pd.concat([keep_man, keep_entries, delta_entries], ignore_index=True)
    snap = table.commit(
        "merge",
        new_man,
        {
            "stage": "merge",
            # delta files = the upserted source rows; Table.changes()
            # uses this prefix for snapshot-diff incremental reads (T5)
            "delta_prefix": _rel(table, delta["prefix"]) + "/",
            "when_matched": when_matched,
            "rows_updated": int(n_matched) if when_matched == "update" else 0,
            "rows_deleted": int(n_matched) if when_matched == "delete" else 0,
            "rows_inserted": int(n_inserts),
            "rows_replaced_dupes": int(n_dupes),
            "files_rewritten": len(touched_rel),
            "duration_sec": round(time.time() - t0, 3),
            "phase_sec": pt.summary(),
        },
        properties=properties,
    )
    _unpersist(probe, src_key_counts)
    return snap


def _cow_merge_clauses(
    table: Table,
    spark: SparkSession,
    src: DataFrame,
    key: str,
    *,
    broadcast: bool,
    held_keys: Optional[DataFrame],
    probe_preds,
    cl: MergeClauses,
    properties: Optional[dict],
    pt: PhaseTimer,
    t0: float,
    target_file_size_bytes: int,
) -> Snapshot:
    """Generalized copy-on-write MERGE for any non-default clause config
    (conditional WHEN MATCHED, insert suppression/filtering, WHEN NOT
    MATCHED BY SOURCE DELETE). Same architecture as the fast path —
    column-pruned probes, key-only anti-join rewrites in bounded
    thread-pool groups, one atomic commit — plus:

    - the matched CONDITION is evaluated once, at probe time, over a
      projection carrying only the referenced columns (target plain,
      source as ``src_<name>``); the rewrite itself stays a key-only
      anti-join against the *affected* key set, so files whose every
      match fails the condition are never rewritten at all;
    - NOT MATCHED BY SOURCE probes the FULL table (source-key-range
      pruning is unsound there — a deletable row is precisely one the
      source doesn't cover); its condition is re-evaluated per row in
      the keep-side rewrite with a broadcast membership marker.

    At 10^12 rows the unconditioned full-sync shape (``nmbs="delete"``,
    no condition) honestly touches every file not fully covered by the
    source — that IS the operation; a scoped condition (partition
    predicate) bounds the probe like any stats-pruned scan.
    """
    man = table.manifest_pdf()
    schema_cols = [f.name for f in table._schema(spark).fields]
    rel = _rel_path_expr(table.root)

    def _bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast else df

    # merge_into's driver-held key set (a LocalRelation: no distinct
    # shuffle) when it fetched one
    src_keys = held_keys if held_keys is not None else src.select(key).distinct()

    # ---- matched probe: (key, path) pairs + the clause condition,
    # evaluated over only the referenced columns
    m_src = _cond_src_cols(cl.matched_condition)
    m_tgt = _cond_tgt_cols(cl.matched_condition, schema_cols)
    probe_side = src.select(
        key, *[F.col(c).alias(f"src_{c}") for c in m_src]
    )
    tgt = table.scan(spark, predicates=probe_preds)
    probe = (
        tgt.select(
            F.col(key),
            *[F.col(c) for c in m_tgt if c != key],
            rel.alias("__path"),
        )
        .join(_bc(probe_side), key, "inner")
        .persist()
    )
    if cl.matched == "ignore":
        aff = probe.limit(0).select(key, "__path")
    elif cl.matched_condition:
        aff = probe.filter(F.expr(cl.matched_condition)).select(key, "__path")
    else:
        aff = probe.select(key, "__path")
    aff = aff.persist()
    with pt.phase("probe"):
        touched_matched = set(
            aff.select("__path").distinct().toPandas()["__path"]
        )
        n_replaced = aff.select(key).distinct().count()
    replaced_keys = aff.select(key).distinct()

    # ---- NOT MATCHED BY SOURCE probe: full-table, no source-range pruning
    nmbs_rows = 0
    touched_nmbs: set = set()
    if cl.nmbs == "delete":
        nm_tgt = _cond_tgt_cols(cl.nmbs_condition, schema_cols)
        nm = table.scan(spark).select(
            F.col(key),
            *[F.col(c) for c in nm_tgt if c != key],
            rel.alias("__path"),
        ).join(_bc(src_keys), key, "left_anti")
        if cl.nmbs_condition:
            nm = nm.filter(F.expr(cl.nmbs_condition))
        with pt.phase("nmbs_probe"):
            nm_pdf = nm.groupBy("__path").agg(
                F.count(F.lit(1)).alias("n")
            ).toPandas()
        touched_nmbs = set(nm_pdf["__path"])
        nmbs_rows = int(nm_pdf["n"].sum()) if len(nm_pdf) else 0

    touched_rel = touched_matched | touched_nmbs
    delta: dict = {}

    def keep(rows: DataFrame) -> DataFrame:
        kept = rows.join(_bc(replaced_keys), key, "left_anti")
        if cl.nmbs != "delete":
            return kept
        # drop rows where the nmbs condition holds AND the key has no
        # source coverage — broadcast membership marker, tri-state
        # condition folded to drop-only-when-TRUE
        cond = (
            F.coalesce(F.expr(cl.nmbs_condition), F.lit(False))
            if cl.nmbs_condition
            else F.lit(True)
        )
        return (
            kept.join(
                _bc(src_keys.withColumn("__in_src", F.lit(1))), key, "left"
            )
            .filter(~(cond & F.col("__in_src").isNull()))
            .drop("__in_src")
        )

    def write_delta() -> None:
        parts = []
        if cl.matched == "update" and n_replaced:
            parts.append(src.join(_bc(replaced_keys), key, "left_semi"))
        if cl.not_matched == "insert":
            ins = src.join(_bc(probe.select(key).distinct()), key, "left_anti")
            if cl.not_matched_condition:
                ins = ins.filter(F.expr(cl.not_matched_condition))
            parts.append(ins)
        if not parts:
            return
        delta_src = parts[0].select(schema_cols)
        for p in parts[1:]:
            delta_src = delta_src.unionByName(p.select(schema_cols))
        delta["prefix"] = _modest_write(table, delta_src, key)
        delta["entries"] = written_entries(table, spark, delta["prefix"], pt)

    keep_entries = rewrite_files(
        table,
        spark,
        man[man["path"].isin(touched_rel)],
        keep,
        target_file_size_bytes,
        pt,
        alongside=[write_delta],
    )
    delta_entries = delta.get("entries")
    delta_records = (
        int(delta_entries["record_count"].sum()) if delta_entries is not None else 0
    )
    n_inserts = delta_records - (n_replaced if cl.matched == "update" else 0)

    keep_man = man[~man["path"].isin(touched_rel)]
    new_man = pd.concat([keep_man, keep_entries, delta_entries], ignore_index=True)
    summary = {
        "stage": "merge",
        "when_matched": cl.matched,
        "clauses": {
            "matched_condition": cl.matched_condition,
            "when_not_matched": cl.not_matched,
            "not_matched_condition": cl.not_matched_condition,
            "when_not_matched_by_source": cl.nmbs,
            "not_matched_by_source_condition": cl.nmbs_condition,
        },
        "rows_updated": int(n_replaced) if cl.matched == "update" else 0,
        "rows_deleted": (int(n_replaced) if cl.matched == "delete" else 0)
        + int(nmbs_rows),
        "rows_nmbs_deleted": int(nmbs_rows),
        "rows_inserted": int(max(0, n_inserts)),
        "files_rewritten": len(touched_rel),
        "duration_sec": round(time.time() - t0, 3),
        "phase_sec": pt.summary(),
    }
    if delta_entries is not None:
        summary["delta_prefix"] = _rel(table, delta["prefix"]) + "/"
    snap = table.commit("merge", new_man, summary, properties=properties)
    probe.unpersist()
    aff.unpersist()
    return snap


def _mor_merge(
    table: Table,
    spark: SparkSession,
    src: DataFrame,
    key: str,
    src_keys: DataFrame,
    probe_preds,
    cl: MergeClauses,
    n_src_keys: int,
    properties: Optional[dict],
    pt: PhaseTimer,
    t0: float,
) -> Snapshot:
    """Merge-on-read MERGE (Iceberg v2 write mode): matched target rows
    are suppressed with POSITIONAL DELETE files and the source lands as
    an appended delta — O(delta + matched positions) IO instead of
    rewriting every file holding a source key. This is the write path a
    clustered table needs: after a Morton/Hilbert cluster run, source
    keys scatter across the curve, so a copy-on-write merge degenerates
    to a full-table rewrite (measured: uniform keys touch 100% of
    files); merge-on-read keeps the merge O(changes) and defers the
    rewrite to ``apply_deletes`` maintenance, exactly like the
    positional-delete flavor of DELETE. Commits with an append-style
    delta manifest (O(added) manifest bytes) plus the grown delete set;
    scans compose it with any pending deletes (the probe reads THROUGH
    them, so already-suppressed rows are never re-recorded).
    CDC note: ``changes_cdc`` reads this commit as delta inserts + the
    positional deletes; with ``key_cols`` the matched keys pair into
    update pre/post images exactly like the copy-on-write path.

    Clause generality comes almost free in this write mode: a matched
    CONDITION just filters which (path, pos) pairs become delete
    records; WHEN NOT MATCHED BY SOURCE DELETE is a second anti-join
    probe whose positions land in the same delete-file write —
    O(deleted rows), no rewrite, the natural physical plan for sync
    deletes on a clustered 10^12-row table (the copy-on-write path
    must rewrite every touched file instead). The NMBS probe disables
    source-key-range pruning (a deletable row is precisely one the
    source does not cover)."""
    import shutil

    import pyarrow.parquet as _pq

    from ..sources.tableformat import prune_manifest

    schema = table._schema(spark)
    cols = [f.name for f in schema.fields]
    meta = table.metadata()
    man = table.manifest_pdf() if meta.current_snapshot_id is not None else None
    snap = table.snapshot() if meta.current_snapshot_id is not None else None

    dprefix = table.new_data_prefix()
    new_delete_rel: list = []
    n_del_rows = 0
    n_matched_pos = 0
    nmbs_rows = 0
    matched = None
    aff_keys = None
    if man is not None and len(man):
        statable = statable_cols(meta)
        # NMBS must see the whole table; otherwise prune to the source
        # key range as usual
        cand = (
            prune_manifest(
                man,
                transforms.extend_predicates(meta.partition_cols, probe_preds),
                statable,
            )
            if probe_preds and not cl.nmbs
            else man
        )
        if len(cand):
            m_src = _cond_src_cols(cl.matched_condition)
            probe_side = (
                src.select(
                    key, *[F.col(c).alias(f"src_{c}") for c in m_src]
                )
                if m_src
                else src_keys
            )
            with pt.phase("probe"):
                live = table._apply_mor_deletes(
                    spark,
                    table.read_data(
                        spark,
                        [os.path.join(table.root, p) for p in cand["path"]],
                    ),
                    snap,
                    keep_pos_cols=True,
                )
                live = table._apply_eq_deletes(
                    spark, live, snap, path_col="__mor_path"
                )
                m_tgt = _cond_tgt_cols(cl.matched_condition, cols)
                matched = (
                    live.select(
                        F.col(key),
                        *[F.col(c) for c in m_tgt if c != key],
                        "__mor_path",
                        "__mor_pos",
                    )
                    .join(probe_side, key, "inner")
                    .persist()
                )
                if cl.matched == "ignore":
                    affpos = matched.limit(0)
                elif cl.matched_condition:
                    affpos = matched.filter(F.expr(cl.matched_condition))
                else:
                    affpos = matched
                aff_keys = affpos.select(key).distinct().persist()
                (
                    affpos.select(
                        F.col("__mor_path").alias("path"),
                        F.col("__mor_pos").alias("pos"),
                    )
                    .sortWithinPartitions("path", "pos")
                    .coalesce(4)  # sparse by design — delete files are tiny
                    .write.mode("append")
                    .parquet(dprefix)
                )
            n_matched_pos = sum(
                _pq.ParquetFile(os.path.join(dprefix, f)).metadata.num_rows
                for f in os.listdir(dprefix)
                if f.endswith(".parquet")
            )
            if cl.nmbs == "delete":
                nm_tgt = _cond_tgt_cols(cl.nmbs_condition, cols)
                nm = live.select(
                    F.col(key),
                    *[F.col(c) for c in nm_tgt if c != key],
                    "__mor_path",
                    "__mor_pos",
                ).join(src_keys, key, "left_anti")
                if cl.nmbs_condition:
                    nm = nm.filter(F.expr(cl.nmbs_condition))
                with pt.phase("nmbs_probe"):
                    (
                        nm.select(
                            F.col("__mor_path").alias("path"),
                            F.col("__mor_pos").alias("pos"),
                        )
                        .sortWithinPartitions("path", "pos")
                        .coalesce(4)
                        .write.mode("append")
                        .parquet(dprefix)
                    )
            new_delete_rel = sorted(
                os.path.relpath(os.path.join(dprefix, f), table.root)
                for f in os.listdir(dprefix)
                if f.endswith(".parquet")
            )
            n_del_rows = sum(
                _pq.ParquetFile(os.path.join(table.root, p)).metadata.num_rows
                for p in new_delete_rel
            )
            nmbs_rows = n_del_rows - n_matched_pos
    if n_del_rows == 0:
        shutil.rmtree(dprefix, ignore_errors=True)
        new_delete_rel = []

    with pt.phase("count_matched"):
        n_matched = (
            aff_keys.count() if aff_keys is not None and n_matched_pos else 0
        )

    with pt.phase("rewrite"):
        if (
            cl.matched == "update"
            and cl.matched_condition is None
            and cl.not_matched == "insert"
            and cl.not_matched_condition is None
        ):
            # fast shape: every source row survives (matched keys replace,
            # unmatched insert) — one wholesale delta, no join
            delta_src = src.select(cols)
        else:
            parts = []
            if cl.matched == "update" and n_matched:
                parts.append(src.join(aff_keys, key, "left_semi"))
            if cl.not_matched == "insert":
                ins = (
                    src.join(matched.select(key).distinct(), key, "left_anti")
                    if matched is not None
                    else src
                )
                if cl.not_matched_condition:
                    ins = ins.filter(F.expr(cl.not_matched_condition))
                parts.append(ins)
            if parts:
                delta_src = parts[0].select(cols)
                for p in parts[1:]:
                    delta_src = delta_src.unionByName(p.select(cols))
            else:
                delta_src = src.select(cols).limit(0)
        delta_prefix = _modest_write(table, delta_src, key)
    written = written_entries(table, spark, delta_prefix, pt)
    entries = (
        written
        if written is not None
        else (man.iloc[0:0] if man is not None else pd.DataFrame())
    )
    n_delta = int(entries["record_count"].sum()) if len(entries) else 0
    n_inserts = n_delta - (n_matched if cl.matched == "update" else 0)

    summary = {
        "stage": "merge",
        "mode": "merge-on-read",
        "when_matched": cl.matched,
        "rows_updated": int(n_matched) if cl.matched == "update" else 0,
        "rows_deleted": (int(n_matched) if cl.matched == "delete" else 0)
        + int(max(0, nmbs_rows)),
        "rows_inserted": int(max(0, n_inserts)),
        "rows_suppressed_positions": int(n_del_rows),
        "files_rewritten": 0,
        "delete_files_added": len(new_delete_rel),
        "duration_sec": round(time.time() - t0, 3),
        "phase_sec": pt.summary(),
    }
    if not cl.is_default():
        summary["rows_nmbs_deleted"] = int(max(0, nmbs_rows))
        summary["clauses"] = {
            "matched_condition": cl.matched_condition,
            "when_not_matched": cl.not_matched,
            "not_matched_condition": cl.not_matched_condition,
            "when_not_matched_by_source": cl.nmbs,
            "not_matched_by_source_condition": cl.nmbs_condition,
        }
    if written is not None:
        summary["delta_prefix"] = _rel(table, delta_prefix) + "/"
    out = table.commit(
        "merge",
        entries,
        summary,
        properties=properties,
        delta_manifest=True,
        delete_paths=table.pending_delete_paths() + new_delete_rel,
    )
    if matched is not None:
        matched.unpersist()
    if aff_keys is not None:
        aff_keys.unpersist()
    return out


def _modest_write(table, df, key: str) -> str:
    """Write a small delta (updates/inserts) as a handful of files sorted
    by the cluster key — no shuffle beyond a coalesce. Falls back to a
    plain key sort for tables without the (phash, w, h) image columns."""
    from ..functions.udfs import morton64_expr

    # parallel encode: a fixed-size delta written with 1 task is a pure
    # anti-scaling term (identical absolute cost at every core count)
    n_out = max(1, min(df.sparkSession.sparkContext.defaultParallelism // 2, 16))
    names = set(df.columns)
    if {"phash", "w", "h"} <= names:
        sort_key = morton64_expr(F.col("phash"), F.col("w"), F.col("h"))
    else:
        sort_key = F.col(key)
    out = (
        df.coalesce(n_out)
        .sortWithinPartitions(
            *[c for c in ("ingest_date",) if c in names],
            sort_key,
        )
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


def _rel(table, prefix: str) -> str:
    return os.path.relpath(prefix, table.root)
