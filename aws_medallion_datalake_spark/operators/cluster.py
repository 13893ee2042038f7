"""Z-order / Hilbert clustering rewrite.

The reference has no clustering at all (SURVEY.md §4 "data clustering /
sort order: none") — this implements the north_star requirement: compute a
64-bit Morton or Hilbert key over (phash, w, h), partition the table into
key ranges, sort within partitions, rewrite, and recompute per-file
min/max stats so the manifest becomes an effective pruning index for
phash/w/h predicates.

Spark-first execution plan (ONE full pass over the payload per tile):

1. **Tiling** — the manifest is split into *tiles* of at most
   ``max_files_per_job`` output files each (partition-major order, so a
   tile rarely straddles a partition). Each tile is an independent
   route + sort + write job and a unit of ``tableformat.rewrite_units``,
   the runner every data-file rewrite shares (the Iceberg
   RewriteDataFiles architecture). At 10^12 rows / 10^8 files no single
   job ever plans more than ``max_files_per_job`` ranges — the driver
   never materializes an O(total_files) structure in any query plan.
2. **Boundary planning: one grouped bounds job for every tile** — the
   curve key needs only (partition cols, phash, w, h), a few bytes/row,
   so range boundaries come from a scan that never touches the image
   payload. Before any multi-file tile is planned, ONE aggregate over
   that key scan (the cached one when the partition-tuple pass already
   read it) tags each row with its tile through a broadcast path→tile
   frame and runs ``groupBy(tile).agg(percentile_approx(key, <union of
   the tiles' i/n_out fractions>, 4 × max n_out))``. So the bounds cost
   one job per ``cluster()`` call whatever the tile count, and the
   cheap key scan never queues behind other tiles' payload rewrites.
   It is the runner's first task: single-file tiles need no bounds and
   start while it runs; tiles a checkpoint already holds get none. (A
   plain ``repartitionByRange`` instead runs its boundary-sampling job
   over the FULL child plan — every payload byte read and every key
   computed twice, or a cluster-wide persist.)
3. **Exact-route shuffle, zero plan literals** — rows get their target
   partition from one vectorized Arrow UDF: ``np.searchsorted`` against
   the tile's boundary array, then a *routing salt* per bucket such that
   Spark's HashPartitioning lands bucket i exactly in partition i
   (``pmod(murmur3(salt_i), n) == i``; salts are found driver-side with
   a numpy murmur3 that bit-matches Spark's ``F.hash``). The boundary
   and salt arrays travel to executors as one ``sc.broadcast`` — the
   query plan itself is O(1) in the file count, and routing is
   O(log n_out) per row instead of the old O(n_out) literal-array
   evaluation. ``repartition(n, route)`` is then a single exact shuffle:
   no sampling, no skewed modulo collisions.
4. **Sort within partitions + write** — files come out key-clustered and
   ≈target-sized; the runner collects each tile's stats as its write
   lands, and all tiles commit as ONE replace snapshot, a
   ``tableformat.FileSwap`` delta that keeps appends landed meanwhile.

Skew: low bits of the composite bucket key carry a per-row salt, so a hot
single key (the phash hot-bucket tail) is split across adjacent buckets
while staying contiguous on disk — pruning power unaffected.

Resumability (north_rule): with a ``checkpoint`` the runner records each
finished tile's lineage, and a killed run redoes only unfinished tiles.

The Morton key is a pure Catalyst column expression
(functions/udfs.py::morton64_expr) — whole-stage codegen end-to-end;
Hilbert uses a vectorized pandas UDF (Arrow batches). The route UDF
transfers ONE int64 column to Python and one int32 back per batch —
payload bytes never cross the Arrow boundary.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import nullcontext
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..functions.udfs import hilbert64_udf, morton64_expr
from ..session import local_frame
from ..sources import transforms
from ..sources.tableformat import (
    FileSwap,
    Snapshot,
    Table,
    read_split_size,
    rel_path_expr,
    resumed_units,
    rewrite_units,
    statable_cols,
)
from .checkpoint import RunCheckpoint
from .timing import PhaseTimer

_KEY = "__cluster_key"
_ROUTE = "__cluster_route"

_SALT_BITS = 2  # low bits of the composite key: splits hot single keys


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of a single IntegerType value (bit-exact with
    ``F.hash(col.cast("int"))``) — lets the driver plan exact-route salts
    without a Spark job. Returns a signed int32."""
    M = 0xFFFFFFFF
    k = (x & M) * 0xCC9E2D51 & M
    k = ((k << 15 | k >> 17) & M) * 0x1B873593 & M
    h = seed ^ k
    h = ((h << 13 | h >> 19) & M) * 5 + 0xE6546B64 & M
    h ^= 4  # length in bytes
    h ^= h >> 16
    h = h * 0x85EBCA6B & M
    h ^= h >> 13
    h = h * 0xC2B2AE35 & M
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


def route_exact(df, idx_col, n_out: int):
    """Shuffle each row whose 0-based ``idx_col`` value lies in
    ``[0, n_out)`` to EXACTLY output partition ``idx_col`` — the
    reusable form of the exact hash-routing used by cluster tiles and
    the silver refine: one shuffle, partition-homogeneous outputs,
    no repartitionByRange sampling job. Callers writing a
    ``bucket(N, key)``-partitioned table route with
    ``route_exact(df, transform.expr(), N)`` before ``write_files``."""
    salts = [int(s) for s in exact_route_salts(n_out)]
    route = F.element_at(
        F.array(*[F.lit(s) for s in salts]), idx_col.cast("int") + 1
    )
    return (
        df.withColumn("__rt", route.cast("int"))
        .repartition(n_out, F.col("__rt"))
        .drop("__rt")
    )


def exact_route_salts(n_out: int) -> np.ndarray:
    """For each target partition i, an int s_i with
    ``pmod(murmur3(s_i), n_out) == i`` — makes ``repartition(n_out,
    route)`` an EXACT router (HashPartitioning uses the same Murmur3Hash
    as ``F.hash``). Pure driver-side; expected O(n_out·ln n_out) probes
    (coupon collector), ~40k for n_out=4096."""
    salts = np.full(n_out, -1, dtype=np.int64)
    remaining = n_out
    c = 0
    limit = max(n_out, 64) * 64
    while remaining and c < limit:
        b = _murmur3_int32(c) % n_out  # Python %: already non-negative
        if salts[b] < 0:
            salts[b] = c
            remaining -= 1
        c += 1
    if remaining:
        raise RuntimeError(f"could not find routing salts for n_out={n_out}")
    return salts


def _curve_key(curve: str, cols: tuple):
    c0, c1, c2 = (F.col(c) for c in cols)
    if curve == "hilbert":
        return hilbert64_udf(c0, c1, c2)
    return morton64_expr(c0, c1, c2)  # morton / zorder: JVM-only


_PART_SEP = "\x1f"  # multi-level partition tuple separator


def _part_key_col(partition_cols: list):
    """One string per partition TUPLE — supports multi-level specs like
    the reference's year=/month=/day= layout
    (/root/reference/scripts/bronze_digit.py:143-148) and hidden-
    partitioning transforms (the tuple is built from the TRANSFORM
    values, cast to string to match the manifest's partition_json
    values)."""
    pexprs = [t.expr().cast("string") for t in transforms.parse_spec(partition_cols)]
    if len(pexprs) == 1:
        return pexprs[0]
    return F.concat_ws(_PART_SEP, *pexprs)


def _composite(key, partition_cols: list, part_values: list):
    """Sortable long: (partition idx << 56 | key>>10 << 2 | per-row salt).

    The partition idx orders the full partition TUPLE (all partition
    columns, multi-level specs included), so the global sort is
    partition-major across every level, then key-ordered within.

    The key+salt field is exactly 56 bits (64 - 10 + 2) so it NEVER
    overlaps the partition-index field — an overlap would OR high-key
    rows into the wrong partition band and interleave distant key
    regions inside one range bucket (wide file min/max, broken
    pruning)."""
    comp = F.shiftrightunsigned(key.cast("long"), 10)
    if _SALT_BITS:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in ("image_id",)]), F.lit(1 << _SALT_BITS))
        comp = F.shiftleft(comp, _SALT_BITS).bitwiseOR(salt)
    if partition_cols and part_values:
        idx = F.array_position(
            F.array(*[F.lit(v) for v in part_values]), _part_key_col(partition_cols)
        ).cast("long")  # 1-based; 0 (not found / __mixed__) sorts first
        comp = F.shiftleft(idx, 56).bitwiseOR(comp)
    return comp


# Up to this output-file count, routing stays a pure-JVM expression (no
# Arrow hop, no Python workers): the per-row cost is a linear O(n_out)
# scan of a constant-folded boundary array, so it only wins while n_out
# is small; past this the broadcast binary-search Arrow UDF
# (O(log n_out), vectorized) takes over. Either way the literal count is
# bounded by TILING (a tile never plans more than max_files_per_job =
# 4096 outputs), so the plan can never grow the 800k-literal failure
# mode.
_JVM_ROUTE_MAX = 512


def _route_udf(spark: SparkSession, bounds: np.ndarray, salts: np.ndarray):
    """Vectorized bucket router: count of boundaries < key (binary
    search), mapped through the exact-route salt table. The two arrays
    ride one broadcast — the query plan carries no per-file literals."""
    bc = spark.sparkContext.broadcast((bounds, salts.astype(np.int32)))

    @F.pandas_udf(IntegerType())
    def route(ck: pd.Series) -> pd.Series:
        b, s = bc.value
        v = ck.to_numpy()
        if v.dtype != np.int64:  # nulls upstream → float; keys are coalesced
            v = np.nan_to_num(v, nan=float(np.iinfo(np.int64).min)).astype(np.int64)
        return pd.Series(s[np.searchsorted(b, v, side="left")])

    return route, bc


def _route_jvm(ck_col, bounds: np.ndarray, salts: np.ndarray):
    """Small-n_out router as a Catalyst expression over the MATERIALIZED
    key column (single evaluation per row). ``aggregate`` accumulates a
    scalar rank — unlike ``size(filter(...))``, which materializes a
    filtered ARRAY per row (n_out-element allocation × every row of the
    tile, pure GC churn on the hot rewrite path)."""
    barr = F.array(*[F.lit(int(b)) for b in bounds])
    bucket = F.aggregate(
        barr,
        F.lit(0),
        lambda acc, b: acc + F.when(b < ck_col, 1).otherwise(0),
    )
    sarr = F.array(*[F.lit(int(s)) for s in salts])
    return F.element_at(sarr, bucket + 1).cast("int")


def _plan_tiles(man: pd.DataFrame, target_bytes: int, max_files_per_job: int) -> list:
    """Split manifest rows into partition-major tiles whose OUTPUT file
    count stays ≤ max_files_per_job. Returns a list of pandas index
    arrays. Cross-tile key ranges may overlap only where a partition is
    split across tiles — per-file min/max pruning is unaffected."""
    order = man.sort_values(["partition_json", "path"]).index
    cap = max_files_per_job * target_bytes
    tiles, cur, cur_bytes = [], [], 0
    sizes = man["file_size_bytes"]
    for idx in order:
        b = int(sizes[idx])
        if cur and cur_bytes + b > cap:
            tiles.append(cur)
            cur, cur_bytes = [], 0
        cur.append(idx)
        cur_bytes += b
    if cur:
        tiles.append(cur)
    return tiles


_PATH = "__cluster_path"


def _key_scan(table: Table, spark: SparkSession, rel_paths, need: list):
    """Column-pruned scan of ``need`` (partition, curve and salt columns:
    a few bytes a row, no payload) plus each row's table-relative file
    path in ``_PATH``."""
    import os

    paths = [os.path.join(table.root, p) for p in rel_paths]
    return table.read_data(spark, paths).select(
        *need, rel_path_expr(table.root).alias(_PATH)
    )


def _tile_frame(spark: SparkSession, tile_paths: dict):
    """(``_PATH`` → ``__tile``) table over every file of the given tiles,
    as a ``LocalRelation`` (Arrow-built: no job, no Python worker)."""
    return local_frame(
        spark,
        {
            _PATH: [p for paths in tile_paths.values() for p in paths],
            "__tile": [t for t, paths in tile_paths.items() for _ in paths],
        },
        f"{_PATH} string, __tile int",
    )


def _tile_bounds(spark: SparkSession, keys, tile_paths: dict, n_outs: dict) -> dict:
    """Range bounds of every tile from ONE grouped aggregate.

    ``keys`` holds the composite key ``ck`` and the file path ``_PATH``
    of each row; a broadcast path→tile frame tags each row with its
    tile, then one ``percentile_approx`` per tile evaluates the union of
    the tiles' ``i / n_out`` fractions. Accuracy ``4 × max n_out`` holds
    every tile's rank error to at most 1/(4 n_out) of its rows. Returns
    {tile: sorted int64 bounds, n_out - 1 of them}; a tile with no rows
    gets none (its rows, if any, all route to file 0)."""
    fracs = sorted({i / n for n in n_outs.values() for i in range(1, n)})
    at = {f: j for j, f in enumerate(fracs)}
    rows = (
        keys.join(F.broadcast(_tile_frame(spark, tile_paths)), _PATH)
        .groupBy("__tile")
        .agg(
            F.percentile_approx("ck", fracs, 4 * max(n_outs.values())).alias("q")
        )
        .collect()
    )
    q = {r["__tile"]: r["q"] for r in rows}
    return {
        t: np.sort(
            np.array(
                [q[t][at[i / n]] for i in range(1, n)] if t in q else [],
                dtype=np.int64,
            )
        )
        for t, n in n_outs.items()
    }


# mode="auto" rewrites incrementally only while at most this fraction of
# the table's bytes is dirty
INCREMENTAL_MAX_DIRTY_FRAC = 0.5
_SORTED_PREFIX_PROP = "cluster.sorted_prefixes"
_SORT_SPEC_PROP = "cluster.sort_spec"
SORT_ORDER_PROP = "sort.order"


def cluster(
    table: Table,
    spark: SparkSession,
    *,
    curve: Optional[str] = None,
    cols: Optional[tuple] = None,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    max_files_per_job: int = 4096,
    checkpoint: Optional[RunCheckpoint] = None,
    mode: str = "auto",
    predicates: Optional[list] = None,
) -> Optional[Snapshot]:
    """Rewrite the table clustered by the chosen space-filling curve.

    ``predicates``: scope the rewrite to files whose stats intersect the
    scan-style ``(col, op, value)`` predicates (whole-file selection,
    never row filtering) — ``OPTIMIZE … WHERE`` for a 10^12-row table
    where only the hot partitions need re-clustering. Composes with
    ``mode="incremental"``: already-sorted generations are kept first,
    then the predicate scopes the remaining dirty set.

    ``mode``:

    - ``"full"`` — rewrite every data file (round-1 behavior).
    - ``"incremental"`` — rewrite ONLY files not already produced by a
      previous cluster run with the same sort spec. Each cluster commit
      records its output directory prefixes in the table property
      ``cluster.sorted_prefixes`` (+ ``cluster.sort_spec``); files still
      living under those prefixes are key-sorted and internally disjoint,
      so they are KEPT as-is (manifest entries reused, zero IO) and only
      the delta — new appends, merge deltas, compaction outputs — is
      routed/sorted/written. At 10^12-row scale this is the difference
      between rewriting the whole table nightly and rewriting the day's
      ingest: per-file min/max pruning quality is preserved because each
      generation's files stay disjoint within itself.
    - ``"auto"`` (default) — incremental when a matching sorted
      generation exists and the dirty fraction is at most
      ``INCREMENTAL_MAX_DIRTY_FRAC`` of table bytes; full otherwise
      (rewriting nearly everything incrementally would just fragment
      generations without saving IO).

    Returns None (no commit) when an incremental run finds nothing dirty.
    """
    # declared sort order (Iceberg write-order analogue): when the caller
    # names neither curve nor cols, the table's `sort.order` property —
    # "morton(phash,w,h)" / "hilbert(a,b)" — decides, so `OPTIMIZE`,
    # `--stages auto` policy runs and bare cluster() calls all honor the
    # table's own declaration; engine defaults apply last
    if curve is None and cols is None:
        prop = str(table.metadata().properties.get(SORT_ORDER_PROP, "") or "")
        pm = re.match(r"(morton|hilbert|zorder)\(([^)]+)\)$", prop.strip())
        # a plain column list ("ts" / "ts, id") is a LINEAR Iceberg sort
        # order — honored by write_files' range distribution at ingest,
        # not a space-filling curve; bare cluster() falls back to the
        # engine default curve rather than failing
        plain = re.match(
            r"[A-Za-z_]\w*(\s*,\s*[A-Za-z_]\w*)*$", prop.strip()
        )
        if prop and not pm and not plain:
            raise ValueError(
                f"bad {SORT_ORDER_PROP} property {prop!r}: expected "
                "curve(col, …) with curve in morton|hilbert|zorder, "
                "or a plain column list"
            )
        if pm:
            curve = pm.group(1)
            cols = tuple(c.strip() for c in pm.group(2).split(","))
    curve = curve or "morton"
    cols = tuple(cols) if cols else ("phash", "w", "h")
    if curve not in ("hilbert", "morton", "zorder"):
        raise ValueError(f"unknown curve {curve!r}")
    if mode not in ("auto", "full", "incremental"):
        raise ValueError(f"unknown mode {mode!r}")
    table.refuse_pending_deletes("clustering")
    t0 = time.time()
    pt = PhaseTimer()
    swap = FileSwap(table, spark, pt)
    meta = table.metadata()
    man = swap.man

    import json as _json

    # files written by a previous cluster run with this exact sort spec
    # are already sorted + disjoint: incremental mode keeps them untouched
    spec = f"{curve}({','.join(cols)})"
    prev_prefixes: list = []
    if meta.properties.get(_SORT_SPEC_PROP) == spec:
        prev_prefixes = _json.loads(meta.properties.get(_SORTED_PREFIX_PROP, "[]"))
    if len(man) and prev_prefixes:
        sorted_mask = man["path"].str.startswith(
            tuple(p.rstrip("/") + "/" for p in prev_prefixes)
        )
    else:
        sorted_mask = pd.Series(False, index=man.index)
    total_bytes = int(man["file_size_bytes"].sum()) if len(man) else 0
    dirty_bytes = int(man.loc[~sorted_mask, "file_size_bytes"].sum()) if len(man) else 0
    incremental = mode == "incremental" or (
        mode == "auto"
        and bool(sorted_mask.any())
        and dirty_bytes <= INCREMENTAL_MAX_DIRTY_FRAC * max(total_bytes, 1)
    )
    if incremental:
        keep, work = man[sorted_mask], man[~sorted_mask]
    else:
        keep, work = man.iloc[0:0], man
    if predicates and len(work):
        from ..sources.tableformat import prune_manifest

        scoped = prune_manifest(
            work,
            transforms.extend_predicates(meta.partition_cols, list(predicates)),
            statable_cols(meta),
        )
        keep = man[~man["path"].isin(scoped["path"])]
        work = scoped
    if work.empty:
        return None  # nothing in scope / fully clustered: nothing to commit

    # distinct partition TUPLES straight from the manifest (no data read);
    # multi-level specs (year=/month=/day=) join levels with _PART_SEP
    part_values: list = []
    if meta.partition_cols:
        vals = set()
        for pj in work["partition_json"].unique():
            d = _json.loads(pj)
            levels = [d.get(c) for c in transforms.field_names(meta.partition_cols)]
            if any(v is None or v == "__mixed__" for v in levels):
                continue
            vals.add(_PART_SEP.join(str(v) for v in levels))
        part_values = sorted(vals)

    key = _curve_key(curve, cols)
    sort_cols = transforms.exprs(meta.partition_cols) + [F.col(_KEY)]
    need = list(
        dict.fromkeys(
            transforms.source_cols(meta.partition_cols) + list(cols) + ["image_id"]
        )
    )

    pruned_cache = None
    if meta.partition_cols and not part_values:
        # mixed input files (raw bronze): learn the partition tuples from
        # a column-pruned distinct — reads only key/partition columns of
        # the FILES BEING REWRITTEN, no payloads — so clustering is
        # partition-major even on a table whose current layout ignores
        # partitions. The pruned frame is CACHED: the bounds job
        # re-aggregates it instead of re-reading the files (one planning
        # pass, not two).
        pruned_cache = _key_scan(table, spark, work["path"], need).persist()
        part_values = sorted(
            r[0]
            for r in pruned_cache.select(
                _part_key_col(list(meta.partition_cols)).alias("pk")
            )
            .distinct()
            .collect()
            if r[0] is not None
        )

    tiles = _plan_tiles(work, target_file_size_bytes, max_files_per_job)
    tile_rows = [work.loc[idxs] for idxs in tiles]
    n_outs = [
        max(1, round(int(r["file_size_bytes"].sum()) / target_file_size_bytes))
        for r in tile_rows
    ]

    def ck_of(k):
        """The routed composite key; a NULL key sorts first."""
        return F.coalesce(
            _composite(k, meta.partition_cols, part_values),
            F.lit(np.iinfo(np.int64).min + 1),
        )

    broadcasts: list = []
    stage = ("cluster", "tile")
    # tiles that still have to write more than one file need range bounds
    resumed = resumed_units(checkpoint, stage, range(len(tiles)))
    ranged = [i for i in range(len(tiles)) if n_outs[i] > 1 and i not in resumed]
    bounds: dict = {}
    lock = threading.Lock()

    def tile_bounds() -> dict:
        # ONE grouped job for every ranged tile, run once: it is the
        # first task of the pool, so single-file and resumed tiles
        # overlap it while each ranged tile's plan waits on it
        with lock:
            if not bounds:
                keys = pruned_cache if pruned_cache is not None else _key_scan(
                    table, spark, [p for i in ranged for p in tile_rows[i]["path"]], need
                )
                with pt.phase("quantile"):
                    bounds.update(
                        _tile_bounds(
                            spark,
                            keys.select(ck_of(key).alias("ck"), _PATH),
                            {i: list(tile_rows[i]["path"]) for i in ranged},
                            {i: n_outs[i] for i in ranged},
                        )
                    )
        return bounds

    def plan(tile_no: int, df):
        n_out = n_outs[tile_no]
        full = df.withColumn(_KEY, key)
        if n_out == 1:
            return full.coalesce(1).sortWithinPartitions(*sort_cols).drop(_KEY)
        # one full pass: route → exact shuffle → sort → write. The
        # composite key is materialized as a column FIRST so it is
        # evaluated once per row on either route path.
        tile_b = tile_bounds()[tile_no]
        salts = exact_route_salts(n_out)
        keyed = full.withColumn("__ck", ck_of(F.col(_KEY)))
        if n_out <= _JVM_ROUTE_MAX:
            routed = keyed.withColumn(_ROUTE, _route_jvm(F.col("__ck"), tile_b, salts))
        else:
            route, bc = _route_udf(spark, tile_b, salts)
            broadcasts.append(bc)
            routed = keyed.withColumn(_ROUTE, route(F.col("__ck")))
        return (
            routed.repartition(n_out, F.col(_ROUTE))
            .sortWithinPartitions(*sort_cols)
            .drop(_KEY, _ROUTE, "__ck")
        )

    # Read splits aligned with the target file size for the whole stage:
    # the default 128 MB split caps the read/route stage at
    # total_bytes/128MB tasks no matter how many executors exist; one
    # split ≈ one input file keeps scan parallelism proportional to the
    # table, matching the shuffle side's n_out partitions.
    order = [i for i in range(len(tiles)) if i not in ranged] + ranged
    with read_split_size(spark, target_file_size_bytes):
        entries, prefixes = rewrite_units(
            table,
            spark,
            {i: tile_rows[i] for i in order},
            plan,
            pt,
            checkpoint=checkpoint,
            stage=stage,
            alongside=[tile_bounds] if ranged else [],
        )

    import os as _os

    # sorted-generation bookkeeping: output prefixes of this run, plus any
    # previous generation's prefixes that still own kept files (dead
    # prefixes — fully rewritten by a later full run — are dropped so the
    # property stays O(cluster runs since last full rewrite))
    new_rel = sorted({_os.path.relpath(p, table.root) for p in prefixes.values()})
    # (keyed on kept files, not the incremental flag: a predicate-scoped
    # full run also keeps files, whose generations stay live)
    live_old = [
        p
        for p in prev_prefixes
        if len(keep) and bool(keep["path"].str.startswith(p.rstrip("/") + "/").any())
    ]
    props = {
        _SORT_SPEC_PROP: spec,
        _SORTED_PREFIX_PROP: _json.dumps(sorted(set(live_old) | set(new_rel))),
    }
    swap.drop(work)
    swap.add(entries)
    # a checkpointed pass keeps its prefixes on failure, so it can resume
    with swap if checkpoint is None else nullcontext():
        snap = swap.commit(
            "replace",
            {
                "stage": "cluster",
                "mode": "incremental" if incremental else "full",
                "curve": curve,
                "cluster_cols": list(cols),
                "files_in": int(len(work)),
                "files_kept": int(len(keep)),
                "files_out": int(len(entries)),
                "tiles": len(tiles),
                "duration_sec": round(time.time() - t0, 3),
                "phase_sec": pt.summary(),
            },
            rows_key=None,
            properties=props,
        )
    for bc in broadcasts:
        bc.unpersist()
    if pruned_cache is not None:
        pruned_cache.unpersist()
    if checkpoint is not None:
        checkpoint.stage_done("cluster", dict(snap.summary, snapshot_id=snap.snapshot_id))
    return snap


def clustering_quality(table: Table, col: str = "phash") -> float:
    """Average pairwise min/max overlap fraction on `col` across files of
    the SAME partition — lower is better pruning; 0 = perfectly disjoint
    ranges. Cross-partition pairs are excluded: partition-major layout
    makes every partition span the full key range by design, and real
    scans prune on the partition column first."""
    man = table.manifest_pdf()
    total_pairs = 0
    overlaps = 0
    for _, part in man.groupby("partition_json"):
        lo = part[f"min_{col}"].to_numpy()
        hi = part[f"max_{col}"].to_numpy()
        n = len(part)
        if n < 2:
            continue
        total_pairs += n * (n - 1)
        for i in range(n):
            overlaps += int(((lo < hi[i]) & (hi > lo[i])).sum()) - 1
    return overlaps / total_pairs if total_pairs else 0.0
