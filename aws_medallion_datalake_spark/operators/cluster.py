"""Z-order / Hilbert clustering rewrite.

The reference has no clustering at all (SURVEY.md §4 "data clustering /
sort order: none") — this implements the north_star requirement: compute a
64-bit Morton or Hilbert key over the three columns of the table's write
order (``Table.write_order``; (phash, w, h) on the image tables),
partition the table into key ranges, sort within partitions, rewrite,
and recompute per-file min/max stats so the manifest becomes an
effective pruning index for predicates on those columns.

Spark-first execution plan (ONE full pass over the payload per tile):

1. **Tiling by partition tuple** — a *tuple census*
   (``tableformat.tuple_census``: pure files off the manifest, files
   that mix tuples from one column-pruned ``groupBy(file, tuple)
   .count()`` over their partition columns, no payload read) gives the
   rows and bytes of every (file, tuple) piece. Tiles are runs of whole
   tuples, in tuple order, of at most ``max_files_per_job`` output files;
   each tuple writes ``max(1, round(bytes / target))`` files of its own,
   so a tuple under the target writes one file and no output file mixes
   tuples (only a tuple wider than a tile is cut across tiles, by
   files). A tile reads only the files its tuples' pieces live in and
   keeps, by a broadcast (path, tuple) join, only those pieces' rows.
   Each tile is an independent route + sort + write job and a unit of
   ``tableformat.rewrite_units``, the runner every data-file rewrite
   shares (the Iceberg RewriteDataFiles architecture). At 10^12 rows /
   10^8 files no single job ever plans more than ``max_files_per_job``
   ranges — the driver never materializes an O(total_files) structure
   in any query plan.
2. **Boundary planning: one grouped bounds job for every tile** — the
   curve key needs only the partition and curve columns, a few bytes/row,
   so range boundaries come from a scan that never touches the image
   payload. Before any tile with a multi-file tuple is planned, ONE
   aggregate over that key scan tags each row with its tile and tuple
   index through the broadcast piece frame and runs
   ``groupBy(tile, tuple).agg(percentile_approx(key, <union of the
   tuples' i/n fractions>, 4 × max n))``. The tuple-start boundaries
   ``idx << 56`` need no job: the composite key is tuple-major. So the
   bounds cost at most one job per ``cluster()`` call whatever the tile
   count, and the cheap key scan never queues behind other tiles'
   payload rewrites. It is the runner's first task: tiles that need no
   quantiles start while it runs; tiles a checkpoint already holds get
   none. (A plain ``repartitionByRange`` instead runs its
   boundary-sampling job over the FULL child plan — every payload byte
   read and every key computed twice, or a cluster-wide persist.)
3. **Exact-route shuffle** — rows get their target partition from one
   parsed Catalyst expression (``_route_expr``): a binary search of the
   tile's boundary array, then a *routing salt* per bucket such that
   Spark's HashPartitioning lands bucket i exactly in partition i
   (``pmod(murmur3(salt_i), n) == i``; salts are found driver-side with
   a numpy murmur3 that bit-matches Spark's ``F.hash``). Both arrays are
   literals bounded by tiling (a tile plans at most max_files_per_job
   outputs), routing is O(log n_out) per row at every n_out, and no
   Python worker starts. ``repartition(n, route)`` is then a single
   exact shuffle: no sampling, no skewed modulo collisions.
4. **Sort within partitions + write** — files come out key-clustered and
   ≈target-sized; the runner collects each tile's stats as its write
   lands, and all tiles commit as ONE replace snapshot, a
   ``tableformat.FileSwap`` delta that keeps appends landed meanwhile.

Skew: low bits of the composite bucket key carry a per-row salt, so a hot
single key (the phash hot-bucket tail) is split across adjacent buckets
while staying contiguous on disk — pruning power unaffected.

Resumability (north_rule): with a ``checkpoint`` the runner records each
finished tile's lineage, and a killed run redoes only unfinished tiles.

The Morton key is a pure Catalyst expression built by one SQL parse
(functions/udfs.py::morton64_expr) — whole-stage codegen end-to-end,
and about 1 KB of analyzed SQL, since the bounds job and every tile
analyze and codegen it again; Hilbert uses a vectorized pandas UDF
(Arrow batches). The router is one parse too, not an ``F.lit`` per
element.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

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
    read_split_size,
    resumed_units,
    rewrite_units,
    statable_cols,
    tuple_census,
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
    salts = F.expr(_array_sql(exact_route_salts(n_out)))
    route = F.element_at(salts, idx_col.cast("int") + 1)
    return (
        df.withColumn("__rt", route.cast("int"))
        .repartition(n_out, F.col("__rt"))
        .drop("__rt")
    )


def _array_sql(values, suffix: str = "") -> str:
    """A literal INT array (BIGINT with ``suffix`` "L") as SQL, for one
    parse: an ``F.lit`` per element costs Py4J round trips and a
    call-site capture each, about 0.4 s of driver time for the two arrays
    of a 512-way route on a 4-core host."""
    return f"array({', '.join(f'{int(v)}{suffix}' for v in values)})"


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


def _low(key, salted: bool):
    """The 56 low bits of the composite key: ``key>>10 << 2 | per-row
    salt``; a NULL key reads as 0 and sorts first. The salt hashes
    ``image_id``; ``salted`` says the table has one (else the salt is 0)."""
    comp = F.shiftrightunsigned(F.coalesce(key.cast("long"), F.lit(0)), 10)
    if _SALT_BITS:
        comp = F.shiftleft(comp, _SALT_BITS)
        if salted:
            salt = F.pmod(F.xxhash64(F.col("image_id")), F.lit(1 << _SALT_BITS))
            comp = comp.bitwiseOR(salt)
    return comp


def _composite(key, idx, salted: bool):
    """Sortable long: (tuple idx << 56 | key>>10 << 2 | per-row salt).

    ``idx`` is the row's 1-based partition-tuple index within its tile
    (at most ``_MAX_TILE_TUPLES``, so the long stays positive): the sort
    is tuple-major, then key-ordered within, and a tuple starts at
    ``idx << 56`` whatever its keys.

    The key+salt field is exactly 56 bits (64 - 10 + 2) so it NEVER
    overlaps the tuple-index field — an overlap would OR high-key rows
    into the wrong tuple band and interleave distant key regions inside
    one range bucket (wide file min/max, broken pruning)."""
    return F.shiftleft(idx.cast("long"), 56).bitwiseOR(_low(key, salted))


def _route_expr(ck: str, bounds: np.ndarray, salts: np.ndarray) -> Column:
    """The exact-route salt of each row's bucket, ``np.searchsorted(bounds,
    ck, side="left")`` of the key column ``ck``, as ONE parsed Catalyst
    expression: a binary search (``aggregate`` over descending powers of
    two), then the bucket's salt. O(log n_out) per row, no Python worker."""
    n = len(bounds)
    steps = [1 << k for k in range(n.bit_length() - 1, -1, -1)]
    bucket = (
        f"aggregate({_array_sql(steps)}, 0, (p, s) -> IF(p + s <= {n} AND "
        f"element_at({_array_sql(bounds, 'L')}, p + s) < {ck}, p + s, p))"
    )
    return F.expr(f"element_at({_array_sql(salts)}, {bucket} + 1)").cast("int")


# a tile holds at most this many partition tuples: their 1-based index
# fills the composite key's top byte below the sign bit
_MAX_TILE_TUPLES = 127


@dataclass
class _Tile:
    """One tile: its pieces (``tuple_census`` rows: ``path``, ``slice``,
    ``file_size_bytes``, plus ``tidx``, the 1-based index of the piece's
    tuple in the tile) and the output files of each tuple, by index."""

    pieces: pd.DataFrame
    n_outs: list

    @property
    def n_out(self) -> int:
        return sum(self.n_outs)

    @property
    def sliced(self) -> bool:
        return bool(self.pieces["slice"].notna().any())


def _plan_tiles(census: pd.DataFrame, target_bytes: int, max_files_per_job: int) -> list:
    """Split the ``tuple_census`` rows of the files to rewrite into tiles:
    runs of whole partition tuples, in tuple order, whose OUTPUT file
    count stays ≤ max_files_per_job. Each tuple writes
    ``max(1, round(bytes / target))`` files of its own, so a tuple under
    the target writes one file and no file mixes tuples. A tuple wider
    than a tile is cut into one-tuple tiles of at most
    ``max_files_per_job × target`` input bytes, in path order; cross-tile
    key ranges overlap only there."""
    tiles: list = []
    cur: list = []

    def flush() -> None:
        if cur:
            pieces = [p.assign(tidx=j) for j, (p, _) in enumerate(cur, start=1)]
            tiles.append(_Tile(pd.concat(pieces), [n for _, n in cur]))
            cur.clear()

    def n_files(pieces) -> int:
        return max(1, round(int(pieces["file_size_bytes"].sum()) / target_bytes))

    def one_tuple(pieces) -> "_Tile":
        return _Tile(pieces.assign(tidx=1), [n_files(pieces)])

    cap = max_files_per_job * target_bytes
    for _, pieces in census.sort_values(["tuple", "path"]).groupby("tuple", sort=True):
        n = n_files(pieces)
        if n > max_files_per_job:
            flush()
            chunk, nbytes = [], 0
            for idx, size in pieces["file_size_bytes"].items():
                if chunk and nbytes + int(size) > cap:
                    tiles.append(one_tuple(pieces.loc[chunk]))
                    chunk, nbytes = [], 0
                chunk.append(idx)
                nbytes += int(size)
            tiles.append(one_tuple(pieces.loc[chunk]))
            continue
        width = sum(m for _, m in cur) + n
        if cur and (width > max_files_per_job or len(cur) == _MAX_TILE_TUPLES):
            flush()
        cur.append((pieces, n))
    flush()
    return tiles


def _piece_frame(spark: SparkSession, pieces: dict):
    """``pieces`` ({tile: its pieces}) as the frame of
    ``tableformat.join_pieces``, each piece tagged with its ``__tile``
    and ``__tidx``: a ``LocalRelation`` (Arrow-built: no job, no Python
    worker)."""
    rows = pd.concat([p.assign(tile=n) for n, p in pieces.items()])
    return local_frame(
        spark,
        {
            "__pp": list(rows["path"]),
            "__pt": [None if pd.isna(s) else s for s in rows["slice"]],
            "__tile": [int(n) for n in rows["tile"]],
            "__tidx": [int(j) for j in rows["tidx"]],
        },
        "__pp string, __pt string, __tile int, __tidx int",
    )


def _tile_bounds(spark: SparkSession, keys, n_outs: dict) -> dict:
    """Range quantiles of every (tile, tuple) that writes several files,
    from ONE grouped aggregate.

    ``keys`` holds ``__tile``, ``__tidx`` and the low key bits ``k`` of
    each row; ``n_outs`` maps (tile, tidx) to that tuple's output files.
    One ``percentile_approx`` per group evaluates the union of the
    tuples' ``i / n`` fractions; accuracy ``4 × max n`` holds every
    tuple's rank error to at most 1/(4 n) of its rows. Returns
    {(tile, tidx): the tuple's n - 1 sorted quantiles}; a tuple with no
    rows gets none."""
    fracs = sorted({i / n for n in n_outs.values() for i in range(1, n)})
    at = {f: j for j, f in enumerate(fracs)}
    rows = (
        keys.groupBy("__tile", "__tidx")
        .agg(F.percentile_approx("k", fracs, 4 * max(n_outs.values())).alias("q"))
        .collect()
    )
    q = {(r["__tile"], r["__tidx"]): r["q"] for r in rows}
    return {
        g: sorted(int(q[g][at[i / n]]) for i in range(1, n))
        for g, n in n_outs.items()
        if g in q
    }


def _bounds(tile_no: int, tile: _Tile, quantiles: dict) -> np.ndarray:
    """A tile's n_out - 1 route bounds: each later tuple's start just
    below ``idx << 56``, and each tuple's own range quantiles inside its
    band."""
    b = []
    for j, n in enumerate(tile.n_outs, start=1):
        if j > 1:
            b.append((j << 56) - 1)
        b += [(j << 56) | k for k in quantiles.get((tile_no, j), [])]
    return np.sort(np.array(b, dtype=np.int64))


# mode="auto" rewrites incrementally only while at most this fraction of
# the table's bytes is dirty
INCREMENTAL_MAX_DIRTY_FRAC = 0.5
_SORTED_PREFIX_PROP = "cluster.sorted_prefixes"
_SORT_SPEC_PROP = "cluster.sort_spec"


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
    """Rewrite the table clustered by a space-filling curve over three
    columns: the table's write order (``Table.write_order``), where a
    linear order falls back to the default curve; ``curve`` and ``cols``
    override their half of it. Raises ValueError when no curve results.

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
    # the table's write order decides what the caller leaves out; a
    # linear order (a column list, which range-mode ingest honors) is no
    # curve, so it falls back to the default one
    names = table._schema(spark).fieldNames()
    order = table.write_order()
    if order is None or order.curve is None:
        order = transforms.default_order(names)
    if curve or cols:
        order = transforms.WriteOrder(
            curve or (order.curve if order else "morton"),
            tuple(cols or (order.cols if order else ())),
        )
    if order is None:
        raise ValueError(
            f"cluster: no curve to cluster by; declare one in {transforms.ORDER_PROP}"
        )
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
    spec = str(order)
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
        scoped = prune_manifest(
            work, prune_predicates(meta, list(predicates)), statable_cols(meta)
        )
        keep = man[~man["path"].isin(scoped["path"])]
        work = scoped
    if work.empty:
        return None  # nothing in scope / fully clustered: nothing to commit

    # the files' partition tuples: pure files off the manifest, the
    # mixed ones from one column-pruned count (no payload read)
    with pt.phase("plan"):
        census = tuple_census(table, spark, work)
    (key,) = order.exprs()
    salted = "image_id" in names
    sort_cols = transforms.exprs(meta.partition_cols) + [F.col(_KEY)]
    tiles = _plan_tiles(census, target_file_size_bytes, max_files_per_job)
    by_path = work.set_index("path", drop=False)
    tile_rows = [by_path.loc[list(dict.fromkeys(t.pieces["path"]))] for t in tiles]

    def pieces_of(df, pieces: dict):
        """The rows of ``df`` that ``pieces`` ({tile: its pieces}) take,
        tagged with their ``__tile`` and ``__tidx``."""
        sliced = any(p["slice"].notna().any() for p in pieces.values())
        return join_pieces(table, df, _piece_frame(spark, pieces), sliced)

    stage = ("cluster", "tile")
    resumed = resumed_units(checkpoint, stage, range(len(tiles)))
    # tuples that still have to write more than one file need quantiles
    n_outs = {
        (i, j): n
        for i, t in enumerate(tiles)
        if i not in resumed
        for j, n in enumerate(t.n_outs, start=1)
        if n > 1
    }
    ranged = sorted({i for i, _ in n_outs})
    quantiles: dict = {}
    lock = threading.Lock()
    done: list = []

    def tile_bounds() -> dict:
        # ONE grouped job for every ranged tile, run once: it is the
        # first task of the pool, so the other tiles overlap it while
        # each ranged tile's plan waits on it
        with lock:
            if not done:
                done.append(True)
                pieces = {
                    i: p[[(i, j) in n_outs for j in p["tidx"]]]
                    for i in ranged
                    for p in [tiles[i].pieces]
                }
                files = dict.fromkeys(f for p in pieces.values() for f in p["path"])
                paths = [os.path.join(table.root, f) for f in files]
                rows = pieces_of(table.read_data(spark, paths), pieces)
                with pt.phase("quantile"):
                    quantiles.update(
                        _tile_bounds(
                            spark,
                            rows.select("__tile", "__tidx", _low(key, salted).alias("k")),
                            n_outs,
                        )
                    )
        return quantiles

    def plan(tile_no: int, df):
        tile = tiles[tile_no]
        n_out = tile.n_out
        if len(tile.n_outs) > 1 or tile.sliced:
            df = pieces_of(df, {tile_no: tile.pieces}).drop("__tile")
            idx = F.col("__tidx")
        else:
            idx = F.lit(1)
        full = df.withColumn(_KEY, key)
        if n_out == 1:
            return full.coalesce(1).sortWithinPartitions(*sort_cols).drop(_KEY, "__tidx")
        # one full pass: route → exact shuffle → sort → write. The
        # composite key is materialized as a column FIRST so it is
        # evaluated once per row on either route path.
        tile_b = _bounds(tile_no, tile, tile_bounds() if tile_no in ranged else {})
        salts = exact_route_salts(n_out)
        keyed = full.withColumn("__ck", _composite(F.col(_KEY), idx, salted))
        routed = keyed.withColumn(_ROUTE, _route_expr("__ck", tile_b, salts))
        return (
            routed.repartition(n_out, F.col(_ROUTE))
            .sortWithinPartitions(*sort_cols)
            .drop(_KEY, _ROUTE, "__ck", "__tidx")
        )

    # Read splits aligned with the target file size for the whole stage:
    # the default 128 MB split caps the read/route stage at
    # total_bytes/128MB tasks no matter how many executors exist; one
    # split ≈ one target of input keeps scan parallelism proportional to
    # the table, matching the shuffle side's n_out partitions. A file
    # counts 1/16 of the target beyond its bytes, so a split packs up to
    # 16 small files: a tile of one date reads every raw bronze file
    # that holds the date, and at Spark's 4 MB open cost each would be
    # a task of its own.
    tile_order = [i for i in range(len(tiles)) if i not in ranged] + ranged
    with read_split_size(spark, target_file_size_bytes, target_file_size_bytes // 16):
        entries, prefixes = rewrite_units(
            table,
            spark,
            {i: tile_rows[i] for i in tile_order},
            plan,
            pt,
            checkpoint=checkpoint,
            stage=stage,
            alongside=[tile_bounds] if ranged else [],
        )

    # sorted-generation bookkeeping: output prefixes of this run, plus any
    # previous generation's prefixes that still own kept files (dead
    # prefixes — fully rewritten by a later full run — are dropped so the
    # property stays O(cluster runs since last full rewrite))
    new_rel = sorted({os.path.relpath(p, table.root) for p in prefixes.values()})
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
        check_rows_kept("cluster", work, entries)
        snap = swap.commit(
            "replace",
            {
                "stage": "cluster",
                "mode": "incremental" if incremental else "full",
                "curve": order.curve,
                "cluster_cols": list(order.cols),
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
    if checkpoint is not None:
        checkpoint.stage_done("cluster", dict(snap.summary, snapshot_id=snap.snapshot_id))
    return snap


def clustering_quality(table: Table, col: Optional[str] = None) -> float:
    """Average pairwise min/max overlap fraction on `col` (by default the
    leading column of the table's write order) across files of
    the SAME partition — lower is better pruning; 0 = perfectly disjoint
    ranges. Cross-partition pairs are excluded: partition-major layout
    makes every partition span the full key range by design, and real
    scans prune on the partition column first."""
    if col is None:
        col = table.write_order().cols[0]  # a table without one must pass col
    counts = [
        overlap_pairs(part, col)
        for _, part in table.manifest_pdf().groupby("partition_json")
    ]
    pairs = sum(p for _, p in counts)
    return sum(o for o, _ in counts) / pairs if pairs else 0.0


def overlap_pairs(part: pd.DataFrame, col: str) -> tuple:
    """``(overlapping, all)`` ordered pairs of distinct files in ``part``,
    one partition's manifest rows: j overlaps i when ``lo_j < hi_i`` and
    ``hi_j > lo_i`` on ``col``; a file without stats overlaps none. Exact
    in O(n log n): per file, the files starting below its max less those
    ending at or below its min, plus the point files equal to it (in both
    sets), less itself when it spans a range."""
    n = len(part)
    lo, hi = part[f"min_{col}"], part[f"max_{col}"]
    has = (lo.notna() & hi.notna()).to_numpy()
    lo, hi = lo[has].to_numpy(), hi[has].to_numpy()
    point = lo == hi
    pts = np.sort(lo[point])
    equal = np.searchsorted(pts, lo, "right") - np.searchsorted(pts, lo, "left")
    count = (
        np.searchsorted(np.sort(lo), hi, "left")
        - np.searchsorted(np.sort(hi), lo, "right")
        + np.where(point, equal, 0)
        - (lo < hi)
    )
    return int(count.sum()), n * (n - 1)

