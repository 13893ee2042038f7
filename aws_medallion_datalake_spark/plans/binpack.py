"""Bin-packing compaction planner (first-fit-decreasing to a target size).

Replaces the reference's degenerate ``coalesce(1)`` small-file policy
(/root/reference/scripts/silver_digit_clean.py:127,
 scripts/bronze_digit.py:149 — SURVEY.md §2.1 S7, §4) with the policy the
north_star demands: pack manifest entries per partition into rewrite groups
of ≈ ``target_file_size_bytes``; each group becomes one right-sized output
file. Oversized files get their own split groups. Files that mix
partition tuples arrive as one row per (file, tuple) *slice*
(``tableformat.tuple_census``), so they are packed per tuple too.

Planning is pure pandas/numpy on the driver's manifest, at every manifest
size (as ``cluster`` plans, and as Iceberg plans ``rewrite_data_files``
from the file list its scan planned): no data is read, and every step is
a sort, an array pass or an index slice. Next-fit is one pass over the
size array; first-fit finds each file's bin with a max-tree over bin
room, so it is O(files log files), not files x bins.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pandas as pd


@dataclass
class CompactionGroup:
    group_id: int
    partition_json: str
    kind: str  # "pack" (N small files → 1) | "split" (1 big file → N)
    paths: list
    input_bytes: int
    input_records: int
    n_output_files: int = 1
    # True when the inputs carry range structure worth preserving (their
    # key spans are near-disjoint): the rewrite then re-sorts the packed
    # output. Random-order inputs (raw bronze, span-overlapping) skip the
    # sort — it buys no pruning and costs CPU.
    ordered: bool = False
    # per path: the tuple key of the rows this group takes from a file
    # that holds several partition tuples (``tableformat.tuple_census``
    # ``slice``), None for the whole file
    slices: list = field(default_factory=list)


@dataclass
class CompactionPlan:
    groups: list = field(default_factory=list)

    @property
    def rewritten_paths(self) -> set:
        return {p for g in self.groups for p in g.paths}

    def summary(self) -> dict:
        return {
            "groups": len(self.groups),
            "files_in": len(self.rewritten_paths),
            "files_out": sum(g.n_output_files for g in self.groups),
            "bytes": sum(g.input_bytes for g in self.groups),
        }


def _next_fit(sizes: list, target: int) -> list:
    """Each size's bin, packing in order: the last bin while it has room,
    else a new one."""
    out, b, room = [], -1, -1
    for sz in sizes:
        if room >= sz:
            room -= sz
        else:
            b, room = b + 1, target - sz
        out.append(b)
    return out


def _first_fit(sizes: list, target: int) -> list:
    """Each size's bin under first-fit: the leftmost bin with room for it,
    else a new one. A max-tree over bin room (leaves in bin order,
    unopened bins at -1) finds that bin in O(log bins)."""
    width = 1
    while width < len(sizes):
        width *= 2
    room = [-1] * (2 * width)
    out, n_bins = [], 0
    for sz in sizes:
        if room[1] >= sz:
            i = 1
            while i < width:
                i = 2 * i if room[2 * i] >= sz else 2 * i + 1
        else:
            i, n_bins = width + n_bins, n_bins + 1
            room[i] = target
        out.append(i - width)
        room[i] -= sz
        while i > 1:
            i //= 2
            up = max(room[2 * i], room[2 * i + 1])
            if room[i] == up:
                break
            room[i] = up
    return out


def _range_structured(lo: np.ndarray, hi: np.ndarray) -> bool:
    """True when the files' key spans ``[lo, hi]`` are near-disjoint (their
    sum is at most twice the group's total span): a previously clustered
    layout whose order the rewrite should preserve with a re-sort. Not
    with a missing bound, or a zero total span. The spans are summed in
    file order, one float at a time."""
    if np.isnan(lo).any() or np.isnan(hi).any():
        return False
    total = hi.max() - lo.min()
    return bool(total > 0 and sum((hi - lo).tolist()) <= 2.0 * total)


def _bounds(cand: pd.DataFrame, order_col: Optional[str]):
    """The numeric ``min_/max_<order_col>`` stats of ``cand`` as float
    arrays (NaN where missing), or None without them: a span needs a
    number line, so string, date and time keys give None."""
    cols = [cand.get(f"{k}_{order_col}") for k in ("min", "max")]
    if any(c is None or not pd.api.types.is_numeric_dtype(c) for c in cols):
        return None
    return [c.to_numpy("float64", na_value=np.nan) for c in cols]


def plan_compaction(
    manifest: pd.DataFrame,
    target_file_size_bytes: int,
    *,
    min_input_files: int = 2,
    small_file_ratio: float = 0.75,
    max_file_ratio: float = 1.8,
    order_col: Optional[str] = None,
) -> CompactionPlan:
    """Pack undersized files per partition; split oversized ones.

    - candidates: files < small_file_ratio * target (too small) or
      > max_file_ratio * target (too big).
    - pack groups with fewer than ``min_input_files`` inputs are dropped —
      rewriting a lone small file buys nothing.
    - *slices*: rows with a ``slice`` (``tableformat.tuple_census`` of a
      file that mixes partition tuples, ``partition_json`` the slice's
      tuple) are always rewritten, since the file they come from must be
      rewritten whole: a slice is packed at any size up to the split
      threshold, and a group holding a slice is kept whatever its input
      count. So every output holds one tuple. A tuple with slices is cut,
      in packing order, into ``max(1, round(bytes / target))`` bins of
      near-equal bytes, the rule ``cluster`` writes a tuple by, so it
      leaves no small remainder file.
    - packing order: when the manifest carries ``min_<order_col>`` stats
      (``order_col``: the leading column of the table's write order),
      candidates are packed NEXT-FIT in (min_key, path) order so each
      output file concatenates key-ADJACENT inputs — a clustered table
      stays clustered through compaction (path is the tiebreaker:
      cluster-written files sort by bucket within their commit prefix).
      Without stats, first-fit-decreasing by size maximizes bin fill.
    - ``ordered``: the group's key spans are near-disjoint
      (``_range_structured``, on numeric ``min_/max_<order_col>`` stats).
    """
    target = target_file_size_bytes
    small = int(target * small_file_ratio)
    big = int(target * max_file_ratio)
    key_stats = f"min_{order_col}" if order_col else None
    key_stats = key_stats if key_stats in manifest.columns else None
    if "slice" not in manifest.columns:
        manifest = manifest.assign(slice=None)
    groups: list = []
    for pjson, part in manifest.groupby("partition_json", sort=True):
        pjson = str(pjson)
        sliced = part["slice"].notna()
        size = part["file_size_bytes"]
        cand = part[(size < small) | (sliced & (size <= big))]
        if sliced.any():
            cand = cand.sort_values([key_stats or "path", "path"])
            sizes = cand["file_size_bytes"].to_numpy("int64")
            total = int(sizes.sum())
            n = max(1, round(total / target))
            # each row's bin: where its middle byte falls among n equal cuts
            bins = np.minimum((sizes.cumsum() - sizes // 2) * n // max(total, 1), n - 1)
        elif key_stats is not None:  # next-fit: keep key adjacency
            cand = cand.sort_values([key_stats, "path"])
            bins = _next_fit(cand["file_size_bytes"].tolist(), target)
        else:
            cand = cand.sort_values("file_size_bytes", ascending=False)
            bins = _first_fit(cand["file_size_bytes"].tolist(), target)
        if len(cand):
            groups += _pack_groups(
                cand, np.asarray(bins), pjson, len(groups), min_input_files, order_col
            )
        for path, sz, recs, slc in part.loc[
            size > big, ["path", "file_size_bytes", "record_count", "slice"]
        ].itertuples(index=False):
            groups.append(
                CompactionGroup(
                    group_id=len(groups),
                    partition_json=pjson,
                    kind="split",
                    paths=[path],
                    input_bytes=int(sz),
                    input_records=int(recs),
                    n_output_files=max(2, round(int(sz) / target)),
                    slices=[slc if pd.notna(slc) else None],
                )
            )
    return CompactionPlan(groups=groups)


def _pack_groups(
    cand: pd.DataFrame,
    bins: np.ndarray,
    pjson: str,
    first_id: int,
    min_input_files: int,
    order_col: Optional[str],
) -> list:
    """The pack groups of ``cand`` (one partition's candidates in packing
    order, ``bins`` each row's bin): one per bin, in bin order, each
    row in packing order, numbered from ``first_id``. A bin with fewer
    than ``min_input_files`` rows and no slice is dropped."""
    order = np.argsort(bins, kind="stable")
    cand, bins = cand.iloc[order], bins[order]
    starts = np.flatnonzero(np.r_[True, bins[1:] != bins[:-1]])
    ends = np.r_[starts[1:], len(bins)]
    slices = cand["slice"].to_numpy(object).copy()
    has_slice = pd.notna(slices)
    slices[~has_slice] = None
    keep = (ends - starts >= min_input_files) | np.logical_or.reduceat(has_slice, starts)
    nbytes = np.add.reduceat(cand["file_size_bytes"].to_numpy("int64"), starts)
    nrecs = np.add.reduceat(cand["record_count"].to_numpy("int64"), starts)
    lo, hi = _bounds(cand, order_col) or (None, None)
    paths, slices = cand["path"].tolist(), slices.tolist()
    out = []
    for k in np.flatnonzero(keep):
        s, e = starts[k], ends[k]
        out.append(
            CompactionGroup(
                group_id=first_id + len(out),
                partition_json=pjson,
                kind="pack",
                paths=paths[s:e],
                input_bytes=int(nbytes[k]),
                input_records=int(nrecs[k]),
                n_output_files=1,
                ordered=lo is not None and _range_structured(lo[s:e], hi[s:e]),
                slices=slices[s:e],
            )
        )
    return out
