"""Bin-packing compaction planner (first-fit-decreasing to a target size).

Replaces the reference's degenerate ``coalesce(1)`` small-file policy
(/root/reference/scripts/silver_digit_clean.py:127,
 scripts/bronze_digit.py:149 — SURVEY.md §2.1 S7, §4) with the policy the
north_star demands: pack manifest entries per partition into rewrite groups
of ≈ ``target_file_size_bytes``; each group becomes one right-sized output
file. Oversized files get their own split groups. Files that mix
partition tuples arrive as one row per (file, tuple) *slice*
(``tableformat.tuple_census``), so they are packed per tuple too.

Planning is O(files log files) pure pandas on the manifest — no data read.
At 10^8-file scale the same FFD runs per-partition inside a Spark
``applyInPandas`` over the manifest DataFrame (``plan_compaction_spark``;
partition count is the parallelism) — ``compact()`` picks the path by
manifest row count, like ``Table.scan``'s planner split. The planner is
deliberately a pure function of manifest rows so both paths share it; the
driver receives only the resulting GROUPS (bounded by the rewrite batch,
and their path lists are needed driver-side anyway to submit the read).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

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


def _is_range_structured(rows: list, order_col: Optional[str]) -> bool:
    """True when the files' key spans are near-disjoint (sum of per-file
    spans ≲ the group's total span) — i.e., a previously clustered
    layout whose order the rewrite should preserve with a re-sort."""
    lo_c, hi_c = f"min_{order_col}", f"max_{order_col}"
    if order_col is None or not rows or lo_c not in rows[0].index:
        return False
    los = [r[lo_c] for r in rows]
    his = [r[hi_c] for r in rows]
    if any(pd.isna(v) for v in los + his):
        return False
    total_span = float(max(his)) - float(min(los))
    if total_span <= 0:
        return False
    sum_spans = sum(float(h) - float(lo) for lo, h in zip(los, his))
    return sum_spans <= 2.0 * total_span


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
    """
    small = int(target_file_size_bytes * small_file_ratio)
    big = int(target_file_size_bytes * max_file_ratio)
    key_stats = f"min_{order_col}" if order_col else None
    key_stats = key_stats if key_stats in manifest.columns else None
    groups: list = []
    gid = 0
    if "slice" not in manifest.columns:
        manifest = manifest.assign(slice=None)
    for pjson, part in manifest.groupby("partition_json", sort=True):
        sliced = part["slice"].notna()
        size = part["file_size_bytes"]
        cand = part[(size < small) | (sliced & (size <= big))]
        bins: list = []  # (remaining_bytes, [rows])
        if sliced.any():
            cand = cand.sort_values([key_stats or "path", "path"])
            sizes = cand["file_size_bytes"].astype("int64")
            total = int(sizes.sum())
            n = max(1, round(total / target_file_size_bytes))
            # each row's bin: where its middle byte falls among n equal cuts
            which = (sizes.cumsum() - sizes // 2) * n // max(total, 1)
            for _, rows in cand.groupby(which.clip(upper=n - 1).to_numpy(), sort=True):
                bins.append([0, [r for _, r in rows.iterrows()]])
        elif key_stats is not None:
            cand = cand.sort_values([key_stats, "path"])
            for _, row in cand.iterrows():  # next-fit: keep key adjacency
                sz = int(row["file_size_bytes"])
                if bins and bins[-1][0] >= sz:
                    bins[-1][0] -= sz
                    bins[-1][1].append(row)
                else:
                    bins.append([target_file_size_bytes - sz, [row]])
        else:
            cand = cand.sort_values("file_size_bytes", ascending=False)
            for _, row in cand.iterrows():  # first-fit-decreasing
                sz = int(row["file_size_bytes"])
                for b in bins:
                    if b[0] >= sz:
                        b[0] -= sz
                        b[1].append(row)
                        break
                else:
                    bins.append([target_file_size_bytes - sz, [row]])
        for b in bins:
            rows = b[1]
            slices = [r["slice"] if pd.notna(r["slice"]) else None for r in rows]
            # a slice's tuple key may be '' (an empty string value), so
            # test for a slice, not for a truthy one
            if len(rows) < min_input_files and all(s is None for s in slices):
                continue
            groups.append(
                CompactionGroup(
                    group_id=gid,
                    partition_json=str(pjson),
                    kind="pack",
                    paths=[r["path"] for r in rows],
                    input_bytes=int(sum(r["file_size_bytes"] for r in rows)),
                    input_records=int(sum(r["record_count"] for r in rows)),
                    n_output_files=1,
                    ordered=_is_range_structured(rows, order_col),
                    slices=slices,
                )
            )
            gid += 1
        for _, row in part[part["file_size_bytes"] > big].iterrows():
            n_out = max(2, round(int(row["file_size_bytes"]) / target_file_size_bytes))
            groups.append(
                CompactionGroup(
                    group_id=gid,
                    partition_json=str(pjson),
                    kind="split",
                    paths=[row["path"]],
                    input_bytes=int(row["file_size_bytes"]),
                    input_records=int(row["record_count"]),
                    n_output_files=int(n_out),
                    slices=[row["slice"] if pd.notna(row["slice"]) else None],
                )
            )
            gid += 1
    return CompactionPlan(groups=groups)


_GROUP_ROW_DDL = (
    "partition_json string, kind string, paths array<string>, "
    "input_bytes long, input_records long, n_output_files int, ordered boolean, "
    "slices array<string>"
)


def plan_compaction_spark(
    manifest_df,
    target_file_size_bytes: int,
    *,
    min_input_files: int = 2,
    small_file_ratio: float = 0.75,
    max_file_ratio: float = 1.8,
    order_col: Optional[str] = None,
) -> CompactionPlan:
    """The ≥``SPARK_MANIFEST_THRESHOLD`` planner: run ``plan_compaction``
    per partition inside ``applyInPandas`` over the manifest DataFrame.
    The quadratic-ish FFD/next-fit loop executes on executors (one task
    per partition); the driver collects one row per GROUP, not per file."""

    def _plan_slice(pdf: pd.DataFrame) -> pd.DataFrame:
        plan = plan_compaction(
            pdf,
            target_file_size_bytes,
            min_input_files=min_input_files,
            small_file_ratio=small_file_ratio,
            max_file_ratio=max_file_ratio,
            order_col=order_col,
        )
        return pd.DataFrame(
            [
                {
                    "partition_json": g.partition_json,
                    "kind": g.kind,
                    "paths": list(g.paths),
                    "input_bytes": g.input_bytes,
                    "input_records": g.input_records,
                    "n_output_files": g.n_output_files,
                    "ordered": bool(g.ordered),
                    "slices": list(g.slices),
                }
                for g in plan.groups
            ],
            columns=[
                "partition_json", "kind", "paths", "input_bytes",
                "input_records", "n_output_files", "ordered", "slices",
            ],
        )

    rows = (
        manifest_df.groupBy("partition_json")
        .applyInPandas(_plan_slice, _GROUP_ROW_DDL)
        .toPandas()
    )
    # deterministic group ids across runs: order by partition, kind, lead path
    rows["_lead"] = rows["paths"].map(lambda ps: ps[0] if len(ps) else "")
    rows = rows.sort_values(["partition_json", "kind", "_lead"]).reset_index(drop=True)
    groups = [
        CompactionGroup(
            group_id=i,
            partition_json=str(r["partition_json"]),
            kind=str(r["kind"]),
            paths=list(r["paths"]),
            input_bytes=int(r["input_bytes"]),
            input_records=int(r["input_records"]),
            n_output_files=int(r["n_output_files"]),
            ordered=bool(r["ordered"]),
            slices=list(r["slices"]),
        )
        for i, r in rows.iterrows()
    ]
    return CompactionPlan(groups=groups)
