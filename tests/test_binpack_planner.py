"""``plan_compaction`` against a reference planner: the row-at-a-time
bin-packer the array planner replaced, kept here as the oracle. Both
must build the same groups, in the same order, with the same ids, on
random manifests covering slices, next-fit (key stats, NaN bounds
included), first-fit-decreasing (ties in size included), oversized
splits and ``min_input_files``."""

import random

import numpy as np
import pandas as pd
import pytest

from aws_medallion_datalake_spark.plans.binpack import (
    CompactionGroup,
    _first_fit,
    plan_compaction,
)


def _ref_range_structured(rows, order_col):
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


def _ref_plan(manifest, target, *, min_input_files=2, small_file_ratio=0.75,
              max_file_ratio=1.8, order_col=None):
    """The reference: one ``iterrows`` pass per packing rule, and a scan
    of every open bin per file under first-fit-decreasing."""
    small = int(target * small_file_ratio)
    big = int(target * max_file_ratio)
    key_stats = f"min_{order_col}" if order_col else None
    key_stats = key_stats if key_stats in manifest.columns else None
    groups, gid = [], 0
    if "slice" not in manifest.columns:
        manifest = manifest.assign(slice=None)
    for pjson, part in manifest.groupby("partition_json", sort=True):
        sliced = part["slice"].notna()
        size = part["file_size_bytes"]
        cand = part[(size < small) | (sliced & (size <= big))]
        bins = []
        if sliced.any():
            cand = cand.sort_values([key_stats or "path", "path"])
            sizes = cand["file_size_bytes"].astype("int64")
            total = int(sizes.sum())
            n = max(1, round(total / target))
            which = (sizes.cumsum() - sizes // 2) * n // max(total, 1)
            for _, rows in cand.groupby(which.clip(upper=n - 1).to_numpy(), sort=True):
                bins.append([0, [r for _, r in rows.iterrows()]])
        elif key_stats is not None:
            cand = cand.sort_values([key_stats, "path"])
            for _, row in cand.iterrows():
                sz = int(row["file_size_bytes"])
                if bins and bins[-1][0] >= sz:
                    bins[-1][0] -= sz
                    bins[-1][1].append(row)
                else:
                    bins.append([target - sz, [row]])
        else:
            cand = cand.sort_values("file_size_bytes", ascending=False)
            for _, row in cand.iterrows():
                sz = int(row["file_size_bytes"])
                for b in bins:
                    if b[0] >= sz:
                        b[0] -= sz
                        b[1].append(row)
                        break
                else:
                    bins.append([target - sz, [row]])
        for b in bins:
            rows = b[1]
            slices = [r["slice"] if pd.notna(r["slice"]) else None for r in rows]
            if len(rows) < min_input_files and all(s is None for s in slices):
                continue
            groups.append(CompactionGroup(
                group_id=gid, partition_json=str(pjson), kind="pack",
                paths=[r["path"] for r in rows],
                input_bytes=int(sum(r["file_size_bytes"] for r in rows)),
                input_records=int(sum(r["record_count"] for r in rows)),
                n_output_files=1,
                ordered=_ref_range_structured(rows, order_col),
                slices=slices,
            ))
            gid += 1
        for _, row in part[part["file_size_bytes"] > big].iterrows():
            n_out = max(2, round(int(row["file_size_bytes"]) / target))
            groups.append(CompactionGroup(
                group_id=gid, partition_json=str(pjson), kind="split",
                paths=[row["path"]], input_bytes=int(row["file_size_bytes"]),
                input_records=int(row["record_count"]), n_output_files=int(n_out),
                slices=[row["slice"] if pd.notna(row["slice"]) else None],
            ))
            gid += 1
    return groups


def _random_manifest(rng: random.Random, target: int):
    """A manifest of up to four partitions: sizes from a few values (ties)
    or spread from tiny to oversized, optional slices (the empty-string
    tuple among them) and optional key stats with NaN bounds."""
    n_parts = rng.randint(1, 4)
    rows = []
    tied = rng.random() < 0.5
    for p in range(n_parts):
        n = rng.choice([0, 1, 2, 5, 30, 120])
        for i in range(n):
            if tied:
                size = rng.choice([1, target // 10, target // 4, target // 3, target // 2])
            else:
                size = int(target * rng.choice([0.01, 0.2, 0.7, 1.0, 3.0]) * rng.random())
            rows.append({
                "path": f"data/c{rng.randint(0, 3)}/f{p}_{i:04d}_{rng.randint(0, 9)}.parquet",
                "partition_json": f'{{"d": "{p}"}}',
                "record_count": rng.randint(1, 10_000),
                "file_size_bytes": size,
            })
    man = pd.DataFrame(rows, columns=["path", "partition_json", "record_count", "file_size_bytes"])
    if rng.random() < 0.4 and len(man):
        man["slice"] = [
            rng.choice(["", "a", "b"]) if rng.random() < 0.5 else None for _ in range(len(man))
        ]
    kind = rng.choice(["none", "int", "float", "Int64"])
    if kind != "none":
        lo = np.array([rng.randint(-(1 << 62), 1 << 62) for _ in range(len(man))], dtype="int64")
        span = np.array([rng.randint(0, 1 << 58) for _ in range(len(man))], dtype="int64")
        shape = rng.choice(["random", "disjoint", "paired"])
        if shape == "disjoint":  # a clustered layout
            lo, span = np.arange(len(man), dtype="int64") * 10, np.full(len(man), 9)
        elif shape == "paired":  # two files per range: spans sum to 2x the total
            lo, span = np.arange(len(man), dtype="int64") // 2 * 10, np.full(len(man), 10)
        man["min_k"], man["max_k"] = lo, lo + span
        if kind == "float":
            man["min_k"] = man["min_k"].astype("float64")
            man["max_k"] = man["max_k"].astype("float64")
            if len(man):
                man.loc[man.sample(frac=0.1, random_state=rng.randint(0, 99)).index, "max_k"] = np.nan
        elif kind == "Int64":
            man["min_k"] = man["min_k"].astype("Int64")
            man["max_k"] = man["max_k"].astype("Int64")
            if len(man):
                man.loc[man.sample(frac=0.1, random_state=rng.randint(0, 99)).index, "min_k"] = pd.NA
    return man


def _key(groups):
    return [
        (g.group_id, g.partition_json, g.kind, g.paths, g.input_bytes, g.input_records,
         g.n_output_files, g.ordered, g.slices)
        for g in groups
    ]


@pytest.mark.parametrize("seed", range(4))
def test_plan_matches_reference(seed):
    rng = random.Random(seed)
    for _ in range(60):
        target = rng.choice([8 << 20, 128 << 20, 1000])
        man = _random_manifest(rng, target)
        kw = dict(
            min_input_files=rng.choice([1, 2, 3]),
            order_col=rng.choice([None, "k", "missing"]),
        )
        want = _ref_plan(man, target, **kw)
        got = plan_compaction(man, target, **kw).groups
        assert _key(got) == _key(want), (seed, kw)


def test_first_fit_matches_a_bin_scan():
    """The max-tree first-fit puts every size in the bin a scan of the
    open bins would, over thousands of sizes and bins."""
    rng = random.Random(7)
    for n in (0, 1, 3, 1000, 5000):
        target = 1000
        sizes = sorted((rng.randint(0, 700) for _ in range(n)), reverse=rng.random() < 0.5)
        rooms, want = [], []
        for sz in sizes:
            for b, r in enumerate(rooms):
                if r >= sz:
                    rooms[b] -= sz
                    want.append(b)
                    break
            else:
                rooms.append(target - sz)
                want.append(len(rooms) - 1)
        assert _first_fit(sizes, target) == want


def test_a_string_key_packs_unordered():
    """A write order led by a string column packs next-fit in key order
    and marks no group ordered: a string has no span to measure (the
    reference raised ValueError on it)."""
    man = pd.DataFrame({
        "path": ["a", "b", "c", "d"],
        "partition_json": ["{}"] * 4,
        "record_count": [1] * 4,
        "file_size_bytes": [10] * 4,
        "min_s": ["m", "a", "x", "c"],
        "max_s": ["n", "b", "z", "d"],
    })
    with pytest.raises(ValueError):
        _ref_plan(man, 25, order_col="s")
    groups = plan_compaction(man, 25, order_col="s").groups
    assert [g.paths for g in groups] == [["b", "d"], ["a", "c"]]
    assert not any(g.ordered for g in groups)
