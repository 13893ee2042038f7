"""Seed -> workload inputs, as plain Python values.

Everything a run feeds the engine is derived here from ``--seed``: the CDC
batch's update ids and the probe reads that check every iteration's table.
The generated table itself is the same for every seed: its phash spread
sets how ``cluster`` tiles it, and a table that changed with the seed
moved a maintenance pass by 15-30% between seeds. Nothing here imports
Spark, so the derivation is testable on its own.
"""

from __future__ import annotations

import random

# Fixture shape (the generator's own layout: 4 ingest dates by id % 4,
# every 10th id renders one of 4 hot patterns -> ~10% hot-phash skew).
N_ROWS = 2000
FIXTURE_START = 10_000_000  # first row id
N_FILES = 64
N_DATES = 4
REFRESH_DATE_IDX = N_DATES - 1  # the "D-1" partition the CDC round refreshes
# nightly_maintenance: one unmaintained day of small files joins every
# maintained copy before it is read
FRESH_ROWS = N_ROWS // 8
FRESH_FILES = 16
FRESH_DATE = "2024-01-05"
# cdc_upsert: the CDC batch
N_UPDATES = N_ROWS // 10
N_INSERTS = N_ROWS // 20
HOT_UPDATE_SHARE = 0.5  # half the updates land on the 10% hot rows

# The probe that checks each iteration's table: present and absent point
# keys alternating, phash range scans, one full payload aggregate and one
# fast_count. Each read kind's latency is reported on its own, so these
# counts set sample sizes, not a traffic mix.
POINTS_PER_PROBE = 2
RANGES_PER_PROBE = 1
RANGE_SELECTIVITIES = (0.002, 0.01, 0.03, 0.08)
N_PROBES = 256  # more iterations than any run fits


def date_of(i: int) -> str:
    """ingest_date the generator assigns to row id ``i``."""
    return f"2024-01-{(i % N_DATES) + 1:02d}"


def image_id(i: int) -> str:
    return f"img-{i:012d}"


def probe(rng: random.Random, pool) -> dict:
    """One probe: ``points`` as ``(key, rows wanted)``, ``ranges`` as
    ``(start quantile, selectivity)`` over the table's sorted phash."""
    points = []
    for j in range(POINTS_PER_PROBE):
        key = image_id(rng.choice(pool))
        # an absent key sorts between two present ones: every file's id
        # range holds it, so only the footer blooms can skip the files
        points.append((key, 1) if j % 2 == 0 else (key + "-absent", 0))
    ranges = []
    for _ in range(RANGES_PER_PROBE):
        sel = rng.choice(RANGE_SELECTIVITIES)
        ranges.append((round(rng.uniform(0.0, 1.0 - sel), 6), sel))
    return {"points": points, "ranges": ranges}


def make_inputs(seed: int) -> dict:
    """All seeded inputs of one run. Same seed -> equal dict."""
    rng = random.Random(seed)
    start = FIXTURE_START
    ids = range(start, start + N_ROWS)
    # ids past the fixture: the fresh day (nightly_maintenance) or the CDC
    # inserts (cdc_upsert)
    extra_start = start + N_ROWS
    # updates avoid the refreshed date: the round overwrites that date
    # before its MERGE, so an update there would turn into an insert
    eligible = [i for i in ids if i % N_DATES != REFRESH_DATE_IDX]
    hot = [i for i in eligible if i % 10 == 0]
    cold = [i for i in eligible if i % 10 != 0]
    n_hot = int(N_UPDATES * HOT_UPDATE_SHARE)
    updates = sorted(rng.sample(hot, n_hot) + rng.sample(cold, N_UPDATES - n_hot))
    present = range(start, extra_start + FRESH_ROWS)
    return {
        "seed": seed,
        "start": start,
        "extra_start": extra_start,
        "update_ids": updates,
        "caption_probe": sorted(rng.sample(updates, 40)),
        "nightly_probes": [probe(rng, present) for _ in range(N_PROBES)],
        # present keys are updated rows, so a hit also checks the caption
        "cdc_probes": [probe(rng, updates) for _ in range(N_PROBES)],
    }
