"""The event-log reader against a tiny log recorded from Spark 4.1 (local[2]):
job 0 is a two-stage aggregate (4 tasks); jobs 1 and 2 are a two-stage
and a one-stage count (4 tasks). Fields the reader does not use were
dropped from the recording."""

from pathlib import Path

import pytest

import eventlog

LOG = Path(__file__).parent / "data" / "tiny_eventlog.json"
# the benchmark spans recorded around the actions, in time.time() seconds
SPAN_A = (1792175113.2581763, 1792175118.289573)  # job 0
SPAN_B = (1792175118.5897331, 1792175119.3252242)  # jobs 1 and 2


def test_parse_jobs_and_tasks():
    jobs, tasks = eventlog.read(str(LOG))
    assert sorted(jobs) == [
        (1792175117.144, 1792175118.164),
        (1792175118.744, 1792175118.953),
        (1792175119.239, 1792175119.318),
    ]
    assert len(tasks) == 8
    assert sum(t["shuffle_write_b"] for t in tasks) == 134 + 137 + 59 + 59


def test_attribute_counters_to_containing_span():
    jobs, tasks = eventlog.read(str(LOG))
    a, b = eventlog.attribute([SPAN_A, SPAN_B], jobs, tasks, cores=2)
    assert a["tasks"] == 4 and b["tasks"] == 4
    assert a["exec_run_s"] == pytest.approx(0.835)
    assert a["exec_cpu_s"] == pytest.approx(0.437267273)
    assert a["gc_s"] == pytest.approx(0.028)
    assert a["shuffle_write_mb"] == pytest.approx(271e-6)
    assert a["shuffle_read_mb"] == pytest.approx(271e-6)
    assert a["input_mb"] == 0 and a["spill_mb"] == 0
    wall_a = SPAN_A[1] - SPAN_A[0]
    assert a["cpu_util"] == pytest.approx(0.437267273 / (wall_a * 2))
    assert b["exec_run_s"] == pytest.approx(0.157)
    assert b["exec_cpu_s"] == pytest.approx(0.080042488)
    assert b["shuffle_read_mb"] == pytest.approx(118e-6)


def test_driver_time_is_span_wall_outside_its_jobs():
    jobs, tasks = eventlog.read(str(LOG))
    a, b = eventlog.attribute([SPAN_A, SPAN_B], jobs, tasks, cores=2)
    assert a["jobs_s"] == pytest.approx(1.020)
    assert a["driver_s"] == pytest.approx(SPAN_A[1] - SPAN_A[0] - 1.020)
    assert b["jobs_s"] == pytest.approx(0.209 + 0.079)
    assert b["driver_s"] + b["jobs_s"] == pytest.approx(SPAN_B[1] - SPAN_B[0])


def test_span_without_jobs_is_all_driver_time():
    jobs, tasks = eventlog.read(str(LOG))
    (quiet,) = eventlog.attribute([(SPAN_A[0], SPAN_A[0] + 1.0)], jobs, tasks, cores=2)
    assert quiet["tasks"] == 0 and quiet["exec_cpu_s"] == 0
    assert quiet["driver_s"] == pytest.approx(1.0)
