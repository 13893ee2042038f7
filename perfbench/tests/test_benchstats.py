import pytest

from benchstats import median, percentile, supported_tail, union_length, uncovered


def test_percentile_interpolates_like_numpy():
    xs = list(range(1, 11))
    assert percentile(xs, 50) == pytest.approx(5.5)
    assert percentile([4, 1, 3, 2], 90) == pytest.approx(3.7)
    assert percentile([7.0], 99) == 7.0
    assert percentile(xs, 0) == 1 and percentile(xs, 100) == 10
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_ten_samples_beyond_it():
    assert supported_tail(99) is None
    assert supported_tail(100) == 90.0
    assert supported_tail(999) == 90.0
    assert supported_tail(1000) == 99.0
    assert supported_tail(10_000) == 99.9


def test_median_of_nothing_is_the_default():
    assert median([]) == 0.0
    assert median([3, 1, 2]) == 2.0


def test_union_counts_overlapping_phases_once():
    # two concurrent jobs (overlapping) and a later one
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert union_length(jobs) == pytest.approx(4.0)
    # nested and touching intervals
    assert union_length([(0.0, 10.0), (2.0, 3.0)]) == pytest.approx(10.0)
    assert union_length([(0.0, 1.0), (1.0, 2.0)]) == pytest.approx(2.0)
    assert union_length([]) == 0.0


def test_union_is_clipped_to_the_window():
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert union_length(jobs, 0.5, 5.5) == pytest.approx(3.0)
    assert union_length(jobs, 3.5, 4.5) == 0.0


def test_driver_time_is_wall_not_covered_by_jobs():
    jobs = [(1.0, 4.0), (2.0, 5.0), (7.0, 8.0)]
    # wall 10 s, jobs cover [1,5] and [7,8]: 5 s of driver time
    assert uncovered(0.0, 10.0, jobs) == pytest.approx(5.0)
    assert uncovered(0.0, 10.0, []) == pytest.approx(10.0)
    assert uncovered(2.0, 3.0, jobs) == 0.0
