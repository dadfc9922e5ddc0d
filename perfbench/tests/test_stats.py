"""The rules behind the reported numbers."""

import pytest

import stats
import workloads


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 0.5) == 50.0
    assert stats.percentile(values, 0.9) == 90.0
    assert stats.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(99, 0.9) == 9
    assert stats.samples_beyond(0, 0.9) == 0
    value, beyond = stats.tail_percentile([float(v) for v in range(99)], 0.9)
    assert value is None and beyond == 9
    value, beyond = stats.tail_percentile([float(v) for v in range(100)], 0.9)
    assert value == 89.0 and beyond == 10


def test_self_time_subtracts_the_union_of_children():
    # Children (1,3) and (2,4) overlap: together they cover 3 s, not 4.
    # (8,12) sticks out of the parent and counts only up to its end.
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == 5.0
    assert stats.self_time((0.0, 10.0), []) == 10.0
    assert stats.self_time((0.0, 10.0), [(11.0, 12.0)]) == 10.0
    assert stats.self_time((0.0, 2.0), [(0.0, 2.0)]) == 0.0


def _query_op():
    return workloads.Operation("q_x", "plans", fn=lambda spark, out: None)


def _replay_op():
    return workloads.Operation("etl_x", "pipelines", fn=lambda spark, out: None,
                               meta={"expect": {"rows_loaded": 7}})


def test_error_rate_counts_wrong_checksum_and_raised_operation():
    tally = stats.Tally()
    reference = (10, 1234)
    # A correct repeat, a wrong checksum, and an operation that raised.
    tally.record(workloads.check_value(_query_op(), (10, 1234), reference))
    tally.record(workloads.check_value(_query_op(), (10, 999), reference))
    tally.record("q_x: RuntimeError: boom")
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.error_rate == pytest.approx(2 / 3)


def test_replay_metrics_must_match_generator_counts():
    assert workloads.check_value(_replay_op(), {"rows_loaded": 7}) is None
    assert "expected" in workloads.check_value(_replay_op(), {"rows_loaded": 6})
