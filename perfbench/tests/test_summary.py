import pytest

from perfbench.summary import (
    latency_summary,
    percentile,
    samples_beyond,
    tail_percentile,
)


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert percentile([7.0], 90) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_samples_beyond_p90_needs_a_hundred_samples():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    assert samples_beyond(14, 90) == 1
    assert samples_beyond(1, 90) == 0
    assert samples_beyond(20, 50) == 10


def test_tail_percentile_is_highest_with_ten_beyond():
    assert tail_percentile(9) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0


def test_latency_summary_states_the_sample_count():
    s = latency_summary([float(i) for i in range(1, 101)])
    assert s["samples"] == 100
    assert s["beyond_p90"] == 10 and s["p90_meets_tail_rule"]
    s = latency_summary([1.0, 2.0, 3.0])
    assert s["samples"] == 3 and not s["p90_meets_tail_rule"]
    assert s["p50_s"] == 2.0
