"""Percentiles are reported only with at least ten samples beyond them."""

from perfbench.stats import percentile, tail_percentile


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(4) is None
    assert tail_percentile(99) is None
    assert tail_percentile(100) == 0.9
    assert tail_percentile(999) == 0.9
    assert tail_percentile(1000) == 0.99
    assert tail_percentile(10_000) == 0.999


def test_percentile_leaves_the_tail_beyond():
    xs = [float(i) for i in range(1, 101)]
    p90 = percentile(xs, 0.9)
    assert p90 == 90.0
    assert sum(1 for x in xs if x > p90) == 10
    assert percentile(xs, 0.5) == 50.0
    assert percentile([3.0], 0.9) == 3.0
