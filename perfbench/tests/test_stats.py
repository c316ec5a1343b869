import math

import pytest
import stats


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_ignores_input_order_and_counts_all_samples():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
    value, pct, n = stats.tail(xs)
    assert n == 25 and pct == pytest.approx(60.0)
    assert sorted(xs)[14] == value
    assert sum(x >= value for x in sorted(xs)[15:]) == 10


def test_tail_with_too_few_samples_falls_back_to_the_median():
    assert stats.tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert stats.tail([1.0] * 10)[1] == 50.0
    with pytest.raises(ValueError):
        stats.tail([])


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert stats.geomean([2.5]) == pytest.approx(2.5)
    assert stats.geomean(x for x in [0.1, 10.0]) == pytest.approx(1.0)
    assert math.isclose(stats.geomean([1e-3, 1e3, 7.0]), 7.0 ** (1 / 3))
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])

