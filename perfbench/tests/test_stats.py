import statistics

import pytest

from stats import median, spread, tail


def test_median_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_median_even_averages_the_two_middle_values():
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([1, 2]) == 1.5
    for xs in ([5.0, 1.0, 9.0, 2.0, 7.0, 3.0], [0.1, 0.4]):
        assert median(xs) == statistics.median(xs)


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        median([])


def test_tail_needs_more_than_ten_samples():
    assert tail(range(10)) is None
    assert tail([]) is None


def test_tail_leaves_exactly_ten_samples_above():
    xs = list(range(1, 101))  # 1..100
    value, pct = tail(xs)
    assert (value, pct) == (90.0, 90.0)
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_grows_with_the_sample():
    assert tail(range(11)) == (0.0, 100 / 11)
    assert tail(range(20))[1] == 50.0
    value, pct = tail(range(1000))
    assert (value, pct) == (989.0, 99.0)


def test_tail_ignores_input_order():
    xs = [5, 3, 9, 1, 7, 2, 8, 6, 4, 0, 11, 10, 12, 13, 14]
    assert tail(xs) == tail(sorted(xs)) == (4.0, 100 * 5 / 15)


def test_spread_is_iqr_over_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / 5.5)
