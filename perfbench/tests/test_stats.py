import statistics

import pytest

from perfbench.stats import TAIL_BEYOND, median, quartile_spread, tail


@pytest.mark.parametrize("n", [0, 1, 7, 2 * TAIL_BEYOND])
def test_no_tail_until_it_is_above_the_median(n):
    assert tail(range(n)) == (None, None, n)


@pytest.mark.parametrize("n", [2 * TAIL_BEYOND + 1, 50, 100, 1000])
def test_tail_has_exactly_ten_samples_beyond_it(n):
    values = [float(x) for x in reversed(range(n))]
    value, pct, count = tail(values)
    assert count == n
    assert sum(v > value for v in values) == TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - TAIL_BEYOND) / n)
    assert pct > 50.0


def test_tail_of_100_samples_is_p90():
    assert tail(range(100))[:2] == (89.0, 90.0)


def test_quartile_spread_matches_statistics_quantiles():
    values = [1.0, 1.1, 0.9, 1.3, 1.05, 0.95, 1.2, 1.0, 1.15, 0.85]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / q2)
    assert median(values) == statistics.median(values)


def test_quartile_spread_of_a_metric_that_reads_zero():
    assert quartile_spread([0.0] * 5) == 0.0
