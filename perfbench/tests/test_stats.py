import statistics

import pytest

from perfbench.stats import median, quartiles, spread


def test_quartiles_match_statistics_quantiles():
    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartiles(vals) == (q1, q2, q3)
    assert median(vals) == statistics.median(vals)


def test_spread_is_iqr_over_median():
    vals = [10.0, 10.0, 11.0, 12.0, 12.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / q2)


def test_single_value_and_empty():
    assert quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert spread([2.5]) == 0.0
    with pytest.raises(ValueError):
        median([])
