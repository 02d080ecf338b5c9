import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats as S  # noqa: E402


def test_median_odd_even():
    assert S.median([3.0, 1.0, 2.0]) == 2.0
    assert S.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        S.median([])


def test_percentile_interpolates_like_numpy_linear():
    xs = [10.0, 20.0, 30.0, 40.0, 50.0]
    assert S.percentile(xs, 0) == 10.0
    assert S.percentile(xs, 100) == 50.0
    assert S.percentile(xs, 50) == 30.0
    assert S.percentile(xs, 90) == pytest.approx(46.0)
    assert S.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        S.percentile(xs, 101)


def test_highest_supported_percentile_keeps_ten_samples_beyond():
    assert S.highest_supported_percentile(100) == pytest.approx(90.0)
    assert S.highest_supported_percentile(1000) == pytest.approx(99.0)
    assert S.highest_supported_percentile(19) is None


def test_quartile_spread_matches_statistics_quantiles():
    xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert S.quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
    assert S.quartile_spread([5.0, 5.0, 5.0]) == 0.0
