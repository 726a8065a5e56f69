"""Metric math: median, quartiles, spread, percentile and ratios."""

import statistics

import pytest

from perfbench.check import ratio
from perfbench.stats import median, percentile, quartiles


def test_median_odd_and_even():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_quartiles_match_statistics_quantiles():
    values = [9.0, 1.0, 7.5, 3.25, 4.0, 11.0, 2.0, 6.0, 8.0, 5.5]
    q1, q2, q3 = quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert q2 == median(values)
    with pytest.raises(ValueError):
        quartiles([1.0])


def test_percentile_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 99) == 99
    assert percentile(values, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 0) == 1


def test_ratio_reports_against_its_base():
    assert ratio(3, 4) == 0.75
    assert ratio(0, 10) == 0.0
    with pytest.raises(ValueError):
        ratio(1, 0)
