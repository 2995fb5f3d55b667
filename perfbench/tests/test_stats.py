"""The tail rule and the spread figures the reports use."""

import statistics

import numpy as np
import pytest

from perfbench.stats import percentile, spread, tail_percentile


@pytest.mark.parametrize("n,want", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_leaves_at_least_ten_samples_beyond():
    for n in range(20, 3000, 7):
        p = tail_percentile(n)
        xs = list(range(n))
        assert sum(x > percentile(xs, p) for x in xs) >= 10


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    xs = list(rng.exponential(size=37))
    for p in (0, 10, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_spread_uses_statistics_quartiles():
    xs = [1.0, 2.0, 2.5, 3.0, 10.0, 4.0, 2.2]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    s = spread(xs)
    assert (s["q1"], s["q3"], s["median"]) == (q1, q3, statistics.median(xs))
    assert s["iqr_share"] == pytest.approx((q3 - q1) / statistics.median(xs))
