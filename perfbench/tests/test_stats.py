import numpy as np
import pytest

import stats


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (999, 90.0), (1000, 99.0), (100_000, 99.0)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_tail_falls_back_to_max_below_twenty_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == ("max", 3.0)


def test_tail_reads_the_supported_percentile():
    values = [float(v) for v in range(1, 101)]
    label, value = stats.tail(values)
    assert label == "p90"
    assert value == pytest.approx(np.percentile(values, 90))


def test_percentile_matches_numpy():
    rng = np.random.default_rng(7)
    values = list(rng.exponential(size=37))
    for p in (0, 25, 50, 75, 90, 99, 100):
        assert stats.percentile(values, p) == pytest.approx(np.percentile(values, p))


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    # quantiles(n=4) of 1..9 are 2.5, 5, 7.5
    assert stats.quartile_spread([float(v) for v in range(1, 10)]) == pytest.approx(1.0)
