import pytest

from perfbench import stats


def test_median_needs_twenty_samples():
    assert not stats.supported(19, 0.50)
    assert stats.supported(20, 0.50)


def test_p75_needs_forty_samples():
    assert not stats.supported(39, 0.75)
    assert stats.supported(40, 0.75)


def test_nearest_rank_percentile():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(values, 0.5) == 3.0
    assert stats.percentile(values, 1.0) == 5.0
    assert stats.percentile(values, 0.2) == 1.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
