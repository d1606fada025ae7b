import pytest

from perfbench import stats


def test_percentile_nearest_rank():
    v = list(range(1, 101))
    assert stats.percentile(v, 50) == 50
    assert stats.percentile(v, 99) == 99
    assert stats.percentile(v, 100) == 100
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile([5, 1, 3], 50) == 3


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1], 0)


def test_ten_samples_beyond_rule():
    assert stats.supported(100, 90)      # 10 beyond p90
    assert not stats.supported(99, 90)   # 9 beyond
    assert stats.supported(1000, 99)
    assert not stats.supported(999, 99)
    assert stats.supported(20, 50)
    assert not stats.supported(19, 50)


def test_tail_refuses_unsupported_percentile():
    assert stats.tail(list(range(100)), 90) == 89
    with pytest.raises(ValueError, match="fewer than 10"):
        stats.tail(list(range(99)), 90)
