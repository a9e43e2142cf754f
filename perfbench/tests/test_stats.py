"""The percentile rule."""

from perfbench import stats


def test_p90_needs_ten_samples_beyond_it():
    # 99 samples: the p90 rank is 90, only 9 lie beyond it
    assert stats.tail_percentile([float(i) for i in range(99)], 90) is None
    # 100 samples: rank 90, exactly 10 beyond it
    assert stats.tail_percentile([float(i) for i in range(100)], 90) == 89.0
    assert stats.tail_percentile([1.0] * 6, 90) is None


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0


def test_rate_of_nothing_is_zero():
    assert stats.rate(3, 0.0) == 0.0
    assert stats.rate(3, 1.5) == 2.0
