from __future__ import annotations

from perfbench import stats


def test_tail_needs_ten_samples_beyond():
    assert stats.tail_percentile([1.0] * 19) is None
    assert stats.tail_percentile(list(range(20)))[0] == 50.0
    assert stats.tail_percentile(list(range(99)))[0] == 75.0
    p, v = stats.tail_percentile([float(i) for i in range(1, 101)])
    assert (p, v) == (90.0, 90.0)  # exactly ten samples (91..100) beyond
    assert stats.tail_percentile(list(range(1000)))[0] == 99.0


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0
