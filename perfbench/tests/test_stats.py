import pytest

import stats


def test_percentile_interpolates_like_numpy():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 4.0
    assert stats.percentile([5.0], 90) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 1001)]
    t = stats.tail(xs)
    assert t["pct"] == 99.0 and t["beyond"] == 10
    t = stats.tail(xs[:200])
    assert t["pct"] == 95.0 and t["beyond"] == 10
    t = stats.tail(xs[:100])
    assert t["pct"] == 90.0 and t["beyond"] == 10


def test_tail_falls_back_to_p90_on_few_samples():
    t = stats.tail([1.0, 2.0, 3.0, 10.0])
    assert t["pct"] == 90.0 and t["n"] == 4 and t["beyond"] == 1
    assert t["value"] == pytest.approx(7.9)
