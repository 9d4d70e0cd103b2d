import pytest

import stats


@pytest.mark.parametrize("n, want", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


@pytest.mark.parametrize("n", range(20, 400, 7))
def test_tail_percentile_is_the_highest_with_ten_beyond(n):
    p = stats.tail_percentile(n)
    xs = list(range(n))
    assert sum(x > stats.percentile(xs, p) for x in xs) >= 10
    higher = [q for q in stats.PERCENTILES if q > p]
    for q in higher:
        assert sum(x > stats.percentile(xs, q) for x in xs) < 10


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 1) == 1
    assert stats.percentile(list(range(1, 101)), 90) == 90
