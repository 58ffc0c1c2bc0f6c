import pytest

from perfbench.stats import percentile, tail_percentile


@pytest.mark.parametrize(
    "n, want",
    [
        (1, 50.0),
        (19, 50.0),
        (20, 50.0),
        (39, 50.0),
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    p = tail_percentile(n)
    assert p == want
    if n >= 20:
        assert round(n * (100 - p) / 100, 6) >= 10


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)
