import pytest

from perfbench import stats


def test_quantile_interpolates():
    assert stats.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert stats.quantile([5], 0.9) == 5
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


@pytest.mark.parametrize("n, expected", [
    (9, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    got = stats.tail_percentile([float(i) for i in range(n)])
    if expected is None:
        assert got is None
    else:
        p, value = got
        assert p == expected
        # at least ten samples lie strictly above the reported value
        assert sum(1 for i in range(n) if i > value) >= 10


def test_summarize_reports_count_median_and_supported_tail():
    small = stats.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "median": 2.0}
    big = stats.summarize([float(i) for i in range(100)])
    assert big["n"] == 100 and big["median"] == 49.5
    assert big["p90"] == pytest.approx(89.1)

