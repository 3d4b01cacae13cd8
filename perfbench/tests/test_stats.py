import pytest

from stats import median, percentile, percentile_key, summarize, tail_percentile


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_percentile_interpolates_between_order_statistics():
    xs = [10.0, 20.0, 30.0, 40.0, 50.0]
    assert percentile(xs, 0) == 10.0
    assert percentile(xs, 100) == 50.0
    assert percentile(xs, 50) == 30.0
    assert percentile(xs, 90) == pytest.approx(46.0)
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile(xs, 101)


@pytest.mark.parametrize(
    "n,expected",
    [(1, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond_it(n, expected):
    assert tail_percentile(n) == expected


def test_summarize_reports_median_count_and_supported_tail():
    few = summarize([1.0, 2.0, 3.0])
    assert few == {"p50": 2.0, "n": 3}
    many = summarize([float(i) for i in range(100)])
    assert set(many) == {"p50", "n", "p90"}
    assert many["p90"] == pytest.approx(89.1)
    assert percentile_key(99.9) == "p99_9"

