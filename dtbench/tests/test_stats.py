import pytest

from dtbench import stats


def beyond(p: int, n: int) -> int:
    return n - stats.rank(p, n)


@pytest.mark.parametrize(
    ("n", "p"), [(10, None), (11, 9), (12, 16), (20, 50), (40, 75), (100, 90), (1000, 99), (5000, 99)]
)
def test_tail_percentile_known_points(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(11, 600):
        p = stats.tail_percentile(n)
        assert beyond(p, n) >= 10
        assert p == 99 or beyond(p + 1, n) < 10


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(10, 0, -1)]
    assert stats.percentile(values, 50) == 5.0
    assert stats.percentile(values, 51) == 6.0
    assert stats.percentile(values, 1) == 1.0
    assert stats.percentile(values, 100) == 10.0


def test_tail_reports_percentile_and_value():
    values = [float(v) for v in range(1, 21)]
    assert stats.tail(values) == (50, 10.0)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError, match="at least 11"):
        stats.tail([1.0] * 10)


def test_spread_is_quartile_distance_over_median():
    values = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, _, q3 = 1.5, 3.0, 4.5
    assert stats.spread(values) == pytest.approx((q3 - q1) / 3.0)
