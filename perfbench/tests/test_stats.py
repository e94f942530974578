import pytest

from stats import query_p50, spread


def test_query_p50_is_the_median_of_per_operation_medians():
    walls = {
        "a": [1.0, 1.2, 9.0],  # one slow pass does not count
        "b": [2.0, 2.0, 2.0],
        "c": [3.0, 3.5, 3.1],
    }
    assert query_p50(walls) == 2.0
    # an even number of operations averages the two middle ones
    walls["d"] = [5.0]
    assert query_p50(walls) == pytest.approx((2.0 + 3.1) / 2)


def test_query_p50_weighs_each_operation_once():
    # "a" ran many more passes than the others, but it is one operation
    walls = {"a": [1.0] * 9, "b": [2.0], "c": [3.0]}
    assert query_p50(walls) == 2.0


def test_query_p50_rejects_missing_samples():
    with pytest.raises(ValueError):
        query_p50({})
    with pytest.raises(ValueError):
        query_p50({"a": [1.0], "b": []})


def test_spread_is_quartile_distance_over_median():
    xs = [10.0] * 10
    assert spread(xs) == 0.0
    xs = [float(v) for v in range(1, 11)]
    # statistics.quantiles(n=4, method="exclusive"): 2.75 and 8.25
    assert spread(xs) == pytest.approx((8.25 - 2.75) / 5.5)
