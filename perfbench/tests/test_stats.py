import pytest

from perfbench.stats import median, percentile, ratio, tail, tail_percentile


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 90  # capped
    assert tail_percentile(40) == 75
    assert tail_percentile(20) == 50
    assert tail_percentile(19) is None


@pytest.mark.parametrize("n", [20, 37, 40, 64, 100, 250])
def test_tail_percentile_is_the_highest_such_percentile(n):
    p = tail_percentile(n)
    values = list(range(n))
    beyond = lambda q: sum(1 for v in values if v > percentile(values, q))
    assert beyond(p) >= 10
    assert p == 90 or beyond(p + 1) < 10


def test_tail_falls_back_to_max_with_few_samples():
    assert tail([3.0, 1.0, 2.0]) == (3.0, None)
    vals = [float(i) for i in range(1, 101)]
    assert tail(vals) == (90.0, 90)


def test_percentile_nearest_rank():
    assert percentile([5, 1, 3, 2, 4], 50) == 3
    assert percentile([5, 1, 3, 2, 4], 100) == 5
    assert percentile([7], 90) == 7


def test_ratio_bases():
    assert ratio(3, 4) == 0.75
    assert ratio(5, 0) == 0.0  # empty base reads as 0, never raises


def test_median():
    assert median([1, 3, 2]) == 2
    with pytest.raises(ValueError):
        median([])
