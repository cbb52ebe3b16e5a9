"""The tail rule: the highest percentile with at least ten samples
beyond it."""

import pytest

from stats import quartiles, spread, tail


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 41))  # 40 samples
    pct, v = tail(xs)
    assert v == 30 and pct == 75.0
    assert sum(1 for x in xs if x > v) == 10


def test_tail_is_order_free():
    xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12, 0]
    assert tail(xs) == tail(sorted(xs))
    assert tail(xs)[1] == 2


def test_tail_without_enough_samples_is_the_max():
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail(list(range(11))) == (100.0 / 11, 0)


def test_tail_empty():
    with pytest.raises(ValueError):
        tail([])


def test_quartiles_and_spread():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, q2, q3 = quartiles(xs)
    assert q2 == 3.0 and q1 < q2 < q3
    assert spread(xs) == pytest.approx((q3 - q1) / 3.0)
