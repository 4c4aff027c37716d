"""The benchmark's arithmetic: tail rule, self time, hit/miss, spread.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.stats import (
    classify_lookup,
    self_time,
    spread,
    tail,
    union_length,
)


def test_tail_keeps_ten_samples_beyond():
    samples = [float(x) for x in range(1, 41)]  # 1..40, shuffled order is irrelevant
    value, pct, n = tail(list(reversed(samples)))
    assert n == 40
    assert pct == 75.0
    assert value == 30.0
    assert sum(1 for x in samples if x > value) == 10


def test_tail_percentile_moves_with_sample_count():
    value, pct, n = tail([float(x) for x in range(100)])
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(1 for x in range(100) if x > value) == 10


def test_tail_needs_eleven_samples():
    assert tail([1.0] * 10) is None
    value, pct, n = tail([float(x) for x in range(11)])
    assert (value, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_union_merges_overlaps_and_nesting():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_length([(5, 6), (0, 1), (0.5, 5.5)]) == 6.0


def test_self_time_subtracts_union_of_children():
    # overlapping children are not subtracted twice
    assert self_time(0, 10, [(1, 4), (3, 6)]) == 5.0
    # parts of children outside the span do not count
    assert self_time(0, 10, [(-5, 2), (9, 20)]) == 7.0
    assert self_time(0, 10, []) == 10.0
    assert self_time(0, 10, [(0, 10), (2, 3)]) == 0.0


def test_classify_lookup():
    a, b = object(), object()
    assert classify_lookup(None, (1, a)) == (False, False)  # first use
    assert classify_lookup((1, a), (1, a)) == (True, False)  # same plan
    assert classify_lookup((1, a), (2, b)) == (False, True)  # plan changed
    # same plan, but someone unpersisted the stored frame: re-cached
    assert classify_lookup((1, a), (1, b)) == (False, False)


def test_spread_is_iqr_over_median():
    values = [10.0, 10.0, 10.0, 10.0]
    assert spread(values) == 0.0
    q = spread([9.0, 10.0, 10.0, 11.0, 12.0, 8.0, 10.0, 10.0, 10.0, 10.0])
    assert q == pytest.approx(0.05)
