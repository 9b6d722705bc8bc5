"""Tests for the benchmark's pure helpers. Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import math

import numpy as np
import pytest

import datagen
import verify
from metrics import (
    Span,
    Tally,
    geomean,
    median,
    percentile,
    samples_beyond,
    seeded_order,
    self_times,
    subtree,
    tail_percentile,
)


def test_median_odd_even_and_empty():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99.9) == 100
    assert percentile([7.0], 99) == 7.0


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20))) == (50.0, 9)
    assert tail_percentile(list(range(40))) == (75.0, 29)
    assert tail_percentile(list(range(100))) == (90.0, 89)
    for n in (20, 40, 57, 100, 250, 1000):
        p, _ = tail_percentile(list(range(n)))
        assert samples_beyond(n, p) >= 10


def test_geomean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_self_time_subtracts_children_once():
    spans = [
        Span("pass", "pass", 0.0, 10.0),
        Span("q", "query", 1.0, 9.0, parent=0),
        Span("build", "build", 1.0, 3.0, parent=1),
        Span("execute", "execute", 3.5, 9.0, parent=1),
        # overlapping and overhanging children of execute
        Span("b0", "batch", 4.0, 6.0, parent=3),
        Span("b1", "batch", 5.0, 7.0, parent=3),
        Span("late", "batch", 8.5, 9.5, parent=3),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(2.0)
    assert selfs[1] == pytest.approx(0.5)
    assert selfs[3] == pytest.approx(5.5 - 3.0 - 0.5)
    assert sorted(subtree(spans, 1)) == [1, 2, 3, 4, 5, 6]


def test_self_times_of_nested_tree_account_for_root_wall():
    spans = [
        Span("q", "query", 0.0, 5.0),
        Span("build", "build", 0.0, 1.0, parent=0),
        Span("execute", "execute", 1.5, 5.0, parent=0),
        Span("stream", "stream", 2.0, 4.0, parent=2),
        Span("b", "batch", 2.0, 3.0, parent=3),
        Span("addBatch", "phase", 2.2, 2.9, parent=4),
    ]
    selfs = self_times(spans)
    assert sum(selfs[i] for i in subtree(spans, 0)) == pytest.approx(spans[0].dur)


def test_tally_counts_raises_and_bad_outputs():
    t = Tally()
    t.ok()
    t.fail("q1 raised")
    t.fail("q3 output mismatch")
    t.ok()
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == pytest.approx(0.5)
    assert t.problems == ["q1 raised", "q3 output mismatch"]
    assert Tally().failed_frac == 0.0


def test_seeded_order_is_a_reproducible_permutation():
    names = [f"q{i}" for i in range(11)]
    a = seeded_order(names, 7, 1)
    assert a == seeded_order(list(reversed(names)), 7, 1)
    assert sorted(a) == sorted(names)
    assert len({tuple(seeded_order(names, 7, p)) for p in range(5)}) > 1
    assert seeded_order(names, 7, 1) != seeded_order(names, 8, 1)


def test_delivery_pattern_is_at_least_once_and_seeded():
    ts = np.sort(np.random.default_rng(0).integers(0, 10**12, 2000))
    idx, arrival = datagen.delivery_pattern(5, ts)
    idx2, arrival2 = datagen.delivery_pattern(5, ts)
    assert np.array_equal(idx, idx2) and np.array_equal(arrival, arrival2)
    assert not np.array_equal(idx, datagen.delivery_pattern(6, ts)[0])
    counts = np.bincount(idx, minlength=len(ts))
    assert counts.min() >= datagen.MIN_DELIVERIES and counts.max() <= datagen.MAX_DELIVERIES
    assert np.all(np.diff(arrival) >= 0)
    assert np.all(arrival >= ts[idx])
    first = {}
    for i, a in zip(idx, arrival):
        first.setdefault(int(i), int(a))
    assert all(first[i] == ts[i] for i in range(len(ts)))


def test_planted_pairs_are_disjoint_and_seeded():
    pairs = datagen.planted_pairs(3)
    assert pairs == datagen.planted_pairs(3)
    assert len(pairs) == 2 * datagen.N_PLANTED_PAIRS
    ids = [i for p in pairs for i in p]
    assert len(set(ids)) == len(ids)


def test_jaccard_matches_the_engine_shingling():
    assert verify.shingles("a b") == {"a b"}
    assert verify.shingles("a b c d") == {"a b c", "b c d"}
    words = [f"w{i}" for i in range(60)]
    near = list(words)
    near[30] = "neardup"
    j = verify.jaccard(verify.shingles(" ".join(words)), verify.shingles(" ".join(near)))
    assert j == round(55 / 61, 6)
    assert math.isclose(verify.jaccard({"x"}, {"x"}), 1.0)
