"""Pure helpers for the benchmark: order statistics, failure tally,
span self times and the seeded operation order. No Spark, no I/O."""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

#: a reported tail percentile needs at least this many samples beyond it
MIN_BEYOND = 10
_TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(xs: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float] | None:
    """The highest percentile of ``_TAIL_LADDER`` that has at least
    ``min_beyond`` samples above it, as ``(p, value)``; None when even
    the median lacks them."""
    for p in _TAIL_LADDER:
        if samples_beyond(len(xs), p) >= min_beyond:
            return p, percentile(xs, p)
    return None


def geomean(xs: list[float]) -> float:
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def seeded_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The operations of one pass in an order fixed by (seed, pass_no)."""
    order = sorted(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it
    raises or when its output does not verify."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(what)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Span:
    name: str
    kind: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children clipped to the parent; overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return [s.dur - _covered(kids.get(i, [])) for i, s in enumerate(spans)]


def subtree(spans: list[Span], root: int) -> list[int]:
    """Indices of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(children.get(i, []))
    return out
