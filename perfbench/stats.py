"""The benchmark's arithmetic, kept free of Spark so it can be tested alone."""

from __future__ import annotations

import statistics


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """Highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: the sample at sorted rank
    ``n - beyond`` (1-based), i.e. the ``beyond + 1``-th largest, and the
    percentile ``100 * (n - beyond) / n`` it stands for.  ``None`` when
    fewer than ``beyond + 1`` samples exist, because then no percentile
    has that many samples beyond it.
    """
    n = len(samples)
    if n <= beyond:
        return None
    rank = n - beyond
    return sorted(samples)[rank - 1], 100.0 * rank / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clipped(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside ``[lo, hi]``."""
    out = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(clipped(children, start, end))


def classify_lookup(before: tuple | None, after: tuple) -> tuple[bool, bool]:
    """``(hit, unpersisted)`` for one ``cachereg.cache_replacing`` call.

    ``before`` and ``after`` are the registry's ``(plan_hash, frame)``
    entry for the key around the call.  A hit hands back the stored frame
    itself.  The previous frame was unpersisted when the plan changed; a
    same-plan re-cache after an outside unpersist is a miss without one.
    """
    if before is None:
        return False, False
    return after[1] is before[1], after[0] != before[0]


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
