"""Summary statistics with an explicit sample-count rule."""

from __future__ import annotations

import math


class TooFewSamples(ValueError):
    """A percentile was asked of fewer samples than it needs."""


def min_samples(q: float, beyond: int = 10) -> int:
    """Samples needed so that at least ``beyond`` of them lie above the
    ``q``-th percentile (p90 needs 100, p50 needs 20)."""
    if not 0 < q < 100:
        raise ValueError(f"percentile out of range: {q}")
    return math.ceil(beyond * 100.0 / (100.0 - q))


def percentile(values, q: float, beyond: int = 10) -> float:
    """Nearest-rank ``q``-th percentile. Refuses (raises TooFewSamples)
    when fewer than ``beyond`` samples would lie above it: a p90 of 30
    samples is three samples' worth of tail, not a p90."""
    xs = sorted(values)
    need = min_samples(q, beyond)
    if len(xs) < need:
        raise TooFewSamples(
            f"p{q:g} needs >= {need} samples, got {len(xs)}"
        )
    rank = math.ceil(q / 100.0 * len(xs))
    return float(xs[max(rank, 1) - 1])


def percentile_or_none(values, q: float) -> float | None:
    """``percentile`` for reports: None where the rule refuses it."""
    try:
        return percentile(values, q)
    except TooFewSamples:
        return None


def median(values) -> float:
    """Plain median (no sample-count rule: any non-empty list)."""
    xs = sorted(values)
    if not xs:
        raise TooFewSamples("median of no samples")
    mid = len(xs) // 2
    if len(xs) % 2:
        return float(xs[mid])
    return (xs[mid - 1] + xs[mid]) / 2.0


def span_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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
