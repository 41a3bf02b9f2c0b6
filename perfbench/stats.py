"""Summary statistics the benchmark reports: the tail rule, quartile
spread, and span self time.  Pure Python."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def tail(values: Sequence[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it: the ``n - TAIL_BEYOND``-th smallest sample (1-based),
    which sits at percentile ``100 * (n - TAIL_BEYOND) / n``.

    Returns ``(value, percentile, sample count)``.  Raises ValueError
    when there are too few samples for any percentile to qualify."""
    n = len(values)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    rank = n - TAIL_BEYOND
    return sorted(values)[rank - 1], 100.0 * rank / n, n


def spread(values: Sequence[float]) -> dict:
    """Median, quartiles and the quartile distance as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {
        "median": q2,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / q2 if q2 else float("inf"),
        "n": len(values),
    }


def _covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Seconds of self time per span name: each span's duration minus
    the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(
            children.get(s["id"], ()), s["start"], s["end"]
        )
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
