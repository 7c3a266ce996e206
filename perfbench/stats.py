"""Arithmetic of the benchmark: timing summaries and span self-time.
Pure Python, no Spark, so the self-tests run in well under a second."""

from __future__ import annotations

TAIL_SAMPLES = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(xs: list[float]) -> tuple[float, float] | None:
    """The highest percentile that still has ``TAIL_SAMPLES`` samples
    beyond it, as ``(percentile, value)``; None below 11 samples.

    With ``n`` samples sorted ascending, the sample at index ``n - 11``
    has exactly ten above it and sits at percentile ``100 (n - 10) / n``.
    """
    n = len(xs)
    if n <= TAIL_SAMPLES:
        return None
    return 100.0 * (n - TAIL_SAMPLES) / n, sorted(xs)[n - TAIL_SAMPLES - 1]


def summary(xs: list[float]) -> dict:
    """Median, sample count and the tail percentile of one timing."""
    out = {"median": median(xs), "n": len(xs)}
    t = tail(xs)
    if t is not None:
        out["tail_pct"], out["tail"] = t
    return out


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` that the union of ``parts``
    covers; parts may overlap each other and stick out of ``interval``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (interval[1] - interval[0]) - covered(interval, children)
