"""Small, dependency-free math used by the benchmark (unit-tested in
``test_stats.py``)."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10  # samples that must lie beyond a reported tail


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float] | None:
    """The highest percentile that has at least ``min_beyond`` samples
    beyond it, as ``(percentile, value)``.

    With ``n`` sorted samples that is the ``(min_beyond + 1)``-th largest
    sample, at percentile ``100 * (n - min_beyond - 1) / (n - 1)`` (the
    linear-interpolation convention, so the maximum is percentile 100).
    Returns ``None`` when there are too few samples (``n <= min_beyond``):
    no percentile then has enough samples beyond it.
    """
    n = len(values)
    if n <= min_beyond:
        return None
    ordered = sorted(values)
    k = n - min_beyond - 1
    pct = 100.0 * k / (n - 1) if n > 1 else 100.0
    return pct, float(ordered[k])


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover
    (children are clipped to the parent's interval first)."""
    ps, pe = parent
    clipped = [(max(s, ps), min(e, pe)) for s, e in children]
    return (pe - ps) - union_length(clipped)


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def stored_bytes_ratio(bytes_written: int, bytes_read: int) -> float:
    if bytes_read <= 0:
        raise ValueError("stored_bytes_ratio needs bytes read > 0")
    return bytes_written / bytes_read


def spread(values: list[float]) -> float:
    """Inter-quartile range as a share of the median, with the quartiles
    of ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
