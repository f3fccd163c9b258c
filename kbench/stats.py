"""Arithmetic of the benchmark's metrics: percentiles and span self time."""
import math
import statistics

TAIL_PERCENTILES = (99.9, 99, 95, 90, 75)
MIN_BEYOND = 10


def _rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    return sorted(xs)[_rank(len(xs), p) - 1]


def samples_beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None."""
    for p in TAIL_PERCENTILES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """{span id: duration minus the part of it its child spans cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - covered(kids.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}
