"""Order statistics and span arithmetic for the benchmark's reports."""
import math
import statistics
from collections import defaultdict

TAIL_PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile among n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[rank(len(xs), p) - 1]


def tail_percentile(n: int):
    """The highest reported percentile that still has at least ten samples
    beyond it, given n samples; None when even the median has fewer."""
    for p in TAIL_PERCENTILES:
        if n - rank(n, p) >= 10:
            return p
    return None


def quartiles(values):
    """(first quartile, median, third quartile), as Python's
    statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def covered(intervals, lo: int, hi: int) -> int:
    """Length of [lo, hi) covered by the union of the intervals."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time per layer, in seconds per trace: a span's duration minus
    the part of it its child spans cover, summed over the layer's spans
    and divided by the number of traces (passes, triggers, sweeps) the
    layer appears in."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_us"], s["end_us"]))
    total = defaultdict(int)
    traces = defaultdict(set)
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        total[s["layer"]] += (hi - lo) - covered(children[s["id"]], lo, hi)
        traces[s["layer"]].add(s["trace"])
    return {layer: total[layer] / 1e6 / len(traces[layer]) for layer in total}
