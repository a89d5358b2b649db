"""Summary statistics and span arithmetic for the link-graph benchmark.

Pure functions (no Spark), covered by ``test_stats.py``.
"""

from __future__ import annotations

import statistics

# Standard percentiles a timing may be reported at, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    return statistics.median(values)


def supported_percentile(n: int, beyond: int = 10):
    """Highest standard percentile with at least ``beyond`` of ``n`` samples
    above it, or None when even the median lacks that many."""
    for p in PERCENTILES:
        # in tenths of a percent, so 99.9 is exact
        if n * round((100.0 - p) * 10) >= beyond * 1000:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))  # ceil(n * p / 100)
    return ordered[int(rank) - 1]


def timing_summary(values) -> dict:
    """Median, sample count, and the highest percentile the sample count
    supports (``supported_percentile``), if any."""
    out = {"median": median(values), "n": len(values)}
    p = supported_percentile(len(values))
    if p is not None and p > 50.0:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def self_times(spans) -> list[float]:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover.

    ``spans`` is a list of (start, end, parent_index_or_None). Children of
    one parent may overlap each other; the covered part is their union,
    clipped to the parent's interval."""
    children: dict[int, list[tuple[float, float]]] = {}
    for start, end, parent in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = []
    for i, (start, end, _parent) in enumerate(spans):
        covered = 0.0
        cur_start = cur_end = None
        for c_start, c_end in sorted(children.get(i, [])):
            c_start, c_end = max(c_start, start), min(c_end, end)
            if c_end <= c_start:
                continue
            if cur_end is None or c_start > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c_start, c_end
            else:
                cur_end = max(cur_end, c_end)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((end - start) - covered)
    return out
