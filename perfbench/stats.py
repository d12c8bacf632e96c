"""Summary statistics the benchmark reports.

Pooled percentiles over unlike operations are deliberately absent: over a mix
of query kinds whose latencies form separate bands, a pooled p75 or p90 falls
in the gap between two bands and jumps between runs. The benchmark reports a
per-kind median and combines kinds with a geometric mean instead.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(xs: Iterable[float]) -> float:
    return statistics.median(list(xs))


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (rounded first,
    so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(xs: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    return s[_rank(p, len(s)) - 1]


def tail_rank(n: int, candidates: Sequence[float] = TAIL_CANDIDATES) -> float | None:
    """Highest candidate percentile with at least ``MIN_BEYOND`` of ``n``
    samples strictly beyond its nearest rank, or None when even the lowest
    candidate has fewer."""
    for p in candidates:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def geomean(xs: Iterable[float]) -> float:
    vals = list(xs)
    if not vals or min(vals) <= 0:
        raise ValueError(f"geomean needs positive values, got {vals!r}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def kind_geomean(samples: Mapping[str, Sequence[float]]) -> float:
    """Geometric mean, over operation kinds, of each kind's median."""
    return geomean(median(v) for v in samples.values())
