"""Summary statistics the benchmark reports, kept free of Spark so the
self-tests can pin them down exactly."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def supported_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest whole percentile p with at least ``min_beyond`` of ``n``
    samples strictly beyond it (n·(100 − p)/100 ≥ min_beyond), or None
    when even the median is unsupported."""
    if n <= 0:
        return None
    p = math.floor(100 - 100 * min_beyond / n)
    return p if p >= 50 else None


def percentile(values: list[float], p: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank p-th percentile, or None unless at least
    ``min_beyond`` samples lie beyond it — a p95 of 40 samples is the
    second-largest sample, not a percentile anyone can repeat."""
    n = len(values)
    if n == 0 or n * (100 - p) / 100 < min_beyond:
        return None
    rank = max(1, math.ceil(p / 100 * n))
    return float(sorted(values)[rank - 1])


def tail(values: list[float], min_beyond: int = 10) -> tuple[int | None, float | None]:
    """(p, value) for the highest percentile the sample supports."""
    p = supported_percentile(len(values), min_beyond)
    if p is None:
        return None, None
    return p, percentile(values, p, min_beyond)


def ratio_of_sums(items: list[float], walls: list[float]) -> float:
    """Σ items ÷ Σ walls. A mean of per-op rates would weight a fast
    small op the same as a slow large one; the ratio of sums is the
    rate a caller actually sees over the window."""
    if len(items) != len(walls):
        raise ValueError("items and walls differ in length")
    total = sum(walls)
    if total <= 0:
        raise ValueError("no wall time to divide by")
    return float(sum(items)) / total


class Tally:
    """Operations attempted vs failed. An operation fails when it raises
    or when its answer does not match the reference; either way it
    still counts as attempted."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0
