"""Summary rules shared by the benchmark and its self-tests."""

from __future__ import annotations

import math
import statistics

# A tail figure needs this many samples strictly beyond it.
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with >= TAIL_BEYOND samples beyond it.

    Returns ``(value, percentile, samples_beyond)``. With ``n`` samples the
    value is the ``(n - TAIL_BEYOND)``-th smallest, at percentile
    ``100 * (n - TAIL_BEYOND) / n``. Below ``2 * TAIL_BEYOND`` samples that
    rank falls under the median and the rule cannot be met; the 75th
    percentile (nearest rank) is returned instead, with the smaller number of
    samples beyond it, so the shortfall stays visible. (The maximum of a few
    samples would follow the single slowest outlier.)
    """
    if not values:
        raise ValueError("tail() of no samples")
    s = sorted(values)
    n = len(s)
    k = n - TAIL_BEYOND
    if 2 * k < n:
        k = math.ceil(0.75 * n)
    return s[k - 1], 100.0 * k / n, n - k


def median_of_medians(samples: dict[str, list[float]]) -> float:
    """Median over operations of each operation's median latency.

    Every operation counts once whatever its sample count, and with an odd
    number of operations the figure is one operation's own median, not the
    mean of two operations' extremes.
    """
    return statistics.median(statistics.median(xs) for xs in samples.values() if xs)


class FailCount:
    """Attempted / failed operations, with the failing names kept."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: dict[str, str] = {}
        self.n_failed = 0

    def record(self, name: str, problem: str | None) -> bool:
        """Count one attempt; ``problem`` is None on success."""
        self.attempted += 1
        if problem is None:
            return True
        self.n_failed += 1
        self.failed.setdefault(name, problem)
        return False

    @property
    def ratio(self) -> float:
        return self.n_failed / self.attempted if self.attempted else 0.0


BLIND_SOURCES = ("", "LogicalRDD")


def blind_columns(graph) -> int:
    """Output columns of a LineageGraph whose every leaf is blind.

    A leaf is blind when its relation is a ``LogicalRDD`` (a checkpoint or
    localCheckpoint cut) or has no source at all. A column without leaves
    (a literal) has no provenance to lose and is not counted.
    """
    n = 0
    for col in graph.columns:
        leaves = list(col.leaves())
        if leaves and all(leaf.source in BLIND_SOURCES for leaf in leaves):
            n += 1
    return n
