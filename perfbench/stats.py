"""Metric arithmetic shared by the runner and the steadiness report.

Kept free of Spark and of the engine so the unit tests in
``perfbench/tests`` can check it without starting a JVM.
"""

from __future__ import annotations

import statistics
from collections.abc import Sequence

# The guide's tail rule: report the highest percentile that still has at
# least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def iqr_share(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median: the spread the acceptance rule compares with a metric's bound."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def tail(values: Sequence[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least
    ``TAIL_MIN_BEYOND`` samples above it, by nearest rank.

    With n samples the rank is n - 10, so the percentile is
    100 * (n - 10) / n; fewer than 11 samples have no such percentile.
    """
    n = len(values)
    rank = n - TAIL_MIN_BEYOND
    if rank < 1:
        return None
    return 100.0 * rank / n, float(sorted(values)[rank - 1])


def error_rate(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones; an empty run is an error."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def rate(count: float, seconds: float) -> float:
    """Work per second over a wall-clock interval."""
    if seconds <= 0:
        raise ValueError(f"non-positive interval {seconds}")
    return count / seconds


def worse_share(old: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``old`` as a share of ``old``
    (negative when it is better)."""
    if better == "lower":
        return (new - old) / old
    if better == "higher":
        return (old - new) / old
    raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
