"""Summary statistics and name rules shared by the runner and its tests."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TAIL_MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def nearest_rank(sorted_xs: list[float], p: int) -> float:
    """The p-th percentile by the nearest-rank rule (1 <= p <= 100)."""
    return sorted_xs[max(0, math.ceil(p * len(sorted_xs) / 100) - 1)]


def tail_percentile(xs: list[float]) -> tuple[int, float, int] | None:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(p, value, beyond)``: the largest whole percentile ``p``
    whose nearest-rank value has ``beyond >= 10`` samples strictly
    above it. ``None`` when no percentile qualifies (ten or fewer
    samples, or too many ties at the top).
    """
    s = sorted(xs)
    for p in range(99, 0, -1):
        v = nearest_rank(s, p)
        beyond = sum(1 for x in s if x > v)
        if beyond >= TAIL_MIN_BEYOND:
            return p, v, beyond
    return None


def bad_names(names) -> list[str]:
    """Names that break the printed-name rule (letters, digits, _ . -)."""
    return [n for n in names if not NAME_RE.match(n)]
