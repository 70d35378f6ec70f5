"""Summary statistics for the run record."""

from __future__ import annotations

import statistics

#: A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(values: list[float]) -> dict | None:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it, with the sample count: the (TAIL_BEYOND+1)-th largest value.

    ``None`` when there are too few samples for any such percentile.
    """
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND  # number of samples at or below the reported value
    return {
        "value": sorted(values)[k - 1],
        "percentile": round(100.0 * k / n, 2),
        "n": n,
    }


def median(values) -> float | None:
    """Median of the values that are not ``None``; ``None`` when there are none."""
    xs = [x for x in values if x is not None]
    return statistics.median(xs) if xs else None


def summary(values: list[float]) -> dict:
    """Median and supported tail of ``values``, always stating ``n``."""
    return {"n": len(values), "p50": median(values), "tail": tail(values)}
