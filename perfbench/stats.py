"""Summary statistics: interpolated median and quartiles with sample counts."""

from __future__ import annotations

import statistics


def summary(values: list[float]) -> dict:
    """n, interpolated median and quartiles (``statistics.quantiles``,
    exclusive method) of ``values``."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("no samples")
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"n": len(vals), "median": statistics.median(vals), "q1": q1, "q3": q3}


def tail(values: list[float], beyond: int = 10) -> dict | None:
    """The highest whole percentile with at least ``beyond`` samples above
    it, or None when there are fewer than 2 * ``beyond`` samples."""
    vals = sorted(float(v) for v in values)
    n = len(vals)
    if n < 2 * beyond:
        return None
    pct = int(100 * (n - beyond) / n)
    # interpolated percentile, same convention as statistics.quantiles
    value = statistics.quantiles(vals, n=100)[pct - 1]
    return {"pct": pct, "n": n, "value": value}
