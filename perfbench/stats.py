"""The tail percentile rule used by every workload."""

from __future__ import annotations

import statistics

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99, 95, 90, 80, 75, 50)


def tail(samples: list[float], min_beyond: int = 10) -> dict:
    """The highest percentile with at least `min_beyond` samples beyond it,
    with the sample count it rests on. Percentiles interpolate linearly
    between closest ranks (`statistics.quantiles(method="inclusive")`,
    numpy's default). `pct` is None when even the median has fewer than
    `min_beyond` samples above it."""
    n = len(samples)
    for pct in TAIL_PERCENTILES:
        if n * (100 - pct) / 100.0 >= min_beyond:
            cuts = statistics.quantiles(samples, n=100, method="inclusive")
            return {"pct": pct, "value": cuts[pct - 1], "n": n}
    return {"pct": None, "value": None, "n": n}
