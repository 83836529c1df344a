"""Percentiles that carry their sample count."""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Percentile:
    q: float
    value: float
    n: int  # samples the percentile was taken over
    beyond: int  # samples strictly above ``value``


def percentile(values: list[float], q: float) -> Percentile:
    """Nearest-rank percentile ``q`` (0 < q <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    value = ordered[rank - 1]
    return Percentile(q, value, len(ordered), sum(1 for v in ordered if v > value))


