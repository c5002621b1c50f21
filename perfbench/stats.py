"""Summary statistics of one run."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


TAIL_FLOOR = 90.0


def tail(values) -> tuple[float, float]:
    """The highest percentile that has at least ten samples beyond it, but
    never below the 90th, as ``(value, percentile)``, nearest rank.

    With ``n >= 100`` sorted samples that is percentile ``100 * (n - 10) / n``,
    the sample at 0-based index ``n - 11`` (ten samples lie above it). With
    fewer samples no percentile at or above the 90th has ten beyond it and
    the 90th is reported. The floor keeps the percentile non-decreasing in
    ``n``: a faster commit that completes more operations is never scored
    on a lower percentile."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0
    pct = max(TAIL_FLOOR, 100.0 * (n - 10) / n)
    return float(v[math.ceil(round(pct * n / 100.0, 9)) - 1]), pct
