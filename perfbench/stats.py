"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile of ``values`` with at least ``beyond``
    samples above it, as ``(percentile, value)``.

    With ``n`` samples that is percentile ``100 * (n - beyond) / n``,
    where the value is the ``(n - beyond)``-th smallest sample. Below
    ``2 * beyond`` samples no percentile at or above the median has that
    many samples beyond it, so there is no tail to report and the result
    is ``None``.
    """
    n = len(values)
    if n < 2 * beyond:
        return None
    k = n - beyond  # samples at or below the reported one
    return 100.0 * k / n, sorted(values)[k - 1]


def iqr_share(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
