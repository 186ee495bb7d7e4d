"""Summaries shared by the workloads."""

from __future__ import annotations


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest nearest-rank
    percentile that leaves at least 10 samples beyond it; the maximum
    when there are 10 samples or fewer."""
    s = sorted(values)
    if len(s) <= 10:
        return s[-1], 100.0, 0
    k = len(s) - 10  # rank of the value: 10 samples lie beyond it
    return s[k - 1], 100.0 * k / len(s), 10


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
