"""The summary rules the benchmark reports with."""

from __future__ import annotations

import statistics


def pass_s(walls: dict[str, list[float]]) -> float:
    """Makespan of a typical pass: the sum, over operations, of each
    operation's median wall time across the timed passes.

    Per-operation medians keep one slow stretch of the machine during
    one operation of one pass from moving the result; a failed run of
    an operation is charged the timeout, so it never reads as faster."""
    return sum(statistics.median(w) for w in walls.values())


def query_p50(walls: dict[str, list[float]]) -> float:
    """Median operation time: the median, over operations, of each
    operation's median wall time across the timed passes.

    Taking each operation's median first keeps one slow pass of one
    operation from moving the result, and weighs every operation once
    however many passes it ran."""
    if not walls or not all(walls.values()):
        raise ValueError("query_p50 needs at least one time per operation")
    return statistics.median(statistics.median(w) for w in walls.values())


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with the
    quartiles of ``statistics.quantiles(values, n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
