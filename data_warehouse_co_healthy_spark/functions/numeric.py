"""Order-independent money arithmetic for oracle-checked aggregates.

A double-precision SUM is order-dependent: partial aggregation and
shuffle-merge order perturb the low bits, so a result that lands within
a few ulps of a rounding boundary flips between runs/engines (this is
how supplier_scorecard produced a .43/.44 hash mismatch against DuckDB
in round 2 — the sum differed by ~4 ulps around a half-cent).

Fixture money columns are exact decimals stored as doubles (prices and
rates carry 2 decimal digits, so products carry ≤4-6): casting each
per-row term to DECIMAL recovers the exact value (the nearest
fixed-point value to the double IS the true product while the absolute
double error stays below half the decimal step), and a DECIMAL SUM is
exact, hence order-independent and engine-independent. The final cast
back to DOUBLE keeps the output schema stable; the conversion of one
exact decimal to double is deterministic on both engines.

At 100 TB this is also the posture you want operationally: money in
exact decimal (Spark DecimalType sums use JVM Decimal128-style exact
arithmetic with partial aggregation intact — still map-side combined,
still one shuffle), doubles only for ratios/statistics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 18 integer+fraction digits is comfortably above any fixture sum
# (~1e10) and any per-row product; scale 6 covers price × rate × rate.
MONEY = "decimal(18,6)"


def money_sum(col: Column) -> Column:
    """Exact, order-independent SUM of a money-valued double column
    (or product expression). Returns DOUBLE for schema stability."""
    return F.sum(col.cast(MONEY)).cast("double")


def money_sum_sql(expr: str) -> str:
    """DuckDB oracle twin of money_sum."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def money_round_sum(col: Column, digits: int) -> Column:
    """round(SUM(money), digits) with the round applied to the EXACT
    decimal sum (HALF_UP on an exact value — engine-independent), then
    cast to double. Rounding the double sum instead would re-introduce
    the boundary flake this module exists to kill."""
    return F.round(F.sum(col.cast(MONEY)), digits).cast("double")


def money_round_sum_sql(expr: str, digits: int) -> str:
    return (
        f"CAST(round(sum(CAST({expr} AS DECIMAL(18,6))), {digits}) "
        "AS DOUBLE)"
    )


def money_avg(col: Column) -> Column:
    """AVG as exact-decimal sum divided by count — both engines derive
    the identical double from the identical exact sum and count."""
    return F.sum(col.cast(MONEY)).cast("double") / F.count(F.lit(1))


def money_avg_sql(expr: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / count(*)"


def snap_round(col: Column, digits: int) -> Column:
    """Engine-portable round of a DOUBLE: ``round(DOUBLE, n)`` itself
    diverges across engines near .5·10⁻ⁿ boundaries even on the
    IDENTICAL double (Spark rounds the exact binary value via
    BigDecimal HALF_UP; DuckDB scales in float — observed flips in
    gapfill_linear/q2/seasonal_naive_eval at sf0.1). Snapping to
    DECIMAL(18,8) first makes both engines round the same exact
    decimal. Use this (with :func:`snap_round_sql` in the oracle) for
    every rounded double output whose pre-round value is already
    bit-identical cross-engine; for outputs that are NOT yet
    bit-identical, fix the summation order first (money_sum /
    exact-decimal accumulation)."""
    return F.round(col.cast("decimal(18,8)"), digits).cast("double")


def snap_round_sql(expr: str, digits: int) -> str:
    """DuckDB oracle twin of snap_round."""
    return (
        f"CAST(round(CAST({expr} AS DECIMAL(18,8)), {digits}) "
        "AS DOUBLE)"
    )


def nz(col: Column) -> Column:
    """Zero→NULL denominator guard: ``x / nz(d)`` yields NULL instead
    of an ANSI DIVIDE_BY_ZERO crash when degenerate data (a zero
    embedding vector, an empty string, an all-equal range) drives the
    denominator to 0. On data where the denominator is never zero the
    result is bit-identical, so oracles need no mirror — the guard
    only changes behavior on inputs the unguarded query would crash
    on. Enforced repo-wide by the divide lint
    (tests/plan_lint.py::divide_findings)."""
    return F.when(col != 0, col)
