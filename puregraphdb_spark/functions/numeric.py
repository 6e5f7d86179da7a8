"""Oracle-stable rounding for monetary/measure expressions.

Problem (measured, SURVEY §7.4 round-2 correction): fixture prices and
discounts are exact 2-decimal values, so products like
``price·(1−discount)`` are exact 4-decimal numbers — and ~1% of them
sit EXACTLY on a 2-dp rounding half-boundary (….xx50). The binary
double for such a product lands a hair above or below the true .xx5,
and Spark (BigDecimal HALF_UP on the exact binary) vs DuckDB (scaled
double rounding) then disagree on ~half of those rows (129 rows of
q01 at sf0.1).

Fix: snap to the value's exact decimal grid BEFORE the final rounding,
on BOTH engines. ``decimal_round(col, 2, grid=4)`` casts to
decimal(28,4) — recovering the mathematically exact 4-dp value, since
FP noise ≪ the grid step — then rounds to 2 in decimal (half-up ==
half-away for positive values on both engines), then returns double.
For derived ratios (averages, interpolations) use a finer grid (6–8):
both engines see the identical input double, cast it to the identical
decimal, and round identically.

Aggregation variant: sum in decimal (``sum(col.cast(decimal))``) —
exact arithmetic, immune to summation order entirely.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def decimal_round(col: Column, scale: int = 2, grid: int = 4) -> Column:
    """round(col, scale) via the exact decimal grid; returns double."""
    return F.round(col.cast(f"decimal(28,{grid})"), scale).cast("double")


def decimal_sum_round(col: Column, scale: int = 2, grid: int = 4) -> Column:
    """Exact decimal sum then round; immune to FP summation order."""
    return F.round(F.sum(col.cast(f"decimal(28,{grid})")), scale).cast("double")


def unscaled_sum_round(col: Column, scale: int = 2, grid: int = 4) -> Column:
    """``decimal_sum_round``'s latency twin: sum exact unscaled longs.

    For inputs whose TRUE decimal expansion has ≤ ``grid`` digits
    (e.g. 2-dp price × 2-dp discount factor = exact 4-dp product),
    ``round(col·10^grid)`` recovers the exact integer numerator k —
    FP noise in the double product is ~1e-7 of a unit, never near the
    0.5 needed to flip the round. Summing the k's in long arithmetic
    equals the decimal sum EXACTLY (integer addition, no rounding,
    order-immune), and the final scale-rounding happens in integer
    space (pmod), so no double is ever rounded at a half-boundary.

    Positive values only (half-up == half-away). Callers MUST
    size-gate on measured input bytes: addends are value·10^grid, so
    past ~2^53 total the exactness argument dies — use
    ``decimal_sum_round`` (unbounded decimal) beyond the gate.
    """
    d = 10 ** (grid - scale)
    ul = F.round(col * F.lit(10 ** grid)).cast("long")
    th = F.sum(ul) + F.lit(d // 2)  # +half → floor == round-half-up
    # (th - pmod) is an exact multiple of d ≤ 2^53 under the gate, so
    # the double divisions below are exact-integer then correctly
    # rounded — identical to DuckDB's decimal→double cast.
    m = (th - F.pmod(th, F.lit(d))) / F.lit(float(d))
    return (m / F.lit(float(10 ** scale))).cast("double")

