"""Cross-engine-stable rounding.

Two engines rounding the same double can disagree: Spark's ``round`` is
BigDecimal HALF_UP on the decimal that Java's ``Double.toString`` prints for
the double (2.675 rounds as 2.675, not as its binary value 2.67499999...),
DuckDB's multiplies by 10^p and rounds — off-by-one-cent on ~1 in 10^4
values. For oracle-checked outputs we therefore round with an explicit
formula whose IEEE operations are identical in any engine::

    floor(x * 10^p + 0.5) / 10^p

Given identical input bits, this yields identical output bits everywhere.

Placement rule used across plans/:
- row-level computed values -> 2-4 places (bits are identical by
  construction, any place count is parity-safe);
- grouped SUMs of money -> 2 places (fp noise ~1e-9 vs a half-cent
  boundary distance of 5e-3: safe even though engines sum in different
  orders);
- DIVIDED aggregates (avg, ratios, interpolated percentiles) -> 6 places:
  their true values often sit exactly ON a half-cent (e.g. avg of two
  cents values), where different summation order straddles the boundary;
  at 6 places the boundary moves 5e-7 away from such values.

The *semantic* rounding of the reference pipeline (pandas HALF_EVEN) is a
different concern — that is ``F.bround`` in pipeline.py, not this.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fxr(col: Column | str, places: int = 2) -> Column:
    """Engine-portable round-half-up(-toward-+inf) to ``places`` decimals."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**places)
    return F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def cents_sum(col: Column | str, places: int = 2) -> Column:
    """Order-insensitive money SUM: quantize each addend to integer cents
    (identical bits per row in any engine), sum exactly in int64, divide
    once. Floating-point sums of unquantized money differ across
    summation orders by up to ~n·eps·Σ|x| — at sf0.1 that is ~1e-4, and
    with true sums uniform mod 0.01 roughly 2% of groups land within noise
    of a half-cent boundary, flipping the last rounded digit between
    engines (observed: 110 of 21k groups on the flagship query before this
    fix). Integer-cent sums are exact and order-free; the oracle mirrors
    with ``sum(CAST(floor(x*100+0.5) AS BIGINT))/100.0`` (see CENTS_SUM_SQL).
    Overflow headroom: int64 caps at ~9.2e16 cents = $92 trillion.
    ``places`` generalizes the quantum (2 = cents for money, 6 =
    micro-units for small ratios like discounts)."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**places)
    return F.sum(F.floor(c * F.lit(scale) + F.lit(0.5)).cast("long")) / F.lit(scale)


def cents_sum_sql(expr: str, places: int = 2) -> str:
    """DuckDB mirror of :func:`cents_sum`."""
    scale = float(10**places)
    return f"sum(CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT)) / {scale}"


def fxr_sql(expr: str, places: int = 2) -> str:
    """The same formula as SQL text (for DuckDB oracles)."""
    scale = f"{10**places}.0"
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"
