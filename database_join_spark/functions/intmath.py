"""Integer-division averages and decimal-stable casts.

The reference mandates integer-only averages — "we will only use
integer precision" (``4112_project_2.pdf`` p.3), enforced at
``q4112_hj_1.c:76``, ``q4112.c:326`` and ``q4112.c:576``. The Spark
spelling is ``sum(x) DIV count(x)`` (floor division on BIGINT), which
is bit-identical to DuckDB's ``//`` for the non-negative domain of the
fixtures — NOT ``F.avg`` (returns DOUBLE, order-sensitive).

DOUBLE measures are cast to DECIMAL before aggregation so that the
parallel (partition-order-dependent) summation cannot perturb results:
decimal addition is exact and associative, double addition is not
(FIXTURES.md determinism rule 2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Canonical decimal type for money/measure columns. 18 digits / 6
#: fractional holds every fixture measure; sums widen to
#: DECIMAL(28,6)+ internally, and aggregated outputs are re-pinned via
#: :func:`dec` so Spark and DuckDB emit the same scale.
DECIMAL_T = "decimal(18,6)"

#: Decimal-stable sum of a DOUBLE measure, emitted as DOUBLE — the one
#: SQL spelling every batch and streaming query uses; format ``{c}``
#: with the column or expression to sum.
DSUM = "CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE)"


def dec(col: Column | str, t: str = DECIMAL_T) -> Column:
    """Pin a column to an exact decimal type (pre- or post-aggregate)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(t)


def as_int(col: Column | str) -> Column:
    """DOUBLE → BIGINT via floor, matching DuckDB semantics exactly.

    A bare ``CAST(double AS BIGINT)`` truncates in Spark but *rounds*
    in DuckDB — ``FLOOR`` first makes both engines agree (the fixture
    domain is non-negative, so floor == truncate in Spark).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c).cast("long")


def int_avg(expr: str, alias: str) -> Column:
    """AVG with integer division: ``sum(expr) DIV count(expr)``.

    Direct analogue of the reference's merge-then-divide
    (``q4112_hj.c:256-274``): Spark's HashAggregateExec computes the
    per-partition partial {sum, count} (the reference's per-thread
    partials, ``q4112_hj.c:26-29``) and the final stage merges and
    divides — same algorithm, shared-nothing instead of atomics.

    ``expr`` is a SQL expression string so the division is true BIGINT
    ``DIV`` (never a DOUBLE round-trip, which loses precision past
    2^53 — a real hazard for 64-bit sums at 100 TB).
    """
    return F.expr(f"sum({expr}) DIV count({expr})").alias(alias)


def int_avg_expr(expr: str, alias: str) -> Column:
    """``sum(expr) DIV count(*)`` — integer avg over all rows."""
    return F.expr(f"sum({expr}) DIV count(*)").alias(alias)
