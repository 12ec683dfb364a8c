"""Deterministic expression helpers shared by all queries."""

from database_join_spark.functions.intmath import (
    DSUM,
    as_int,
    dec,
    int_avg,
    int_avg_expr,
)

__all__ = ["DSUM", "as_int", "dec", "int_avg", "int_avg_expr"]
