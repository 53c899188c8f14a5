"""Scalar function helpers (SURVEY.md §2.8): the exact-decimal sum and the
calendar buckets. Each helper is a thin columnar expression that stays
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Decimal wide enough to hold any double's interesting digits for money-ish
# values; sums over it are exact, which makes aggregates engine-independent
# (Spark vs DuckDB oracle) and partition-order-independent — double sums are
# neither.
EXACT_DECIMAL = "decimal(27,6)"


def exact_sum(col: Column | str, alias: str, out_scale: int = 2) -> Column:
    """Order-independent SUM of a floating-point column.

    Casts to exact decimal before summing (decimal addition is associative,
    so the result does not depend on partition/merge order), rounds to
    ``out_scale`` and returns DOUBLE. The matching DuckDB oracle expression is
    CAST(ROUND(SUM(CAST(x AS DECIMAL(27,6))), 2) AS DOUBLE).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.round(F.sum(c.cast(EXACT_DECIMAL)), out_scale)
        .cast("double")
        .alias(alias)
    )


def month_of(col: Column | str) -> Column:
    """Calendar month bucket (reference: app/spark_cassandra_groupby_month.py:25)."""
    return F.month(F.col(col) if isinstance(col, str) else col).cast("int")


def year_of(col: Column | str) -> Column:
    """Calendar year (reference: app/machine_learning_models.py:148)."""
    return F.year(F.col(col) if isinstance(col, str) else col).cast("int")
