"""The reference's materialized rollup ETL, Spark-first.

Reference pipeline (app/spark_cassandra_etl_award_amount_aggregator.py:66-95):
scan awards + geo dim -> inner join on the aggregator key -> groupBy(key, lat,
lon) -> sum(award_amount) -> write rollup table. Plus the two-key rollup
(app/spark_cassandra_groupby.py:30-84) and the monthly rollup
(app/spark_cassandra_groupby_month.py:7-44).

Scale notes: the dim side is always broadcast (never shuffles the fact), the
aggregate is partial+final hash agg (single shuffle on the grouping key), and
the sink is a bulk columnar write — replacing the reference's row-at-a-time
Cassandra inserts (app/ml_app.py:488-509).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import sum_by_key, sum_by_month
from ..operators.joins import join_dim_fact


def total_by_entity(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    amount_col: str,
    carried_dim_cols: tuple[str, ...] = (),
) -> DataFrame:
    """total_award_amount_by_{recipient,awarding_sub_agency} analog:
    join the small entity dim, group by its name (+ functionally-dependent
    carried attributes, like lat/lon in the reference), sum the amount."""
    on = fact_key if fact_key == dim_key else fact[fact_key] == dim[dim_key]
    joined = join_dim_fact(fact, dim, on=on)
    return sum_by_key(joined, [dim_key, *carried_dim_cols], amount_col)


def total_by_month(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str,
    date_col: str, amount_col: str,
) -> DataFrame:
    """awarding_sub_agency_by_month analog (calendar-month bucket)."""
    on = fact_key if fact_key == dim_key else fact[fact_key] == dim[dim_key]
    joined = join_dim_fact(fact, dim, on=on)
    return sum_by_month(joined, dim_key, date_col, amount_col)


def write_rollup(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize a rollup as columnar parquet (reference: Cassandra append
    sink, app/spark_cassandra_etl_award_amount_aggregator.py:88-95)."""
    df.write.mode(mode).parquet(path)


# --------------------------------------------------------------------------
# Incremental rollup maintenance
# --------------------------------------------------------------------------
# The reference refreshed its rollup tables by re-running the full batch job
# (SURVEY.md §1.1 — "freshness by re-running"). At 100 TB a full recompute
# per refresh is untenable; these helpers maintain the materialized rollup
# incrementally: aggregate only the new batch, then merge partial totals.
# The materialized state keeps totals in exact decimal, so
# incremental == full-recompute BIT-FOR-BIT (decimal addition is
# associative); a double-valued state could not guarantee that.

_DEC_TOTAL = "decimal(38,6)"


def partial_rollup(batch: DataFrame, keys: Sequence[str], amount_col: str) -> DataFrame:
    """Aggregate one batch into mergeable partial totals (decimal state)."""
    return batch.groupBy(*keys).agg(
        F.sum(F.col(amount_col).cast("decimal(27,6)")).cast(_DEC_TOTAL).alias("_total_dec"),
        F.count(F.lit(1)).alias("_n"),
    )


def merge_rollup(existing: DataFrame | None, delta: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge a batch's partial totals into the materialized state.

    Cost: O(|delta keys| + |existing keys|) — one shuffle on the grouping
    key, independent of total fact rows ever ingested."""
    if existing is None:
        return delta
    return (
        existing.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("_total_dec").cast(_DEC_TOTAL).alias("_total_dec"),
            F.sum("_n").alias("_n"),
        )
    )


def rollup_view(state: DataFrame, alias: str = "total_award_amount") -> DataFrame:
    """Reader view over the materialized state: rounded double totals (the
    shape the dashboard consumes)."""
    return state.select(
        *[c for c in state.columns if not c.startswith("_")],
        F.round(F.col("_total_dec"), 2).cast("double").alias(alias),
        F.col("_n").alias("n_awards"),
    )
