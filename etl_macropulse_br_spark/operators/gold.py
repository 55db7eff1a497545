"""Gold-zone aggregations — monthly data marts.

Spark-first rewrite of ``transform.py:111-134``. Both tables are
single-shuffle hash aggregates on low-cardinality keys; partial
(map-side) aggregation and AQE post-shuffle coalescing come free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_macropulse_br_spark.functions.exprs import (
    last_by,
    month_trunc,
    stable_mean,
)


def build_gold_bcb_monthly(bcb_silver: DataFrame) -> DataFrame:
    """Monthly mean + last-observation per series.

    Reference ``transform.py:119-124``: groupby(series_id,
    series_name, month) with ``mean`` and order-dependent ``last``
    (input pre-sorted by date, so "last" = value at max date). The
    faithful distributed aggregate is ``max_by(value, date)``
    (SURVEY §4.2 trap #1) — one hash aggregate, no sort, no window.
    """
    return (
        bcb_silver.withColumn("month", month_trunc("date"))
        .groupBy("series_id", "series_name", "month")
        .agg(
            stable_mean("value").alias("avg_value"),
            # value as final tiebreak: rows tied on date collapse to a
            # single deterministic winner regardless of partitioning.
            last_by("value", "date", "value").alias("last_value"),
        )
    )


def build_gold_anp_monthly(anp_enriched: DataFrame) -> DataFrame:
    """Monthly mean price per (uf, product) (``transform.py:127-132``)."""
    return (
        anp_enriched.withColumn("month", month_trunc("date_ref"))
        .groupBy("uf_sigla", "product", "month")
        .agg(stable_mean("price").alias("avg_price"))
    )


def build_gold_metrics(
    bcb_silver: DataFrame, anp_enriched: DataFrame
) -> dict[str, DataFrame]:
    """Both gold marts (``transform.py:111-134``, ``main.py:59``)."""
    return {
        "gold_bcb_monthly": build_gold_bcb_monthly(bcb_silver),
        "gold_anp_monthly": build_gold_anp_monthly(anp_enriched),
    }


def mom_change(monthly: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Month-over-month delta per key group over ``month``
    (``summary.py:70-71``).

    pandas ``groupby(...).diff()`` → ``lag`` window. One shuffle on
    the partition keys; at scale the monthly table is already tiny
    relative to source data, so this is never the bottleneck.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col("month").asc())
    return monthly.withColumn(
        "mom_change", F.col(value_col) - F.lag(value_col, 1).over(w)
    )
