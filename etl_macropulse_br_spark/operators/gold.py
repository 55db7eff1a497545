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


def gapfill_monthly(
    monthly: DataFrame,
    key_col: str,
    month_col: str = "month",
    val_col: str = "value",
) -> DataFrame:
    """Calendar gap-fill with last-value carry-forward — the
    time-series interpolation step a macro-series gold mart needs
    when source months are missing (the reference's monthly marts,
    ``transform.py:111-134``, silently skip absent months; this
    makes the hole explicit and filled).

    Per key: materialize the full month calendar between that key's
    first and last observed month (``sequence`` + explode of the
    per-key bounds — the calendar derives from a |keys|-row
    aggregate, never from the fact table), left-join the observed
    values back, and carry the last non-null value forward with an
    ``ignorenulls`` last() window. ``is_filled`` marks
    CALENDAR-SYNTHESIZED rows — months absent from the input (r9
    review fix: it previously tested the VALUE for null, so a real
    observed month carrying a null value was mislabeled as
    synthesized; such a month now reads is_filled=false while its
    null value still receives the carry-forward fill).

    Scale shape: the monthly input arrives already aggregated and
    hash-partitioned by its groupBy keys, so the calendar join
    broadcast-resolves (|keys| x months rows); the only new exchange
    is the carry-forward window's partition on ``key_col``. Values
    are copied, never recomputed — exact cross-engine.
    """
    from pyspark.sql import Window

    bounds = monthly.groupBy(key_col).agg(
        F.min(month_col).alias("mn"), F.max(month_col).alias("mx")
    )
    cal = bounds.select(
        key_col,
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 MONTH"))
        ).alias(month_col),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(month_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    observed = monthly.withColumn("__obs", F.lit(True))
    return cal.join(observed, [key_col, month_col], "left").select(
        key_col,
        month_col,
        F.last(F.col(val_col), ignorenulls=True).over(w).alias(val_col),
        F.col("__obs").isNull().alias("is_filled"),
    )
