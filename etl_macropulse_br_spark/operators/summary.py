"""Rules-based summary analytics (``summary.py:6-94``).

The heavy lifting (monthly aggregation, lag windows, top-k) stays
distributed; only the final <10 rows are collected to the driver for
text formatting — mirroring the reference's output contract
(``data/gold/summary.md``) without ever looping over data in Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_macropulse_br_spark.functions.exprs import month_trunc

DEFAULT_TARGET_SERIES = "selic_sgs_11"  # summary.py:12


def latest_observation(bcb_silver: DataFrame, series_name: str) -> DataFrame:
    """Latest row of one series (``summary.py:15-21``): case-insensitive
    name match, then global last-by-date. ``orderBy().limit(1)`` plans
    TakeOrderedAndProject — a true distributed top-1, no full sort."""
    return (
        bcb_silver.filter(F.lower(F.col("series_name").cast("string")) == series_name.lower())
        .orderBy(F.col("date").desc())
        .limit(1)
    )


def last_per_month(bcb_silver: DataFrame, series_name: str) -> DataFrame:
    """Last observation of each month for one series
    (``summary.py:31-38``: sort + groupby(month).tail(1) →
    row_number window descending, keep rank 1)."""
    filtered = bcb_silver.filter(
        F.lower(F.col("series_name").cast("string")) == series_name.lower()
    ).withColumn("month", month_trunc("date"))
    w = Window.partitionBy("month").orderBy(F.col("date").desc())
    return (
        filtered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def mom_delta_last_two(month_series: DataFrame) -> DataFrame:
    """Delta of ``value`` between the final two monthly observations
    (``summary.py:40-44``): lag over month, keep latest row."""
    w = Window.orderBy(F.col("month").asc())
    with_lag = month_series.withColumn(
        "mom_change", F.col("value") - F.lag("value", 1).over(w)
    )
    return with_lag.orderBy(F.col("month").desc()).limit(1)


def top_movers(
    anp_monthly_mom: DataFrame, k: int = 3
) -> DataFrame:
    """Top-k MoM price increases in the latest month
    (``summary.py:73-77``): filter to max(month), drop null deltas,
    top-k descending. The latest-month filter is a scalar-subquery
    join (Catalyst folds it); top-k is TakeOrderedAndProject."""
    latest = anp_monthly_mom.agg(F.max("month").alias("month"))
    return (
        anp_monthly_mom.join(F.broadcast(latest), on="month", how="inner")
        .filter(F.col("mom_change").isNotNull())
        .orderBy(F.col("mom_change").desc(), "uf_sigla", "product")
        .limit(k)
    )


def _as_date(d):
    """datetime → date; date passes through (matches the reference's
    ``.date()`` display, ``summary.py:26,78``)."""
    return d.date() if hasattr(d, "hour") else d


def build_summary_text(bcb_silver: DataFrame, anp_silver: DataFrame) -> str:
    """Reproduce the reference's markdown summary BYTE-FOR-BYTE
    (``summary.py:6-94``, golden artifact ``data/gold/summary.md:1-6``)
    for series ``DEFAULT_TARGET_SERIES`` — every format string and
    fallback line matches the reference. Each block always appends a
    line, so the text is never empty.

    Distributed plan → collect of <10 rows → driver-side f-strings.
    """
    from etl_macropulse_br_spark.operators.gold import (
        build_gold_anp_monthly,
        mom_change,
    )

    lines: list[str] = []

    # ---- BCB/SGS: latest value + MoM (summary.py:10-47) ----
    latest = (
        latest_observation(bcb_silver, DEFAULT_TARGET_SERIES).collect()
        if bcb_silver is not None
        else []
    )
    if latest:
        row = latest[0]
        # a NULL value renders as the reference would render pandas
        # NaN ('nan') instead of raising TypeError on None (r9
        # review fix — silver drops null DATES only, so a null value
        # can reach the latest row)
        val = row["value"] if row["value"] is not None else float("nan")
        lines.append(
            f"BCB/SGS (série {int(row['series_id'])}) - {row['series_name']}: "
            f"último valor em {_as_date(row['date'])} = {val:.2f}."
        )
        monthly = last_per_month(bcb_silver, DEFAULT_TARGET_SERIES)
        delta_rows = mom_delta_last_two(monthly).collect()
        if delta_rows and delta_rows[0]["mom_change"] is not None:
            lines.append(
                f"Variação vs mês anterior: "
                f"{delta_rows[0]['mom_change']:+.2f} (variação absoluta)."
            )
    elif bcb_silver is not None and bcb_silver.take(1):
        lines.append(
            f"BCB/SGS - série '{DEFAULT_TARGET_SERIES}' não encontrada no período."
        )
    else:
        lines.append("BCB/SGS - sem dados para o período.")

    # ---- ANP: top MoM increases by UF/product (summary.py:51-88) ----
    if anp_silver is not None and anp_silver.take(1):
        valid = anp_silver.filter(F.col("date_ref").isNotNull())
        anp_mom = mom_change(
            build_gold_anp_monthly(valid), ["uf_sigla", "product"], "avg_price"
        )
        movers = top_movers(anp_mom, k=3).collect()
        if movers:
            latest_month = movers[0]["month"]
            lines.append(f"ANP - Destaques de {_as_date(latest_month)}:")
            for r in movers:
                lines.append(
                    f"- {r['uf_sigla']} / {r['product']}: variação média "
                    f"{r['mom_change']:+.2f} (vs mês anterior)."
                )
        elif valid.take(1):
            lines.append(
                "ANP - Sem variação mensal suficiente para destacar no período."
            )
        else:
            lines.append("ANP - Sem dados válidos para o período.")
    else:
        lines.append("ANP - sem dados para o período.")

    return "\n".join(lines).strip()
