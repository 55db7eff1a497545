"""Golden-file test: the summary builder must reproduce the
reference's committed artifact byte-for-byte.

The reference commits ``data/gold/summary.md`` as its
reproducibility anchor (format strings at ``src/summary.py:25-27,
43,78-81``). The fixture here is synthetic data chosen to land on
exactly the golden's numbers; the expected text is embedded verbatim
and, when the reference checkout is present, additionally compared
against the golden file's raw bytes so the embedded copy can't
drift.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from etl_macropulse_br_spark.operators.gold import (
    build_gold_anp_monthly,
    mom_change,
)
from etl_macropulse_br_spark.operators.summary import (
    DEFAULT_TARGET_SERIES,
    build_summary_text,
    last_per_month,
    latest_observation,
    mom_delta_last_two,
    top_movers,
)
from tests.test_pipeline import _jobs_in_group

REFERENCE_GOLDEN = "/root/reference/data/gold/summary.md"

GOLDEN_TEXT = (
    "BCB/SGS (série 11) - selic_sgs_11: último valor em 2026-01-09 = 55131.00.\n"
    "Variação vs mês anterior: +0.00 (variação absoluta).\n"
    "ANP - Destaques de 2025-12-01:\n"
    "- AM / DIESEL S10: variação média +0.34 (vs mês anterior).\n"
    "- AM / GASOLINA ADITIVADA: variação média +0.24 (vs mês anterior).\n"
    "- AM / GASOLINA: variação média +0.23 (vs mês anterior)."
)

BCB_SCHEMA = "series_id long, series_name string, date date, value double"
ANP_SCHEMA = "uf_sigla string, product string, date_ref date, price double"


def _bcb(spark):
    d = datetime.date
    return spark.createDataFrame(
        [
            (11, "selic_sgs_11", d(2025, 12, 1), 55100.0),
            (11, "selic_sgs_11", d(2025, 12, 15), 55131.0),
            (11, "selic_sgs_11", d(2026, 1, 9), 55131.0),
        ],
        BCB_SCHEMA,
    )


def _anp(spark):
    d = datetime.date
    return spark.createDataFrame(
        [
            ("AM", "DIESEL S10", d(2025, 11, 10), 6.00),
            ("AM", "DIESEL S10", d(2025, 12, 10), 6.34),
            ("AM", "GASOLINA ADITIVADA", d(2025, 11, 10), 6.00),
            ("AM", "GASOLINA ADITIVADA", d(2025, 12, 10), 6.24),
            ("AM", "GASOLINA", d(2025, 11, 10), 6.00),
            ("AM", "GASOLINA", d(2025, 12, 10), 6.23),
        ],
        ANP_SCHEMA,
    )


def test_summary_matches_reference_golden_bytes(spark):
    text = build_summary_text(_bcb(spark), _anp(spark))
    assert text == GOLDEN_TEXT
    if os.path.exists(REFERENCE_GOLDEN):
        with open(REFERENCE_GOLDEN, encoding="utf-8") as f:
            assert text == f.read()


def test_summary_fallback_lines_match_reference(spark):
    # Reference summary.py:46-47,89-90: engine-empty inputs
    empty_bcb = spark.createDataFrame([], BCB_SCHEMA)
    empty_anp = spark.createDataFrame([], ANP_SCHEMA)
    text = build_summary_text(empty_bcb, empty_anp)
    assert text == (
        "BCB/SGS - sem dados para o período.\n"
        "ANP - sem dados para o período."
    )

    # summary.py:44-45: data present but target series absent
    d = datetime.date
    other = spark.createDataFrame(
        [(433, "ipca_sgs_433", d(2026, 1, 9), 1.0)], BCB_SCHEMA
    )
    text = build_summary_text(other, empty_anp)
    assert (
        "BCB/SGS - série 'selic_sgs_11' não encontrada no período." in text
    )

    # summary.py:83-84: only one month → no MoM to highlight
    single_month = spark.createDataFrame(
        [("AM", "GASOLINA", d(2025, 12, 10), 6.23)], ANP_SCHEMA
    )
    text = build_summary_text(empty_bcb, single_month)
    assert (
        "ANP - Sem variação mensal suficiente para destacar no período."
        in text
    )

    # ANP rows present, but every date_ref is null
    undated = spark.createDataFrame(
        [("AM", "GASOLINA", None, 6.23), ("RJ", "DIESEL", None, 5.10)],
        ANP_SCHEMA,
    )
    text = build_summary_text(empty_bcb, undated)
    assert text == (
        "BCB/SGS - sem dados para o período.\n"
        "ANP - Sem dados válidos para o período."
    )

    # silver drops null dates only, so the latest BCB row can carry a
    # NULL value: it renders as pandas NaN would, not as a TypeError
    null_value = spark.createDataFrame(
        [(11, "selic_sgs_11", d(2026, 1, 9), None)], BCB_SCHEMA
    )
    text = build_summary_text(null_value, empty_anp)
    assert text == (
        "BCB/SGS (série 11) - selic_sgs_11: último valor em 2026-01-09 = nan.\n"
        "ANP - sem dados para o período."
    )


def test_summary_probes_anp_only_on_the_fallback_path(spark):
    """With movers to report, the summary runs no ``take(1)`` probe:
    its jobs are those of its three collects (latest value, MoM delta,
    movers) and no more. Counted against the same collects in this
    session, since the job count per collect follows its AQE and
    partition settings."""
    bcb, anp = _bcb(spark), _anp(spark)
    anp_mom = mom_change(
        build_gold_anp_monthly(anp.filter(F.col("date_ref").isNotNull())),
        ["uf_sigla", "product"], "avg_price",
    )
    collects = [
        latest_observation(bcb, DEFAULT_TARGET_SERIES),
        mom_delta_last_two(last_per_month(bcb, DEFAULT_TARGET_SERIES)),
        top_movers(anp_mom, k=3),
    ]
    expected = sum(
        len(_jobs_in_group(spark, f"summary-collect-{i}", df.collect)[1])
        for i, df in enumerate(collects)
    )
    _, jobs = _jobs_in_group(
        spark, "summary-golden", lambda: build_summary_text(bcb, anp)
    )
    assert len(jobs) == expected
