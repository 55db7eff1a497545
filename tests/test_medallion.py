"""Silver → gold → summary path on adversarial fixtures
(FIXTURES.md §1-§3, SURVEY §5.2 golden-file + determinism tests)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_macropulse_br_spark.functions.exprs import (
    parse_date_ddmmyyyy,
    parse_ptbr_number,
)
from etl_macropulse_br_spark.operators.gold import (
    build_gold_anp_monthly,
    build_gold_bcb_monthly,
    mom_change,
)
from etl_macropulse_br_spark.operators.silver import (
    dedup_keep_first,
    enrich_with_uf_dim,
    to_silver_anp,
    to_silver_bcb,
)
from etl_macropulse_br_spark.operators.summary import build_summary_text


@pytest.fixture()
def bcb_raw(spark):
    """BCB payload after typing (extract.py:36-46 shape), with a null
    date (coerced malformed input) and a duplicate (series_id, date)."""
    rows = [
        (11, "selic_sgs_11", "02/01/2026", "13,15"),
        (11, "selic_sgs_11", "09/01/2026", "13,25"),
        (11, "selic_sgs_11", "09/01/2026", "99,99"),  # dup key
        (11, "selic_sgs_11", "15/12/2025", "12,75"),
        (11, "selic_sgs_11", "01/12/2025", "12,50"),
        (11, "selic_sgs_11", "10/11/2025", "12,25"),
        (11, "selic_sgs_11", "bogus", "1,00"),        # -> null date, dropped
    ]
    df = spark.createDataFrame(rows, ["series_id", "series_name", "data", "valor"])
    return df.select(
        F.col("series_id").cast("long"),
        "series_name",
        parse_date_ddmmyyyy("data").alias("date"),
        parse_ptbr_number("valor").alias("value"),
    )


@pytest.fixture()
def anp_raw(spark):
    """ANP CSV shape with pt-BR headers, mixed price formats, junk
    rows, and duplicate keys (FIXTURES.md §2)."""
    rows = [
        (" sp ", "GASOLINA", "09/01/2026", "6,59"),
        ("SP", "GASOLINA", "15/12/2025", "6,39"),
        ("am", "DIESEL S10", "09/01/2026", "6.10"),
        ("AM", "DIESEL S10", "15/12/2025", "6"),
        ("AM", "DIESEL S10", "15/12/2025", "9,99"),   # dup key
        ("RJ", "ETANOL", "09/01/2026", "4,19"),
        ("RJ", "ETANOL", "15/12/2025", "4,39"),
        ("XX", "GASOLINA", "09/01/2026", "7,00"),     # UF not in dim
        ("SP", "GASOLINA", "bad-date", "6,00"),       # dropped
        ("SP", "GASOLINA", "09/01/2026", "abc"),      # dropped (null price)
        ("SP", "ETANOL", "09/01/2026", "-1,0"),       # dropped (price <= 0)
    ]
    return spark.createDataFrame(
        rows, ["Estado - Sigla", "Produto", "Data da Coleta", "Valor de Venda"]
    )


@pytest.fixture()
def dim_uf(spark):
    rows = [
        (35, "SP", "São Paulo", "Sudeste"),
        (13, "AM", "Amazonas", "Norte"),
        (33, "RJ", "Rio de Janeiro", "Sudeste"),
    ]
    return spark.createDataFrame(rows, ["uf_id", "uf_sigla", "uf_nome", "regiao_nome"])


def test_to_silver_bcb(bcb_raw):
    out = to_silver_bcb(bcb_raw).orderBy("date").collect()
    assert len(out) == 5  # 7 rows - 1 null date - 1 dup
    assert [r["value"] for r in out] == [12.25, 12.5, 12.75, 13.15, 13.25]
    # dup (09/01) kept the first-by-(date,value) row: 13.25 < 99.99
    assert out[-1]["value"] == 13.25


def test_to_silver_anp(anp_raw):
    out = to_silver_anp(anp_raw)
    rows = {(r["uf_sigla"], r["product"], str(r["date_ref"])): r["price"] for r in out.collect()}
    assert rows[("SP", "GASOLINA", "2026-01-09")] == 6.59   # comma branch + trim/upper
    assert rows[("AM", "DIESEL S10", "2026-01-09")] == 6.10  # dot branch
    assert rows[("AM", "DIESEL S10", "2025-12-15")] == 6.0   # dup kept min price
    assert ("SP", "ETANOL", "2026-01-09") not in rows        # price <= 0 dropped
    assert len(rows) == 7


def test_enrich_left_join_keeps_unmatched(anp_raw, dim_uf):
    out = enrich_with_uf_dim(to_silver_anp(anp_raw), dim_uf)
    xx = [r for r in out.collect() if r["uf_sigla"] == "XX"]
    assert len(xx) == 1 and xx[0]["regiao_nome"] is None


def test_gold_bcb_monthly_last_is_max_date(bcb_raw):
    gold = build_gold_bcb_monthly(to_silver_bcb(bcb_raw))
    rows = {str(r["month"]): r for r in gold.collect()}
    jan = rows["2026-01-01"]
    assert jan["last_value"] == 13.25  # value at max date, not input order
    assert jan["avg_value"] == pytest.approx((13.15 + 13.25) / 2)
    dec = rows["2025-12-01"]
    assert dec["last_value"] == 12.75
    assert dec["avg_value"] == pytest.approx((12.75 + 12.5) / 2)


def test_gold_determinism_under_shuffle(spark, bcb_raw):
    """Same input in scrambled partition/row order → identical gold
    (SURVEY §5.2 determinism test for traps #1/#2)."""
    silver = to_silver_bcb(bcb_raw)
    base = sorted(map(tuple, build_gold_bcb_monthly(silver).collect()))
    scrambled = bcb_raw.repartition(7).sortWithinPartitions(F.rand(seed=1))
    again = sorted(map(tuple, build_gold_bcb_monthly(to_silver_bcb(scrambled)).collect()))
    assert base == again


def test_mom_change_and_summary_text(bcb_raw, anp_raw, dim_uf):
    anp = enrich_with_uf_dim(to_silver_anp(anp_raw), dim_uf)
    monthly = build_gold_anp_monthly(anp)
    mom = mom_change(monthly, ["uf_sigla", "product"], "avg_price")
    rows = {
        (r["uf_sigla"], r["product"], str(r["month"])): r["mom_change"]
        for r in mom.collect()
    }
    assert rows[("SP", "GASOLINA", "2026-01-01")] == pytest.approx(6.59 - 6.39)
    assert rows[("SP", "GASOLINA", "2025-12-01")] is None

    text = build_summary_text(to_silver_bcb(bcb_raw), anp)
    assert (
        "BCB/SGS (série 11) - selic_sgs_11: último valor em 2026-01-09 = 13.25."
        in text
    )
    assert "Variação vs mês anterior: +0.50 (variação absoluta)." in text
    assert "ANP - Destaques de 2026-01-01:" in text
    # top movers: GASOLINA/SP +0.20, DIESEL S10/AM +0.10, ETANOL/RJ -0.20
    lines = text.strip().splitlines()
    assert lines[-3] == "- SP / GASOLINA: variação média +0.20 (vs mês anterior)."
    assert "AM / DIESEL S10" in lines[-2]
    assert "RJ / ETANOL" in lines[-1]


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "b", 2.0), (1, "a", 1.0), (2, "c", 3.0)], ["k", "o", "v"]
    )
    out = dedup_keep_first(df, keys=["k"], order=["o"]).orderBy("k").collect()
    assert [(r["k"], r["o"]) for r in out] == [(1, "a"), (2, "c")]


def test_partitioned_gold_read_prunes_partitions(spark, tmp_path):
    """The partitioned gold sink must give readers partition pruning:
    a filter on the partition column appears as PartitionFilters in
    the scan and the non-matching partition's files are never read."""
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.sinks.writers import (
        write_parquet_partitioned,
    )

    df = spark.createDataFrame(
        [(11, "2026-01-01", 1.0), (11, "2026-02-01", 2.0),
         (433, "2026-01-01", 3.0)],
        ["series_id", "month", "value"],
    )
    base = str(tmp_path / "gold_part")
    write_parquet_partitioned(df, base, ["series_id"])

    read = spark.read.parquet(base).filter(F.col("series_id") == 11)
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "series_id" in plan.split(
        "PartitionFilters", 1
    )[1][:200]
    # only the series_id=11 partition's rows come back
    assert sorted(r["value"] for r in read.collect()) == [1.0, 2.0]


def test_dedup_keep_first_handles_dotted_column_names(spark):
    """Raw source headers with dots pass through dedup before role
    renaming; name resolution must be literal, not nested-field
    parsing (regression: the r6 min_by rewrite briefly broke
    this)."""
    df = spark.createDataFrame(
        [(1, 2, "x"), (1, 1, "y"), (2, 5, "z")],
        ["k", "o", "val.with.dots"],
    )
    out = {
        r["k"]: r["val.with.dots"]
        for r in dedup_keep_first(df, keys=["k"], order=["o"]).collect()
    }
    assert out == {1: "y", 2: "z"}


def test_dedup_keep_first_null_order_key_matches_window_form(spark):
    """The min_by rewrite's docstring claims struct ordering matches
    the old row_number window incl. NULL order keys (asc = nulls
    FIRST). Pin it: a group whose first-ordered row has a NULL order
    value must keep that row, identical to the window formulation —
    a Spark struct-comparison behavior change would regress
    silently otherwise."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        ("a", None, "null-first"),   # NULL sorts first -> kept
        ("a", 1, "one"),
        ("a", 2, "two"),
        ("b", 3, "three"),           # no null in group b
        ("b", None, "null-too"),     # null still wins group b
        ("c", 5, "five"),            # singleton
    ]
    df = spark.createDataFrame(rows, "k string, o int, v string")
    got = {
        r["k"]: (r["o"], r["v"])
        for r in dedup_keep_first(df, keys=["k"], order=["o"]).collect()
    }
    w = Window.partitionBy("k").orderBy(F.col("o").asc())
    want = {
        r["k"]: (r["o"], r["v"])
        for r in df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .collect()
    }
    assert got == want
    assert got["a"] == (None, "null-first")
    assert got["b"] == (None, "null-too")
    assert got["c"] == (5, "five")
