"""Deterministic offline inputs for the medallion-pipeline benchmark.

Everything here is a pure function of the seed. ``generate`` writes the
files ``run_pipeline`` reads (run config, series control table, ANP CSV)
plus the REST payloads its injectable ``fetch`` serves, and
``expected`` derives, from the generated records alone and without
Spark, what a correct run must produce: row counts per table, a few
column sums, and the pt-BR summary text byte for byte.

The ANP rows carry every FIXTURES.md §2 hazard: ``;`` separator,
accented headers, unmapped ``Município``/``Bandeira`` columns, mixed
price formats (``6,59``, ``1.234,56``, ``6.59``, ``6``),
zero/negative/non-numeric prices, invalid dates, duplicate keys,
`` sp ``-style UFs and a UF ``XX`` absent from the IBGE dimension. BCB
payloads use pt-BR numbers and carry malformed dates and duplicate
dates.
"""

from __future__ import annotations

import csv
import json
import os
from datetime import date, timedelta
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

START_DATE = "2024-01-01"
END_DATE = "2026-01-10"
TARGET_SERIES = (11, "selic_sgs_11")

# IBGE id, sigla, nome, region — the 27 federative units.
UFS = [
    (11, "RO", "Rondônia", "Norte"), (12, "AC", "Acre", "Norte"),
    (13, "AM", "Amazonas", "Norte"), (14, "RR", "Roraima", "Norte"),
    (15, "PA", "Pará", "Norte"), (16, "AP", "Amapá", "Norte"),
    (17, "TO", "Tocantins", "Norte"), (21, "MA", "Maranhão", "Nordeste"),
    (22, "PI", "Piauí", "Nordeste"), (23, "CE", "Ceará", "Nordeste"),
    (24, "RN", "Rio Grande do Norte", "Nordeste"),
    (25, "PB", "Paraíba", "Nordeste"), (26, "PE", "Pernambuco", "Nordeste"),
    (27, "AL", "Alagoas", "Nordeste"), (28, "SE", "Sergipe", "Nordeste"),
    (29, "BA", "Bahia", "Nordeste"), (31, "MG", "Minas Gerais", "Sudeste"),
    (32, "ES", "Espírito Santo", "Sudeste"),
    (33, "RJ", "Rio de Janeiro", "Sudeste"), (35, "SP", "São Paulo", "Sudeste"),
    (41, "PR", "Paraná", "Sul"), (42, "SC", "Santa Catarina", "Sul"),
    (43, "RS", "Rio Grande do Sul", "Sul"),
    (50, "MS", "Mato Grosso do Sul", "Centro-Oeste"),
    (51, "MT", "Mato Grosso", "Centro-Oeste"),
    (52, "GO", "Goiás", "Centro-Oeste"),
    (53, "DF", "Distrito Federal", "Centro-Oeste"),
]
REGION_IDS = {"Norte": (1, "N"), "Nordeste": (2, "NE"), "Sudeste": (3, "SE"),
              "Sul": (4, "S"), "Centro-Oeste": (5, "CO")}
# index 27 is a UF the IBGE dimension does not know: its rows keep
# NULL uf_nome/regiao_nome after the left join
ANP_UFS = [u[1] for u in UFS] + ["XX"]
PRODUCTS = ["GASOLINA", "GASOLINA ADITIVADA", "DIESEL", "DIESEL S10", "ETANOL"]
PRODUCT_BASE_CENTS = np.array([600, 640, 580, 600, 420])
ANP_HEADER = ["Estado - Sigla", "Município", "Produto", "Data da Coleta",
              "Valor de Venda", "Bandeira"]
BANDEIRAS = ["IPIRANGA", "RAIZEN", "VIBRA", "BRANCA"]
BAD_DATES = ["31/02/2025", "32/01/2024", "00/13/2023", "N/D"]
BAD_PRICES = ["0", "0,00", "-1,50", "-2", "N/D", "abc"]
ANP_END = date(2026, 1, 10)
N_COMBOS = len(ANP_UFS) * len(PRODUCTS)


def _ptbr(cents: int) -> str:
    """pt-BR rendering of a non-negative amount: ``6,59``/``1.234,56``."""
    reais, cent = divmod(int(cents), 100)
    if reais >= 1000:
        return f"{reais // 1000}.{reais % 1000:03d},{cent:02d}"
    return f"{reais},{cent:02d}"


def _mean(total_cents: int, n: int) -> float:
    """The double Spark's ``stable_mean`` yields: the exact decimal mean
    rounded half-up to 16 places (avg over decimal(30,12) has scale 16),
    then cast to double."""
    q = Decimal(int(total_cents)) / Decimal(100 * int(n))
    return float(q.quantize(Decimal(1).scaleb(-16), rounding=ROUND_HALF_UP))


def _month_start(d: date) -> date:
    return d.replace(day=1)


# ---------------------------------------------------------------- ANP

def anp_records(seed: int, n_rows: int) -> dict:
    """Structured ANP rows: the valid rows as integer arrays (key and
    price in cents) plus the rejected rows, before rendering."""
    rng = np.random.default_rng([seed, 1])
    n_bad = n_rows // 50
    n_dup = n_rows // 50
    n_base = n_rows - n_bad - n_dup
    # fill 90% of the (day, uf, product) key space, so silver keeps
    # most rows and the dedup still has collisions to resolve
    n_days = -(-n_base * 10 // (N_COMBOS * 9))
    keys = rng.choice(n_days * N_COMBOS, size=n_base, replace=False)
    day = keys // N_COMBOS
    uf = (keys % N_COMBOS) // len(PRODUCTS)
    prod = keys % len(PRODUCTS)
    uf_off = rng.integers(-40, 41, len(ANP_UFS))
    price = (PRODUCT_BASE_CENTS[prod] + uf_off[uf] + day * 150 // max(n_days, 1)
             + rng.integers(-60, 61, n_base))
    outlier = rng.random(n_base) < 0.001
    price[outlier] = rng.integers(100_000, 200_000, int(outlier.sum()))
    dup_of = rng.integers(0, n_base, n_dup)
    dup_price = np.maximum(price[dup_of] + rng.integers(-50, 51, n_dup), 100)
    bad_of = rng.integers(0, n_base, n_bad)
    bad_kind = rng.integers(0, 2, n_bad)  # 0: bad date, 1: bad price
    return {
        "n_days": int(n_days),
        "day": np.concatenate([day, day[dup_of]]),
        "uf": np.concatenate([uf, uf[dup_of]]),
        "prod": np.concatenate([prod, prod[dup_of]]),
        "price": np.concatenate([price, dup_price]),
        "bad_of": bad_of,
        "bad_kind": bad_kind,
        "rng": rng,
    }


def write_anp_csv(rec: dict, path: str) -> None:
    rng = rec["rng"]
    d0 = ANP_END - timedelta(days=rec["n_days"] - 1)
    day, uf, prod, price = rec["day"], rec["uf"], rec["prod"], rec["price"]
    n_ok = len(day)
    bad_of, bad_kind = rec["bad_of"], rec["bad_kind"]
    n = n_ok + len(bad_of)
    all_day = np.concatenate([day, day[bad_of]])
    all_uf = np.concatenate([uf, uf[bad_of]])
    all_prod = np.concatenate([prod, prod[bad_of]])
    style = rng.integers(0, 20, n)  # per-row rendering variant
    order = rng.permutation(n)

    uf_plain = ANP_UFS
    uf_messy = [f" {u.lower()} " for u in ANP_UFS]
    uf_title = [u.title() for u in ANP_UFS]
    cities = [u[2].upper() for u in UFS] + ["DESCONHECIDO"]
    dates = [d0 + timedelta(days=i) for i in range(rec["n_days"])]
    br_dates = [d.strftime("%d/%m/%Y") for d in dates]
    iso_dates = [d.isoformat() for d in dates]

    lines = [";".join(ANP_HEADER)]
    for i in order.tolist():
        s = int(style[i])
        u = int(all_uf[i])
        uf_s = uf_messy[u] if s == 0 else uf_title[u] if s == 1 else uf_plain[u]
        dd = int(all_day[i])
        date_s = iso_dates[dd] if s in (2, 3) else br_dates[dd]
        if i < n_ok:
            c = int(price[i])
            if c >= 100_000 or s < 8:
                price_s = _ptbr(c)
            elif c % 100 == 0 and s < 12:
                price_s = str(c // 100)
            else:
                price_s = f"{c // 100}.{c % 100:02d}"
        else:
            j = i - n_ok
            if bad_kind[j] == 0:
                date_s = BAD_DATES[s % len(BAD_DATES)]
                price_s = _ptbr(int(price[bad_of[j]]))
            else:
                price_s = BAD_PRICES[s % len(BAD_PRICES)]
        lines.append(
            f"{uf_s};{cities[u]};{PRODUCTS[int(all_prod[i])]};{date_s};"
            f"{price_s};{BANDEIRAS[s % len(BANDEIRAS)]}"
        )
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")


def anp_expected(rec: dict) -> dict:
    """Silver/gold cardinalities and the ANP summary lines."""
    import pandas as pd

    d0 = ANP_END - timedelta(days=rec["n_days"] - 1)
    df = pd.DataFrame({"day": rec["day"], "uf": rec["uf"],
                       "prod": rec["prod"], "price": rec["price"]})
    # dedup keeps the lowest price per (date, uf, product)
    silver = df.groupby(["day", "uf", "prod"], as_index=False)["price"].min()
    dates = pd.to_datetime(d0) + pd.to_timedelta(silver["day"], unit="D")
    silver["month"] = dates.dt.year * 12 + dates.dt.month - 1
    gold = silver.groupby(["uf", "prod", "month"], as_index=False).agg(
        total=("price", "sum"), n=("price", "size"))
    gold["avg"] = [_mean(t, n) for t, n in zip(gold["total"], gold["n"])]
    gold = gold.sort_values(["uf", "prod", "month"])
    prev = gold.groupby(["uf", "prod"])["avg"].shift(1)
    prev_month = gold.groupby(["uf", "prod"])["month"].shift(1)
    latest = int(gold["month"].max())
    last = gold[(gold["month"] == latest) & prev_month.notna()].copy()
    last["mom"] = [a - p for a, p in zip(last["avg"], prev[last.index])]
    movers = sorted(
        ((-m, ANP_UFS[u], PRODUCTS[p]) for m, u, p in
         zip(last["mom"], last["uf"], last["prod"])),
    )[:3]
    lines = []
    if movers:
        y, m = divmod(latest, 12)
        lines.append(f"ANP - Destaques de {date(y, m + 1, 1)}:")
        for neg, u, p in movers:
            lines.append(
                f"- {u} / {p}: variação média {-neg:+.2f} (vs mês anterior)."
            )
    else:
        lines.append(
            "ANP - Sem variação mensal suficiente para destacar no período."
        )
    unknown = int((silver["uf"] == len(ANP_UFS) - 1).sum())
    return {
        "silver_anp_prices": len(silver),
        "gold_anp_monthly": len(gold),
        "anp_price_cents": int(silver["price"].sum()),
        "anp_unknown_uf_rows": unknown,
        "anp_summary": lines,
    }


# ---------------------------------------------------------------- BCB

def business_days(start: str, end: str) -> list[date]:
    d, last = date.fromisoformat(start), date.fromisoformat(end)
    out = []
    while d <= last:
        if d.weekday() < 5:
            out.append(d)
        d += timedelta(days=1)
    return out


def bcb_series(n_series: int) -> list[tuple[int, str]]:
    """The SELIC target series first, then synthetic SGS ids."""
    return [TARGET_SERIES] + [
        (1000 + i, f"sgs_{1000 + i}") for i in range(n_series - 1)
    ]


def bcb_payloads(seed: int, n_series: int) -> tuple[dict, dict]:
    """Per-series SGS payloads and the silver/gold/summary facts they
    imply."""
    rng = np.random.default_rng([seed, 2])
    days = business_days(START_DATE, END_DATE)
    br = [d.strftime("%d/%m/%Y") for d in days]
    payloads: dict[int, list[dict]] = {}
    silver_rows = 0
    gold_rows = 0
    value_cents = 0
    target_kept: dict[date, int] = {}
    for k, (sid, _name) in enumerate(bcb_series(n_series)):
        # three value scales: rates (13,15), indices (1.234,56), integers
        scale = 0 if sid == TARGET_SERIES[0] else k % 3
        level = {0: 1000, 1: 250_000, 2: 5_500_000}[scale]
        walk = level + np.cumsum(rng.integers(-25, 26, len(days))) * (
            1 if scale < 2 else 100)
        walk = np.maximum(walk, 100)
        cents = [int(c) for c in walk]
        recs = [{"data": br[i], "valor": _ptbr(c) if scale < 2 else str(c // 100)}
                for i, c in enumerate(cents)]
        if scale == 2:
            cents = [c // 100 * 100 for c in cents]
        kept = dict(zip(days, cents))
        for i in rng.integers(0, len(days), 4).tolist():
            c = int(cents[i] + rng.integers(-30, 31) * (100 if scale == 2 else 1))
            c = max(c, 100)
            if scale == 2:
                c = c // 100 * 100
            recs.append({"data": br[i], "valor": _ptbr(c) if scale < 2 else str(c // 100)})
            kept[days[i]] = min(kept[days[i]], c)
        recs += [{"data": "", "valor": "1,00"},
                 {"data": days[-1].isoformat(), "valor": "2,00"},
                 {"data": "31/02/2025", "valor": "3,00"}]
        order = rng.permutation(len(recs))
        payloads[sid] = [recs[i] for i in order]
        silver_rows += len(kept)
        gold_rows += len({_month_start(d) for d in kept})
        value_cents += sum(kept.values())
        if sid == TARGET_SERIES[0]:
            target_kept = kept
    return payloads, {
        "silver_bcb_sgs": silver_rows,
        "gold_bcb_monthly": gold_rows,
        "bcb_value_cents": value_cents,
        "bcb_summary": _bcb_summary(target_kept),
    }


def _bcb_summary(kept: dict[date, int]) -> list[str]:
    sid, name = TARGET_SERIES
    last_day = max(kept)
    val = kept[last_day] / 100
    lines = [f"BCB/SGS (série {sid}) - {name}: "
             f"último valor em {last_day} = {val:.2f}."]
    month_last: dict[date, date] = {}
    for d in kept:
        m = _month_start(d)
        month_last[m] = max(month_last.get(m, d), d)
    months = sorted(month_last)
    if len(months) >= 2:
        a = kept[month_last[months[-1]]] / 100
        b = kept[month_last[months[-2]]] / 100
        lines.append(f"Variação vs mês anterior: {a - b:+.2f} (variação absoluta).")
    return lines


def ibge_payload() -> list[dict]:
    return [
        {"id": i, "sigla": s, "nome": n,
         "regiao": {"id": REGION_IDS[r][0], "sigla": REGION_IDS[r][1],
                    "nome": r}}
        for i, s, n, r in UFS
    ]


# ------------------------------------------------------------ entry

def generate(seed: int, anp_rows: int, n_series: int, out_dir: str) -> dict:
    """Write every input under ``out_dir`` and return the expected
    outputs. Idempotent per (seed, sizes): a finished directory holds
    ``expected.json`` and is reused as is."""
    done = os.path.join(out_dir, "expected.json")
    if os.path.exists(done):
        with open(done, encoding="utf-8") as f:
            return json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    rec = anp_records(seed, anp_rows)
    anp_path = os.path.join(out_dir, "anp.csv")
    write_anp_csv(rec, anp_path)
    payloads, bcb_exp = bcb_payloads(seed, n_series)
    anp_exp = anp_expected(rec)
    with open(os.path.join(out_dir, "run_config.json"), "w", encoding="utf-8") as f:
        json.dump({"start_date": START_DATE, "end_date": END_DATE,
                   "anp_bronze_file": os.path.abspath(anp_path)}, f)
    with open(os.path.join(out_dir, "bcb_series.csv"), "w", newline="",
              encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["series_id", "series_name", "enabled"])
        flags = ["true", "TRUE", "1", "yes", " True "]
        for k, (sid, name) in enumerate(bcb_series(n_series)):
            w.writerow([sid, name, flags[k % len(flags)]])
        # disabled rows: their fetch must never be called
        for k, flag in enumerate(["false", "0", "no"]):
            w.writerow([433 + k, f"disabled_sgs_{433 + k}", flag])
    with open(os.path.join(out_dir, "payloads.json"), "w", encoding="utf-8") as f:
        json.dump({"bcb": {str(k): v for k, v in payloads.items()},
                   "ibge": ibge_payload()}, f)
    expected = {
        **bcb_exp, **anp_exp, "dim_uf": len(UFS),
        "summary": "\n".join(bcb_exp["bcb_summary"] + anp_exp["anp_summary"]),
        "fetch_calls": n_series + 1,
        "anp_rows": anp_rows,
        "bcb_payload_rows": sum(len(v) for v in payloads.values()),
        "anp_first_day": (ANP_END - timedelta(days=rec["n_days"] - 1)).isoformat(),
        "anp_days": rec["n_days"],
        "uf_siglas": ANP_UFS,
        "series_ids": [sid for sid, _ in bcb_series(n_series)],
    }
    with open(done + ".tmp", "w", encoding="utf-8") as f:
        json.dump(expected, f)
    os.replace(done + ".tmp", done)
    return expected


if __name__ == "__main__":
    # run.py calls this in a child process, so numpy and pandas never
    # count in the benchmark process's peak RSS
    import argparse

    p = argparse.ArgumentParser(description="write one workload's inputs")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--anp-rows", type=int, required=True)
    p.add_argument("--series", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    generate(a.seed, a.anp_rows, a.series, a.out)
