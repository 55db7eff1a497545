"""Output checks, run outside every timed region.

``check_run`` compares what one ``run_pipeline`` call wrote against the
facts ``gen.generate`` derived from the generated records, reading the
parquet with DuckDB. The catalog query mix is defined here twice, once
for Spark over the catalog tables and once for DuckDB over the parquet
the run wrote, and ``reference_rows`` gives the DuckDB answer each
Spark result must match.

DuckDB runs only in a worker process, so it never counts in the
benchmark process's peak RSS:

    python3 perfbench/check.py <inputs dir>

reads one JSON request a line on stdin and answers each with one JSON
line on stdout (``serve``). ``run.py`` imports this module for the query
mix and the row comparison, which need no DuckDB.
"""

from __future__ import annotations

import json
import math
import os
import sys
import traceback
from datetime import date, datetime, timedelta
from decimal import Decimal

TABLES = ("silver_bcb_sgs", "silver_anp_prices", "dim_uf",
          "gold_bcb_monthly", "gold_anp_monthly")


def parquet_views(con, data_dir: str) -> None:
    """Expose the run's parquet outputs under the catalog table names."""
    def flat(sub: str) -> str:
        return f"read_parquet('{os.path.join(data_dir, sub)}/*.parquet')"

    def hive(sub: str) -> str:
        return (f"read_parquet('{os.path.join(data_dir, sub)}/*/*.parquet', "
                "hive_partitioning = true)")

    sources = {
        "silver_bcb_sgs": flat("silver/bcb_sgs"),
        "silver_anp_prices": flat("silver/anp_prices"),
        "dim_uf": flat("silver/dim_uf"),
        "gold_bcb_monthly": hive("gold/gold_bcb_monthly"),
        "gold_anp_monthly": hive("gold/gold_anp_monthly"),
        "bronze_anp_raw": flat("bronze/anp_raw"),
        "bronze_bcb_sgs": flat("bronze/bcb_sgs"),
    }
    for name, src in sources.items():
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {src}")


def check_run(data_dir: str, expected: dict, summary_text: str,
              fetch_stats: dict) -> list[str]:
    """Every mismatch between one pipeline run's outputs and the
    expected facts, as readable lines (empty when the run is correct)."""
    import duckdb

    problems = []
    con = duckdb.connect()
    try:
        parquet_views(con, data_dir)
        for table in TABLES:
            n = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            if n != expected[table]:
                problems.append(f"{table}: {n} rows, expected {expected[table]}")
        for table, key in (("bronze_anp_raw", "anp_rows"),
                           ("bronze_bcb_sgs", "bcb_payload_rows")):
            n = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            if n != expected[key]:
                problems.append(f"{table}: {n} rows, expected {expected[key]}")
        sums = {
            "bcb_value_cents": "SELECT sum(value) FROM silver_bcb_sgs",
            "anp_price_cents": "SELECT sum(price) FROM silver_anp_prices",
        }
        for key, sql in sums.items():
            got = con.execute(sql).fetchone()[0]
            if not math.isclose(got, expected[key] / 100, rel_tol=1e-9):
                problems.append(f"{key}: {got}, expected {expected[key] / 100}")
        unknown = con.execute(
            "SELECT count(*) FROM silver_anp_prices WHERE regiao_nome IS NULL"
        ).fetchone()[0]
        if unknown != expected["anp_unknown_uf_rows"]:
            problems.append(f"rows outside dim_uf: {unknown}, "
                            f"expected {expected['anp_unknown_uf_rows']}")
    finally:
        con.close()
    if summary_text != expected["summary"]:
        problems.append(f"summary text differs: {summary_text!r}")
    with open(os.path.join(data_dir, "gold", "summary.md"), encoding="utf-8") as f:
        if f.read() != expected["summary"]:
            problems.append("summary.md differs from the expected text")
    if fetch_stats["calls"] != expected["fetch_calls"] or fetch_stats["failures"]:
        problems.append(f"fetch: {fetch_stats}, expected "
                        f"{expected['fetch_calls']} calls and no failure")
    return problems


def catalog_fallbacks(spark) -> list[str]:
    """Catalog tables that are not MANAGED tables: ``load_table_replace``
    falls back to a temporary view when ``saveAsTable`` fails."""
    bad = []
    for table in TABLES:
        t = spark.catalog.getTable(table)
        if t.isTemporary or t.tableType != "MANAGED":
            bad.append(f"{table}={t.tableType}")
    return bad


# ------------------------------------------------------- query mix

def _month(d: date) -> date:
    return d.replace(day=1)


def query_mix(rng, expected: dict, n_params: int = 3) -> list[tuple[str, str, str]]:
    """Distinct (shape, Spark SQL, DuckDB SQL) queries: the reference
    read shapes plus analyst shapes, ``n_params`` parameter draws each
    from ``rng`` (a ``random.Random``).
    """
    d0 = date.fromisoformat(expected["anp_first_day"])
    n_days = expected["anp_days"]
    ufs = expected["uf_siglas"]
    series = expected["series_ids"]
    out = [("show_tables", "SHOW TABLES", "")]
    out.append((
        "bcb_latest",
        "SELECT series_id, series_name, date, value FROM silver_bcb_sgs "
        "ORDER BY date DESC, series_id LIMIT 10",
        "SELECT series_id, series_name, date, value FROM silver_bcb_sgs "
        "ORDER BY date DESC, series_id LIMIT 10",
    ))
    q = ("SELECT uf_sigla, product, month, avg_price FROM gold_anp_monthly "
         "ORDER BY month DESC, uf_sigla, product LIMIT 10")
    out.append(("anp_gold_latest", q, q))
    for _ in range(n_params):
        start = d0 + timedelta(days=rng.randrange(n_days))
        a = d0 + timedelta(days=rng.randrange(max(n_days - 31, 1)))
        b = a + timedelta(days=30)
        uf = rng.choice(ufs)
        month = _month(d0 + timedelta(days=rng.randrange(n_days)))
        sid = rng.choice(series)
        out.append((
            "region_product_month",
            "SELECT regiao_nome, product, trunc(date_ref, 'MM') AS month, "
            "count(*) AS n, avg(price) AS avg_price FROM silver_anp_prices "
            f"WHERE date_ref >= DATE '{start}' GROUP BY 1, 2, 3",
            "SELECT regiao_nome, product, CAST(date_trunc('month', date_ref) "
            "AS DATE) AS month, count(*) AS n, avg(price) AS avg_price "
            f"FROM silver_anp_prices WHERE date_ref >= DATE '{start}' "
            "GROUP BY 1, 2, 3",
        ))
        q = ("SELECT date_ref, product, price, uf_nome FROM silver_anp_prices "
             f"WHERE uf_sigla = '{uf}' AND date_ref BETWEEN DATE '{a}' AND "
             f"DATE '{b}'")
        out.append(("uf_date_range", q, q))
        q = ("SELECT g.uf_sigla, d.uf_nome, d.regiao_nome, g.product, "
             "g.avg_price FROM gold_anp_monthly g JOIN dim_uf d "
             f"ON g.uf_sigla = d.uf_sigla WHERE g.month = DATE '{month}'")
        out.append(("gold_dim_join", q, q))
        q = ("SELECT month, avg_value, last_value FROM gold_bcb_monthly "
             f"WHERE series_id = {sid}")
        out.append(("series_lookup", q, q))
    return out


def reference_rows(data_dir: str, queries: list[list[str]]) -> list:
    """DuckDB's answer to each (shape, DuckDB SQL) over the parquet the
    run wrote, as ``plain`` rows; ``SHOW TABLES`` is answered by the
    five table names."""
    import duckdb

    con = duckdb.connect()
    try:
        parquet_views(con, data_dir)
        return [[[t, False] for t in sorted(TABLES)] if shape == "show_tables"
                else [plain(r) for r in con.execute(duck_sql).fetchall()]
                for shape, duck_sql in queries]
    finally:
        con.close()


def plain(row) -> list:
    """A result row as JSON values: dates as ISO text, decimals as
    floats, so Spark's and DuckDB's rows compare after a JSON trip."""
    out = []
    for v in row:
        if isinstance(v, (date, datetime)):
            v = v.isoformat()
        elif isinstance(v, Decimal):
            v = float(v)
        out.append(v)
    return out


def spark_rows(shape: str, rows: list) -> list:
    """Spark result rows as ``plain`` rows; ``SHOW TABLES`` keeps the
    catalog tables (the sink also registers temporary staging views)."""
    if shape == "show_tables":
        return sorted([r["tableName"], r["isTemporary"]] for r in rows
                      if not r["isTemporary"])
    return [plain(r) for r in rows]


def _key(row: tuple) -> tuple:
    return tuple((v is None, round(v, 6) if isinstance(v, float) else v)
                 for v in row)


def same_rows(got: list, want: list, ordered: bool) -> bool:
    """Row-set equality, doubles compared to 1e-9 relative."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                        a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


ORDERED_SHAPES = {"bcb_latest", "anp_gold_latest"}


# ----------------------------------------------------------- worker

def serve(inputs: str) -> None:
    """Answer requests until stdin closes. ``{"op": "run", "data_dir",
    "summary", "fetch"}`` gives ``{"problems"}``; ``{"op": "reference",
    "data_dir", "queries": [[shape, duck_sql], ...]}`` gives
    ``{"rows"}``. A request that raises gives ``{"error"}``."""
    with open(os.path.join(inputs, "expected.json"), encoding="utf-8") as f:
        expected = json.load(f)
    for line in sys.stdin:
        req = json.loads(line)
        try:
            if req["op"] == "run":
                resp = {"problems": check_run(req["data_dir"], expected,
                                              req["summary"], req["fetch"])}
            else:
                resp = {"rows": reference_rows(req["data_dir"], req["queries"])}
        except Exception:  # reported to the caller, which counts it
            resp = {"error": traceback.format_exc()}
        print(json.dumps(resp), flush=True)


if __name__ == "__main__":
    serve(sys.argv[1])
