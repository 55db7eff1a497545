"""Config-driven pipeline orchestrator — the engine's ``main``.

Mirrors the reference lifecycle (``main.py:23-86``, SURVEY §3.1):

  config → extract (BCB loop, IBGE dim, ANP CSV) → silver → join →
  gold (lazy plans) → sinks: bronze ×3, silver ×3, partitioned
  gold ×2, catalog ×5 and the summary text, run CONCURRENTLY.

Extraction and the silver/gold plans are built on the caller's
thread; the two silver frames every sink reads are persisted so the
CSV parse runs once. Each sink call is then its own Spark job (or a
few) over tiny data, so a run is mostly fixed per-job latency:
``run_pipeline`` submits every call at once, one driver thread per
call, and Spark's scheduler overlaps them on the idle cores. The
caller's job group, local properties and session tags reach every
sink job through ``inheritable_thread_target``. All calls settle
before one error names every failed sink
(:func:`~etl_macropulse_br_spark.operators.util.settle_all`), and
``summary.md`` is written only when every sink succeeded. HTTP
extracts accept an injectable ``fetch`` so tests (and offline runs)
never hit the network.

The REST extracts are ``LocalRelation`` frames, which compare by
value: a second run in the same JVM over an unchanged IBGE payload
and a CSV rewritten at the same path would otherwise match the
previous run's still-persisted ``anp_enriched`` and write its rows.
So each run starts with ``spark.catalog.refreshByPath`` on the ANP
CSV, Spark's own invalidation of cached plans over a changed file
(it runs no job).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from etl_macropulse_br_spark.operators.gold import build_gold_metrics
from etl_macropulse_br_spark.operators.silver import (
    enrich_with_uf_dim,
    to_silver_anp,
    to_silver_bcb,
)
from etl_macropulse_br_spark.operators.summary import build_summary_text
from etl_macropulse_br_spark.operators.util import (
    register_persisted,
    settle_all,
)
from etl_macropulse_br_spark.sinks.writers import (
    load_table_replace,
    save_bronze,
    save_silver,
    write_parquet_partitioned,
    write_summary,
)
from etl_macropulse_br_spark.sources.files import (
    is_enabled_flag,
    read_csv_sep_fallback,
    read_run_config,
    read_series_config,
)
from etl_macropulse_br_spark.sources.rest import (
    FetchFn,
    extract_bcb_many,
    extract_ibge_uf_dim,
)


@dataclass
class PipelineResult:
    """Handles to every produced table + the summary text."""

    tables: dict[str, DataFrame] = field(default_factory=dict)
    summary_text: str = ""


def run_pipeline(
    spark: SparkSession,
    run_config_path: str = "inputs/run_config.json",
    series_config_path: str = "inputs/bcb_series.csv",
    data_dir: str = "data",
    fetch: FetchFn | None = None,
    write_outputs: bool = True,
) -> PipelineResult:
    """Full medallion run (``main.py:23-86``)."""
    cfg = read_run_config(run_config_path)
    start_date = cfg["start_date"]
    end_date = cfg["end_date"]
    anp_path = cfg["anp_bronze_file"]
    # drop cached data of an earlier run over this path (see above)
    spark.catalog.refreshByPath(anp_path)

    # Control-table scan + enabled filter (main.py:32-33).
    series_rows = read_series_config(series_config_path)
    enabled = [
        (int(r["series_id"]), r["series_name"])
        for r in series_rows
        if is_enabled_flag(r.get("enabled"))
    ]

    # Extract → silver → gold as lazy plans; every sink, bronze
    # snapshots included (main.py:40,46,50), runs concurrently below.
    bcb_raw = extract_bcb_many(spark, enabled, start_date, end_date, fetch)
    uf_dim = extract_ibge_uf_dim(spark, fetch)
    anp_raw = read_csv_sep_fallback(spark, anp_path)

    # the silver frames feed EVERY downstream action (silver/gold
    # sinks, 5 catalog registrations, the summary collects) —
    # without materialization each action re-runs the CSV scan +
    # header mapping + locale parsing + dedup window from source
    # (~8-10 full re-parses per run, r9 review fix); persisted, the
    # parse runs once and the sinks share it
    # (long-lived sessions release these via
    # operators.util.unpersist_candidates after consuming the result)
    bcb_silver = register_persisted(to_silver_bcb(bcb_raw))
    anp_silver = to_silver_anp(anp_raw)
    anp_enriched = register_persisted(
        enrich_with_uf_dim(anp_silver, uf_dim)
    )

    gold = build_gold_metrics(bcb_silver, anp_enriched)

    tables: dict[str, DataFrame] = {
        "silver_bcb_sgs": bcb_silver,
        "silver_anp_prices": anp_enriched,
        "dim_uf": uf_dim,
        **gold,
    }

    calls: dict[str, Callable[[], object]] = {}
    if write_outputs:
        bronze = os.path.join(data_dir, "bronze")
        silver = os.path.join(data_dir, "silver")
        gold_dir = os.path.join(data_dir, "gold")
        calls.update({
            "bronze/bcb_sgs": partial(
                save_bronze, bcb_raw, os.path.join(bronze, "bcb_sgs")),
            "bronze/ibge_uf": partial(
                save_bronze, uf_dim, os.path.join(bronze, "ibge_uf")),
            "bronze/anp_raw": partial(
                save_bronze, anp_raw, os.path.join(bronze, "anp_raw")),
            "silver/bcb_sgs": partial(
                save_silver, bcb_silver, os.path.join(silver, "bcb_sgs")),
            "silver/anp_prices": partial(
                save_silver, anp_enriched,
                os.path.join(silver, "anp_prices")),
            "silver/dim_uf": partial(
                save_silver, uf_dim, os.path.join(silver, "dim_uf")),
            "gold/gold_bcb_monthly": partial(
                write_parquet_partitioned, gold["gold_bcb_monthly"],
                os.path.join(gold_dir, "gold_bcb_monthly"), ["series_id"]),
            "gold/gold_anp_monthly": partial(
                write_parquet_partitioned, gold["gold_anp_monthly"],
                os.path.join(gold_dir, "gold_anp_monthly"), ["uf_sigla"]),
        })
    # Catalog registration so spark.sql over the same table names
    # works (S9/S11; scripts/query_duckdb.py parity).
    for name, df in tables.items():
        calls[f"table {name}"] = partial(load_table_replace, spark, df, name)
    calls["summary"] = partial(build_summary_text, bcb_silver, anp_enriched)

    results = settle_all(
        "run_pipeline",
        "sinks",
        [
            (name, inheritable_thread_target(spark)(call))
            for name, call in calls.items()
        ],
        width=len(calls),
    )
    summary = dict(zip(calls, results))["summary"]
    if write_outputs:
        write_summary(summary, os.path.join(data_dir, "gold", "summary.md"))

    return PipelineResult(tables=tables, summary_text=summary)
