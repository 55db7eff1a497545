"""File sources: CSV with separator fallback, parquet, config.

Spark-first rewrites of ``extract.py:71-88`` (ANP CSV), ``main.py:32``
(series control table), ``main.py:18-20`` (JSON run config).
"""

from __future__ import annotations

import csv
import io
import json
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# candidate separators, in the reference's order (``extract.py:84-88``)
CSV_SEPS = (";", ",")


def read_csv_sep_fallback(spark: SparkSession, path: str) -> DataFrame:
    """CSV read with separator sniffing (``extract.py:84-88``).

    The reference tries ``;`` then falls back to ``,``. We sniff the
    header line on the driver (one tiny read) and pick the separator
    that yields the most columns — cheaper and more robust than
    re-reading the whole file per candidate, and the executor-side
    scan happens exactly once. The same line gives the all-string
    schema (:func:`_csv_header_schema`), so Spark runs no job to read
    the header again.
    """
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"ANP input not found at {path}; download the fuel-price CSV "
            "and point run_config.anp_bronze_file at it (extract.py:77-81)"
        )
    with open(path, encoding="utf-8", errors="replace") as f:
        header = f.readline()
    if not header.strip():
        # r9 review fix: a zero-byte/truncated download previously
        # surfaced as a bare StopIteration from the csv reader
        raise ValueError(
            f"ANP input at {path} is empty (no header line) — "
            "truncated or failed download?"
        )
    # Spark's CSV reader skips a UTF-8 BOM and escapes quotes with a
    # backslash, not by doubling them. A quoted name must close right
    # before a separator: Spark keeps other quoting verbatim, which
    # this parse does not reproduce.
    header = header.removeprefix("\ufeff")
    names = {
        s: next(
            csv.reader(
                io.StringIO(header),
                delimiter=s,
                escapechar="\\",
                doublequote=False,
            )
        )
        for s in CSV_SEPS
    }
    best = max(CSV_SEPS, key=lambda s: len(names[s]))
    case_sensitive = (
        spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"
    )
    return (
        spark.read.schema(_csv_header_schema(names[best], case_sensitive))
        .option("header", True)
        .option("sep", best)
        .option("encoding", "UTF-8")
        .csv(path)
    )


def _csv_header_schema(names: list[str], case_sensitive: bool) -> T.StructType:
    """All-string schema Spark's CSV reader infers from a header row
    (``CSVDataSource.makeSafeHeader``): an empty name becomes
    ``_c<i>``, and a name that repeats (case-insensitively unless
    ``case_sensitive``) becomes ``<name><i>``, ``i`` being its
    position."""

    def key(name: str) -> str:
        return name if case_sensitive else name.lower()

    seen = Counter(key(n) for n in names if n)
    fields = []
    for i, name in enumerate(names):
        if not name:
            name = f"_c{i}"
        elif seen[key(name)] > 1:
            name = f"{name}{i}"
        fields.append(T.StructField(name, T.StringType()))
    return T.StructType(fields)


def read_series_config(path: str) -> list[dict]:
    """Series control table (``inputs/bcb_series.csv``, ``main.py:32``).

    Driver-side: it drives the extract loop, so a plain DictReader —
    no reason to spin executors for a 3-column config file.
    """
    with open(path, encoding="utf-8") as f:
        return list(csv.DictReader(f))


def read_run_config(path: str) -> dict:
    """Run parameters (``main.py:18-20``, ``inputs/run_config.json``)."""
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def is_enabled_flag(value: object) -> bool:
    """Driver-side twin of the case-insensitive truthy filter
    (``main.py:33``)."""
    return str(value).strip().lower() in {"true", "1", "yes"}


# DataFrame plans are immutable, so re-using the scan node across
# queries in one session is free and skips the repeated parquet
# footer/schema read each `spark.read.parquet` pays on the driver
# (~tens of ms per call — a real tax when a bench runs 36 queries).
# Keyed by Spark application id so a new session never sees stale
# plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided testdata table (memoized per session).

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's reader
    rejects; read it as long nanos (``nanosAsLong`` — settable at
    runtime even on a vanilla session) and floor-convert to a
    microsecond timestamp, the exact conversion DuckDB applies, so
    cross-engine values and ordering agree.
    """
    from pyspark.sql import functions as F

    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached

    if name == "events":
        # NOTE (r9): this conf is necessarily SESSION-WIDE — the
        # parquet schema conversion reads it at scan execution, so a
        # set-and-restore around the (lazy) read would break the
        # scan at action time. Consequence: later parquet reads in
        # the same session type TIMESTAMP(NANOS) columns as bigint
        # instead of timestamp. The engine session (session.py) sets
        # it as a declared default for exactly this reason; on a
        # vanilla session this loader is the documented opt-in.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _TABLE_CACHE[key] = df
    return df


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_testdata_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view so the SQL surface
    (``scripts/query_duckdb.py`` parity, SURVEY §3.2) works unchanged."""
    out = {}
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

