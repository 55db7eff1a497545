"""Sinks: bronze/silver/gold parquet, catalog tables, text summary.

Spark-first rewrites of ``extract.py:91-93`` (bronze snapshots),
``main.py:63-69`` (silver + partitioned gold), ``load.py:12-28``
(partitioned writer + idempotent full-replace table load),
``main.py:80-86`` (summary text sink).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def save_bronze(df: DataFrame, out_path: str) -> None:
    """Raw snapshot sink (``extract.py:91-93``): overwrite parquet."""
    df.write.mode("overwrite").parquet(out_path)


def save_silver(df: DataFrame, out_path: str) -> None:
    """Unpartitioned silver parquet (``main.py:63-65``)."""
    df.write.mode("overwrite").parquet(out_path)


def write_parquet_partitioned(
    df: DataFrame, base_dir: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned gold sink (``load.py:12-15``,
    call sites ``main.py:68-69``).

    ``partitionBy`` gives downstream readers partition pruning for
    free; at 100 TB the partition column choice (low-cardinality
    series_id / uf_sigla) keeps file counts sane.

    The frame is first hash-repartitioned on the partition columns
    into one partition per task slot. Each key still lands in exactly
    one task, so each directory still holds one file, but the keys are
    spread over every slot: otherwise AQE coalesces a small gold mart
    into one partition and one task writes all of its directories.
    The gold marts are monthly aggregates (one row per series or per
    UF and product, per month), so one task per key range stays small
    at scale.
    """
    slots = df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartition(slots, *partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(base_dir)
    )


def table_location(spark: SparkSession, table: str) -> str:
    """Warehouse directory a managed table of this name occupies.
    Supports unqualified (default database) and ``db.table`` names —
    the two shapes ``saveAsTable`` produces under the warehouse dir."""
    from urllib.parse import urlparse

    warehouse = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path
    parts = table.lower().split(".")
    if len(parts) == 1:
        return f"{warehouse}/{parts[0]}"
    if len(parts) == 2:
        return f"{warehouse}/{parts[0]}.db/{parts[1]}"
    raise ValueError(f"unsupported table name {table!r}")


def replace_table(
    spark: SparkSession, table: str, save: Callable[[], None]
) -> None:
    """Run ``save`` (a ``saveAsTable(table)`` call) as a crash-safe
    full replace of ``table``, including an orphaned location from an
    earlier session.

    A fresh session's in-memory catalog does not know the tables a
    previous session wrote, but their directories persist, and a bare
    ``saveAsTable`` then fails with LOCATION_ALREADY_EXISTS. So the
    previous location (live or orphaned) is MOVED ASIDE, not deleted,
    before the new write; it is removed only after ``save`` succeeds
    and restored if ``save`` throws — a failed replacement never
    destroys the old data, and its error propagates."""
    loc = table_location(spark, table)
    backup = None
    if os.path.isdir(loc):
        backup = f"{loc}.__replacing"
        shutil.rmtree(backup, ignore_errors=True)  # stale crash leftover
        os.rename(loc, backup)
    try:
        spark.sql(f"DROP TABLE IF EXISTS {table}")  # location already moved
        save()
    except Exception:
        if backup is not None:
            shutil.rmtree(loc, ignore_errors=True)  # partial new write
            os.rename(backup, loc)
        raise
    if backup is not None:
        shutil.rmtree(backup, ignore_errors=True)


def load_table_replace(
    spark: SparkSession, df: DataFrame, table: str
) -> None:
    """Idempotent full-replace table load (``load.py:18-28``).

    The reference creates-if-absent, deletes, and re-inserts into
    DuckDB; the Spark-native equivalent is a ``saveAsTable`` into the
    session catalog through :func:`replace_table`, so a rerun in a new
    session replaces the table the last one left behind. Every write
    error propagates; there is no fallback to a temporary view.
    """
    replace_table(
        spark, table, lambda: df.write.mode("overwrite").saveAsTable(table)
    )


def write_summary(text: str, out_path: str) -> None:
    """Markdown summary sink (``main.py:80-86``): tiny driver-side
    artifact, plain file write."""
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(text)
