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
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(base_dir)


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
    MERGE-by-keys remains the incremental path (``load.py:23`` TODO)
    — see plans/incremental.py.
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


def write_sorted_layout(
    df: DataFrame,
    base_dir: str,
    sort_cols: list[str],
    partition_cols: list[str] | None = None,
    target_files: int | None = None,
) -> None:
    """Scan-pruning layout sink (extension surface): range-partition
    the data by ``sort_cols`` and sort within each output file, so
    every parquet file carries NARROW, mostly-disjoint column
    min/max footer statistics. Downstream filtered scans on those
    columns then skip whole files/row-groups (Spark's parquet reader
    prunes on footer stats once `PushedFilters` reach the scan) —
    the single highest-leverage layout choice for a 100 TB
    append-only fact table queried by time range.

    ``repartitionByRange`` gives the global ordering ACROSS files
    (a plain ``sortWithinPartitions`` after hash partitioning would
    sort inside each file but leave every file spanning the full
    value range — no pruning); the within-file sort then tightens
    row-group stats. Hive-style ``partition_cols`` compose on top
    for categorical pruning.
    """
    n = target_files or df.sparkSession.sparkContext.defaultParallelism
    out = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(
        *sort_cols
    )
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(base_dir)


def zorder_key(scaled_cols: list, bits: int = 16):
    """Morton (Z-order) interleave of m pre-scaled non-negative
    integer columns (each already in [0, 2^bits)): bit i of column j
    lands at position i*m + j of the key. Pure integer shift/mask
    expressions — deterministic, JVM-side, no UDF. m*bits must fit
    a signed bigint (<= 62)."""
    from pyspark.sql import functions as F

    m = len(scaled_cols)
    if m * bits > 62:
        raise ValueError(
            f"zorder_key: {m} cols x {bits} bits exceeds a bigint"
        )
    z = F.lit(0).cast("bigint")
    for j, c in enumerate(scaled_cols):
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(c, i).bitwiseAND(F.lit(1)), i * m + j
            )
    return z


def write_zorder_layout(
    df: DataFrame,
    base_dir: str,
    zorder_cols: list[str],
    bits: int = 16,
    target_files: int | None = None,
) -> None:
    """Z-ORDER layout sink — MULTI-column file pruning, the layout
    lever :func:`write_sorted_layout` cannot give: a single-column
    sort makes that column's per-file footer ranges narrow but
    leaves every OTHER column spanning the full domain in every
    file (no pruning for its predicates). Interleaving the bits of
    m columns into one Morton key and range-partitioning + sorting
    on it tiles the m-dimensional space, so EVERY z-ordered
    column's per-file min/max is ~domain/files^(1/m) wide — a
    selective predicate on ANY of them (or a conjunction on
    several) skips most files from footer stats alone. The standard
    layout for a 100 TB fact queried by more than one dimension
    (time AND tenant, lat AND lon); same idea as Delta Lake's
    OPTIMIZE ZORDER BY, built from plain integer expressions.

    Each column min-max-scales to a ``bits``-wide integer rank
    first (one 2m-value aggregate at plan-build time — the
    documented driver-side-parameter pattern; constant or all-null
    columns scale to 0). The scaler runs in doubles from the offset
    on — above 2^53 of (v-min)*(2^bits-1) the low rank bits blur,
    which only nudges tile boundaries (a LAYOUT choice, not a gated
    result; no row is lost or changed); long arithmetic would
    instead silently WRAP for spans past ~2^47 (r9 fix). NULLs in any z-column null the key and
    sort together at the key's null end (kept, not dropped). The
    key column is internal — the written files carry exactly the
    input schema."""
    from pyspark.sql import functions as F

    # stats are taken on the SAME bigint cast the scaler uses, so
    # the degenerate-span guard sees exactly the divisor: raw
    # doubles with mn != mx can truncate to int(mx) == int(mn)
    # (span 0 -> null keys -> one giant file), and timestamps/dates
    # aren't int()-convertible driver-side at all — the cast makes
    # both well-defined (timestamp -> epoch seconds)
    stats = df.agg(
        *[
            F.min(F.col(c).cast("bigint")).alias(f"mn_{c}")
            for c in zorder_cols
        ],
        *[
            F.max(F.col(c).cast("bigint")).alias(f"mx_{c}")
            for c in zorder_cols
        ],
    ).first()
    top = (1 << bits) - 1
    scaled = []
    for c in zorder_cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None or mx == mn:
            scaled.append(F.lit(0).cast("bigint"))
            continue
        # the offset runs ENTIRELY in doubles: long arithmetic
        # (v - mn) wraps once the column span reaches 2^63 (a large
        # negative sentinel + large positives), and (v - mn) * top
        # wrapped already past ~2^47 (epoch-micros over a few years)
        # — silent garbage Morton keys under the non-ANSI session.
        # Doubles instead blur ranks above ~2^53, which only nudges
        # tile boundaries (layout, not results).
        # clamped to [0, top]: double rounding at the domain edges
        # can land one past the end, and a rank of top+1 carries a
        # 17th bit the interleave would silently drop
        scaled.append(
            F.greatest(
                F.lit(0).cast("bigint"),
                F.least(
                    F.lit(top).cast("bigint"),
                    (
                        (
                            F.col(c).cast("bigint").cast("double")
                            - F.lit(float(mn))
                        )
                        * F.lit(float(top))
                        / F.lit(float(mx - mn))
                    ).cast("bigint"),
                ),
            )
        )
    n = target_files or df.sparkSession.sparkContext.defaultParallelism
    key = "__zorder"
    out = (
        df.withColumn(key, zorder_key(scaled, bits))
        .repartitionByRange(n, key)
        .sortWithinPartitions(key)
        .drop(key)
    )
    out.write.mode("overwrite").parquet(base_dir)
