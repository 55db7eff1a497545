"""SparkSession factory with scale-oriented defaults.

The reference (``/root/reference/src/main.py:23-86``) is a
single-process eager pandas script; the Spark build replaces that
with one lazy DAG executed by Catalyst/Tungsten. The session config
here encodes the cluster-minded defaults:

- AQE on (runtime partition coalescing, skew-join handling) so the
  same code survives a 100x scale-up without re-tuning.
- ``spark.sql.ansi.enabled=false`` for parity with the reference's
  ``errors="coerce"`` casts (SURVEY §4.2 item 3): a failed cast
  yields NULL, not an exception.
- Arrow enabled for any pandas-UDF extension operators.
- UTC session timezone so date_trunc/timestamp semantics are stable
  across driver environments.
- A codegen cache of 1000 classes, not Spark's 100. One
  ``run_pipeline`` call generates 134 classes and a pass over the
  declared queries about 560; at 100 the LRU cache evicts each class
  before the next call asks for it again, so every warm call re-ran
  Janino and HotSpot JIT-compiled the fresh classes again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "etl_macropulse_br_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str = "cluster",
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In local mode the driver is the only JVM, so ``driver.memory``
    is the lone memory knob; on a real cluster the same code runs
    unchanged with executors sized by the submitter.

    ``profile`` picks the execution-planning posture:

    - ``cluster`` (default): AQE on. At TB scale the per-exchange
      runtime-stats barrier AQE pays is noise next to stage runtimes,
      and its partition coalescing / skew-join splitting is what lets
      one plan survive a 100x scale-up un-retuned.
    - ``small-input``: AQE off + few static shuffle partitions. For
      sub-second interactive queries over inputs known to be small
      (the local bench, notebooks on samples), AQE's stage-wise
      materialize-and-replan costs ~100-200 ms per exchange — more
      than the stages themselves. Measured on this bench: the
      overhead-bound query set runs ~35% faster under this profile
      (see PLANS.md "Local overhead floor"). Same engine code either
      way; this is deploy-time sizing, exactly like choosing executor
      counts.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        # The small-input static partition count is deploy-time
        # sizing like everything else in this profile; the env knob
        # (r16) makes it A/B-able without code edits
        # (SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS=8 python bench.py
        # --queries ...). Default 4: measured best overall for the
        # sub-second bench workload (PLANS.md r16 re-measured 4 vs 8).
        if profile == "small-input":
            raw = os.environ.get(
                "SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS", "4"
            )
            # r17 (ADVICE r16 #4): name the knob on a bad value —
            # a bare int() ValueError points at nothing
            try:
                shuffle_partitions = int(raw)
            except ValueError:
                raise ValueError(
                    "SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS must be a "
                    f"positive integer, got {raw!r}"
                ) from None
            if shuffle_partitions < 1:
                raise ValueError(
                    "SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS must be "
                    f">= 1, got {raw!r}"
                )
        else:
            shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode defaults the (only) JVM to 1g — constant GC under
        # 32 threads. Effective only at JVM launch; harmless later.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.adaptive.enabled",
            "false" if profile == "small-input" else "true",
        )
        # Explicit profile marker (r14 — ADVICE r13 #4): plan-shape
        # gates (operators/util.small_input_profile) key off THIS
        # conf, not off AQE state — a production session that
        # disables AQE for unrelated reasons must not inherit the
        # small-input profile's hints (e.g. a forced shuffle_hash
        # build on a replicated dim that could OOM without AQE's
        # fallback).
        .config("spark.etl_macropulse_br_spark.profile", profile)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # declared default (r9): TIMESTAMP(NANOS) parquet columns
        # read as bigint engine-wide — the events loader needs it,
        # and it cannot be scoped per-read (the scan consults it at
        # execution), so it is a session property, not a silent
        # mutation (see sources/files.py:load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Generous enough for every dimension table, small enough
        # that a filtered FACT never auto-broadcasts (observed: at
        # 64m Catalyst broadcast a 600k-row lineitem build side).
        .config("spark.sql.autoBroadcastJoinThreshold", "16m")
        # Small-file parallelism: the bench inputs are single small
        # parquet files; default 128m maxPartitionBytes puts an
        # entire table in ONE task. 8m splits them across cores. On
        # a real cluster with TB-scale inputs this still yields
        # sane task counts (tasks scale with bytes, and AQE
        # coalesces downstream).
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # Generated-class cache (static: fixed when the JVM's first
        # session starts). One run_pipeline call compiles 134 classes
        # and one pass over the 51 declared queries on sf0.001 about
        # 560. Both repeat cyclically, which defeats an LRU smaller
        # than the working set: at the default cap of 100 a warm
        # pipeline call recompiled 105-122 classes and a second query
        # pass 594; at 1000 they recompile 0-4 and 8 (4 cores).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
