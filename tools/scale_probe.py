"""Measured scale-out probe (r17 — VERDICT r16 next #4).

Every "scale-safe at 100 TB" claim in this repo has rested on plan
shape (no Python stages, bounded collects, AQE-decided joins): the
sf0.1 bench cannot demonstrate parallel scaling because its whole
workload is scheduling-floor-dominated (85 jobs x ~0.03 s null-job
on a loaded box) and the small-input profile is deliberately
4-way. This tool turns the plan-shape argument into a measured
scale-out curve:

- Builds a K-replicated copy of the tables the probe queries read
  (same lazy union-with-id-offset device as tools/scale_smoke.py),
  written once to a temp dir so both core counts read identical
  parquet. Replicated tables are written as 2 x max-cores files:
  at the scale these queries target, inputs always carry at least
  as many splits as cores, but a K-replicated sf0.1 table is small
  enough that maxPartitionBytes + openCostInBytes would pack its
  files into one or two scan splits — capping the map side of every
  stage at 1-2 tasks and measuring FILE LAYOUT, not operator shape
  (the first probe run showed exactly that: dedup_first_event 1.27x
  and docs_bm25_topk 0.89x with a single-split scan feeding them).
- Runs a small set of shuffle-heavy DECLARED queries (the registry
  callables, unmodified) under the CLUSTER profile (AQE on — the
  posture whose adaptivity the scale claims rest on) at two core
  counts, fresh JVM per count, warm min-of-N noop-sink timings.
- Reports per-query t(low)/t(high) — the speedup the extra cores
  actually buy once the input is big enough that compute, not the
  job floor, dominates.

Usage:
    python tools/scale_probe.py [--k 16] [--cores 32,8] \
        [--runs 3] [--out plans/r17/scale_probe.json]

Interpretation: ratio >> 1 means the query's stages parallelize
(the replicated input is big enough to occupy the extra cores);
ratio ~ 1 at K>=16 would mean a serialized operator — a finding to
chase, not a config to tune.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# (query, tables it reads) — shuffle-heavy declared queries whose
# inputs replicate cleanly by primary id. Dims the TPC-H queries
# also read are copied verbatim below.
PROBE_QUERIES: dict[str, list[str]] = {
    "q1_pricing_summary": ["lineitem"],
    "dedup_first_event": ["events"],
    "sessionize_events": ["events"],
    "customer_order_counts": ["customer", "orders"],
    "docs_bm25_topk": ["documents"],
}

# primary id column (offset per copy) and optional text tag column
REPL_KEYS: dict[str, tuple[str, str | None]] = {
    "lineitem": ("l_orderkey", None),
    "events": ("event_id", None),
    "customer": ("c_custkey", None),
    "orders": ("o_orderkey", None),
    "documents": ("doc_id", "text"),
}


def build_replicated_dir(
    sf_dir: str, k: int, dest: str, n_files: int
) -> None:
    """Write K-replicated copies of the probe tables into ``dest``,
    ``n_files`` parquet files each; every other table file is copied
    verbatim so registry callables that touch dims keep working."""
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.session import get_spark
    from etl_macropulse_br_spark.sources.files import TESTDATA_TABLES

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_smoke import replicate  # same offset device

    spark = get_spark(
        app_name="scale_probe_build", profile="cluster"
    )
    needed = sorted({t for ts in PROBE_QUERIES.values() for t in ts})
    for t in needed:
        idc, tc = REPL_KEYS[t]
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t == "orders":
            # shift the customer FK with the SAME per-copy offset as
            # c_custkey (scale_smoke._OFFSET via replicate), so the
            # orders⋈customer join stays 1:1 per copy instead of
            # fanning every copy onto copy-0 customers
            from functools import reduce

            from pyspark.sql import DataFrame

            from scale_smoke import _OFFSET

            parts = [
                df.withColumn(
                    "o_orderkey",
                    F.col("o_orderkey") + F.lit(i * _OFFSET),
                ).withColumn(
                    "o_custkey",
                    F.col("o_custkey") + F.lit(i * _OFFSET),
                )
                for i in range(k)
            ]
            out = reduce(DataFrame.unionAll, parts)
        else:
            out = replicate(df, k, idc, tc)
        # scan splits must not be the parallelism cap the probe
        # measures: see module docstring
        out.repartition(n_files).write.mode("overwrite").parquet(
            f"{dest}/{t}.parquet"
        )
    for t in TESTDATA_TABLES:
        if t in needed:
            continue
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isfile(src):
            shutil.copy(src, f"{dest}/{t}.parquet")
        elif os.path.isdir(src):
            shutil.copytree(src, f"{dest}/{t}.parquet")
    spark.stop()


def wait_quiet(
    max_wait_s: int = 600, load_1m: float = 1.0, load_5m: float = 2.0
) -> tuple[float, bool]:
    """Block until the loadavg passes the bench's own citability gate
    (1m < 1.0 AND 5m < 2.0, bounded wait) and return the 1m loadavg
    seen last and whether the gate timed out (logged to stderr: the
    session then runs under load). The replication write that
    precedes measurement drives the box's load to 10+; without this
    cool-down the FIRST core-count session runs under residual load
    and the ratio is biased against whichever count runs first (three
    early probe runs showed exactly that: 32-core q1 read 2-4.6 s when
    its session ran first after replication, 0.3-0.4 s at either core
    count on a settled box)."""
    deadline = time.monotonic() + max_wait_s
    l1, l5, _ = os.getloadavg()
    while (l1 >= load_1m or l5 >= load_5m) and time.monotonic() < deadline:
        time.sleep(10)
        l1, l5, _ = os.getloadavg()
    timed_out = l1 >= load_1m or l5 >= load_5m
    if timed_out:
        print(
            f"# load gate not met after {max_wait_s} s (1m {l1:.2f}, "
            f"5m {l5:.2f}); measuring under load",
            file=sys.stderr,
        )
    return round(l1, 2), timed_out


def run_at_cores(data_dir: str, cores: int, n_runs: int) -> dict:
    from etl_macropulse_br_spark.operators.util import (
        persisted_count,
        unpersist_candidates,
    )
    from etl_macropulse_br_spark.plans.queries import QUERIES
    from etl_macropulse_br_spark.session import get_spark

    spark = get_spark(
        app_name=f"scale_probe_c{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        profile="cluster",
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in sorted({t for ts in PROBE_QUERIES.values() for t in ts}):
        spark.read.parquet(f"{data_dir}/{t}.parquet").count()

    res: dict[str, float] = {}
    for name in PROBE_QUERIES:
        fn = QUERIES[name]
        n_before = persisted_count()
        df = fn(spark, data_dir)
        uses_cache = persisted_count() > n_before
        spark.sparkContext.setJobDescription(f"scale_probe:{name}")
        df.write.mode("overwrite").format("noop").save()  # warm
        best = float("inf")
        for _ in range(n_runs):
            if uses_cache:
                unpersist_candidates()
                t0 = time.perf_counter()
                fn(spark, data_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
            else:
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        unpersist_candidates()
        res[name] = round(best, 3)
        print(f"# c{cores} {name}: {best:.3f}s", file=sys.stderr)
    spark.stop()
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--k", type=int, default=16)
    ap.add_argument("--cores", default="32,8")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cores = [int(c) for c in args.cores.split(",")]
    hi, lo = max(cores), min(cores)

    dest = tempfile.mkdtemp(prefix=f"scale_probe_k{args.k}_")
    try:
        print(f"# replicating K={args.k} into {dest}", file=sys.stderr)
        build_replicated_dir(sf_dir, args.k, dest, n_files=2 * hi)
        # force the replication's dirty pages to disk BEFORE any timed
        # session: measured on this box, background writeback of the
        # multi-GB replicated dir overlapped the first core-count
        # session and inflated its q1 runs 14-17 s (they recover to
        # ~0.5 s in the same JVM once writeback drains) — the probe
        # was measuring the kernel flusher, not Spark. sync() returns
        # only when the data is on disk; wait_quiet then covers the
        # CPU side.
        os.sync()

        out = {
            "k": args.k,
            "sf_dir": sf_dir,
            "cores": cores,
            "runs_per_query": args.runs,
            "loadavg_1m_start": round(os.getloadavg()[0], 2),
            "profile": "cluster",
            "per_cores": {},
        }
        # run every core count TWICE, in opposite orders, and take the
        # per-(cores, query) min: even behind the quiet gate, the
        # session that runs first after the replication burst reads
        # slower (order bias measured at up to 6x on this box) — the
        # mirrored schedule hits both core counts with both positions,
        # the same lesson as the r17 interleaved A/B methodology.
        schedule = list(cores) + list(reversed(cores))
        out["schedule"] = schedule
        out["loadavg_at_session_start"] = []
        out["gate_timed_out"] = False
        for c in schedule:
            load, timed_out = wait_quiet()
            out["loadavg_at_session_start"].append(load)
            out["gate_timed_out"] |= timed_out
            got = run_at_cores(dest, c, args.runs)
            prev = out["per_cores"].setdefault(str(c), got)
            if prev is not got:
                for n, v in got.items():
                    prev[n] = min(prev[n], v)
        t_hi, t_lo = (
            out["per_cores"][str(hi)],
            out["per_cores"][str(lo)],
        )
        out["speedup_high_over_low"] = {
            n: round(t_lo[n] / t_hi[n], 2)
            for n in PROBE_QUERIES
            if t_hi.get(n)
        }
        out["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
        line = json.dumps(out, indent=2)
        print(line)
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(line + "\n")
    finally:
        shutil.rmtree(dest, ignore_errors=True)


if __name__ == "__main__":
    main()
