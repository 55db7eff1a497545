"""Executor time of each sink in one warm ``run_pipeline`` call, read
from Spark's event log, plus the jobs of every warm call.

Run from the root of the checkout whose package is probed. The inputs
are the benchmark's (``perfbench/run.py`` generates them too):

    python3 perfbench/gen.py --seed 3 --anp-rows 10000 --series 100 \\
        --out .perfbench/inputs/bcb_fanout-3
    python3 plans/arrow_sources/sink_probe.py .perfbench/inputs/bcb_fanout-3

It starts a session with the benchmark's settings (4 cores, 3g driver,
the ``cluster`` profile) and the event log on, in a temporary
workspace. It runs ``run_pipeline`` once cold and ``--warm`` times warm
with a fetch stub that serves the generated payloads after 20 ms, and
releases the persisted frames after each call. Every job is tagged with
its call and with the sink that submitted it; jobs the calling thread
runs (extraction, persisting) are listed as ``(calling thread)``.

Printed: the optimized plans of the IBGE dimension and the BCB silver
frame, built outside the pipeline so no cache hides them; then, for
the first warm call, each sink's jobs, executor run ms and executor
CPU ms (summed over its stages' tasks; a stage another job reuses is
billed to the first job that lists it); then the jobs and seconds of
every warm call; then the parquet files in each directory of every
parquet output and catalog table after the last call.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

SINK_PROP = "macropulse.probe.sink"
RUN_PROP = "macropulse.probe.run"
FETCH_SLEEP_S = 0.02


def _tag_sinks(pipeline, sc) -> None:
    """Wrap the sink names ``run_pipeline`` calls so each call's jobs
    carry the sink's name (the keys of its ``calls`` map)."""

    def tagged(fn, label):
        def call(*args):
            sc.setLocalProperty(SINK_PROP, label(*args))
            return fn(*args)

        return call

    def zone(df, path):
        return "/".join(path.rstrip("/").split("/")[-2:])

    pipeline.save_bronze = tagged(pipeline.save_bronze, zone)
    pipeline.save_silver = tagged(pipeline.save_silver, zone)
    pipeline.write_parquet_partitioned = tagged(
        pipeline.write_parquet_partitioned,
        lambda df, path, cols: "gold/" + os.path.basename(path.rstrip("/")),
    )
    pipeline.load_table_replace = tagged(
        pipeline.load_table_replace, lambda spark, df, table: f"table {table}"
    )
    pipeline.build_summary_text = tagged(
        pipeline.build_summary_text, lambda *frames: "summary"
    )


def read_event_log(log_dir: str) -> dict:
    """(run, sink) → jobs, executor run ms, executor CPU ms."""
    job_key: dict[int, tuple] = {}
    stage_job: dict[int, int] = {}
    stage_ms: dict[int, tuple[float, float]] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = (props.get(RUN_PROP),
                           props.get(SINK_PROP) or "(calling thread)")
                    job_key[ev["Job ID"]] = key
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, ev["Job ID"])
                elif ev["Event"] == "SparkListenerStageCompleted":
                    acc = {
                        a["Name"]: int(a["Value"])
                        for a in ev["Stage Info"].get("Accumulables", [])
                    }
                    stage_ms[ev["Stage Info"]["Stage ID"]] = (
                        acc.get("internal.metrics.executorRunTime", 0),
                        acc.get("internal.metrics.executorCpuTime", 0) / 1e6,
                    )
    out: dict[tuple, dict] = defaultdict(
        lambda: {"jobs": 0, "run_ms": 0.0, "cpu_ms": 0.0})
    for key in job_key.values():
        out[key]["jobs"] += 1
    for st, (run_ms, cpu_ms) in stage_ms.items():
        key = job_key.get(stage_job.get(st))
        if key is not None:
            out[key]["run_ms"] += run_ms
            out[key]["cpu_ms"] += cpu_ms
    return out


def file_layout(ws: str) -> dict[str, list[int]]:
    """Output → parquet files in each of its leaf directories, for the
    parquet zones under ``data/`` and the catalog tables."""
    outputs = {}
    for zone in ("bronze", "silver", "gold"):
        base = os.path.join(ws, "data", zone)
        for name in sorted(os.listdir(base)):
            if os.path.isdir(os.path.join(base, name)):
                outputs[f"{zone}/{name}"] = os.path.join(base, name)
    warehouse = os.path.join(ws, "warehouse")
    for name in sorted(os.listdir(warehouse)):
        outputs[f"table {name}"] = os.path.join(warehouse, name)
    layout = {}
    for out, path in outputs.items():
        layout[out] = [
            n for n in (
                sum(f.endswith(".parquet") for f in files)
                for _, _, files in os.walk(path)
            ) if n
        ]
    return layout


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("inputs", help="a generated perfbench inputs dir")
    parser.add_argument("--warm", type=int, default=2)
    args = parser.parse_args()
    inputs = os.path.abspath(args.inputs)
    sys.path.insert(0, os.getcwd())

    ws = tempfile.mkdtemp(prefix="sink_probe-")
    os.environ.update(SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="3g",
                      SPARK_LOCAL_DIRS=os.path.join(ws, "local"))
    log_dir = os.path.join(ws, "eventlog")
    os.makedirs(log_dir)
    try:
        from etl_macropulse_br_spark.session import get_spark

        spark = get_spark(app_name="sink_probe", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ws, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        sc = spark.sparkContext
        import etl_macropulse_br_spark.plans.pipeline as pipeline
        from etl_macropulse_br_spark.operators.silver import to_silver_bcb
        from etl_macropulse_br_spark.operators.util import (
            unpersist_candidates,
        )
        from etl_macropulse_br_spark.sources.rest import (
            extract_bcb_many,
            extract_ibge_uf_dim,
        )

        with open(os.path.join(inputs, "payloads.json"), encoding="utf-8") as f:
            payloads = json.load(f)

        def fetch(url):
            time.sleep(FETCH_SLEEP_S)
            if "ibge.gov.br" in url:
                return payloads["ibge"]
            return payloads["bcb"][url.split("bcdata.sgs.")[1].split("/")[0]]

        with open(os.path.join(inputs, "run_config.json"), encoding="utf-8") as f:
            cfg = json.load(f)
        series = [(int(s), f"s{s}") for s in list(payloads["bcb"])[:2]]
        plans = {
            "uf_dim": extract_ibge_uf_dim(spark, fetch),
            "bcb_silver": to_silver_bcb(extract_bcb_many(
                spark, series, cfg["start_date"], cfg["end_date"], fetch)),
        }
        for name, df in plans.items():
            print(f"== optimized plan: {name}")
            print(df._jdf.queryExecution().optimizedPlan().toString())

        _tag_sinks(pipeline, sc)
        seconds = {}
        for run in range(args.warm + 1):
            sc.setLocalProperty(RUN_PROP, str(run))
            t = time.perf_counter()
            pipeline.run_pipeline(
                spark,
                run_config_path=os.path.join(inputs, "run_config.json"),
                series_config_path=os.path.join(inputs, "bcb_series.csv"),
                data_dir=os.path.join(ws, "data"),
                fetch=fetch,
            )
            seconds[str(run)] = time.perf_counter() - t
            sc.setLocalProperty(RUN_PROP, None)
            unpersist_candidates()
        spark.stop()
        metrics = read_event_log(log_dir)
        layout = file_layout(ws)
    finally:
        shutil.rmtree(ws, ignore_errors=True)

    print("== first warm call (run 1): sink, jobs, executor run ms, CPU ms")
    rows = sorted((k[1], v) for k, v in metrics.items() if k[0] == "1")
    for sink, v in rows:
        print(f"  {sink:28s} {v['jobs']:3d} {v['run_ms']:9.0f} {v['cpu_ms']:9.0f}")
    print(f"  {'total':28s} {sum(v['jobs'] for _, v in rows):3d} "
          f"{sum(v['run_ms'] for _, v in rows):9.0f} "
          f"{sum(v['cpu_ms'] for _, v in rows):9.0f}")
    for run in range(1, args.warm + 1):
        jobs = sum(v["jobs"] for k, v in metrics.items() if k[0] == str(run))
        print(f"warm call {run}: {jobs} jobs, {seconds[str(run)]:.2f} s")
    print("== layout after the last call: output, directories holding "
          "parquet, files per directory (count × files)")
    for out, counts in layout.items():
        spread = ", ".join(
            f"{counts.count(n)}×{n}" for n in sorted(set(counts)))
        print(f"  {out:28s} {len(counts):4d}  {spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
