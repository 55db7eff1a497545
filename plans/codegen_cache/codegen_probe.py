"""Compile work of each ``run_pipeline`` call in one long-lived session:
wall time, JVM CPU, Janino compiles, HotSpot JIT time and loaded
classes.

Run from the root of the checkout whose package is probed. The inputs
are the benchmark's (``perfbench/run.py`` generates them too):

    python3 perfbench/gen.py --seed 3 --anp-rows 10000 --series 100 \\
        --out .perfbench/inputs/bcb_fanout-3
    python3 plans/codegen_cache/codegen_probe.py .perfbench/inputs/bcb_fanout-3

It starts a session with the benchmark's settings (4 cores, 3g driver,
the ``cluster`` profile) in a temporary workspace, runs ``run_pipeline``
once cold and ``--warm`` times warm with a fetch stub that serves the
generated payloads after 20 ms, and releases the persisted frames after
each call. Per call it prints:

- ``wall_s``: seconds of the call;
- ``jvm_cpu_s``: user + system CPU seconds of the JVM process over the
  call, from ``/proc/<jvm pid>/stat``;
- ``jobs``: Spark jobs the call ran (its job group);
- ``compiles``: classes Janino compiled, from Spark's
  ``CodegenMetrics.METRIC_COMPILATION_TIME`` count;
- ``jit_ms``: milliseconds HotSpot's JIT compilers spent, from the
  ``CompilationMXBean``;
- ``classes``: classes loaded in the JVM after the call, and how many
  the call loaded.

Then one line per output table of the last call: a digest of its
physical plan with expression and plan ids blanked, so two checkouts'
plans compare line by line.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import time

FETCH_SLEEP_S = 0.02


def jvm_cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid``."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def plan_digest(df) -> str:
    """Digest of ``df``'s physical plan with expression and plan ids
    blanked."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", plan))
    return hashlib.sha256(plan.encode()).hexdigest()[:16]


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("inputs", help="a generated perfbench inputs dir")
    parser.add_argument("--warm", type=int, default=3)
    args = parser.parse_args()
    inputs = os.path.abspath(args.inputs)
    sys.path.insert(0, os.getcwd())

    ws = tempfile.mkdtemp(prefix="codegen_probe-")
    os.environ.update(SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="3g",
                      SPARK_LOCAL_DIRS=os.path.join(ws, "local"))
    try:
        from etl_macropulse_br_spark.operators.util import (
            unpersist_candidates,
        )
        from etl_macropulse_br_spark.plans.pipeline import run_pipeline
        from etl_macropulse_br_spark.session import get_spark

        spark = get_spark(app_name="codegen_probe", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ws, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        sc = spark.sparkContext
        jvm = spark._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                    .METRIC_COMPILATION_TIME())
        mx = jvm.java.lang.management.ManagementFactory
        jit = mx.getCompilationMXBean()
        loading = mx.getClassLoadingMXBean()
        print("cache cap:", spark.conf.get(
            "spark.sql.codegen.cache.maxEntries"))

        with open(os.path.join(inputs, "payloads.json"), encoding="utf-8") as f:
            payloads = json.load(f)

        def fetch(url):
            time.sleep(FETCH_SLEEP_S)
            if "ibge.gov.br" in url:
                return payloads["ibge"]
            return payloads["bcb"][url.split("bcdata.sgs.")[1].split("/")[0]]

        print("call   wall_s  jvm_cpu_s  jobs  compiles   jit_ms  "
              "classes (+loaded)")
        for run in range(args.warm + 1):
            group = f"codegen_probe:{run}"
            sc.setJobGroup(group, group)
            before = (jvm_cpu_s(pid), compiles.getCount(),
                      jit.getTotalCompilationTime(),
                      loading.getTotalLoadedClassCount())
            t = time.perf_counter()
            result = run_pipeline(
                spark,
                run_config_path=os.path.join(inputs, "run_config.json"),
                series_config_path=os.path.join(inputs, "bcb_series.csv"),
                data_dir=os.path.join(ws, "data"),
                fetch=fetch,
            )
            wall = time.perf_counter() - t
            cpu = jvm_cpu_s(pid) - before[0]
            compiled = compiles.getCount() - before[1]
            jit_ms = jit.getTotalCompilationTime() - before[2]
            loaded = loading.getTotalLoadedClassCount() - before[3]
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            label = "cold" if run == 0 else f"warm{run}"
            print(f"{label:5s} {wall:7.2f} {cpu:10.2f} {jobs:5d} "
                  f"{compiled:9d} {jit_ms:8d}  "
                  f"{loading.getLoadedClassCount()} (+{loaded})")
            if run < args.warm:
                unpersist_candidates()
        print("== physical plan digest per output table (last call)")
        for name, df in sorted(result.tables.items()):
            print(f"  {name:20s} {plan_digest(df)}")
        unpersist_candidates()
        spark.stop()
    finally:
        shutil.rmtree(ws, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
