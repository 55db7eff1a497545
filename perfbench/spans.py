"""Spans for the traced run, recorded from outside the package.

``Tracer.instrument`` replaces the layer functions that
``etl_macropulse_br_spark.plans.pipeline`` binds at import with
wrappers that open a span around each call; the package itself is not
changed. Each span is also a Spark job group, so the jobs and stages
Spark's event log records can be attributed to the span that submitted
them. Spans live in memory; ``event_log_metrics`` parses the event log
after the session stops.
"""

from __future__ import annotations

import functools
import json
import os
from collections import defaultdict
from contextlib import contextmanager
from time import perf_counter

# Layer → the names plans/pipeline.py imports from that layer.
LAYERS = {
    "sources.rest": ("extract_bcb_many", "extract_ibge_uf_dim"),
    "sources.files": ("read_run_config", "read_series_config",
                      "read_csv_sep_fallback"),
    "operators.silver": ("to_silver_bcb", "to_silver_anp",
                         "enrich_with_uf_dim"),
    "operators.gold": ("build_gold_metrics",),
    "sinks.writers": ("save_bronze", "save_silver",
                      "write_parquet_partitioned", "load_table_replace",
                      "write_summary"),
    "operators.summary": ("build_summary_text",),
}
GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """In-memory spans: name, start, end, parent and run id. While
    ``enabled`` is false the wrappers call straight through, which is
    how the traced process also times untraced runs."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.run_id: int | None = None
        self.enabled = True
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(GROUP_PROP, f"span-{sid}")
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                GROUP_PROP, f"span-{self._stack[-1]}" if self._stack else None)

    def instrument(self, module) -> None:
        """Wrap every ``LAYERS`` name bound in ``module``."""
        for layer, names in LAYERS.items():
            for name in names:
                setattr(module, name,
                        self._wrap(f"{layer}.{name}", getattr(module, name)))

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, target=_sink_target(name, args)):
                return fn(*args, **kwargs)
        return traced

    def children(self, parent_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent_id]


def _sink_target(name: str, args: tuple):
    """The path or table a sink call writes, measured after the run."""
    if name.startswith("sinks.writers."):
        if name.endswith("load_table_replace"):
            return ("table", args[2])
        return ("path", args[1])
    return None


def dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's ``_SUCCESS`` markers
    and ``.crc`` checksums are not data files."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# ------------------------------------------------------- event log

STAGE_METRICS = {
    "exec_run_s": ("internal.metrics.executorRunTime", 1e-3),
    "exec_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "shuffle_read_bytes": (("internal.metrics.shuffle.read.remoteBytesRead",
                            "internal.metrics.shuffle.read.localBytesRead"), 1),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1),
    "input_bytes": ("internal.metrics.input.bytesRead", 1),
    "output_bytes": ("internal.metrics.output.bytesWritten", 1),
    "output_records": ("internal.metrics.output.recordsWritten", 1),
    "spill_bytes": (("internal.metrics.memoryBytesSpilled",
                     "internal.metrics.diskBytesSpilled"), 1),
}
SCAN_METRICS = {"number of files read": "files_read",
                "size of files read": "bytes_read"}


def _plan_metric_ids(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") in SCAN_METRICS:
            out[m["accumulatorId"]] = SCAN_METRICS[m["name"]]
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group: job count, stage metrics (``STAGE_METRICS``) and
    the file scans' driver metrics (``SCAN_METRICS``).

    A stage that a later job reuses is listed by that job too but runs
    once; it is billed to the first job that lists it."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_vals: dict[int, dict] = {}
    exec_group: dict[int, str] = {}
    scan_ids: dict[int, str] = {}
    exec_accum: dict[int, list] = defaultdict(list)
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    job_group[jid] = props.get(GROUP_PROP)
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, jid)
                    if "spark.sql.execution.id" in props and props.get(GROUP_PROP):
                        exec_group[int(props["spark.sql.execution.id"])] = props[GROUP_PROP]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_vals[info["Stage ID"]] = {
                        a["Name"]: int(a["Value"])
                        for a in info.get("Accumulables", [])
                        if str(a.get("Name", "")).startswith("internal.metrics.")
                    }
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_metric_ids(ev["sparkPlanInfo"], scan_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    exec_accum[ev["executionId"]].extend(ev["accumUpdates"])

    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, group in job_group.items():
        if group:
            groups[group]["jobs"] += 1
    for st, vals in stage_vals.items():
        group = job_group.get(stage_job.get(st))
        if not group:
            continue
        for metric, (names, scale) in STAGE_METRICS.items():
            names = names if isinstance(names, tuple) else (names,)
            groups[group][metric] += sum(vals.get(n, 0) for n in names) * scale
    for ex, updates in exec_accum.items():
        group = exec_group.get(ex)
        if not group:
            continue
        for aid, value in updates:
            if aid in scan_ids:
                groups[group][scan_ids[aid]] += value
    return groups
