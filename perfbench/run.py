"""Benchmark of the medallion pipeline and of catalog reads over its tables.

Run from the repository root:

    python3 perfbench/run.py --workload anp_csv --seed 1 --seconds 10 --trace 0

One process per run, closed loop with one caller. A child process
generates the workload's inputs from the seed (cached per seed under
``.perfbench/``, outside every timed region). The run then starts a
Spark session with the CLI's ``cluster`` profile in a fresh workspace
and times one cold ``run_pipeline`` call, then warm calls for
``--seconds``, then a fixed mix of catalog queries through
``spark.sql(...).collect()``. Every pipeline run and every query result
is checked, by a DuckDB worker process. The last stdout line is one JSON
object.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps each
layer's functions in spans (``spans.py``), turns on Spark's event log
and reports per-layer metrics instead. It makes three warm calls and
leaves the middle one untraced, so it reports its own overhead too.
"""

from __future__ import annotations

import time

_T_TOP = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def _since_process_start() -> float:
    """Seconds since the kernel started this process."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    boot = time.clock_gettime(time.CLOCK_BOOTTIME)
    return boot - start_ticks / os.sysconf("SC_CLK_TCK")


# interpreter start-up before this file ran; part of set-up time
_PRE_S = _since_process_start() - (time.perf_counter() - _T_TOP)

# Sizes chosen from traced runs on 4 cores (see README.md): on anp_csv
# save_bronze + save_silver, which execute the lazy CSV scan, locale
# parsing and dedup, are the largest share of a warm run; on bcb_fanout
# extract_bcb_many + write_parquet_partitioned are.
WORKLOADS = {
    "anp_csv": {"anp_rows": 100_000, "n_series": 1},
    "bcb_fanout": {"anp_rows": 10_000, "n_series": 100},
}

# Deployment settings, pinned so runs compare across machines.
CPUS = "4"
DRIVER_MEM = "3g"
FETCH_SLEEP_S = 0.02
MIN_WARM = 1
# traced: traced, untraced, traced — the untraced call sits at the
# middle of the traced ones, so warm-up drift cancels in the overhead
MIN_WARM_TRACED = 3
MAX_WARM = 20
# timed queries per shape; seven shapes make 28 queries
PER_SHAPE = 4
ROOT_SPAN = "plans.pipeline.run_pipeline"


class Fetch:
    """The injectable ``fetch``: serves the generated payloads after a
    fixed sleep per call and counts calls, failures and rows."""

    def __init__(self, payloads: dict):
        self.bcb = payloads["bcb"]
        self.ibge = payloads["ibge"]
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.calls = self.failures = self.rows = 0

    def stats(self) -> dict:
        return {"calls": self.calls, "failures": self.failures, "rows": self.rows}

    def __call__(self, url: str) -> list[dict]:
        time.sleep(FETCH_SLEEP_S)
        try:
            if "ibge.gov.br" in url:
                recs = self.ibge
            else:
                recs = self.bcb[url.split("bcdata.sgs.")[1].split("/")[0]]
        except (IndexError, KeyError):
            with self.lock:
                self.calls += 1
                self.failures += 1
            raise
        with self.lock:
            self.calls += 1
            self.rows += len(recs)
        return recs


class Checker:
    """The DuckDB worker (``check.py``) in its own process."""

    def __init__(self, inputs: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "check.py"), inputs],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def ask(self, **req) -> dict:
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        return json.loads(line) if line else {"error": "check worker exited"}

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _cpu_ticks() -> list[int]:
    """Aggregate CPU ticks from /proc/stat: user .. steal."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _pin_environment(ws: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ws, "local")
    os.environ["TMPDIR"] = os.path.join(ws, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def start_spark(ws: str, trace: bool):
    """Import the package and build its session in workspace ``ws``;
    returns the session and the set-up seconds since process start."""
    t = time.perf_counter()
    from etl_macropulse_br_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(ws, "warehouse"),
        "spark.local.dir": os.path.join(ws, "local"),
        "spark.ui.showConsoleProgress": "false",
        # native libraries unpack into java.io.tmpdir; keep it in ws
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(ws, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(ws, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(ws, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    return spark, _PRE_S + time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _quantile(values: list[float], pct: int) -> float:
    """Percentile ``pct``, interpolated between the two nearest samples."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


class Reads:
    """The catalog query mix.

    One query per shape, its parameters drawn from the seed. ``batch``
    first runs each query once untimed, which compiles its plan and gives
    the answer that is compared, after Spark has stopped, with DuckDB
    over the parquet the pipeline wrote. It then times each query
    ``PER_SHAPE`` times in a seeded order, so every run and every seed
    times the same mix of shapes; each timed answer must equal the
    untimed one."""

    def __init__(self, spark, tracer, expected: dict, seed: int, counts: dict):
        from check import query_mix

        self.spark, self.tracer, self.counts = spark, tracer, counts
        self.rng = random.Random(seed * 7 + 3)
        self.mix = query_mix(self.rng, expected, n_params=1)
        self.first: dict[int, list] = {}
        self.latencies: list[float] = []
        self.shapes: list[str] = []

    def batch(self, tables_ok: bool) -> None:
        from check import ORDERED_SHAPES, same_rows, spark_rows

        if not tables_ok:  # no run has written the tables: all would fail
            n = len(self.mix) * (1 + PER_SHAPE)
            self.counts["attempted"] += n
            self.counts["failed"] += n
            return
        for k, (shape, sql, _) in enumerate(self.mix):
            self.counts["attempted"] += 1
            try:
                self.first[k] = spark_rows(shape, self.spark.sql(sql).collect())
            except Exception:  # a failed query is counted, the mix goes on
                self.counts["failed"] += 1
                _log(f"query {sql!r} raised:\n{traceback.format_exc()}")
        order = [k for k in sorted(self.first) for _ in range(PER_SHAPE)]
        self.rng.shuffle(order)
        for k in order:
            shape, sql, _ = self.mix[k]
            self.counts["attempted"] += 1
            try:
                t = time.perf_counter()
                if self.tracer:
                    self.tracer.enabled, self.tracer.run_id = True, None
                    with self.tracer.span(f"read.{shape}"):
                        with self.tracer.span("analyze"):
                            df = self.spark.sql(sql)
                        with self.tracer.span("collect"):
                            rows = df.collect()
                else:
                    rows = self.spark.sql(sql).collect()
                self.latencies.append(time.perf_counter() - t)
                self.shapes.append(shape)
            except Exception:  # a failed query is counted, the mix goes on
                self.counts["failed"] += 1
                _log(f"query {sql!r} raised:\n{traceback.format_exc()}")
                continue
            if not same_rows(spark_rows(shape, rows), self.first[k],
                             shape in ORDERED_SHAPES):
                self.counts["failed"] += 1
                _log(f"query {sql!r} returned other rows than before")

    def shape_median_s(self) -> float:
        """Mean over the shapes of each shape's median latency: a typical
        read of the mix. Unlike the median of all samples it does not
        jump between shapes when their latencies shift a little."""
        by_shape = defaultdict(list)
        for shape, s in zip(self.shapes, self.latencies):
            by_shape[shape].append(s)
        return _mean(_median(v) for v in by_shape.values())

    def check(self, checker: Checker, data_dir: str) -> None:
        """Compare the first answer to each distinct query with DuckDB."""
        from check import ORDERED_SHAPES, same_rows

        if not self.first:
            return
        ks = sorted(self.first)
        resp = checker.ask(op="reference", data_dir=data_dir,
                           queries=[[self.mix[k][0], self.mix[k][2]] for k in ks])
        if "error" in resp:
            self.counts["failed"] += 1
            _log(f"DuckDB reference failed:\n{resp['error']}")
            return
        for k, want in zip(ks, resp["rows"]):
            shape, sql, _ = self.mix[k]
            if not same_rows(self.first[k], want, shape in ORDERED_SHAPES):
                self.counts["failed"] += 1
                _log(f"query {sql!r} differs from DuckDB: "
                     f"{self.first[k][:3]} vs {want[:3]}")


def measure(args, inputs: str, ws: str) -> dict:
    from check import catalog_fallbacks

    with open(os.path.join(inputs, "expected.json"), encoding="utf-8") as f:
        expected = json.load(f)
    with open(os.path.join(inputs, "payloads.json"), encoding="utf-8") as f:
        fetch = Fetch(json.load(f))
    data_dir = os.path.join(ws, "data")
    warehouse = os.path.join(ws, "warehouse")
    counts = {"attempted": 0, "failed": 0}
    checker = Checker(inputs)
    try:
        spark, setup_s = start_spark(ws, args.trace)
        try:
            import etl_macropulse_br_spark.plans.pipeline as pipeline
            from etl_macropulse_br_spark.operators.util import (
                persisted_count, unpersist_candidates)

            tracer = None
            if args.trace:
                from spans import Tracer, dir_usage

                tracer = Tracer(spark.sparkContext)
                tracer.instrument(pipeline)

            def pipeline_run(run_id: int, traced: bool) -> dict | None:
                counts["attempted"] += 1
                fetch.reset()
                kwargs = dict(
                    run_config_path=os.path.join(inputs, "run_config.json"),
                    series_config_path=os.path.join(inputs, "bcb_series.csv"),
                    data_dir=data_dir, fetch=fetch)
                if tracer:
                    tracer.enabled, tracer.run_id = traced, run_id
                try:
                    t = time.perf_counter()
                    if traced:
                        with tracer.span(ROOT_SPAN):
                            res = pipeline.run_pipeline(spark, **kwargs)
                    else:
                        res = pipeline.run_pipeline(spark, **kwargs)
                    seconds = time.perf_counter() - t
                except Exception:  # a failed run is counted, the loop goes on
                    counts["failed"] += 1
                    _log(f"run {run_id} raised:\n{traceback.format_exc()}")
                    return None
                left = persisted_count()
                unpersist_candidates()
                stats = fetch.stats()
                resp = checker.ask(op="run", data_dir=data_dir,
                                   summary=res.summary_text, fetch=stats)
                problems = resp.get("problems", [resp.get("error")])
                fallbacks = catalog_fallbacks(spark)
                if fallbacks:
                    problems.append(f"catalog tables left temporary: {fallbacks}")
                if problems:
                    counts["failed"] += 1
                    _log(f"run {run_id} output check failed: {problems}")
                if traced:
                    for s in tracer.spans:
                        if s["run"] == run_id and s.get("target"):
                            kind, where = s["target"]
                            path = (os.path.join(warehouse, where)
                                    if kind == "table" else where)
                            s["files"], s["bytes"] = dir_usage(path)
                return {"run": run_id, "s": seconds, "traced": traced,
                        "persisted_left": left, "fetch": stats,
                        "catalog_fallbacks": len(fallbacks)}

            first = pipeline_run(0, bool(tracer))
            warm: list[dict] = []
            need = MIN_WARM_TRACED if tracer else MIN_WARM
            t_warm = time.perf_counter()
            for run_id in range(1, MAX_WARM + 1):
                if run_id > need and time.perf_counter() - t_warm > args.seconds:
                    break
                r = pipeline_run(run_id, bool(tracer) and run_id % 2 == 1)
                if r is not None:
                    warm.append(r)
            # the queries read the tables the runs wrote; after the warm
            # calls the JVM has settled, so their latencies vary less
            reads = Reads(spark, tracer, expected, args.seed, counts)
            reads.batch(first is not None or bool(warm))
            jvm_rss = jvm_peak_rss_mb(spark)
        finally:
            stop_spark(spark)
        py_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        reads.check(checker, data_dir)
    finally:
        checker.close()

    record = {"first": first, "warm": warm, "setup_s": setup_s,
              "latencies_s": reads.latencies, "query_shapes": reads.shapes}
    if tracer:
        from spans import event_log_metrics

        groups = event_log_metrics(os.path.join(ws, "eventlog"))
        metrics = layer_metrics(tracer, groups, first, warm, jvm_rss)
        metrics["run.failed_share"] = counts["failed"] / max(counts["attempted"], 1)
        record["spans"] = tracer.spans
    else:
        metrics = {
            "setup_s": setup_s,
            "first_run_s": first["s"] if first else 0.0,
            "run_s": _median(r["s"] for r in warm),
            "py_rss_mb": py_rss_mb,
            "read_shape_median_ms": reads.shape_median_s() * 1e3,
            "read_p90_ms": _quantile(reads.latencies, 90) * 1e3,
        }
    record["metrics"] = metrics
    return {**counts, "metrics": metrics, "record": record}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def layer_metrics(tracer, groups: dict, first: dict | None, warm: list[dict],
                  jvm_rss_mb: float) -> dict:
    """Per-layer numbers: medians over the traced warm runs, then over
    the executions of each query shape."""
    from spans import LAYERS

    traced = [r for r in warm if r["traced"]]
    untraced = [r for r in warm if not r["traced"]]
    per_run = []
    for r in traced:
        root = next(s for s in tracer.spans
                    if s["name"] == ROOT_SPAN and s["run"] == r["run"])
        acc = defaultdict(float)
        jobs = groups.get(f"span-{root['id']}", {}).get("jobs", 0)
        children_s = 0.0
        for c in tracer.children(root["id"]):
            dt = c["end"] - c["start"]
            children_s += dt
            acc[f"{c['name']}.s"] += dt
            for m, v in groups.get(f"span-{c['id']}", {}).items():
                acc[f"{c['name']}.{m}"] += v
            jobs += groups.get(f"span-{c['id']}", {}).get("jobs", 0)
            if "files" in c:
                acc[f"{c['name']}.files_written"] += c["files"]
                acc[f"{c['name']}.bytes_written"] += c["bytes"]
        run_s = root["end"] - root["start"]
        acc["plans.pipeline.run_s"] = run_s
        acc["plans.pipeline.children_s"] = children_s
        acc["plans.pipeline.self_s"] = run_s - children_s
        acc["plans.pipeline.jobs"] = jobs
        acc["plans.pipeline.persisted_left"] = r["persisted_left"]
        acc["sinks.writers.load_table_replace.fallbacks"] = r["catalog_fallbacks"]
        acc["sources.rest.extract_bcb_many.fetch_calls"] = r["fetch"]["calls"]
        acc["sources.rest.extract_bcb_many.fetch_failures"] = r["fetch"]["failures"]
        acc["sources.rest.extract_bcb_many.rows_returned"] = r["fetch"]["rows"]
        per_run.append(acc)

    sink_extra = ("bytes_written", "files_written", "exec_run_s", "exec_cpu_s",
                  "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "output_records", "spill_bytes")
    names = []
    for layer, fns in LAYERS.items():
        for fn in fns:
            span = f"{layer}.{fn}"
            names += [f"{span}.s", f"{span}.jobs"]
            if layer == "sinks.writers" and fn != "write_summary":
                names += [f"{span}.{m}" for m in sink_extra]
    names += ["sinks.writers.write_summary.bytes_written",
              "operators.summary.build_summary_text.exec_run_s",
              "operators.summary.build_summary_text.exec_cpu_s",
              "sources.rest.extract_bcb_many.fetch_calls",
              "sources.rest.extract_bcb_many.fetch_failures",
              "sources.rest.extract_bcb_many.rows_returned",
              "plans.pipeline.run_s", "plans.pipeline.children_s",
              "plans.pipeline.self_s", "plans.pipeline.jobs",
              "plans.pipeline.persisted_left",
              "sinks.writers.load_table_replace.fallbacks"]
    out = {n: _median(acc.get(n, 0.0) for acc in per_run) for n in names}

    warm_traced = _median(r["s"] for r in traced)
    warm_plain = _median(r["s"] for r in untraced)
    out["plans.pipeline.untraced_run_s"] = warm_plain
    out["plans.pipeline.trace_overhead_s"] = warm_traced - warm_plain
    out["session.jvm_peak_rss_mb"] = jvm_rss_mb
    out["session.first_run_s"] = first["s"] if first else 0.0
    out["session.warmup_penalty_s"] = out["session.first_run_s"] - warm_traced

    reads = defaultdict(lambda: defaultdict(list))
    for s in tracer.spans:
        if not s["name"].startswith("read.") or s["parent"] is not None:
            continue
        kids = {c["name"]: c for c in tracer.children(s["id"])}
        g = [groups.get(f"span-{i}", {}) for i in (s["id"], *(c["id"] for c in kids.values()))]
        r = reads[s["name"]]
        r["analyze_ms"].append((kids["analyze"]["end"] - kids["analyze"]["start"]) * 1e3)
        r["collect_ms"].append((kids["collect"]["end"] - kids["collect"]["start"]) * 1e3)
        r["jobs"].append(sum(x.get("jobs", 0) for x in g))
        r["files_read"].append(sum(x.get("files_read", 0) for x in g))
        r["bytes_read"].append(sum(x.get("bytes_read", 0) for x in g))
    for shape in ("show_tables", "bcb_latest", "anp_gold_latest",
                  "region_product_month", "uf_date_range", "gold_dim_join",
                  "series_lookup"):
        for m in ("analyze_ms", "collect_ms", "jobs", "files_read", "bytes_read"):
            out[f"read.{shape}.{m}"] = _median(reads[f"read.{shape}"][m])
    return out


def _steal_share(start: list[int], end: list[int]) -> float:
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(sum(delta), 1)


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_share"):
        return "ratio"
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_mb"):
        return "MB"
    return "bytes" if "bytes" in last else "count"


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "etl_macropulse_br_spark")):
        _log("run from the repository root: etl_macropulse_br_spark/ not found")
        return 2
    sys.path[:0] = [root, HERE]

    spec = WORKLOADS[args.workload]
    base = os.path.join(root, ".perfbench")
    inputs = os.path.join(base, "inputs", f"{args.workload}-{args.seed}")
    ws = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(ws, ignore_errors=True)
    os.makedirs(ws)
    try:
        _pin_environment(ws)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(args.seed),
             "--anp-rows", str(spec["anp_rows"]), "--series", str(spec["n_series"]),
             "--out", inputs], check=True)
        load_start = os.getloadavg()
        ticks_start = _cpu_ticks()
        result = measure(args, inputs, ws)
    finally:
        shutil.rmtree(ws, ignore_errors=True)
    record = result.pop("record")
    record.update(workload=args.workload, seed=args.seed, trace=args.trace,
                  settings={"cpus": CPUS, "driver_mem": DRIVER_MEM,
                            "profile": "cluster", "nproc": os.cpu_count(),
                            "fetch_sleep_s": FETCH_SLEEP_S, **spec},
                  loadavg_start=load_start, loadavg_end=os.getloadavg(),
                  # CPU time the hypervisor gave to other guests
                  steal_share=_steal_share(ticks_start, _cpu_ticks()),
                  attempted=result["attempted"], failed=result["failed"])
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    _log(f"loadavg start {load_start} end {record['loadavg_end']}, "
         f"steal {record['steal_share']:.3f}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": _unit(k)}
                    for k, v in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
