"""Pins for bench.py's non-measurement surfaces (r15): the
self-reporting weak-set rule (VERDICT r14 next #5) and the
``--queries`` subset flag (next #7). Pure-function tests — no Spark
session, no timing; the measurement methodology itself is covered by
the per-round BENCH artifacts."""

from __future__ import annotations

import os
import subprocess
import sys

import bench


def test_weak_query_rule_flags_genuine_compute_gaps():
    """WEAK = excess-over-floor > 3x the DuckDB twin AND the query
    clears the 0.4 s absolute bar. Floor-dominated micro-queries and
    queries that beat or track DuckDB never flag."""
    timings = {
        # the props_struct_parse shape: 17x its twin, but under the
        # absolute bar -> watched, NOT weak (matches the r14 verdict
        # treatment: certified compute-bound, kept)
        "props_like": 0.27,
        # a genuine gap: 1.2 s where DuckDB takes 0.1 s, excess 1.0
        "slow_parse": 1.2,
        # floor-dominated: high RATIO but excess ~0 after jobs*null
        "tiny": 0.09,
        # big but healthy: 0.9 s vs DuckDB 0.7 s
        "heavy_ok": 0.9,
    }
    excess = {
        "props_like": 0.25,
        "slow_parse": 1.0,
        "tiny": 0.005,
        "heavy_ok": 0.84,
    }
    duck = {
        "props_like": 0.015,
        "slow_parse": 0.1,
        "tiny": 0.008,
        "heavy_ok": 0.7,
    }
    assert bench.weak_query_names(timings, excess, duck) == [
        "slow_parse"
    ]
    # zero/missing DuckDB twins never divide-by-zero or flag
    assert bench.weak_query_names(
        {"a": 9.9}, {"a": 9.9}, {"a": 0.0, "b": 0.1}
    ) == []


def test_weak_query_rule_has_margin_at_the_boundary():
    """r16 (VERDICT r15 next #3): the rule must not flap on
    measurement noise. Regression case = the exact r15 boundary:
    `embedding_near_dups` at 0.473 s, excess 0.454 s, DuckDB twin
    0.151 s — over the raw 3x threshold (0.453 s) by ONE
    millisecond in one citable run and under it in three others.
    With the 1.2x margin the boundary case does NOT flag; an excess
    that clears the margin (> 3.6x the twin) still does. (r17 —
    ADVICE r16 #3: the parameter was renamed hysteresis -> margin;
    it is a stateless one-sided threshold bump, not hysteresis.)"""
    timings = {"embedding_near_dups": 0.473, "genuine_gap": 0.473}
    excess = {"embedding_near_dups": 0.454, "genuine_gap": 0.454}
    duck = {"embedding_near_dups": 0.151, "genuine_gap": 0.100}
    assert bench.weak_query_names(timings, excess, duck) == [
        "genuine_gap"
    ]
    # margin=1.0 reproduces the old hard-edge rule (both flag)
    assert bench.weak_query_names(
        timings, excess, duck, margin=1.0
    ) == ["embedding_near_dups", "genuine_gap"]


def test_bench_queries_subset_preserves_registry_order():
    from etl_macropulse_br_spark.plans.queries import QUERIES

    names = list(QUERIES)
    assert bench.bench_queries() == names  # no subset: full registry
    try:
        bench._SUBSET = [names[3], names[1]]  # caller order scrambled
        assert bench.bench_queries() == [names[1], names[3]]
    finally:
        bench._SUBSET = None


def test_bench_cli_rejects_unknown_query_names():
    """The flag fails fast with the valid names — a typo'd A/B run
    must not silently bench an empty workload."""
    proc = subprocess.run(
        [sys.executable, "bench.py", "--queries", "no_such_query"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=120,
    )
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr
    assert "q1_pricing_summary" in proc.stderr  # names the valid set
