"""Mechanical enforcement of PLANS.md's audit claims: the physical
plans the document describes are asserted here, so a regression that
silently changes a strategy (a top-k becoming a global sort, a
map-only scorer growing an exchange, an LSH stage going quadratic)
fails CI instead of silently invalidating the audit.

Plan strings come from the small-input profile (AQE off) so the
executed plan is static and inspectable — same convention as
tests/test_plans.py.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def small_spark():
    from etl_macropulse_br_spark.session import get_spark

    return get_spark(app_name="test_plan_audit", profile="small-input")


def _plan(small_spark, name: str) -> str:
    from etl_macropulse_br_spark.plans.queries import AUX_QUERIES, QUERIES

    fn = {**QUERIES, **AUX_QUERIES}[name]
    return (
        fn(small_spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_topk_queries_use_take_ordered(small_spark):
    """Top-k = distributed TakeOrderedAndProject, never a global sort
    materialization (PLANS.md rows: latest/recent/top_movers,
    embedding_cosine_topk, top_tokens)."""
    for name in (
        "top_movers",
        "recent_events_top10",
        "embedding_cosine_topk",
        "top_tokens",
    ):
        assert "TakeOrderedAndProject" in _plan(small_spark, name), name


def test_no_cartesian_products_anywhere(small_spark):
    """No query in the declared registry plans a CartesianProduct.
    (BroadcastNestedLoopJoin is allowed ONLY where PLANS.md declares
    it: 1-row/3-row broadcast dims in the cosine/range-join/threshold
    queries — a streaming fact against a constant-size build.)"""
    from etl_macropulse_br_spark.plans.queries import QUERIES

    bnlj_whitelist = {
        "embedding_cosine_topk",  # 1-row query-vector broadcast
        "embedding_cosine_topk_pandas",
        "embedding_ivf_topk",
        "range_join_buckets",  # 3-row bucket dim, non-equi
        "q6_forecast_revenue",
        "q14_promo_effect",
        "q17_small_quantity_revenue",
        "docs_bm25_topk",  # 1-row (N, avgdl) scalar ride-along
        "docs_curated",
        "q1_pricing_summary",
        "latest_month_activity",  # 1-row max-month threshold
        "docs_train_val_split",
        "zscore_events",
    }
    for name in QUERIES:
        plan = _plan(small_spark, name)
        assert "CartesianProduct" not in plan, name
        if name not in bnlj_whitelist:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_map_only_operators_have_zero_exchanges(small_spark):
    """Scan-speed operators must stay exchange-free: the hashed-linear
    scorer and the per-doc text stats are pure map plans (spread()'s
    small-input round-robin redistribute is exempt — it is the
    deliberate parallelism fix for one-file inputs, absent at scale)."""
    for name in ("docs_model_score", "docs_text_stats"):
        plan = _plan(small_spark, name)
        assert "Exchange hashpartitioning" not in plan, name


def test_q1_filter_reaches_the_scan(small_spark):
    """Predicate pushdown: q1's shipdate filter must appear in the
    parquet scan's PushedFilters, and the scan must not read columns
    the query never touches."""
    plan = _plan(small_spark, "q1_pricing_summary")
    scan = plan[plan.index("PushedFilters") :]
    assert "l_shipdate" in scan[: scan.index("\n")]
    read = plan[plan.index("ReadSchema") :]
    assert "l_comment" not in read[: read.index("\n")]


def test_single_exchange_window_pipelines(small_spark):
    """One hash exchange serves the whole pipeline for the window
    queries PLANS.md documents as single-shuffle (sessionize, as-of
    both directions)."""
    for name in ("sessionize_events", "asof_click_view", "asof_forward_click_view"):
        plan = _plan(small_spark, name)
        assert plan.count("Exchange hashpartitioning") == 1, name


def test_lsh_pipeline_never_quadratic(small_spark):
    """The near-dup pipelines must contain no cartesian/nested-loop
    stage — candidates come only from band-bucket equi-joins."""
    for name in ("docs_near_dups", "embedding_near_dups", "docs_simhash"):
        plan = _plan(small_spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_embedding_near_dups_banding_computed_once(small_spark):
    """PLANS.md row `embedding_near_dups` (r7): the bucket self-join
    is a ShuffledHashJoin whose two sides share ONE exchange
    (ReuseExchange on the identical banded subplan) — the banding
    aggregate runs once and is never collected to the driver as a
    broadcast build. Banding stays whole-stage-codegen JVM: no
    Python stage anywhere in the plan (the mapInPandas alternative
    was A/B-rejected — see PLANS.md)."""
    plan = _plan(small_spark, "embedding_near_dups")
    assert "MapInPandas" not in plan
    assert "ShuffledHashJoin" in plan
    assert "ReusedExchange" in plan
    # r12 (VERDICT r11 next #1): the vector lookups are profile-gated
    # shuffle_hash, so under the bench profile the WHOLE query is one
    # shuffle-only job — no broadcast build anywhere in the plan (the
    # r11 auto-broadcast lookup added a second job per action, which
    # kept the query within noise of the per-query weak bar for five
    # rounds)
    assert "BroadcastExchange" not in plan
    assert "BroadcastHashJoin" not in plan


def test_chunk_dedup_text_stays_map_side(small_spark):
    """PLANS.md row `docs_chunk_dedup`: only int hashes/positions
    shuffle; no cartesian; the reassembly join broadcast-resolves
    (small-input profile pins BroadcastHashJoin for the positions
    side)."""
    plan = _plan(small_spark, "docs_chunk_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the only sort-merge-join candidates would be the id joins; the
    # positions side must never arrive via a full shuffle of text
    assert "SortMergeJoin" not in plan


def test_kmeans_assignment_is_broadcast_map_only(small_spark):
    """PLANS.md row `embedding_kmeans`: centroids reach every point
    as ONE broadcast row (BroadcastNestedLoopJoin over a 1-row
    build side — a true broadcast, not a shuffled cross), and the
    plan contains no CartesianProduct."""
    plan = _plan(small_spark, "embedding_kmeans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_stratified_exact_k_plans_window_group_limit(small_spark):
    """PLANS/docstring claim for `docs_stratified_exact_k`: the
    rn <= k filter becomes a WindowGroupLimit, pre-pruning each map
    task to its local top-k per stratum before the exchange."""
    plan = _plan(small_spark, "docs_stratified_exact_k")
    assert "WindowGroupLimit" in plan


def test_dsir_weights_plan_broadcasts_count_tables(small_spark):
    """`docs_dsir_weights`: the <=B-row raw/target count tables
    must reach the per-doc stream as broadcast builds (never a
    fact-side shuffle for the ratio join), and nothing is
    cartesian."""
    plan = _plan(small_spark, "docs_dsir_weights")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") + plan.count(
        "ReusedExchange"
    ) >= 2


def test_dsir_sample_plans_take_ordered(small_spark):
    """`docs_dsir_sample`: the Efraimidis-Spirakis top-k must be a
    distributed TakeOrderedAndProject, never a global sort."""
    plan = _plan(small_spark, "docs_dsir_sample")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_and_semdedup_never_cartesian(small_spark):
    """The r6 vector-serving and semantic-dedup plans: broadcast
    1-row crossjoins are fine (BroadcastNestedLoopJoin), an actual
    CartesianProduct is not; SemDeDup's pair join must key on
    cluster_id (SortMergeJoin/BroadcastHashJoin, bounded by cluster
    size)."""
    for name in (
        "embedding_pq_rerank_topk",
        "embedding_ivfadc_topk",
        "embedding_semdedup",
    ):
        plan = _plan(small_spark, name)
        assert "CartesianProduct" not in plan, name


def test_batch_ann_serving_plans(small_spark):
    """Batch ANN serving (r7): no CartesianProduct anywhere — the
    only nested-loop stages are the k x |Q| probe against the
    broadcast query set (the whitelisted constant-size-build
    pattern); per-query shortlist/top-k plan WindowGroupLimit, not a
    global sort."""
    for name in (
        "embedding_pq_batch_topk",
        "embedding_ivf_batch_topk",
        "embedding_cosine_batch_topk",
        "docs_dsir_sample_by_lang",
    ):
        plan = _plan(small_spark, name)
        assert "CartesianProduct" not in plan, name
        assert "WindowGroupLimit" in plan, name


def test_r7_aux_queries_never_cartesian(small_spark):
    """Every r7 aux query plans without a CartesianProduct; the only
    nested-loop stages are the whitelisted constant-size broadcast
    builds (1-row scalar ride-alongs, k-row centroid/codebook packs,
    |Q|-row query sets). Sketch queries stay exchange-lean (their
    exchanges are sketch-sized after partial combine)."""
    for name in (
        "docs_hybrid_rrf",
        "docs_incremental_near_dups",
        "events_hll_distinct",
        "events_hll_by_type",
        "docs_cms_token_counts",
        "docs_dsir_sample_by_lang",
        "embedding_cosine_batch_topk",
        "embedding_pq_filtered_topk",
    ):
        plan = _plan(small_spark, name)
        assert "CartesianProduct" not in plan, name
    # sketch plans: bounded exchange counts (1 for global HLL,
    # 2 for per-group HLL and CMS — registers/cells + final pack)
    assert _plan(small_spark, "events_hll_distinct").count(
        "Exchange hashpartitioning"
    ) <= 1
    for name in ("events_hll_by_type", "docs_cms_token_counts"):
        assert _plan(small_spark, name).count(
            "Exchange hashpartitioning"
        ) <= 2, name


def test_r8_aux_queries_plan_shapes(small_spark):
    """r8 aux queries: no CartesianProduct beyond the whitelisted
    constant-size broadcast builds (KMV's three one-row aggregate
    ride-alongs; HDR's <=|qs|-row rank spec), and the sketch
    discipline holds — every bottom-k in the KMV plan is a
    TakeOrderedAndProject (distributed bottom-k, never a global
    sort), and the HDR plan's hash exchange carries bucket rows
    only (<= (64-s)*2^s cells after partial combine)."""
    kmv = _plan(small_spark, "events_kmv_set_ops")
    assert "CartesianProduct" not in kmv
    assert "TakeOrderedAndProject" in kmv

    # HDR sketches: SINGLE scan of the fact table (the selection
    # rides windows over the bucket table instead of joining back
    # to the histogram subtree — a second reference would re-scan
    # the input, the 100 TB bottleneck), and the only hash
    # exchanges carry bucket rows (1 global / 2 grouped)
    hdr = _plan(small_spark, "price_hdr_quantiles")
    assert "CartesianProduct" not in hdr
    assert hdr.count("Scan parquet") == 1
    assert hdr.count("Exchange hashpartitioning") <= 1

    hdr_by = _plan(small_spark, "events_hdr_value_by_type")
    assert "CartesianProduct" not in hdr_by
    assert hdr_by.count("Scan parquet") == 1
    assert hdr_by.count("Exchange hashpartitioning") <= 2


def test_r9_signed_hdr_plan_shapes(small_spark):
    """r9 signed HDR sketch: same discipline as the unsigned family
    — single scan of the fact (the rank selection rides windows
    over the bucket table), bucket-row-only hash exchanges, no
    cartesian beyond the <=|qs|-row rank-spec ride-along."""
    sg = _plan(small_spark, "price_hdr_signed_delta")
    assert "CartesianProduct" not in sg
    assert sg.count("Scan parquet") == 1
    assert sg.count("Exchange hashpartitioning") <= 1

    sg_by = _plan(small_spark, "events_hdr_signed_delta_by_type")
    assert "CartesianProduct" not in sg_by
    assert sg_by.count("Scan parquet") == 1
    assert sg_by.count("Exchange hashpartitioning") <= 2


def test_salted_join_replicated_side_never_broadcasts(small_spark):
    """PLANS.md r13 job-count ledger (kept win): under the
    small-input profile the salted join's replicated dim is
    shuffle_hash — a broadcast build was both a separate job per
    action AND semantically self-defeating (a broadcast join never
    shuffles the hot key, so the salt spreads nothing). The declared
    skew query must plan a ShuffledHashJoin on (key, salt) with no
    broadcast anywhere."""
    plan = _plan(small_spark, "skew_salted_rollup")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastExchange" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zscore_moments_are_agg_join_not_window(small_spark):
    """r14 (PLANS.md "r14 floor certification"): zscore_events'
    group moments come from a groupBy aggregate joined back, never
    a whole-group window — the window shape exchanged AND sorted
    the full fact for |groups| rows of moments. Pin: no Window/Sort
    over the fact; the moments side is a hash aggregate under a
    broadcast build (small-input profile; AQE decides at scale)."""
    plan = _plan(small_spark, "zscore_events")
    assert "Window" not in plan
    assert "Sort " not in plan and "Sort[" not in plan
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan


def test_props_struct_parse_schema_is_only_consumed_fields(
    small_spark,
):
    """r15 (VERDICT r14 wrong #3): the prescribed floor challenger —
    from_json with a schema projecting ONLY the consumed fields — IS
    the registry plan: the events.props payload is single-field and
    the query parses exactly ``k BIGINT``, nothing wider. Pinned so
    a future edit that widens the parse schema visibly re-opens the
    floor question (a full-struct parse was the hypothesized 17x
    source; the remaining gap is the JSON parser itself — Jackson vs
    yyjson — certified with the json_tuple/get_json_object ABBAs in
    PLANS.md)."""
    from etl_macropulse_br_spark.plans.queries import QUERIES

    df = QUERIES["props_struct_parse"](small_spark, SF_DIR)
    plan = df._jdf.queryExecution().analyzed().toString()
    import re

    schemas = re.findall(r"from_json\((StructField\([^)]*\))", plan)
    assert schemas, f"no from_json in plan:\n{plan}"
    for s in schemas:
        assert s == "StructField(k,LongType,true)", s


def test_pack_sequences_single_exchange_arrow_stage(small_spark):
    """r15: sequence packing is ONE exchange (the shard groupBy)
    feeding one Arrow-batched FlatMapGroupsInPandas — the text never
    enters the Python stage (only id/shard/token-count columns), and
    no second shuffle or sort materializes around it."""
    plan = _plan(small_spark, "docs_pack_sequences")
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    # the packer's input projection carries no text column
    import re

    flat = plan[plan.index("FlatMapGroupsInPandas"):]
    assert "text" not in re.split(r"\n", flat)[0], flat[:300]


def test_pack_chunks_pure_window_no_python_stage(small_spark):
    """r15: the declared packing row is a pure window expression —
    one exchange, one WindowExec, NO Arrow/Python stage anywhere."""
    plan = _plan(small_spark, "docs_pack_chunks")
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
