"""Virtual scale-up smoke: does each operator's runtime scale the way
its plan claims when the input grows KX?

The driver testdata is fixed (sf0.1 max), so scale is synthesized
IN-FLIGHT: each table unions K lazy copies of itself with id offsets
(and a per-copy text tag where ids alone wouldn't decorrelate) — no
files written, no new inputs invented, rows simply multiply at scan
time. Runs under the CLUSTER profile (AQE on), i.e. the deployment
path, not the bench profile.

Two operator classes, two expectations:

- linear operators (scan/aggregate/join-after-aggregate): time at KX
  should grow ~= K (per-row work dominates; sublinear when the 1X run
  is overhead-bound, which the 1X/K ratio exposes).
- pair-producing LSH: K exact copies of every doc make each
  duplicate group K rows, so the PAIR OUTPUT grows O(K^2) BY
  CONSTRUCTION — the scale property to verify is that runtime tracks
  the pair count (bucket-join efficiency), not that it stays linear.
  time_per_pair at KX should be <= the 1X value (never worse).

Usage: python tools/scale_smoke.py [sf_dir] [max_k]
Prints one human table + one JSON line.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OFFSET = 100_000_000


def replicate(
    df: DataFrame, k: int, id_col: str, text_col: str | None = None
) -> DataFrame:
    """K lazy copies with disjoint ids (and per-copy text tags so
    text-keyed operators don't degenerate into one giant dup group
    unless that IS the point)."""
    parts = []
    for i in range(k):
        d = df.withColumn(id_col, F.col(id_col) + F.lit(i * _OFFSET))
        if text_col is not None and i > 0:
            d = d.withColumn(
                text_col, F.concat(F.col(text_col), F.lit(f" c{i}"))
            )
        parts.append(d)
    return functools.reduce(DataFrame.unionAll, parts)


def timed_count(df: DataFrame) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return time.perf_counter() - t0, n


def main() -> None:
    from etl_macropulse_br_spark.operators.clustering import (
        ivf_pq_rerank_topk,
        kmeans_stats,
        semantic_dedup,
    )
    from etl_macropulse_br_spark.operators.dedup import (
        chunk_dedup_clean,
        exact_dedup,
        minhash_near_dups,
        span_dedup_clean,
    )
    from etl_macropulse_br_spark.operators.sketches import (
        cms_point_estimates,
        hll_distinct,
    )
    from etl_macropulse_br_spark.operators.text import (
        hashed_linear_score,
        repetition_stats,
    )

    def _hll(df):
        return hll_distinct(df, "user_id", b=10)

    def _cms(df):
        toks = df.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                    r"\s+",
                )
            ).alias("tok")
        )
        return cms_point_estimates(
            toks, "tok", ["spark", "table", "merge", "the"], w=1024, d=4
        )

    def _pack_chunks(df):
        from etl_macropulse_br_spark.operators.packing import (
            pack_chunks,
        )
        from etl_macropulse_br_spark.operators.text import token_count

        return pack_chunks(df, token_count("text"), budget=512, n_shards=16)

    def _pack_greedy(df):
        from etl_macropulse_br_spark.operators.packing import (
            pack_sequences,
        )
        from etl_macropulse_br_spark.operators.text import token_count

        return pack_sequences(
            df, token_count("text"), budget=512, n_shards=16
        )
    from etl_macropulse_br_spark.plans.queries import _scaled, _t
    from etl_macropulse_br_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    max_k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark(app_name="scale_smoke", profile="cluster")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    docs = _t(spark, sf_dir, "documents")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    emb = _t(spark, sf_dir, "embeddings")

    def li_q1(k: int) -> DataFrame:
        d = replicate(li, k, "l_orderkey")
        return d.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(_scaled("l_quantity")).alias("sq"),
            F.count(F.lit(1)).alias("n"),
        )

    def ev_sessionize(k: int) -> DataFrame:
        from etl_macropulse_br_spark.plans.queries import QUERIES  # noqa: F401
        d = replicate(ev, k, "user_id")
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        prev = F.lag("ts").over(w)
        new_s = F.when(
            prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 1800 SECOND")),
            1,
        ).otherwise(0)
        return (
            d.withColumn("seq", F.sum(new_s).over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "seq")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    linear_ops = {
        "exact_dedup(docs)": lambda k: exact_dedup(
            replicate(docs, k, "doc_id", "text")
        ),
        "model_score(docs)": lambda k: hashed_linear_score(
            replicate(docs, k, "doc_id", "text")
        ),
        "repetition(docs)": lambda k: repetition_stats(
            replicate(docs, k, "doc_id", "text")
        ),
        "q1_agg(lineitem)": li_q1,
        "sessionize(events)": ev_sessionize,
        # r5: chunk dedup is linear in rows (hash explode + int
        # shuffles; reassembly map-side) even though the dup-chunk
        # set grows with K
        "chunk_dedup(docs)": lambda k: chunk_dedup_clean(
            replicate(docs, k, "doc_id", "text")
        ),
        "span_dedup(docs)": lambda k: span_dedup_clean(
            replicate(docs, k, "doc_id", "text")
        ),
        # r5: k-means assignment is map-only; update shuffle is
        # k*d-bounded per partition, so KX points ~= K* assignment cost
        "kmeans(embeddings)": lambda k: kmeans_stats(
            replicate(emb, k, "vec_id"), rounds=2
        ),
        # r6: IVF-PQ serving — training/encoding are linear (map-only
        # assignment, bounded update shuffles); ADC scoring touches
        # only probed cells; shortlist is TakeOrderedAndProject
        "ivf_pq_rerank(embeddings)": lambda k: ivf_pq_rerank_topk(
            replicate(emb, k, "vec_id")
        ),
        # r6: SemDeDup — within-cluster pairs only; K exact copies
        # keep cluster count fixed so pair work grows with cluster
        # size (the documented k-grows-with-corpus deployment knob)
        "semantic_dedup(embeddings)": lambda k: semantic_dedup(
            replicate(emb, k, "vec_id"), threshold=0.4
        ),
        # r7: the auto-k knob APPLIED — k = ceil(sqrt(n)) grows with
        # the corpus, holding E[cluster] = sqrt(n), so within-cluster
        # pair work grows ~n^1.5 rather than the fixed-k n^2; the KX
        # ratio should sit well under the fixed-k row's
        "semantic_dedup_auto_k(embeddings)": lambda k: semantic_dedup(
            replicate(emb, k, "vec_id"), k=None, threshold=0.4
        ),
        # r7 sketches: scan-speed linear passes whose EXCHANGES are
        # sketch-sized constants (<= 2^b register rows / d*w cells
        # after partial combine) however big the input — time grows
        # ~K, shuffle doesn't grow at all
        "hll_distinct(events)": lambda k: _hll(
            replicate(ev, k, "event_id")
        ),
        "cms_token_counts(docs)": lambda k: _cms(
            replicate(docs, k, "doc_id", "text")
        ),
        # r15: packing — chunks is one window pass; greedy is one
        # Arrow stage over (id, count) pairs per shard. K disjoint-id
        # copies grow every shard's stream K×, the exact axis the
        # sequential packer must stay linear on.
        "pack_chunks(docs)": lambda k: _pack_chunks(
            replicate(docs, k, "doc_id", "text")
        ),
        "pack_greedy(docs)": lambda k: _pack_greedy(
            replicate(docs, k, "doc_id", "text")
        ),
    }

    results: dict[str, dict] = {}
    print(f"# scale smoke @ {sf_dir}, cluster profile, K in (1, {max_k})")
    print(f"{'operator':26s} {'t_1x':>7s} {'t_Kx':>7s} {'ratio':>6s}  ideal={max_k}")
    for name, build in linear_ops.items():
        build(1).count()  # warm plan shape
        t1, n1 = timed_count(build(1))
        tk, nk = timed_count(build(max_k))
        ratio = tk / t1 if t1 else float("inf")
        results[name] = {
            "t_1x": round(t1, 2),
            "t_kx": round(tk, 2),
            "ratio": round(ratio, 2),
            "rows_1x": n1,
            "rows_kx": nk,
        }
        print(f"{name:26s} {t1:7.2f} {tk:7.2f} {ratio:6.2f}")

    # duplicate-heavy LSH stress: K exact copies per doc -> pair
    # output grows O(K^2); time per PAIR must not grow.
    print(f"{'lsh near-dups (dup-heavy)':26s} {'t':>7s} {'pairs':>9s} {'us/pair':>9s}")
    lsh = {}
    for k in (1, 2, 4):
        d = replicate(docs, k, "doc_id")  # NO text tag: exact dups
        df = minhash_near_dups(d, threshold=0.5, persist_candidates=False)
        df.count()  # warm
        t, pairs = timed_count(df)
        per_pair_us = 1e6 * t / pairs if pairs else float("nan")
        lsh[f"k{k}"] = {
            "t": round(t, 2),
            "pairs": pairs,
            "us_per_pair": round(per_pair_us, 1),
        }
        print(f"{'  k=' + str(k):26s} {t:7.2f} {pairs:9d} {per_pair_us:9.1f}")
    results["lsh_dup_heavy"] = lsh

    # r9: signature-agreement verify vs exact shingle verify. Same banding
    # exchange; the sig verify joins k ints per doc where the exact
    # verify aggregates full shingle sets, so its advantage GROWS
    # with the duplicate-heavy pair count.
    from etl_macropulse_br_spark.operators.dedup import (
        minhash_sig_near_dups,
    )

    sig_row = {}
    for k in (1, 4):
        d = replicate(docs, k, "doc_id")
        exact = minhash_near_dups(
            d, threshold=0.5, persist_candidates=False
        )
        sig = minhash_sig_near_dups(d, threshold=0.5)
        exact.count(), sig.count()  # warm both plan shapes
        t_exact, n_exact = timed_count(exact)
        t_sig, n_sig = timed_count(sig)
        sig_row[f"k{k}"] = {
            "t_exact": round(t_exact, 2),
            "t_sig": round(t_sig, 2),
            "pairs_exact": n_exact,
            "pairs_sig": n_sig,
            "sig_over_exact": round(t_sig / t_exact, 2) if t_exact else None,
        }
        print(
            f"{'sig vs exact verify k=' + str(k):26s} {t_sig:7.2f}"
            f" {t_exact:7.2f} {t_sig / t_exact:6.2f}x"
            f" (pairs {n_sig}/{n_exact})"
        )
    results["sig_vs_exact_verify"] = sig_row

    # r7: batch-ANN amortization — the whole point of query-SET
    # serving is that coarse/PQ training and encoding are paid once
    # per batch, not once per query. One batch of Q queries must
    # beat Q single-query plans by a wide margin (ideally ~Qx).
    from etl_macropulse_br_spark.operators.clustering import (
        ivf_pq_batch_topk,
        ivf_pq_rerank_topk,
    )

    n_q = 4
    queries = emb.filter(F.col("vec_id") < n_q)
    ivf_pq_batch_topk(emb, queries).count()  # warm plan shape
    t0 = time.perf_counter()
    for qid in range(n_q):
        ivf_pq_rerank_topk(emb, query_id=qid).count()
    t_loop = time.perf_counter() - t0
    t_batch, _ = timed_count(ivf_pq_batch_topk(emb, queries))
    results["ann_batch_amortization"] = {
        "n_queries": n_q,
        "t_single_loop": round(t_loop, 2),
        "t_batch": round(t_batch, 2),
        "speedup": round(t_loop / t_batch, 2) if t_batch else None,
    }
    print(
        f"{'ivf_pq batch vs loop(4q)':26s} {t_batch:7.2f} {t_loop:7.2f}"
        f" {t_loop / t_batch:6.2f}x"
    )

    # r8: persisted-index serving — the across-runs amortization.
    # Train+save once (the daily index build), then serve from the
    # loaded parquet: serve-only latency must exclude training, i.e.
    # come in well under the train-inline batch time.
    import tempfile

    from etl_macropulse_br_spark.operators.ann_index import (
        load_ann_index,
        save_ann_index,
    )

    idx_dir = tempfile.mkdtemp(prefix="scale_smoke_ann_idx_")
    t0 = time.perf_counter()
    save_ann_index(emb, idx_dir)
    t_train_save = time.perf_counter() - t0
    ix = load_ann_index(spark, idx_dir)
    ivf_pq_batch_topk(emb, queries, index=ix).count()  # warm plan shape
    t_serve, _ = timed_count(ivf_pq_batch_topk(emb, queries, index=ix))
    results["ann_index_serve_only"] = {
        "t_train_save": round(t_train_save, 2),
        "t_serve_from_index": round(t_serve, 2),
        "t_train_inline_batch": round(t_batch, 2),
        "serve_vs_inline": (
            round(t_batch / t_serve, 2) if t_serve else None
        ),
    }
    print(
        f"{'ivf_pq serve-from-index':26s} {t_serve:7.2f} {t_batch:7.2f}"
        f" {t_batch / t_serve:6.2f}x (train+save {t_train_save:.2f}s, paid once)"
    )

    # r8 stretch: sketch ERROR-BOUND characterization — the sketches
    # are hash-gated for cross-engine EXACTNESS, but their ESTIMATOR
    # quality bounds were only cited; measure them on seeded corpora
    # (md5 family -> fully deterministic, so these are stable rows).
    # HLL: relative error vs the theoretical std err 1.04/sqrt(m).
    b_hll = 10
    m_hll = 1 << b_hll
    sigma = 1.04 / (m_hll ** 0.5)
    hll_rows = {}
    for n_true in (1_000, 20_000, 200_000):
        vals = spark.range(3 * n_true).select(
            F.concat(F.lit("u"), (F.col("id") % n_true)).alias("v")
        )
        est = hll_distinct(vals, "v", b=b_hll).collect()[0]["est_distinct"]
        rel = abs(est - n_true) / n_true
        hll_rows[f"n{n_true}"] = {
            "est": round(est, 1),
            "rel_err": round(rel, 4),
            "sigmas": round(rel / sigma, 2),
            "within_3sigma": rel <= 3 * sigma,
        }
        print(
            f"{'hll_err n=' + str(n_true):26s} {est:10.0f}"
            f" rel={rel:7.4f} ({rel / sigma:4.2f} sigma, bound {sigma:.4f})"
        )
    hll_rows["theoretical_sigma"] = round(sigma, 5)
    results["hll_error_bound"] = hll_rows

    # CMS: overestimate <= 2N/w per item with prob 1-(1/2)^d
    # (Cormode & Muthukrishnan 2005, pairwise-independent rows).
    w_cms, d_cms, vocab, n_tok = 1024, 4, 800, 60_000
    toks = spark.range(n_tok).select(
        F.concat(F.lit("t"), (F.col("id") % vocab)).alias("tok")
    )
    probe_items = [f"t{i}" for i in range(20)] + ["never-seen"]
    est_rows = cms_point_estimates(
        toks, "tok", probe_items, w=w_cms, d=d_cms
    ).collect()
    per_item = n_tok // vocab
    truth = {it: (per_item if it != "never-seen" else 0) for it in probe_items}
    overs = {r["item"]: r["est_count"] - truth[r["item"]] for r in est_rows}
    bound = 2 * n_tok / w_cms
    n_within = sum(1 for v in overs.values() if 0 <= v <= bound)
    results["cms_error_bound"] = {
        "n_tokens": n_tok,
        "bound_2N_over_w": round(bound, 1),
        "max_overestimate": max(overs.values()),
        "min_overestimate": min(overs.values()),
        "n_items": len(overs),
        "n_within_bound": n_within,
    }
    print(
        f"{'cms_overestimate':26s} max={max(overs.values()):6d}"
        f" bound={bound:7.1f} within={n_within}/{len(overs)}"
    )

    # r8: frozen-index APPEND vs retrain — the daily-ingest
    # amortization: encoding a new batch against the frozen
    # centroids/codebooks is map-only + one parquet append, vs
    # re-paying bounded-Lloyd + PQ training on the grown corpus.
    from etl_macropulse_br_spark.operators.ann_index import (
        append_ann_index,
    )

    new_batch = emb.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        "embedding",
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    t0 = time.perf_counter()
    append_ann_index(new_batch, idx_dir)
    t_append = time.perf_counter() - t0
    retrain_dir = tempfile.mkdtemp(prefix="scale_smoke_ann_retrain_")
    t0 = time.perf_counter()
    save_ann_index(emb.unionByName(new_batch), retrain_dir)
    t_retrain = time.perf_counter() - t0
    results["ann_index_append_vs_retrain"] = {
        "t_append_batch": round(t_append, 2),
        "t_retrain_union": round(t_retrain, 2),
        "speedup": round(t_retrain / t_append, 2) if t_append else None,
    }
    print(
        f"{'ann append vs retrain':26s} {t_append:7.2f} {t_retrain:7.2f}"
        f" {t_retrain / t_append:6.2f}x"
    )

    # r9: ADC-residual drift signal — the manifest's adc_history
    # makes "retrain on distribution shift" measurable. The appended
    # copy above is in-distribution (identical vectors: residual ==
    # training residual); a planted shift (scaled + offset domain the
    # frozen codebooks never saw) must push the metric far above it.
    shifted = emb.select(
        (F.col("vec_id") + F.lit(20_000_000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(3.0) + F.lit(8.0)
        ).alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    ix_drift = append_ann_index(shifted, idx_dir)
    hist = ix_drift.adc_history
    base_r = hist[0]["adc_residual_mean"]
    in_r = hist[1]["adc_residual_mean"]
    shift_r = hist[2]["adc_residual_mean"]
    results["ann_index_adc_drift"] = {
        "train_residual_mean": round(base_r, 1),
        "in_dist_append_residual_mean": round(in_r, 1),
        "shifted_append_residual_mean": round(shift_r, 1),
        "shift_over_train_ratio": (
            round(shift_r / base_r, 2) if base_r else None
        ),
        "shift_detected": bool(base_r and shift_r > 5 * base_r),
    }
    print(
        f"{'ann adc drift':26s} train={base_r:10.1f} in={in_r:10.1f}"
        f" shifted={shift_r:12.1f} ({shift_r / base_r:6.1f}x)"
    )

    # r8: HDR quantile sketch — state bound + error bound, measured.
    # v = (id+1)^2 gives an exact closed-form truth (rank r -> r^2),
    # spans ~2*log2(n) octaves of log-buckets, and lets both claims
    # be asserted: occupied buckets stay under the (64-s+1)*2^s cap
    # (growing only logarithmically with n), and every midpoint
    # estimate lands within the 2^-(s+1) relative-error guarantee.
    from etl_macropulse_br_spark.operators.sketches import (
        hdr_histogram,
        hdr_quantiles,
    )

    s_hdr = 6
    cap = (64 - s_hdr + 1) * (1 << s_hdr)
    hdr_rows = {}
    for n in (10_000, 100_000, 1_000_000):
        sq = spark.range(n).select(
            ((F.col("id") + 1) * (F.col("id") + 1)).alias("v")
        )
        n_buckets = hdr_histogram(sq, "v", s_hdr).count()
        worst = 0.0
        for r in hdr_quantiles(
            sq, "v", (0.5, 0.9, 0.99), s_hdr
        ).collect():
            true = r["rank"] * r["rank"]
            assert r["lo"] <= true <= r["hi"], (n, r["q"])
            worst = max(worst, abs(r["est"] - true) / true)
        assert worst < 2 ** -(s_hdr + 1), worst
        assert n_buckets <= cap
        hdr_rows[str(n)] = {
            "occupied_buckets": n_buckets,
            "bucket_cap": cap,
            "worst_rel_err": round(worst, 6),
            "err_guarantee": round(2 ** -(s_hdr + 1), 6),
        }
        print(
            f"{'hdr n=' + str(n):26s} buckets={n_buckets:5d}/{cap}"
            f" rel_err={worst:.4%} (cap {2 ** -(s_hdr + 1):.4%})"
        )
    results["hdr_state_and_error"] = hdr_rows

    # r9: SIGNED HDR sketch — same two claims on a mirrored domain
    # {±r^2}: state stays under the doubled cap (two mirrored
    # stores), and every bracket contains the closed-form true rank
    # value with the midpoint inside the relative guarantee on |v|.
    from etl_macropulse_br_spark.operators.sketches import (
        hdr_signed_histogram,
        hdr_signed_quantiles,
    )

    cap_signed = 2 * cap + 1
    signed_rows = {}
    for n in (10_000, 100_000):
        sq_pos = spark.range(n).select(
            (((F.col("id") + 1) * (F.col("id") + 1)).cast("double")).alias(
                "v"
            )
        )
        sq = sq_pos.unionAll(sq_pos.select((-F.col("v")).alias("v")))
        n_buckets = hdr_signed_histogram(sq, "v", 1.0, s_hdr).count()
        worst = 0.0
        for r in hdr_signed_quantiles(
            sq, "v", (0.1, 0.5, 0.99), 1.0, s_hdr
        ).collect():
            rk = r["rank"]
            true = (
                -((n - rk + 1) ** 2) if rk <= n else (rk - n) ** 2
            )
            assert r["lo"] <= true <= r["hi"], (n, r["q"])
            worst = max(worst, abs(r["est"] - true) / abs(true))
        assert worst < 2 ** -(s_hdr + 1), worst
        assert n_buckets <= cap_signed
        signed_rows[str(2 * n)] = {
            "occupied_buckets": n_buckets,
            "bucket_cap": cap_signed,
            "worst_rel_err": round(worst, 6),
            "err_guarantee": round(2 ** -(s_hdr + 1), 6),
        }
        print(
            f"{'hdr_signed n=' + str(2 * n):26s} buckets={n_buckets:5d}"
            f"/{cap_signed} rel_err={worst:.4%}"
            f" (cap {2 ** -(s_hdr + 1):.4%})"
        )
    results["hdr_signed_state_and_error"] = signed_rows

    # r10 (VERDICT r9 #5): scale-linearity rows for the top-5
    # DECLARED bench queries — the bench proves sf0.1; these rows
    # make the "survives a scale-up" claim a measured artifact per
    # query. The REAL registry callables run unmodified on
    # K-replicated parquet directories (K in {1, 4, 16}), so every
    # deployment gate (persist policy, profile detection) behaves
    # exactly as it would on a genuinely larger corpus. Timing is
    # COLD per the bench's honesty contract: caches are torn down
    # and plan build + cache population are charged inside the
    # timer (min of 2 passes to damp box-load spikes).
    #
    # Two expectations, as in the linear_ops table above:
    # - linear queries: t(16x) <= ~16 * t(1x) (generous slack for
    #   the overhead-bound 1x run making the ratio SUB-linear);
    # - pair-producing LSH queries: K exact/near copies grow the
    #   pair OUTPUT ~K^2 by construction, so the scale property is
    #   time-per-PAIR never degrading, not linearity.
    import shutil

    from etl_macropulse_br_spark.operators.util import (
        unpersist_candidates,
    )
    from etl_macropulse_br_spark.plans.queries import QUERIES

    # r14 (VERDICT r13 next #5): skew_salted_rollup joins the cold-
    # scale set — its r13 plan change (profile-gated shuffle_hash on
    # the replicated dim) is only worth keeping if the salt's scale
    # property holds, and the salt's entire value proposition IS a
    # scale property. Replicating events by event_id keeps user_id
    # identical across copies, so the HOT key's row count grows K
    # with the table — the exact shape the salt must keep spreading.
    top5 = {
        "docs_curated": "linear",
        "docs_near_dups": "pairs",
        "embedding_near_dups": "pairs",
        "docs_bm25_topk": "linear",
        "price_percentiles": "linear",
        "skew_salted_rollup": "linear",
    }
    scale_root = tempfile.mkdtemp(prefix="scale_smoke_top5_")
    tabs = [
        ("documents", "doc_id", "text"),
        ("embeddings", "vec_id", None),
        ("lineitem", "l_orderkey", None),
        ("events", "event_id", None),
    ]
    kdirs = {}
    for kk in (1, 4, 16):
        d = os.path.join(scale_root, f"k{kk}")
        os.makedirs(d)
        for t, idc, tc in tabs:
            replicate(_t(spark, sf_dir, t), kk, idc, tc).write.mode(
                "overwrite"
            ).parquet(os.path.join(d, f"{t}.parquet"))
        kdirs[kk] = d

    def cold_time(fn, d):
        best, rows = None, 0
        for _ in range(2):
            unpersist_candidates()
            t0 = time.perf_counter()
            rows = fn(spark, d).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        unpersist_candidates()
        return best, rows

    top5_rows = {}
    print(f"{'top5 scale (cold)':26s} {'t_1x':>7s} {'t_16x':>7s} {'ratio':>6s}  rows 1x/4x/16x")
    for qname, kind in top5.items():
        fn = QUERIES[qname]
        per_k = {}
        for kk in (1, 4, 16):
            t, n = cold_time(fn, kdirs[kk])
            per_k[kk] = {"t": round(t, 2), "rows": n}
        r16 = per_k[16]["t"] / per_k[1]["t"]
        row = {
            "kind": kind,
            **{f"k{kk}": per_k[kk] for kk in (1, 4, 16)},
            "ratio_16x": round(r16, 2),
        }
        if kind == "pairs":
            upp1 = 1e6 * per_k[1]["t"] / max(per_k[1]["rows"], 1)
            upp16 = 1e6 * per_k[16]["t"] / max(per_k[16]["rows"], 1)
            row["us_per_pair_1x"] = round(upp1, 1)
            row["us_per_pair_16x"] = round(upp16, 1)
            # bucket-join efficiency must not degrade as pairs grow
            assert upp16 <= 2 * upp1, (qname, upp1, upp16)
        else:
            # ~K growth: generous 2.5x slack over ideal-16 covers
            # profile flips (persists turning on at real scale) and
            # the 1x run being overhead-bound
            assert r16 <= 16 * 2.5, (qname, row)
        assert per_k[16]["rows"] > 0, qname
        top5_rows[qname] = row
        print(
            f"  {qname:24s} {per_k[1]['t']:7.2f} {per_k[16]['t']:7.2f}"
            f" {r16:6.2f}  {per_k[1]['rows']}/{per_k[4]['rows']}/"
            f"{per_k[16]['rows']}"
        )
    results["top5_scale_linearity"] = top5_rows
    shutil.rmtree(scale_root, ignore_errors=True)

    # r10 (VERDICT r9 #2): the measured banded-recall CURVE vs the
    # analytic 1-(1-J^r)^b at the shipped (k=16, bands=4) — the
    # artifact the r2-r8 MinHash degeneracy shipped green without
    # (exact-replay oracles can't see quality collapse in an
    # approximate operator). Deterministic: md5 family + fixed token
    # namespaces. The pin: plain-J collapse is SUPER-linear at low J
    # (0.3 -> banded ~0.03) and SUB-linear at high J (0.95 -> ~0.999);
    # both ends are asserted, plus a pointwise tolerance.
    from tools.recall_curve import measure_banded_recall

    curve = measure_banded_recall(spark, pairs_per_point=200)
    print(f"{'lsh banded recall':26s} {'J':>5s} {'meas':>7s} {'analytic':>9s}")
    for r in curve:
        print(
            f"{'':26s} {r['j']:5.2f} {r['measured_recall']:7.4f}"
            f" {r['analytic_recall']:9.4f}"
        )
        tol = 4 * r["stderr"] + 0.02
        assert abs(r["measured_recall"] - r["analytic_recall"]) <= tol, r
    by_j = {r["j"]: r["measured_recall"] for r in curve}
    assert by_j[0.3] < 0.15 and by_j[0.95] > 0.97  # anti-collapse
    results["banded_recall_curve"] = curve

    # r10: the SRP analog — embedding banding recall vs the analytic
    # 1-(1-(1-θ/π)^p)^b (Charikar 2002) at the shipped
    # embedding_near_dups defaults; same determinism story
    from tools.recall_curve import measure_srp_banded_recall

    srp_curve = measure_srp_banded_recall(spark, pairs_per_point=200)
    print(f"{'srp banded recall':26s} {'cos':>5s} {'meas':>7s} {'analytic':>9s}")
    for r in srp_curve:
        print(
            f"{'':26s} {r['cos']:5.2f} {r['measured_recall']:7.4f}"
            f" {r['analytic_recall']:9.4f}"
        )
        tol = 4 * r["stderr"] + 0.02
        assert abs(r["measured_recall"] - r["analytic_recall"]) <= tol, r
    results["srp_recall_curve"] = srp_curve

    # r10: KMV estimator error bound — the one sketch family whose
    # ESTIMATOR quality had no measured row (HLL/CMS/HDR gained
    # theirs in r8). (k-1)/U over the k-th minimum of a uniform
    # hash is unbiased with relative std err ~ 1/sqrt(k-2) (Beyer
    # et al. 2007); the md5 family makes each row deterministic.
    from etl_macropulse_br_spark.operators.sketches import kmv_distinct

    k_kmv = 256
    sigma_kmv = 1.0 / ((k_kmv - 2) ** 0.5)
    kmv_rows = {}
    for n_true in (5_000, 50_000, 500_000):
        vals = spark.range(2 * n_true).select(
            F.concat(F.lit("kv"), (F.col("id") % n_true)).alias("v")
        )
        est = kmv_distinct(vals, "v", k=k_kmv).collect()[0]["est_distinct"]
        rel = abs(est - n_true) / n_true
        kmv_rows[f"n{n_true}"] = {
            "est": round(est, 1),
            "rel_err": round(rel, 4),
            "sigmas": round(rel / sigma_kmv, 2),
            "within_3sigma": rel <= 3 * sigma_kmv,
        }
        assert rel <= 3 * sigma_kmv, (n_true, est)
        print(
            f"{'kmv_err n=' + str(n_true):26s} {est:10.0f}"
            f" rel={rel:7.4f} ({rel / sigma_kmv:4.2f} sigma,"
            f" bound {sigma_kmv:.4f})"
        )
    kmv_rows["theoretical_sigma"] = round(sigma_kmv, 5)
    results["kmv_error_bound"] = kmv_rows

    # r10: IVF recall@10 vs brute-force cosine — the similarity-
    # search quality artifact (the oracle gate replays ivf_topk
    # exactly but cannot see whether probing n_probe of n_cells
    # RETRIEVES the true neighbors). Planted clustered corpus
    # (deterministic, no RNG): 20 clusters x 100 vectors, cluster
    # structure dominant over a small per-vector jitter; queries at
    # 8 cluster centers. Recall floor 0.8 pins against probe-set
    # collapse; the random-probe baseline is n_probe/n_cells = 0.25.
    from etl_macropulse_br_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    n_clusters, per_c, dim_iv = 20, 100, 16
    base = spark.range(n_clusters * per_c).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim_iv - 1)),
            lambda d: F.when(
                d == (F.col("id") % n_clusters) % dim_iv, F.lit(10.0)
            ).otherwise((F.col("id") % 7).cast("double") / 100.0),
        ).alias("embedding"),
    )
    recalls = []
    for c in range(8):
        qv = [
            10.0 if d == c % dim_iv else 0.03 for d in range(dim_iv)
        ]
        truth = {
            r["vec_id"] for r in cosine_topk(base, qv, k=10).collect()
        }
        got = {
            r["vec_id"]
            for r in ivf_topk(
                base, qv, k=10, n_cells=16, n_probe=4
            ).collect()
        }
        recalls.append(len(truth & got) / 10)
    mean_recall = sum(recalls) / len(recalls)
    results["ivf_recall_at_10"] = {
        "n_queries": len(recalls),
        "mean_recall": round(mean_recall, 3),
        "min_recall": round(min(recalls), 3),
        "random_probe_baseline": 0.25,
    }
    assert mean_recall >= 0.8, recalls
    print(
        f"{'ivf_recall@10':26s} mean={mean_recall:5.3f}"
        f" min={min(recalls):5.3f} (baseline 0.25, floor 0.80)"
    )

    # r11 (VERDICT r10 Next round #7): CMS heavy-hitter count error
    # vs EXACT at varying skew — the exact-replay oracle gate replays
    # the sketch bit-for-bit but cannot see whether w=1024, d=4 is an
    # adequate sketch for the query load (the r9 lesson). A
    # deterministic zipf-like corpus (rank r appears ~n0/r^alpha
    # times, no RNG) at two skews; queried ranks span head and tail.
    # CMS guarantees: never underestimates, and P[over > e*N/w] <=
    # e^-d per query — asserted at 2x margin (the md5 family makes
    # every row deterministic, so this is a fixed measurement, not a
    # flaky sample).
    import math as _math

    cms_rows = {}
    for alpha in (0.6, 1.2):
        # 2000 distinct tokens > w=1024 cells: collisions are
        # GUARANTEED, so the measured over-counts are a real stress
        # of the bound, not a trivially-empty sketch (measured: tail
        # ranks over-count by up to ~0.2 epsN at alpha=0.6, all
        # under the 2x-epsN assertion)
        r_max, n0 = 2000, 5000
        counts = {
            r: max(1, int(n0 / r**alpha)) for r in range(1, r_max + 1)
        }
        n_total = sum(counts.values())
        toks = spark.createDataFrame(
            [(f"tok{r}", c) for r, c in counts.items()],
            "tok string, c int",
        ).select(
            F.explode(F.expr("array_repeat(tok, c)")).alias("tok")
        )
        q_ranks = [1, 2, 3, 10, 50, 200, 1000, 1999]
        est = {
            r["item"]: r["est_count"]
            for r in cms_point_estimates(
                toks, "tok", [f"tok{r}" for r in q_ranks], w=1024, d=4
            ).collect()
        }
        eps_n = _math.e / 1024 * n_total
        per_q = {}
        for r in q_ranks:
            true, got = counts[r], est[f"tok{r}"]
            over = got - true
            assert over >= 0, (alpha, r, true, got)  # one-sided
            assert over <= 2 * eps_n, (alpha, r, true, got, eps_n)
            per_q[f"rank{r}"] = {
                "true": true,
                "est": int(got),
                "over": int(over),
                "over_vs_epsN": round(over / eps_n, 3),
            }
        # the head estimate must be USEFUL, not just bounded: the
        # guarantee makes its relative error <= 2*eps_n/true
        rel1 = (est["tok1"] - counts[1]) / counts[1]
        cms_rows[f"alpha{alpha}"] = {
            "n_total": n_total,
            "eps_n": round(eps_n, 1),
            "head_rel_err": round(rel1, 4),
            "queries": per_q,
        }
        print(
            f"{'cms_err a=' + str(alpha):26s} N={n_total:7d}"
            f" epsN={eps_n:6.1f} head_rel={rel1:7.4f}"
            f" worst_over={max(v['over'] for v in per_q.values()):5d}"
        )
    results["cms_error_bound"] = cms_rows

    # r11 (same brief item): per-group HLL error DISTRIBUTION across
    # group sizes — the oracle gate proves the sketch is portable, not
    # that it is ACCURATE. Five groups spanning 4 decades of true cardinality in
    # ONE pass (the per-group shape: one register set per group after
    # partial combine); b=10 gives sigma = 1.04/sqrt(1024) ~ 3.25%,
    # asserted at 4 sigma per group (deterministic md5 hashing: a
    # fixed measurement).
    from etl_macropulse_br_spark.operators.sketches import (
        hll_distinct_by,
    )

    sigma_hll = 1.04 / (1 << 10) ** 0.5
    sizes = [10, 100, 1_000, 10_000, 100_000]
    gdf = None
    for n in sizes:
        part = spark.range(2 * n).select(
            F.lit(f"g{n}").alias("grp"),
            (F.col("id") % n).alias("uid"),
        )
        gdf = part if gdf is None else gdf.unionByName(part)
    hll_by = {
        r["grp"]: r["est_distinct"]
        for r in hll_distinct_by(gdf, "uid", ["grp"], b=10).collect()
    }
    hll_rows = {}
    for n in sizes:
        rel = abs(hll_by[f"g{n}"] - n) / n
        hll_rows[f"n{n}"] = {
            "est": round(hll_by[f"g{n}"], 1),
            "rel_err": round(rel, 4),
            "sigmas": round(rel / sigma_hll, 2),
        }
        assert rel <= 4 * sigma_hll, (n, hll_by[f"g{n}"])
        print(
            f"{'hll_by_err n=' + str(n):26s} {hll_by[f'g{n}']:10.1f}"
            f" rel={rel:7.4f} ({rel / sigma_hll:4.2f} sigma,"
            f" bound {sigma_hll:.4f})"
        )
    hll_rows["theoretical_sigma"] = round(sigma_hll, 5)
    results["hll_by_error_bound"] = hll_rows

    print(json.dumps({"sf_dir": sf_dir, "max_k": max_k, "results": results}))


if __name__ == "__main__":
    main()
