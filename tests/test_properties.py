"""Property-based tests (hypothesis) for the parsing expressions and
determinism traps — SURVEY §5.2. All cases are batched into single
Spark jobs to keep runtime sane."""

from __future__ import annotations

import datetime

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_macropulse_br_spark.functions.exprs import (
    parse_ptbr_number,
    ptbr_format_number,
)
from etl_macropulse_br_spark.operators.gold import build_gold_bcb_monthly
from etl_macropulse_br_spark.operators.silver import dedup_keep_first


def test_ptbr_roundtrip_property(spark):
    # generate many cases up-front, evaluate in ONE job
    values = [
        round(x, 2)
        for x in (
            0.0, 0.01, 0.1, 1.0, 999.99, 1000.0, 1234.56, 1_234_567.89,
            -1.5, -1234.56, 55131.0, 0.07, 10.10, 99999999.99,
        )
    ]
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    out = df.select(
        "x", parse_ptbr_number(ptbr_format_number("x")).alias("y")
    ).collect()
    for r in out:
        assert r["y"] == r["x"], (r["x"], r["y"])


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),          # series_id
            st.dates(
                min_value=datetime.date(2024, 1, 1),
                max_value=datetime.date(2024, 6, 30),
            ),
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_gold_invariant_under_row_order(rows):
    """Gold aggregate is a pure function of the row SET — any input
    permutation/partitioning yields identical output (trap #1/#2)."""
    # hypothesis shrinks fast; reuse one session via the global
    from etl_macropulse_br_spark.session import get_spark

    spark = get_spark(app_name="props", master="local[4]", shuffle_partitions=4)
    base = spark.createDataFrame(
        [(sid, "s", d, v) for sid, d, v in rows],
        ["series_id", "series_name", "date", "value"],
    )
    a = sorted(map(tuple, build_gold_bcb_monthly(base).collect()))
    scrambled = base.repartition(5).sortWithinPartitions(F.rand(seed=7))
    b = sorted(map(tuple, build_gold_bcb_monthly(scrambled).collect()))
    assert a == b


def test_repetition_stats_match_python_oracle(spark):
    """The hashed-token repetition plan (r3: bigram = affine combine
    of adjacent token md5s) must reproduce the straightforward
    token-level definition — hash collisions aside, which a 32-bit
    space makes negligible at this vocabulary size. Batched into one
    job."""
    from etl_macropulse_br_spark.operators.text import repetition_stats

    docs = {
        1: "a a a a b",                      # heavy top word
        2: "x y x y x y",                    # repeated bigrams
        3: "one two three four five",        # all unique
        4: "solo",                           # single token, no bigram
        5: "p q p q r s p",                  # mixed
    }
    df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for doc_id, text in docs.items():
        toks = text.split()
        counts = {t: toks.count(t) for t in set(toks)}
        bgs = [(a, b) for a, b in zip(toks, toks[1:])]
        r = got[doc_id]
        assert r["top_word_ratio"] == max(counts.values()) / len(toks)
        assert r["uniq_token_ratio"] == len(counts) / len(toks)
        expect_bg = (
            (len(bgs) - len(set(bgs))) / len(bgs) if bgs else 0.0
        )
        assert r["dup_bigram_ratio"] == expect_bg


def test_dedup_keep_first_is_min_under_order(spark):
    rows = [(k % 4, f"o{(k * 7) % 11}", float(k)) for k in range(40)]
    df = spark.createDataFrame(rows, ["k", "o", "v"])
    out = dedup_keep_first(df, keys=["k"], order=["o", "v"])
    got = {(r["k"], r["o"], r["v"]) for r in out.collect()}
    want = set()
    for k in {r[0] for r in rows}:
        want.add(min(((r[1], r[2]) for r in rows if r[0] == k)))
    assert {(k_o_v[0]) for k_o_v in got} == {r[0] for r in rows}
    for k, o, v in got:
        assert (o, v) == min((r[1], r[2]) for r in rows if r[0] == k)


def test_scaled_matches_round_semantics(spark):
    """_scaled's shift-then-truncate must equal F.round(x*s, 0) —
    half away from zero — across signs, .5 boundaries, and
    representative finite-decimal money/measure values."""
    import random

    from etl_macropulse_br_spark.plans.queries import _scaled

    rng = random.Random(42)
    vals = [
        0.0, 0.005, -0.005, 2.5, -2.5, 2.675, -2.675,
        0.49999999999999994, -0.49999999999999994,
        9999.99, -999.99, 123456.78, -123456.78,
    ]
    vals += [round(rng.uniform(-10000, 10000), 2) for _ in range(500)]
    vals += [round(rng.uniform(-1, 1), 4) for _ in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    for scale in (100, 10000):
        bad = (
            df.select(
                _scaled(F.col("x"), scale).alias("fast"),
                F.round(F.col("x") * scale, 0).cast("bigint").alias("ref"),
            )
            .filter(F.col("fast") != F.col("ref"))
            .count()
        )
        assert bad == 0, f"scale={scale}: {bad} mismatches"


_WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(_WORDS), min_size=1, max_size=25
        ).map(" ".join),
        min_size=1,
        max_size=12,
    ),
    data=st.data(),
)
def test_chunk_dedup_properties(docs, data):
    """Invariants of exact-substring chunk removal, for any corpus:

    - clean_text is the original token stream with zero or more
      whole chunks deleted (verified by chunk-level replay);
    - a doc whose every chunk is corpus-unique comes back verbatim;
    - n_dropped + surviving chunk count == n_chunks;
    - identical docs always empty each other out completely.
    """
    from etl_macropulse_br_spark.operators.dedup import chunk_dedup_clean
    from etl_macropulse_br_spark.session import get_spark

    k = data.draw(st.sampled_from([2, 3, 10]))
    spark = get_spark(app_name="props", profile="small-input")
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in chunk_dedup_clean(df, chunk_tokens=k).collect()
    }

    # python replay of the same semantics
    def chunks_of(text):
        toks = text.split()
        n = max(-(-len(toks) // k), 1)
        return [" ".join(toks[i * k : (i + 1) * k]) for i in range(n)]

    from collections import defaultdict

    seen_in = defaultdict(set)
    for i, t in enumerate(docs):
        for c in chunks_of(t):
            seen_in[c].add(i)
    for i, t in enumerate(docs):
        cs = chunks_of(t)
        expect_kept = [c for c in cs if len(seen_in[c]) < 2]
        r = out[i]
        assert r["n_chunks"] == len(cs)
        assert r["n_dropped"] == len(cs) - len(expect_kept)
        assert r["clean_text"] == " ".join(expect_kept)


@settings(max_examples=4, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(_WORDS[:4]), min_size=1, max_size=30
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_span_dedup_properties(docs):
    """Sliding span removal invariants for any corpus: python replay
    of the covered-position semantics matches exactly (count and
    reassembled text), short docs untouched."""
    from collections import defaultdict

    from etl_macropulse_br_spark.operators.dedup import span_dedup_clean
    from etl_macropulse_br_spark.session import get_spark

    K = 10
    spark = get_spark(app_name="props", profile="small-input")
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in span_dedup_clean(df).collect()}

    grams = defaultdict(set)
    for i, t in enumerate(docs):
        toks = t.split()
        for p in range(len(toks) - K + 1):
            grams[" ".join(toks[p : p + K])].add(i)
    for i, t in enumerate(docs):
        toks = t.split()
        starts = [
            p
            for p in range(len(toks) - K + 1)
            if len(grams[" ".join(toks[p : p + K])]) >= 2
        ]
        cov = set()
        for p in starts:
            cov.update(range(p, p + K))
        r = out[i]
        assert r["n_tokens"] == len(toks)
        assert r["n_spans"] == len(starts)
        assert r["n_removed"] == len(cov)
        assert r["clean_text"] == " ".join(
            tok for j, tok in enumerate(toks) if j not in cov
        )
