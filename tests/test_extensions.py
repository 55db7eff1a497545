"""Tests for the training-data extension operators: dedup,
similarity, text analysis."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_macropulse_br_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash,
)
from etl_macropulse_br_spark.operators.similarity import cosine_topk, ivf_topk
from etl_macropulse_br_spark.operators.text import (
    fingerprint,
    language_id,
    quality_features,
    token_count,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "THE  QUICK brown fox jumps over the lazy dog"),  # exact dup of 1 (normalized)
        (4, "completely different text about spark engines"),
        (5, "el la de que y la de el la de"),                 # spanish markers
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    out = exact_dedup(docs).collect()
    by_keep = {r["keep_id"]: r["n_dups"] for r in out}
    assert by_keep[1] == 2      # docs 1 and 3 collapse (case/whitespace norm)
    assert by_keep[2] == 1
    assert len(out) == 4


def test_minhash_near_dups_finds_overlap(docs):
    pairs = minhash_near_dups(docs, threshold=0.5, k=16, bands=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 3) in found      # identical after normalization (jaccard 1.0)
    # near-dup 1~2 differs in last token only; 3-shingle jaccard ≈ 6/8
    assert (1, 2) in found or (2, 3) in found
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_lsh_candidates_subset_of_pairs(docs):
    cands = minhash_lsh_candidates(docs, k=16, bands=8)
    verified = ngram_jaccard_pairs(docs, cands)
    rows = verified.collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in rows)


def test_simhash_similarity_property(docs):
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
    assert out[1] == out[3]     # identical normalized text → identical sketch
    ham_near = bin(out[1] ^ out[2]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near < ham_far   # near-dup closer than unrelated doc


def test_quality_and_tokens(docs, spark):
    q = {r["doc_id"]: r for r in quality_features(docs).collect()}
    assert q[1]["word_count"] == 9
    assert q[1]["uniq_word_ratio"] == pytest.approx(8 / 9)
    assert q[5]["stopword_ratio"] > q[4]["stopword_ratio"]
    [tc] = (
        spark.createDataFrame([("a  b   c",)], ["text"])
        .select(token_count("text").alias("n"))
        .collect()
    )
    assert tc["n"] == 3


def test_language_id(docs):
    out = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "es"


def test_fingerprint_normalization(docs):
    out = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert out[1] == out[3]
    assert out[1] != out[2]


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(vectors):
    out = cosine_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 4]
    assert out[0]["cosine"] == pytest.approx(1.0)


def test_cosine_topk_pandas_matches_expr_path(vectors):
    from etl_macropulse_br_spark.operators.similarity import cosine_topk_pandas

    q = [1.0, 0.0, 0.0, 0.0]
    expr_path = cosine_topk(vectors, q, k=3).collect()
    pandas_path = cosine_topk_pandas(vectors, q, k=3).collect()
    assert [r["vec_id"] for r in pandas_path] == [r["vec_id"] for r in expr_path]
    for a, b in zip(expr_path, pandas_path):
        assert b["cosine"] == pytest.approx(a["cosine"], abs=1e-12)


def test_ivf_topk_contains_nearest(vectors):
    out = ivf_topk(
        vectors, [1.0, 0.0, 0.0, 0.0], k=2, n_cells=3, n_probe=3
    ).collect()
    # probing all cells → exact result
    assert [r["vec_id"] for r in out] == [0, 1]


def test_srp_banded_buckets_shrink():
    """The banded OR-construction must bound bucket sizes: more
    planes per band → exponentially smaller buckets than the earlier
    single-band form, which is what keeps the within-bucket self-join
    sub-quadratic at corpus scale. Pure-python over the real testdata
    embeddings (the planes are data-independent literals)."""
    from collections import Counter

    import numpy as np
    import pyarrow.parquet as pq

    from etl_macropulse_br_spark.operators.dedup import srp_signs

    tbl = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    vecs = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
    )
    dim = vecs.shape[1]

    def buckets(plane_ids):
        signs = np.asarray([srp_signs(p, dim) for p in plane_ids])  # (P, dim)
        bits = (vecs @ signs.T) >= 0  # (n, P)
        return bits @ (1 << np.arange(len(plane_ids)))

    # old single-band construction: 6 planes, one band
    single = Counter(buckets(range(6)))
    # banded: 3 bands x 8 planes (the shipped defaults)
    banded_max = max(
        Counter(buckets(range(b * 8, b * 8 + 8))).most_common(1)[0][1]
        for b in range(3)
    )
    assert banded_max < single.most_common(1)[0][1]


def test_embedding_near_dups_pairs_verified(spark):
    from etl_macropulse_br_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = embedding_near_dups(
        emb, threshold=0.3, n_bands=3, n_planes=8, dim=64
    ).collect()
    assert rows, "construction should surface candidate pairs"
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert all(r["cosine"] >= 0.3 for r in rows)
    # dedup across bands: no pair reported twice
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_kmv_distinct_sketch(spark):
    """KMV estimate: exact below k distinct values; within ~3/sqrt(k)
    relative error above (64 mins → ~37% bound at 3 sigma; the fixed
    seedless hash makes the draw deterministic, so the tolerance can
    be asserted tightly for THIS input); plan uses a distributed
    bottom-k (TakeOrdered), no global sort."""
    from etl_macropulse_br_spark.operators.sketches import kmv_distinct

    small = spark.createDataFrame(
        [(i % 10,) for i in range(100)], ["v"]
    )
    r = kmv_distinct(small, "v", k=64).collect()[0]
    assert r["n_kept"] == 10 and r["est_distinct"] == 10.0

    big = spark.createDataFrame([(i,) for i in range(5000)], ["v"])
    r = kmv_distinct(big, "v", k=64).collect()[0]
    assert r["n_kept"] == 64
    assert abs(r["est_distinct"] - 5000) / 5000 < 0.4
    plan = (
        kmv_distinct(big, "v", k=64)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_salted_join_spreads_hot_key(spark):
    """The salted join must actually spread a hot key: the physical
    plan joins on (key, salt) — so one key's rows hash across n_salt
    partitions — and the result equals the plain join."""
    from etl_macropulse_br_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(0, float(i)) for i in range(500)] + [(7, 1.0), (9, 2.0)],
        ["k", "value"],
    )
    dim = spark.createDataFrame(
        [(0, "hot"), (7, "a"), (9, "b")], ["k", "seg"]
    )
    out = salted_join(fact, dim, on="k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, "join must carry the salt key"
    got = sorted((r["k"], r["value"], r["seg"]) for r in out.collect())
    want = sorted(
        (r["k"], r["value"], r["seg"])
        for r in fact.join(dim, "k").collect()
    )
    assert got == want


def test_winnow_fingerprints_shared_run_and_density(spark):
    """Two documents sharing a long token run must share at least one
    fingerprint drawn FROM that run; selection must be sparse (less
    than the full shingle set) and deterministic."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, f"unique one two three {shared} xx yy zz"),
            (2, f"{shared} completely different tail here now"),
            (3, "tiny doc"),  # fewer shingles than the window
        ],
        ["doc_id", "text"],
    )
    from etl_macropulse_br_spark.operators.dedup import (
        shingle_hash_rows,
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(docs, id_col="doc_id", n_shingle=3, w=4)
    by_doc = {
        i: {r["fp"] for r in rows}
        for i, rows in (
            (i, fps.filter(F.col("id") == i).collect()) for i in (1, 2, 3)
        )
    }
    assert by_doc[1] & by_doc[2], "shared run must yield shared fingerprints"
    # the tiny doc still gets its global-min fingerprint
    assert len(by_doc[3]) == 1

    n_shingles = (
        shingle_hash_rows(docs, id_col="doc_id", n_shingle=3)
        .filter(F.col("id") == 1)
        .count()
    )
    assert 0 < len(by_doc[1]) < n_shingles  # sparse, non-empty

    # deterministic under re-computation
    again = {
        r["fp"]
        for r in winnow_fingerprints(docs, id_col="doc_id", n_shingle=3, w=4)
        .filter(F.col("id") == 1)
        .collect()
    }
    assert again == by_doc[1]


def test_language_id_ngram_classifies_real_sentences(spark):
    from etl_macropulse_br_spark.operators.text import language_id_ngram

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumped over the lazy dog and the cat"),
            (2, "el perro que corre en la calle de la ciudad es rapido"),
            (3, "der Hund und die Katze sind schnell und klein"),
            (4, "le chat et les chiens sont dans la maison avec les enfants"),
            (5, "a situação de são paulo que da informação dos dados"),
            (6, ""),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["pred_lang_ngram"]
        for r in language_id_ngram(docs).collect()
    }
    assert got == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "pt", 6: "und"}


def test_bm25_topk_relevance_ordering(spark):
    from etl_macropulse_br_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark runs fast"),
            (2, "spark data pipeline"),
            (3, "data data data table store"),
            (4, "completely unrelated words here"),
            (5, "data lake"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, ["spark", "data"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    # docs without any query term never appear
    assert 4 not in ids
    # doc 2 has BOTH terms (rare spark + data) -> ranks above
    # data-only docs; spark-heavy doc 1 beats data-heavy doc 3
    # because 'spark' is rarer (higher idf)
    assert ids.index(1) < ids.index(3)
    assert ids.index(2) < ids.index(3)
    scores = {r["doc_id"]: r["score"] for r in out}
    assert all(s > 0 for s in scores.values())
    # tf saturation: tripled tf must not triple the score
    assert scores[1] < 3 * scores[2]


def test_bm25_corpus_stats_count_equals_split_size(spark):
    """r17: the corpus-stats pass computes dl as
    regexp_count(trim(text), \\s+) + 1 instead of materializing the
    token array and taking size(). Pin the exact-integer identity
    size(split(lower(trim(s)), \\s+)) == regexp_count(trim(s), \\s+) + 1
    on an adversarial edge set (split keeps leading/trailing empty
    fields, so the field count is always matches + 1; \\s+ cannot
    match empty; lower() never moves whitespace), and that the
    operator's collected (n_docs, avgdl) literals — which the score
    formula and the oracle hash depend on — are unchanged."""
    from pyspark.sql import functions as F

    rows = [
        (1, ""),
        (2, " "),
        (3, "   \t\n  "),
        (4, "a"),
        (5, " a"),
        (6, "a "),
        (7, "a  b\tc\nd"),
        (8, "\t\ta\t\t"),
        (9, "olá  mundo"),
        (10, None),
        (11, "x " * 50),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    per = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("a"),
            (
                F.regexp_count(F.trim("text"), F.lit(r"\s+")) + F.lit(1)
            ).alias("b"),
        )
        .collect()
    )
    assert per and all(r["a"] == r["b"] for r in per), per
    # operator-level: stats job runs at plan-build; identical ranking
    # on an input that exercises null text and whitespace-only docs
    from etl_macropulse_br_spark.operators.text import bm25_topk

    out = bm25_topk(
        docs.union(
            spark.createDataFrame(
                [(20, "spark data"), (21, "spark spark")],
                "doc_id long, text string",
            )
        ),
        ["spark", "data"],
        k=5,
        persist_tf=False,
    ).collect()
    assert [r["doc_id"] for r in out][:2] == [20, 21]


def test_repetition_stats_flags_repetitious_docs(spark):
    from etl_macropulse_br_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "a perfectly normal sentence with distinct words"),
            (3, "one"),  # single token: no bigrams at all
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got[1]["top_word_ratio"] == 1.0
    assert abs(got[1]["dup_bigram_ratio"] - 2 / 3) < 1e-12
    assert got[1]["uniq_token_ratio"] == 0.25
    assert got[2]["top_word_ratio"] < 0.2
    assert got[2]["dup_bigram_ratio"] == 0.0
    assert got[3]["dup_bigram_ratio"] == 0.0  # coalesced, not null
    assert got[3]["uniq_token_ratio"] == 1.0


def test_pii_scrub_redacts_and_counts(spark):
    from etl_macropulse_br_spark.operators.text import pii_scrub

    rows = [
        (0, "mail a.b+tag@sub.example.co.uk now"),
        (1, "server at 192.168.0.1 and 8.8.8.8"),
        (2, "call +55 (11) 91234-5678 today"),
        (3, "two mails x@y.io and z@w.dev plus 10.0.0.7"),
        (4, "no pii here at all"),
        (5, "version 1.2.3 is not an ip, 1234 not a phone"),
        # r4 (ADVICE): 7 digits spread over a >=9-char span — the old
        # span-length pattern redacted this; the digit-count anchor
        # (8-15 digits) must not
        (6, "scores 1 2 3 4 5 6 7 end"),
        # documented residual false positive (see PII_PATTERNS
        # comment): a date-time carries >=8 digits with listed
        # separators; excluding it needs lookaround, which RE2 lacks
        (7, "meeting 2026-08-13 21 room"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}

    assert out[0]["email_count"] == 1 and "<EMAIL>" in out[0]["text"]
    assert "@" not in out[0]["text"]
    assert out[1]["ipv4_count"] == 2 and out[1]["text"].count("<IP>") == 2
    assert out[2]["phone_count"] == 1 and "<PHONE>" in out[2]["text"]
    assert not any(ch.isdigit() for ch in out[2]["text"])
    assert out[3]["email_count"] == 2 and out[3]["ipv4_count"] == 1
    assert out[4]["text"] == "no pii here at all"
    assert (
        out[4]["email_count"]
        == out[4]["ipv4_count"]
        == out[4]["phone_count"]
        == 0
    )
    # 1.2.3 lacks a fourth octet; a lone 4-digit run is too short
    assert out[5]["ipv4_count"] == 0 and out[5]["phone_count"] == 0
    assert out[6]["phone_count"] == 0 and out[6]["text"] == rows[6][1]
    assert out[7]["phone_count"] == 1  # documented FP, pinned


def test_dup_clusters_label_propagation(spark):
    """Connected components over a pair graph: a path A-B-C collapses
    to min-id survivor A even though (A, C) is not a pair; separate
    components keep separate labels; every node appears exactly
    once."""
    from etl_macropulse_br_spark.operators.dedup import dup_clusters
    from etl_macropulse_br_spark.operators.util import (
        unpersist_candidates,
    )

    pairs = spark.createDataFrame(
        # component {1,2,3} as a path; {10,11}; {20,21,22} as a star
        [(2, 3), (1, 2), (10, 11), (20, 21), (20, 22)],
        ["id_a", "id_b"],
    )
    try:
        got = {
            r["node"]: (r["cluster"], r["keep"])
            for r in dup_clusters(pairs).collect()
        }
    finally:
        unpersist_candidates()
    assert got == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        10: (10, True),
        11: (10, False),
        20: (20, True),
        21: (20, False),
        22: (20, False),
    }


def test_dup_clusters_long_path_converges(spark):
    """A 9-node path is the diameter worst case — label propagation
    must still reach the fixpoint (min id at the far end)."""
    from etl_macropulse_br_spark.operators.dedup import dup_clusters
    from etl_macropulse_br_spark.operators.util import (
        unpersist_candidates,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    try:
        rows = dup_clusters(pairs).collect()
    finally:
        unpersist_candidates()
    assert {r["cluster"] for r in rows} == {0}
    assert sum(r["keep"] for r in rows) == 1


def test_dup_clusters_nonconvergence_raises(spark):
    """max_iter exhausted before fixpoint must raise, never hand back
    a partial labeling that looks like extra survivors (r4 ADVICE)."""
    import pytest

    from etl_macropulse_br_spark.operators.dedup import dup_clusters
    from etl_macropulse_br_spark.operators.util import (
        unpersist_candidates,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            dup_clusters(pairs, max_iter=2).collect()
    finally:
        unpersist_candidates()


def test_decontaminate_flags_ngram_overlap(spark):
    """A training doc sharing a 3-token shingle with the eval corpus
    is flagged; docs with no shared trigram are not; every training
    doc appears exactly once."""
    from etl_macropulse_br_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),   # shares "the quick brown"
            (2, "completely unrelated content here"),
            (3, "short"),                            # < n tokens: partial shingle
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, "benchmark asks about the quick brown fox")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(train, eval_df).collect()
    }
    assert got == {1: True, 2: False, 3: False}

    # an eval doc repeated verbatim in training must flag
    train2 = train.union(
        spark.createDataFrame(
            [(4, "benchmark asks about the quick brown fox")],
            ["doc_id", "text"],
        )
    )
    got2 = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(train2, eval_df).collect()
    }
    assert got2[4] is True


def test_hashed_linear_score_matches_python_reference(spark):
    """The scan-speed hashed-linear scorer must equal a pure-python
    reference: mean of integer weights indexed by the portable token
    hash — bit-identical (integer sum, one double division)."""
    import hashlib

    from etl_macropulse_br_spark.operators.text import (
        hashed_linear_score,
        model_weights,
    )

    def base32_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) & 0xFFFFFFFF

    w = model_weights(1024, "qw")
    rows = [
        (1, "the quick brown fox"),
        (2, "Mixed  CASE   and   spacing"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["model_score"], r["keep"])
        for r in hashed_linear_score(df).collect()
    }
    for doc_id, text in rows:
        toks = " ".join(text.lower().strip().split()).split(" ")
        s = sum(w[base32_py(t) % 1024] for t in toks)
        score = s / (1000.0 * len(toks))
        assert got[doc_id][0] == score, (doc_id, got[doc_id][0], score)
        assert got[doc_id][1] == (score > 0.0)


def test_cc_survivors_stronger_than_pair_loser(spark):
    """The motivating case: pairs (2,3) and (1,3) — doc 2 is nobody's
    id_b, so pair-loser dropping keeps {1, 2}; connected components
    keep exactly the cluster minimum {1}."""
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame([(2, 3), (1, 3)], ["id_a", "id_b"])
    all_docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 9)], ["doc_id"])

    pair_loser_kept = {
        r["doc_id"]
        for r in all_docs.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).collect()
    }
    assert pair_loser_kept == {1, 2, 9}  # 2 survives incorrectly

    clusters = dup_clusters(pairs)
    losers = clusters.filter(~F.col("keep")).select(
        F.col("node").alias("doc_id")
    )
    cc_kept = {
        r["doc_id"]
        for r in all_docs.join(losers, "doc_id", "left_anti").collect()
    }
    assert cc_kept == {1, 9}  # one survivor per cluster + singleton


def test_dup_clusters_plan_matches_iterative(spark):
    """The lazy bounded-round CC (declared-contract-safe) must equal
    the checkpointed iterative CC at its fixpoint — on the pair-loser
    counterexample graph, a clique, and the real LSH pair graph."""
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.dedup import (
        dup_clusters,
        dup_clusters_plan,
        minhash_near_dups,
    )
    from etl_macropulse_br_spark.operators.util import unpersist_candidates
    from etl_macropulse_br_spark.sources.files import load_table

    def as_set(df):
        return {
            (r["node"], r["cluster"], r["keep"]) for r in df.collect()
        }

    graphs = [
        [(2, 3), (1, 3)],                      # pair-loser counterexample
        [(i, j) for i in range(5) for j in range(i + 1, 5)],  # clique
        [(i, i + 1) for i in range(5)],        # path, diameter 5 < 6
    ]
    try:
        for g in graphs:
            pairs = spark.createDataFrame(g, ["id_a", "id_b"])
            assert as_set(dup_clusters_plan(pairs)) == as_set(
                dup_clusters(pairs)
            )
        # the real declared-gate graph: LSH pairs over sf0.001 docs
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        pairs = minhash_near_dups(
            docs, threshold=0.5, persist_candidates=False
        ).select("id_a", "id_b")
        assert as_set(dup_clusters_plan(pairs)) == as_set(
            dup_clusters(pairs)
        )
    finally:
        unpersist_candidates()


def test_dup_clusters_plan_undermerges_past_round_bound(spark):
    """Documented limitation: a component with diameter > rounds is
    left split by the lazy variant (the iterative one raises
    instead) — pin it so the bound is a visible contract, not a
    silent surprise."""
    from etl_macropulse_br_spark.operators.dedup import dup_clusters_plan
    from etl_macropulse_br_spark.operators.util import unpersist_candidates

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    try:
        labels = {
            r["node"]: r["cluster"]
            for r in dup_clusters_plan(pairs, rounds=2).collect()
        }
    finally:
        unpersist_candidates()
    assert len(set(labels.values())) > 1  # 9-path not merged in 2 rounds


# ------------------------------------------------------------------
# r5: boilerplate coverage + exact-ntile stats


def test_boilerplate_stats_flags_template_docs(spark):
    from etl_macropulse_br_spark.operators.text import boilerplate_stats

    template = "all rights reserved click here to subscribe now"
    rows = [
        (1, template),
        (2, template),
        (3, template),
        (4, template + " plus unique trailing content here"),
        (5, "entirely original writing with no shared phrases at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in boilerplate_stats(docs).collect()}
    # docs 1-3: every 3-shingle shared by >= 3 docs → frac 1.0, flagged
    for d in (1, 2, 3):
        assert out[d]["boilerplate_frac"] == 1.0
        assert out[d]["boilerplate"] is True
    # doc 4 shares the template prefix shingles but not the tail
    assert 0.0 < out[4]["boilerplate_frac"] < 1.0
    # doc 5 shares nothing
    assert out[5]["n_common"] == 0
    assert out[5]["boilerplate"] is False
    # coverage denominator: n_tokens - 2 shingle positions
    assert out[5]["n_shingles"] == 9 - 2


def test_boilerplate_short_doc_partial_shingle(spark):
    from etl_macropulse_br_spark.operators.text import boilerplate_stats

    # docs shorter than the shingle width keep one partial shingle
    rows = [(1, "hi"), (2, "hi"), (3, "hi"), (4, "yo")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in boilerplate_stats(docs).collect()}
    assert out[1]["n_shingles"] == 1 and out[1]["boilerplate"] is True
    assert out[4]["n_shingles"] == 1 and out[4]["n_common"] == 0


def _naive_ntile_stats(spark, vals, k):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["id", "v"]
    )
    w = Window.orderBy("v", "id")
    return {
        r["bucket"]: (r["n_rows"], r["mn"], r["mx"])
        for r in df.select("v", F.ntile(k).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }


@pytest.mark.parametrize(
    "vals,k",
    [
        ([0.31, -0.2, 0.05, 0.05, 0.05, 0.44, -0.9], 10),  # n < k, ties
        ([(i * 37 % 23) / 10.0 - 1.0 for i in range(23)], 10),  # n=23
        ([0.5] * 12, 4),  # all-equal multiset
        ([(i * 101 % 97) / 50.0 for i in range(97)], 7),  # n=97, k=7
    ],
)
def test_exact_ntile_stats_matches_window_ntile(spark, vals, k):
    from etl_macropulse_br_spark.operators.features import exact_ntile_stats

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["id", "v"]
    )
    got = {
        r["bucket"]: (r["n_rows"], r["min_val"], r["max_val"])
        for r in exact_ntile_stats(df, "v", n_tiles=k).collect()
    }
    assert got == _naive_ntile_stats(spark, vals, k)


# r5: exact-substring (disjoint-chunk) span removal


def test_chunk_dedup_removes_cross_doc_chunks(spark):
    """A 10-token chunk shared verbatim by two docs is dropped from
    BOTH; unique chunks survive; a doc with no duplicated chunk is
    returned untouched."""
    from etl_macropulse_br_spark.operators.dedup import chunk_dedup_clean

    shared = "a b c d e f g h i j"  # exactly one 10-token chunk
    docs = spark.createDataFrame(
        [
            (1, shared + " unique one tail"),
            (2, shared + " other suffix here"),
            (3, "totally different words that never repeat anywhere else"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in chunk_dedup_clean(docs).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_dropped"] == 1
    assert out[1]["clean_text"] == "unique one tail"
    assert out[2]["clean_text"] == "other suffix here"
    assert out[3]["n_dropped"] == 0
    assert (
        out[3]["clean_text"]
        == "totally different words that never repeat anywhere else"
    )


def test_chunk_dedup_within_doc_repeat_not_dropped(spark):
    """min_docs=2 counts DISTINCT docs: the same chunk twice inside
    one doc is not corpus duplication and must survive."""
    from etl_macropulse_br_spark.operators.dedup import chunk_dedup_clean

    c = "p q r s t u v w x y"
    docs = spark.createDataFrame(
        [(1, c + " " + c)], "doc_id long, text string"
    )
    row = chunk_dedup_clean(docs).collect()[0]
    assert row["n_chunks"] == 2 and row["n_dropped"] == 0
    assert row["clean_text"] == c + " " + c


def test_chunk_dedup_fully_duplicated_doc_empties(spark):
    """Two identical short docs collapse to empty clean_text (every
    chunk is shared), and the partial (<10-token) trailing chunk
    participates like any other chunk."""
    from etl_macropulse_br_spark.operators.dedup import chunk_dedup_clean

    text = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in chunk_dedup_clean(docs).collect()}
    for d in (1, 2):
        assert out[d]["n_chunks"] == 2  # 10 + 2-token partial
        assert out[d]["n_dropped"] == 2
        assert out[d]["clean_text"] == ""


def test_span_dedup_catches_any_offset(spark):
    """The sliding form catches a shared 10-token run at DIFFERENT
    offsets in each doc — the case disjoint chunks miss — and
    removes exactly the covered tokens."""
    from etl_macropulse_br_spark.operators.dedup import (
        chunk_dedup_clean,
        span_dedup_clean,
    )

    run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    docs = spark.createDataFrame(
        [
            # run starts at token 0
            (1, run + " tailone tailtwo"),
            # run starts at token 3: crosses the 10-token chunk border
            (2, "pre1 pre2 pre3 " + run + " posttail"),
            (3, "free words with no shared run at all here now"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in span_dedup_clean(docs).collect()}
    assert out[1]["n_spans"] == 1 and out[1]["n_removed"] == 10
    assert out[1]["clean_text"] == "tailone tailtwo"
    assert out[2]["n_spans"] == 1 and out[2]["n_removed"] == 10
    assert out[2]["clean_text"] == "pre1 pre2 pre3 posttail"
    assert out[3]["n_removed"] == 0

    # the disjoint-chunk approximation misses this offset pairing
    chunk = {r["doc_id"]: r for r in chunk_dedup_clean(docs).collect()}
    assert chunk[1]["n_dropped"] == 0 and chunk[2]["n_dropped"] == 0


def test_span_dedup_overlapping_hits_merge_coverage(spark):
    """Two overlapping duplicated grams cover the union of their
    ranges, not double-counted; short docs pass through."""
    from etl_macropulse_br_spark.operators.dedup import span_dedup_clean

    run11 = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11"  # 11 tokens -> 2 grams
    docs = spark.createDataFrame(
        [
            (1, run11 + " endbit"),
            (2, run11 + " otherend"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in span_dedup_clean(docs).collect()}
    assert out[1]["n_spans"] == 2
    assert out[1]["n_removed"] == 11  # union of [0,10) and [1,11)
    assert out[1]["clean_text"] == "endbit"
    assert out[3]["n_spans"] == 0 and out[3]["clean_text"] == "tiny doc"


def test_collated_dedup_groups_case_insensitively(spark):
    """UTF8_LCASE collation groups case variants without a lowered
    copy; whitespace still normalizes first."""
    from etl_macropulse_br_spark.plans.queries import (
        docs_exact_dedup_collated,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "hello world"),
            (3, "HELLO WORLD "),
            (4, "different"),
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("_collate_docs")
    # call the operator body directly on the frame
    from pyspark.sql import functions as F

    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    out = {
        r["keep_id"]: r["n_dups"]
        for r in docs.groupBy(
            F.collate(norm, "UTF8_LCASE").alias("t")
        )
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .collect()
    }
    assert out == {1: 3, 4: 1}
    del docs_exact_dedup_collated


def test_token_entropy_known_values(spark):
    """Entropy of a uniform 4-token doc is exactly 2 bits; of an
    all-same doc, 0; repeated-token docs fall between."""
    import math

    from etl_macropulse_br_spark.operators.text import token_entropy

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),            # uniform over 4 -> 2 bits
            (2, "x x x x"),            # single symbol -> 0
            (3, "a a b"),              # H(2/3,1/3)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in token_entropy(docs).collect()}
    assert out[1]["token_entropy_bits"] == 2.0
    assert out[1]["n_distinct"] == 4
    assert out[2]["token_entropy_bits"] == 0.0
    expect3 = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert abs(out[3]["token_entropy_bits"] - round(expect3, 9)) < 1e-9


def test_bigram_surprisal_add_one_lm_hand_computed(spark):
    """Corpus: 'a b', 'a b', 'a c', 'solo'. Vocab V=4 (a,b,c,solo),
    c(a)=3; P(b|a)=(2+1)/(3+4)=3/7 -> log2(7/3) bits;
    P(c|a)=(1+1)/7 -> log2(7/2); a one-token doc scores 0 over 0
    bigrams."""
    import math

    from etl_macropulse_br_spark.operators.text import bigram_surprisal

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_surprisal(docs).collect()}
    assert out[1]["avg_surprisal_bits"] == round(math.log2(7 / 3), 9)
    assert out[2]["avg_surprisal_bits"] == round(math.log2(7 / 3), 9)
    assert out[3]["avg_surprisal_bits"] == round(math.log2(7 / 2), 9)
    assert out[4]["n_bigrams"] == 0
    assert out[4]["avg_surprisal_bits"] == 0.0


def test_knn_hard_negatives_excludes_same_label(spark):
    """The top hard negative is the most similar DIFFERENT-label
    vector, even when a same-label vector is closer; every anchor
    with a blocked different-label candidate appears."""
    from etl_macropulse_br_spark.operators.similarity import (
        knn_hard_negatives,
    )

    dim = 4
    # v0 ~ v1 (same label) ~ v2 (other label); v3 far, other label
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),
        (2, [0.95, 0.2, 0.0, 0.0], 1),
        (3, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = knn_hard_negatives(
        emb, k=1, n_bands=3, n_planes=2, dim=dim
    ).collect()
    by_anchor = {r["vec_id"]: r for r in out}
    # anchor 0's nearest different-label vector is 2 (not same-label 1)
    assert by_anchor[0]["neighbor_id"] == 2
    assert by_anchor[0]["neighbor_label"] == 1
    # anchor 2's hard negative is one of the label-0 cluster
    assert by_anchor[2]["neighbor_label"] == 0


def test_containment_catches_subdocument_duplication(spark):
    """A short doc fully quoted inside a long one: Jaccard is small
    (large union) but containment short->long is 1.0; unrelated docs
    never pair; the rare-shingle df cap excludes boilerplate-only
    overlap."""
    from etl_macropulse_br_spark.operators.dedup import containment_pairs

    quoted = "alpha beta gamma delta epsilon zeta"
    long_doc = (
        "intro words here " + quoted + " closing remarks with extra tokens"
    )
    docs = spark.createDataFrame(
        [
            (1, quoted),
            (2, long_doc),
            (3, "entirely unrelated content about something else now"),
        ],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in rows}
    assert set(pairs) == {(1, 2)}
    r = pairs[(1, 2)]
    assert r["containment_a"] == 1.0        # all of doc 1's shingles in doc 2
    assert r["containment_b"] < 0.5         # but doc 2 is mostly its own


def test_span_keep_first_within_doc_and_winner_survives(spark):
    """Keep-first policy: a run repeated WITHIN one doc loses its
    second occurrence (symmetric span_dedup keeps both — within-doc
    repeats aren't cross-corpus dups there); across docs exactly the
    corpus-first occurrence survives."""
    from etl_macropulse_br_spark.operators.dedup import (
        span_dedup_clean,
        span_dedup_keep_first,
    )

    run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            (1, run + " middlebit " + run),   # intra-doc repeat
            (2, "prefix " + run + " suffix"), # later cross-doc copy
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in span_dedup_keep_first(docs).collect()
    }
    # doc 1: first occurrence kept, second removed
    assert out[1]["clean_text"] == run + " middlebit"
    assert out[1]["n_removed"] == 10
    # doc 2's copy is not the global first -> removed
    assert out[2]["clean_text"] == "prefix suffix"

    # contrast: the symmetric variant drops ALL occurrences
    sym = {r["doc_id"]: r for r in span_dedup_clean(docs).collect()}
    assert sym[1]["clean_text"] == "middlebit"
    assert sym[2]["clean_text"] == "prefix suffix"


def test_span_tokens_guard_rejects_unsupported_widths(spark):
    """The affine gram hash has exactly 10 coefficients; a wider
    span would silently hash only the first 10 tokens (prefix-match
    false dups). Both span variants must fail loudly instead."""
    from etl_macropulse_br_spark.operators.dedup import (
        span_dedup_clean,
        span_dedup_keep_first,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for fn in (span_dedup_clean, span_dedup_keep_first):
        with pytest.raises(ValueError, match="span_tokens"):
            fn(docs, span_tokens=11)
        with pytest.raises(ValueError, match="span_tokens"):
            fn(docs, span_tokens=0)


def test_banded_hamming_guard_rejects_zero_width_bands(spark):
    """max_hamming + 1 > bits would floor band_width to 0 — every
    sketch in one bucket per band, quadratic self-join. Fail fast."""
    from etl_macropulse_br_spark.operators.dedup import banded_hamming_pairs

    sk = spark.createDataFrame([(1, 5)], "id long, sketch long")
    with pytest.raises(ValueError, match="pigeonhole"):
        banded_hamming_pairs(sk, bits=8, max_hamming=8)


def test_banded_hamming_pairs_signed_64_bit_sketches(spark):
    """64-bit sketches are negative longs: a single full-width band
    (max_hamming=0) uses the all-ones mask, and narrower bands mask
    off the arithmetic shift's sign fill."""
    from etl_macropulse_br_spark.operators.dedup import banded_hamming_pairs

    sk = spark.createDataFrame(
        [(1, -5), (2, -5), (3, -6), (4, 5)], "id long, sketch long"
    )

    def pairs(max_hamming):
        return sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in banded_hamming_pairs(sk, 64, max_hamming).collect()
        )

    assert pairs(0) == [(1, 2, 0)]
    assert pairs(2) == [(1, 2, 0), (1, 3, 1), (2, 3, 1)]


def test_span_keep_first_winner_not_clipped_by_overlapping_gram(spark):
    """Winner protection (r6): doc 1 holds the WINNER copy of gram G
    (= a0..a9) and a NON-WINNER copy of gram H (= a3..a12, winner in
    doc 0) overlapping it. H's removal range [3,13) must not clip
    G's winner tokens [0,10): only tokens 10-12 are deleted and the
    winner survives verbatim."""
    from etl_macropulse_br_spark.operators.dedup import (
        span_dedup_keep_first,
    )

    a = [f"a{i}" for i in range(13)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(a[3:13])),   # H winner (corpus-first)
            (1, " ".join(a[0:13])),   # G winner at [0,10); H copy at [3,13)
            (2, " ".join(a[0:10])),   # G copy -> fully removed
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in span_dedup_keep_first(docs).collect()
    }
    assert out[0]["n_removed"] == 0
    assert out[0]["clean_text"] == " ".join(a[3:13])
    # pre-r6 greedy removal deleted [3,13) -> clean was "a0 a1 a2"
    assert out[1]["clean_text"] == " ".join(a[0:10])
    assert out[1]["n_removed"] == 3
    assert out[1]["n_spans_removed"] == 1
    assert out[2]["clean_text"] == ""
    assert out[2]["n_removed"] == 10


def test_span_keep_first_repeated_token_doc_keeps_full_span(spark):
    """A doc of one token repeated 30x: every gram is identical, the
    winner is pos 0, and protection keeps the FULL first 10-token
    span (pre-r6 the overlapping removals [1,30) clipped it to one
    token)."""
    from etl_macropulse_br_spark.operators.dedup import (
        span_dedup_keep_first,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(["z"] * 30))], "doc_id long, text string"
    )
    [r] = span_dedup_keep_first(docs).collect()
    assert r["clean_text"] == " ".join(["z"] * 10)
    assert r["n_removed"] == 20


def test_containment_blocking_recall_on_planted_subdocs(spark):
    """Characterize rare-shingle blocking recall (df 2..max_df)
    against brute-force containment on a seeded corpus:

    - 12 planted sub-documents (contiguous slices of longer docs)
      share df=2 shingles with their host -> blocking must find
      every one (recall 1.0 on discriminative overlap), even with a
      high-df boilerplate phrase stamped on half the corpus.
    - the verify stage is exact, so found pairs must be a SUBSET of
      brute-force pairs (precision 1.0).
    - a doc whose ONLY overlap is the boilerplate phrase (df >>
      max_df) is provably missed — the df cap that bounds the
      inverted-index join at C(max_df,2) pairs/shingle trades away
      exactly this pure-boilerplate recall, pinned here so the
      bound is documented, not silent."""
    import random

    from etl_macropulse_br_spark.operators.dedup import containment_pairs

    rng = random.Random(61)
    vocab = [f"w{i}" for i in range(500)]
    boiler = "terms of service apply here"
    docs, texts = [], {}

    def add(doc_id, text):
        docs.append((doc_id, text))
        texts[doc_id] = text

    for i in range(40):  # long docs; half carry the boilerplate
        toks = [rng.choice(vocab) for _ in range(30)]
        if i % 2 == 0:
            toks += boiler.split()
        add(i, " ".join(toks))
    for j in range(12):  # planted contiguous slices of docs 0..11
        host = texts[j].split()
        start = rng.randrange(0, 15)
        add(100 + j, " ".join(host[start:start + rng.randrange(8, 16)]))
    add(200, boiler)  # pure-boilerplate doc: only high-df overlap

    df = spark.createDataFrame(docs, "doc_id long, text string")
    found = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs(df, threshold=0.5).collect()
    }

    # brute force over the same normalization/shingle/score spec
    def shingles(text):
        toks = text.strip().lower().split()
        n = max(len(toks) - 2, 1)
        return {" ".join(toks[p:p + 3]) for p in range(n)}

    sh = {d: shingles(t) for d, t in texts.items()}
    ids = sorted(sh)
    true = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sh[a] & sh[b])
            if inter and max(
                inter / len(sh[a]), inter / len(sh[b])
            ) >= 0.5:
                true.add((a, b))

    assert found <= true  # exact verify: no false positives
    planted = {p for p in true if 200 not in p}
    assert len(planted) >= 12  # every slice really is a true pair
    missed = planted - found
    assert not missed, f"blocking missed discriminative pairs: {missed}"
    # the pure-boilerplate containments exist but are unfindable
    # under the df cap — the documented recall bound
    boiler_pairs = {p for p in true if 200 in p}
    assert boiler_pairs and not (boiler_pairs & found)


def test_dsir_weights_rank_target_domain_higher(spark):
    """DSIR sanity: docs built from the target domain's vocabulary
    get a strictly higher log-likelihood-ratio weight than
    off-domain docs; output is deterministic across runs."""
    from etl_macropulse_br_spark.operators.text import dsir_log_weights

    on = "alpha beta gamma delta alpha beta gamma"
    off = "omega psi chi phi omega psi chi"
    docs = spark.createDataFrame(
        [
            (1, on), (2, on + " epsilon"), (3, off), (4, off + " nu"),
            (5, "alpha beta omega psi gamma chi"),  # mixed
        ],
        "doc_id long, text string",
    )
    target = docs.filter(docs.doc_id.isin(1, 2))
    out = {
        r["doc_id"]: r
        for r in dsir_log_weights(docs, target).collect()
    }
    assert out[1]["log2_weight"] > out[5]["log2_weight"] > out[3]["log2_weight"]
    assert out[2]["log2_weight"] > out[4]["log2_weight"]
    assert out[1]["n_feats"] == 6  # bigrams of a 7-token doc
    again = {
        r["doc_id"]: r["log2_weight"]
        for r in dsir_log_weights(docs, target).collect()
    }
    assert again == {k: v["log2_weight"] for k, v in out.items()}


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_span_keep_first_one_intact_copy_survives(spark, seed):
    """Corpus-level invariant of winner protection: EVERY
    corpus-duplicated 10-gram still appears verbatim in at least
    one cleaned doc (the protected corpus-first copy), on random
    repetitive corpora designed to produce overlapping hits."""
    import random

    from etl_macropulse_br_spark.operators.dedup import (
        span_dedup_keep_first,
    )

    rng = random.Random(seed)
    # docs are concatenations of a few SHARED multi-token phrases
    # plus unique filler — consecutive shared phrases produce
    # duplicated >=10-token runs at varied offsets with overlaps
    phrases = [
        [f"p{j}w{i}" for i in range(rng.randrange(5, 9))]
        for j in range(4)
    ]
    docs = []
    for i in range(12):
        toks: list[str] = []
        for _ in range(rng.randrange(2, 5)):
            if rng.random() < 0.75:
                toks += rng.choice(phrases)
            else:
                toks += [f"u{i}x{n}" for n in range(rng.randrange(1, 4))]
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cleaned = {
        r["doc_id"]: r["clean_text"]
        for r in span_dedup_keep_first(df).collect()
    }
    # duplicated grams (occurrence-counted, like the operator)
    from collections import Counter

    k = 10
    occ = Counter()
    for _, text in docs:
        toks = text.lower().split()
        for p in range(max(len(toks) - k + 1, 0)):
            occ[" ".join(toks[p:p + k])] += 1
    dup_grams = [g for g, c in occ.items() if c >= 2]
    assert dup_grams, "corpus must actually contain duplicated grams"
    for g in dup_grams:
        assert any(
            g in f" {c} " or c == g or c.startswith(g + " ")
            or c.endswith(" " + g)
            for c in cleaned.values()
        ), f"no intact copy of duplicated gram survived: {g!r}"


def test_srp_banding_recall_on_planted_near_dups(spark):
    """SRP banding recall, measured: 20 planted ~0.999-cosine pairs
    among noise. The hyperplanes are fixed literals, so which pairs
    collide is DETERMINISTIC — measure recall of the banded
    candidate stage against the planted truth and pin it high
    (theory for 3 bands x 8 planes at cos ~0.999:
    1-(1-p^8)^3 with p = 1 - theta/pi ~ 0.99, i.e. ~1.0), plus
    exact-verify precision on what survives."""
    import random

    from etl_macropulse_br_spark.operators.dedup import embedding_near_dups

    rng = random.Random(83)
    dim = 32
    rows, planted, vid = [], [], 0
    for _ in range(20):
        base = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((vid, base))
        rows.append(
            (vid + 1, [x + rng.uniform(-0.005, 0.005) for x in base])
        )
        planted.append((vid, vid + 1))
        vid += 2
    for _ in range(60):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(dim)]))
        vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    found = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            emb, threshold=0.99, n_bands=3, n_planes=8, dim=dim
        ).collect()
    }
    recall = len(found & set(planted)) / len(planted)
    assert recall >= 0.9, (recall, sorted(set(planted) - found))
    # precision: exact verify keeps only true >= threshold pairs
    for a, b in found:
        va = dict(rows)[a]
        vb = dict(rows)[b]
        dot = sum(x * y for x, y in zip(va, vb))
        na = sum(x * x for x in va) ** 0.5
        nb = sum(x * x for x in vb) ** 0.5
        assert dot / (na * nb) >= 0.99 - 1e-9


def test_bloom_decontamination_no_false_negatives(spark):
    """The Bloom scale path must flag a SUPERSET of the exact
    variant (no false negatives — structural, pinned on the real
    corpus where both run), and at the default sizing the measured
    doc-level false-positive count on this corpus is zero."""
    from etl_macropulse_br_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    exact = {
        r["doc_id"]: r["contaminated"] for r in decontaminate(tr, ev).collect()
    }
    bloom = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_bloom(tr, ev).collect()
    }
    assert set(exact) == set(bloom)
    assert sum(exact.values()) > 0  # the corpus really is contaminated
    assert not [d for d in exact if exact[d] and not bloom[d]]  # no FN
    fps = [d for d in exact if not exact[d] and bloom[d]]
    assert len(fps) == 0  # measured at default 64Kbit / 4 hashes


def test_bloom_decontamination_tiny_filter_overremoves_safely(spark):
    """Undersized filter (256 bits): false positives appear but
    never false negatives — the only failure mode is over-removal,
    as the docstring contract states."""
    from etl_macropulse_br_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    exact = {
        r["doc_id"]: r["contaminated"] for r in decontaminate(tr, ev).collect()
    }
    bloom = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_bloom(tr, ev, n_bits=256).collect()
    }
    assert not [d for d in exact if exact[d] and not bloom[d]]  # no FN
    assert sum(bloom.values()) > sum(exact.values())  # saturated -> FPs


def test_hybrid_rrf_semantics(spark):
    """RRF fusion: a doc present in BOTH lists outranks docs present
    in one (at comparable ranks); single-list docs keep exactly that
    list's 1/(c+rank) contribution; ranks are deterministic."""
    from etl_macropulse_br_spark.operators.similarity import hybrid_rrf

    lex = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0)], "doc_id long, score double"
    )
    sem = spark.createDataFrame(
        [(2, 0.99), (4, 0.98), (1, 0.97)], "doc_id long, cosine double"
    )
    out = hybrid_rrf(lex, sem, k=10, c=60).collect()
    by_id = {r["doc_id"]: r for r in out}
    # both-lists docs first: 2 (lex#2 + sem#1) then 1 (lex#1 + sem#3)
    assert [r["doc_id"] for r in out[:2]] == [2, 1]
    assert by_id[2]["rrf_score"] == 1 / 62 + 1 / 61
    assert by_id[1]["rrf_score"] == 1 / 61 + 1 / 63
    # single-list docs carry one term and a NULL rank for the other
    assert by_id[3]["sem_rank"] is None
    assert by_id[3]["rrf_score"] == 1 / 63
    assert by_id[4]["lex_rank"] is None
    assert by_id[4]["rrf_score"] == 1 / 62
    assert len(out) == 4


def test_contamination_report_consistent_with_boolean_flags(spark):
    """The report's train_id set must equal decontaminate's
    contaminated=true set over the same corpora, and
    n_shared_shingles must count the shared DISTINCT shingle set
    (a repeated shingle in the train doc counts once)."""
    from etl_macropulse_br_spark.operators.dedup import (
        contamination_report,
        decontaminate,
    )

    eval_df = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps high"),
            (101, "entirely different benchmark content here"),
        ],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # shares two distinct trigrams with eval 100, one of them
            # REPEATED (must still count once)
            (1, "the quick brown fox the quick brown fox jumps"),
            (2, "no overlap with anything at all"),
            # shares with BOTH eval docs
            (3, "different benchmark content here and the quick brown fox"),
        ],
        "doc_id long, text string",
    )
    rep = contamination_report(train, eval_df).collect()
    pairs = {
        (r["train_id"], r["eval_id"]): r["n_shared_shingles"] for r in rep
    }
    flagged = {
        r["doc_id"]
        for r in decontaminate(train, eval_df).collect()
        if r["contaminated"]
    }
    assert {t for t, _ in pairs} == flagged == {1, 3}
    # doc 1 vs eval 100: distinct shared trigrams are
    # "the quick brown", "quick brown fox", "brown fox jumps" (the
    # repeat adds "fox the quick" etc. which eval lacks) -> 3
    assert pairs[(1, 100)] == 3
    assert (1, 101) not in pairs
    assert pairs[(3, 101)] >= 2 and pairs[(3, 100)] >= 2


def test_hll_accuracy_and_mergeability(spark):
    """The portable HLL must (a) estimate within the standard error
    envelope on a known-cardinality corpus, (b) produce MERGEABLE
    registers: sketch(A union B) == elementwise-max(sketch(A),
    sketch(B)) — the property that lets partial sketches combine at
    any scale without re-scanning."""
    from etl_macropulse_br_spark.operators.sketches import (
        hll_distinct,
        hll_registers,
    )

    n = 5000
    df = spark.createDataFrame(
        [(f"user-{i}",) for i in range(n)] * 2, "u string"
    )  # every value twice: HLL must count distincts, not rows
    b = 10  # m=1024 -> rel. std error ~1.04/sqrt(1024) = 3.25%
    est = hll_distinct(df, "u", b=b).collect()[0]["est_distinct"]
    assert abs(est - n) / n < 0.12  # < ~3.7 sigma

    a = spark.createDataFrame([(f"user-{i}",) for i in range(3000)], "u string")
    bb = spark.createDataFrame(
        [(f"user-{i}",) for i in range(2000, n)], "u string"
    )
    union_regs = {
        (r["j"], r["M"]) for r in hll_registers(a.union(bb), "u", b=b).collect()
    }
    ra = {r["j"]: r["M"] for r in hll_registers(a, "u", b=b).collect()}
    rb = {r["j"]: r["M"] for r in hll_registers(bb, "u", b=b).collect()}
    merged = {
        (j, max(ra.get(j, 0), rb.get(j, 0))) for j in set(ra) | set(rb)
    }
    assert union_regs == merged


def test_hll_exercises_both_estimator_branches(spark):
    """Small cardinality (zero registers present) must take the
    linear-counting branch; near-m cardinality the raw branch —
    both ends of the correction are live in the suite."""
    from etl_macropulse_br_spark.operators.sketches import hll_distinct

    small = spark.createDataFrame([(f"x{i}",) for i in range(20)], "u string")
    r = hll_distinct(small, "u", b=8).collect()[0]
    assert r["n_zero_registers"] > 0
    assert r["est_distinct"] != round(r["raw_est"], 6)
    assert abs(r["est_distinct"] - 20) < 6

    big = spark.createDataFrame(
        [(f"y{i}",) for i in range(60000)], "u string"
    )
    r2 = hll_distinct(big, "u", b=8).collect()[0]
    # 60000 >> 2.5 * 256 -> raw estimator branch
    assert r2["est_distinct"] == round(r2["raw_est"], 6)
    assert abs(r2["est_distinct"] - 60000) / 60000 < 0.25


def test_hll_per_group_rolls_up_to_global_sketch(spark):
    """hll_distinct_by's register state must roll up: max-merging
    every group's registers yields EXACTLY the global sketch's
    registers — the keep-monthly-tables, answer-any-period property.
    Per-group estimates also sit in the accuracy envelope."""
    from etl_macropulse_br_spark.operators.sketches import (
        hll_distinct_by,
        hll_registers,
    )
    from pyspark.sql import functions as F

    rows = [(f"u{i}", f"g{i % 3}") for i in range(4000)]
    df = spark.createDataFrame(rows, "u string, g string")
    b = 8
    per_group = hll_distinct_by(df, "u", ["g"], b=b).collect()
    assert len(per_group) == 3
    for r in per_group:
        true_n = len({u for u, g in rows if g == r["g"]})
        assert abs(r["est_distinct"] - true_n) / true_n < 0.25, r

    # roll-up: rebuild per-group registers, max-merge, compare global
    merged: dict[int, int] = {}
    for g in ("g0", "g1", "g2"):
        regs = hll_registers(
            df.filter(F.col("g") == g), "u", b=b
        ).collect()
        for r in regs:
            merged[r["j"]] = max(merged.get(r["j"], 0), r["M"])
    global_regs = {
        r["j"]: r["M"] for r in hll_registers(df, "u", b=b).collect()
    }
    assert merged == global_regs


def test_cms_conservative_overestimate_and_merge(spark):
    """CMS guarantees: (a) est >= true count for EVERY item, exact
    for heavy items at adequate width; (b) cell-wise ADDITION of two
    sketches equals the sketch of the concatenated input."""
    import random

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.sketches import (
        cms_point_estimates,
        cms_sketch,
    )

    rng = random.Random(5)
    vocab = [f"tok{i}" for i in range(300)]
    rows_a = [(rng.choice(vocab),) for _ in range(3000)] + [("hot",)] * 500
    rows_b = [(rng.choice(vocab),) for _ in range(2000)] + [("hot",)] * 250
    a = spark.createDataFrame(rows_a, "v string")
    b = spark.createDataFrame(rows_b, "v string")
    both = a.union(b)

    true_counts = {}
    for v, in rows_a + rows_b:
        true_counts[v] = true_counts.get(v, 0) + 1
    items = ["hot"] + vocab[:10] + ["never-seen"]
    est = {
        r["item"]: r["est_count"]
        for r in cms_point_estimates(both, "v", items, w=2048, d=4).collect()
    }
    for it in items:
        assert est[it] >= true_counts.get(it, 0), it
    assert est["hot"] == 750  # heavy item exact at this width
    assert est["never-seen"] <= 30  # collision noise only

    # mergeability: sum of cells == cells of union
    def cells(df):
        return {
            (r["r"], r["pos"]): r["cnt"]
            for r in cms_sketch(df, "v", w=2048, d=4).collect()
        }

    ca, cb, cu = cells(a), cells(b), cells(both)
    merged = {}
    for k, v in list(ca.items()) + list(cb.items()):
        merged[k] = merged.get(k, 0) + v
    assert merged == cu


def test_fuzz_oracle_subset(spark):
    """One seed of the randomized cross-engine differential
    (tools/fuzz_oracle.py) over a representative query subset —
    edge-case text (empty/unicode/whitespace-runs/case-dups),
    planted duplicate vectors, resampled events. The full sweep (83
    queries x several seeds) runs via the tool; this keeps one seed
    wired into CI."""
    from tools.fuzz_oracle import run

    subset = {
        "docs_exact_dedup",
        "docs_near_dups",
        "docs_simhash",
        "docs_text_stats",
        "docs_lang_id_ngram",
        "docs_mixture_balance",
        "docs_dsir_sample",
        "docs_cms_token_counts",
        "embedding_near_dups",
        "embedding_pq_batch_topk",
        "events_hll_by_type",
        "dedup_first_event",
    }
    passed, failed, skipped, _ = run(11, 80, 24, only=subset)
    assert not failed, failed
    assert len(passed) >= 10


def test_incremental_near_dups_equals_full_corpus_pass(spark):
    """The incremental result must be consistent with a full-corpus
    near-dup pass: every (new, match) pair it reports appears in
    minhash_near_dups(base ∪ new) with the same jaccard, and every
    full-pass pair touching a new doc appears incrementally (with
    intra-increment pairs pointing at the smaller id)."""
    from etl_macropulse_br_spark.operators.dedup import (
        incremental_near_dups,
        minhash_near_dups,
    )
    from pyspark.sql import functions as F

    base_rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely unrelated text about macro economics here"),
        (3, "another distinct base document with its own words"),
    ]
    new_rows = [
        (11, "the quick brown fox jumps over the lazy dog today"),   # dup of base 1
        (12, "fresh unique content that matches nothing at all"),
        (13, "fresh unique content that matches nothing at all"),    # intra dup of 12
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    inc = {
        (r["new_id"], r["match_id"]): (r["from_base"], r["jaccard"])
        for r in incremental_near_dups(new, base, threshold=0.5).collect()
    }
    assert inc[(11, 1)][0] is True and inc[(11, 1)][1] == 1.0
    assert inc[(13, 12)][0] is False and inc[(13, 12)][1] == 1.0
    assert all(k in {(11, 1), (13, 12)} for k in inc)

    full = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): r["jaccard"]
        for r in minhash_near_dups(
            base.union(new), threshold=0.5, persist_candidates=False
        ).collect()
    }
    new_ids = {11, 12, 13}
    full_touching_new = {
        k: v for k, v in full.items() if k[0] in new_ids
    }
    assert {k: v[1] for k, v in inc.items()} == full_touching_new


def test_hll_ignores_null_values(spark):
    """NULL values must not poison the estimator (r8): unfiltered,
    md5(NULL) produced a null register row and est_distinct=None.
    Both engines now ignore nulls (like engine-native
    approx_count_distinct); a group whose values are ALL null
    contributes no per-group row — the sketched analogue of a group
    countDistinct of 0."""
    import duckdb

    from etl_macropulse_br_spark.operators.sketches import (
        hll_distinct,
        hll_distinct_by,
        hll_distinct_sql,
    )

    rows = [("g1", "a"), ("g1", "b"), ("g1", None), ("g2", None)]
    df = spark.createDataFrame(rows, "g string, v string")
    r = hll_distinct(df, "v", b=8).collect()[0]
    clean = hll_distinct(df.filter("v IS NOT NULL"), "v", b=8).collect()[0]
    assert tuple(r) == tuple(clean)
    assert r["est_distinct"] is not None
    assert abs(r["est_distinct"] - 2) < 0.1

    by = hll_distinct_by(df, "v", ["g"], b=8).collect()
    assert [x["g"] for x in by] == ["g1"]  # all-null group absent

    con = duckdb.connect()
    con.execute("CREATE TABLE t (v VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?)", [("a",), ("b",), (None,), (None,)]
    )
    d = con.execute(hll_distinct_sql("t", "v", b=8)).fetchone()
    assert d == (
        r["m"],
        r["n_present_registers"],
        r["n_zero_registers"],
        r["raw_est"],
        r["est_distinct"],
    )


def test_cms_quote_escaping_and_empty_items(spark):
    """An item containing a single quote must not break out of the
    oracle's VALUES literal, and an empty item list raises on BOTH
    twins instead of diverging (Spark returned an empty frame while
    the SQL was a parse error) — r8."""
    import duckdb
    import pytest

    from etl_macropulse_br_spark.operators.sketches import (
        cms_point_estimates,
        cms_point_estimates_sql,
    )

    items = ["o'brien", "plain"]
    data = [("o'brien",), ("o'brien",), ("plain",), ("x",)]
    df = spark.createDataFrame(data, "v string")
    est = {
        r["item"]: r["est_count"]
        for r in cms_point_estimates(df, "v", items, w=64, d=2).collect()
    }
    assert est["o'brien"] >= 2 and est["plain"] >= 1

    con = duckdb.connect()
    con.execute("CREATE TABLE t (v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", data)
    sql = cms_point_estimates_sql("t", "v", items, w=64, d=2)
    assert dict(con.execute(sql).fetchall()) == est

    with pytest.raises(ValueError):
        cms_point_estimates(df, "v", [])
    with pytest.raises(ValueError):
        cms_point_estimates_sql("t", "v", [])


def test_cosine_topk_pandas_null_vectors_match_expr_path(spark):
    """A NULL vector crashed the Arrow batch's matrix build (ragged
    np.asarray); it now yields a NULL cosine row exactly like the
    expression path — NOT NaN, which would sort FIRST under Spark's
    desc ordering (NaN > any double) while null sorts last (r8)."""
    from etl_macropulse_br_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_pandas,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.5, 0.5, 0.0]),
        (2, None),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.2, 0.0]
    # k > corpus so the null-cosine row is IN the result on both paths
    expr = cosine_topk(df, q, k=10).collect()
    pand = cosine_topk_pandas(df, q, k=10).collect()
    assert [r["vec_id"] for r in expr] == [r["vec_id"] for r in pand]
    assert expr[-1]["cosine"] is None and pand[-1]["cosine"] is None
    for a, b in zip(expr, pand):
        if a["cosine"] is not None:
            assert abs(a["cosine"] - b["cosine"]) < 1e-12


def test_incremental_near_dups_precomputed_sig_identical(spark, tmp_path):
    """The persisted-signature path (base_sig=) must be row-identical
    to the recompute path — including a parquet ROUND-TRIP of the
    signature table, since that is the format ingest_increment.py
    persists (r8; closes the r7 verdict's What's-wrong #1: candidate
    generation previously re-hashed the entire base text every
    increment)."""
    import pytest

    from etl_macropulse_br_spark.operators.dedup import (
        incremental_near_dups,
        minhash_signature_table,
    )

    base_rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely unrelated text about macro economics here"),
        (3, "another distinct base document with its own words"),
    ]
    new_rows = [
        (11, "the quick brown fox jumps over the lazy dog today"),
        (12, "fresh unique content that matches nothing at all"),
        (13, "fresh unique content that matches nothing at all"),
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    idx = str(tmp_path / "sig_index")
    minhash_signature_table(base).write.parquet(idx)
    loaded = spark.read.parquet(idx)

    recompute = sorted(
        map(tuple, incremental_near_dups(new, base, threshold=0.5).collect())
    )
    presig = sorted(
        map(
            tuple,
            incremental_near_dups(
                new, base, threshold=0.5, base_sig=loaded
            ).collect(),
        )
    )
    assert recompute == presig and len(presig) == 2

    with pytest.raises(ValueError, match="base_sig"):
        incremental_near_dups(
            new, base, base_sig=loaded.drop("m0")
        )

    # r9 guard (ADVICE r8 #4): a signature table built with a LARGER
    # k (extra m-columns) belongs to a different hash family — must
    # be rejected, not silently prefix-banded
    bigger = minhash_signature_table(base, k=24)
    with pytest.raises(ValueError, match="different k"):
        incremental_near_dups(new, base, base_sig=bigger)


def test_ingest_increment_cli_equals_full_pass(spark, tmp_path):
    """The daily-crawl loop closed (r8): sf0.001 documents split into
    two halves, ingested as two increments through the CLI's run()
    (bootstrap run, then a run whose candidate generation reads the
    PERSISTED signature index) — the union of the two runs' match
    sets must equal one full-corpus minhash_near_dups pass
    (normalized to (larger, smaller)), and every surviving doc is
    exactly a doc with no match."""
    from scripts.ingest_increment import run

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half1 = docs.filter("doc_id < 250").select("doc_id", "text")
    half2 = docs.filter("doc_id >= 250").select("doc_id", "text")
    b1 = str(tmp_path / "b1.parquet")
    b2 = str(tmp_path / "b2.parquet")
    half1.write.parquet(b1)
    half2.write.parquet(b2)

    state = str(tmp_path / "state")
    m1 = run(spark, b1, state, str(tmp_path / "out1"), threshold=0.5)
    m2 = run(spark, b2, state, str(tmp_path / "out2"), threshold=0.5)
    assert m1["n_prior_batches"] == 0 and m2["n_prior_batches"] == 1
    assert m2["n_corpus_docs"] == 500

    # r9 guard (ADVICE r8 #3): rerunning a COMPLETED batch is
    # rejected — it would double-record the path and double-count
    # the corpus
    import pytest

    with pytest.raises(ValueError, match="already"):
        run(spark, b2, state, str(tmp_path / "out2_again"), threshold=0.5)

    inc_pairs = {}
    for out in ("out1", "out2"):
        for r in spark.read.parquet(
            str(tmp_path / out / "matches")
        ).collect():
            inc_pairs[(r["new_id"], r["match_id"])] = r["jaccard"]

    from etl_macropulse_br_spark.operators.dedup import minhash_near_dups

    full = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): r["jaccard"]
        for r in minhash_near_dups(
            docs.select("doc_id", "text"),
            threshold=0.5,
            persist_candidates=False,
        ).collect()
    }
    assert full, "corpus should contain near-dup pairs at 0.5"
    assert inc_pairs == full

    surv = set()
    for out in ("out1", "out2"):
        surv |= {
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / out / "survivors")
            ).collect()
        }
    dropped = {a for a, _ in inc_pairs}
    assert surv == {r["doc_id"] for r in docs.collect()} - dropped


def test_sketch_error_bounds_measured(spark):
    """The sketches' ESTIMATOR quality bounds, measured rather than
    cited (r8 stretch; the hash gate pins exactness, not accuracy):
    HLL relative error within 3x the theoretical 1.04/sqrt(m) on a
    seeded known-cardinality corpus, and CMS overestimates in
    [0, 2N/w] for every queried item (the Cormode-Muthukrishnan
    per-item bound; deterministic here because the md5 family makes
    the whole sketch reproducible)."""
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.sketches import (
        cms_point_estimates,
        hll_distinct,
    )

    b = 10
    sigma = 1.04 / ((1 << b) ** 0.5)
    n_true = 20_000
    vals = spark.range(3 * n_true).select(
        F.concat(F.lit("u"), (F.col("id") % n_true)).alias("v")
    )
    est = hll_distinct(vals, "v", b=b).collect()[0]["est_distinct"]
    assert abs(est - n_true) / n_true <= 3 * sigma

    w, d, vocab, n_tok = 1024, 4, 800, 60_000
    toks = spark.range(n_tok).select(
        F.concat(F.lit("t"), (F.col("id") % vocab)).alias("tok")
    )
    items = [f"t{i}" for i in range(20)] + ["never-seen"]
    per_item = n_tok // vocab
    for r in cms_point_estimates(toks, "tok", items, w=w, d=d).collect():
        true = per_item if r["item"] != "never-seen" else 0
        over = r["est_count"] - true
        assert 0 <= over <= 2 * n_tok / w, (r["item"], over)


def test_kmv_set_ops_exact_and_estimated(spark):
    """kmv_set_ops (r8): (a) below k everything degenerates to the
    EXACT counts through the one shared formula — disjoint and
    overlapping small sets give exact union/intersection/Jaccard;
    (b) at scale (5k ∪ 5k, 50% overlap, k=256) every estimate lands
    within 5 standard errors (1/sqrt(k)) of truth — the measured
    Beyer et al. accuracy claim, deterministic under the md5 family;
    (c) nulls are ignored (distinct-count semantics, same rule as
    HLL/KMV after the r8 hardening); (d) a sketch frame LARGER than
    the k passed to kmv_set_ops_from_sketches fails loudly in-plan,
    also under an estimate-only projection (the checked count is
    embedded in the estimator, so column pruning cannot drop it)."""
    import pytest
    from pyspark.errors import SparkRuntimeException
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.sketches import (
        kmv_set_ops,
        kmv_set_ops_from_sketches,
        kmv_sketch,
    )

    # (a) exact regime: A = {a0..a9}, B = {a5..a14} -> inter 5, union 15
    a = spark.range(10).select(
        F.concat(F.lit("a"), F.col("id")).alias("v")
    )
    b = spark.range(5, 15).select(
        F.concat(F.lit("a"), F.col("id")).alias("v")
    )
    r = kmv_set_ops(a, b, "v", k=64).collect()[0]
    assert (r["n_a_kept"], r["n_b_kept"]) == (10, 10)
    assert r["est_union"] == 15.0
    assert r["est_intersection"] == 5.0
    assert abs(r["jaccard_kmv"] - 5 / 15) < 1e-12

    # nulls ignored on both sides
    an = a.unionByName(
        spark.range(3).select(F.lit(None).cast("string").alias("v"))
    )
    rn = kmv_set_ops(an, b, "v", k=64).collect()[0]
    assert (rn["n_a_kept"], rn["est_union"]) == (10, 15.0)

    # (b) estimator regime: |A|=5000, |B|=5000, |A∩B|=2500
    big_a = spark.range(5000).select(
        F.concat(F.lit("x"), F.col("id")).alias("v")
    )
    big_b = spark.range(2500, 7500).select(
        F.concat(F.lit("x"), F.col("id")).alias("v")
    )
    k = 256
    se = 1.0 / (k**0.5)
    e = kmv_set_ops(big_a, big_b, "v", k=k).collect()[0]
    assert abs(e["est_distinct_a"] - 5000) <= 5 * se * 5000
    assert abs(e["est_distinct_b"] - 5000) <= 5 * se * 5000
    assert abs(e["est_union"] - 7500) <= 5 * se * 7500
    assert abs(e["est_intersection"] - 2500) <= 8 * se * 2500
    assert abs(e["jaccard_kmv"] - 2500 / 7500) <= 5 * se

    # (d) k-overflow guard
    fa, fb = kmv_sketch(big_a, "v", k), kmv_sketch(big_b, "v", k)
    with pytest.raises(SparkRuntimeException, match="exceeds k=32"):
        kmv_set_ops_from_sketches(fa, fb, 32).collect()
    with pytest.raises(SparkRuntimeException, match="exceeds k=32"):
        kmv_set_ops_from_sketches(fa, fb, 32).select(
            "est_distinct_a"
        ).collect()


def test_hdr_quantile_sketch_properties(spark):
    """hdr_histogram / hdr_quantiles (r8): (a) MERGEABILITY — the
    sketch of A ∪ B equals bucket-wise ADDITION of the two sketches
    (what makes it the at-scale percentile state: per-partition
    bucket tables sum, no re-scan); (b) the [lo, hi] bracket of
    every returned quantile CONTAINS the true rank value and the
    midpoint is within the 2^-(s+1) relative-error guarantee;
    (c) values below 2^s are answered EXACTLY; (d) a negative value
    fails the plan loudly instead of aliasing a positive bucket."""
    import math
    import random

    import pytest
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.sketches import (
        hdr_histogram,
        hdr_quantiles,
    )

    rng = random.Random(17)
    va = [int(rng.lognormvariate(7, 2.5)) for _ in range(4000)]
    vb = [int(rng.lognormvariate(10, 1.5)) for _ in range(4000)]
    s = 6
    da = spark.createDataFrame([(v,) for v in va], "v long")
    db = spark.createDataFrame([(v,) for v in vb], "v long")

    # (a) merge = bucket-wise addition
    ha = {r["bucket"]: (r["lo"], r["hi"], r["cnt"])
          for r in hdr_histogram(da, "v", s).collect()}
    hb = {r["bucket"]: (r["lo"], r["hi"], r["cnt"])
          for r in hdr_histogram(db, "v", s).collect()}
    merged = {}
    for src in (ha, hb):
        for b, (lo, hi, cnt) in src.items():
            if b in merged:
                assert merged[b][:2] == (lo, hi)  # lo/hi functional
                merged[b] = (lo, hi, merged[b][2] + cnt)
            else:
                merged[b] = (lo, hi, cnt)
    hu = {r["bucket"]: (r["lo"], r["hi"], r["cnt"])
          for r in hdr_histogram(da.unionByName(db), "v", s).collect()}
    assert hu == merged

    # (b) bracket + error bound on the union
    allv = sorted(va + vb)
    qs = (0.1, 0.5, 0.9, 0.99)
    for r in hdr_quantiles(
        da.unionByName(db), "v", qs, s
    ).collect():
        true = allv[max(1, math.ceil(r["q"] * len(allv))) - 1]
        assert r["lo"] <= true <= r["hi"]
        if true >= (1 << s):
            assert abs(r["est"] - true) / true < 2 ** -(s + 1) + 1e-12

    # (c) exact below 2^s
    small = spark.createDataFrame([(v,) for v in range(1, 33)], "v long")
    got = {r["q"]: r for r in hdr_quantiles(small, "v", (0.5,), s).collect()}
    assert got[0.5]["lo"] == got[0.5]["hi"] == got[0.5]["est"] == 16

    # (d) negative values refuse loudly
    neg = spark.createDataFrame([(5,), (-3,)], "v long")
    with pytest.raises(Exception, match="negative value"):
        hdr_histogram(neg, "v", s).collect()


def test_hdr_signed_sketch_properties(spark):
    """hdr_signed_* (r9 — the double/negative-domain member of the
    HDR family): (a) every bracket contains the true fixed-point
    rank value, midpoint within the 2^-(s+1) relative guarantee on
    |a| (plus the 1/scale quantum); (b) bucket order is value order
    across the sign boundary (a negative-heavy distribution's p10
    lands negative, p90 positive); (c) NaN and fixed-point overflow
    fail the plan loudly (Spark's non-ANSI floor would otherwise
    silently bucket NaN at zero / saturate infinities)."""
    import math
    import random

    import pytest

    from etl_macropulse_br_spark.operators.sketches import (
        hdr_signed_quantiles,
    )

    rng = random.Random(23)
    vals = [rng.gauss(0.0, 40.0) for _ in range(6000)] + [
        0.0,
        -0.004,
        123456.75,
        -98765.25,
    ]
    scale, s = 1000.0, 6
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    qs = (0.1, 0.5, 0.9)

    direct = sorted(
        map(tuple, hdr_signed_quantiles(df, "v", qs, scale, s).collect())
    )

    # (a) bracket + error bound against the true fixed-point ranks
    fixed = sorted(math.floor(v * scale) for v in vals)
    found_neg = found_pos = False
    for q, rank, n, lo, hi, est in direct:
        true = fixed[rank - 1]
        assert lo <= true <= hi, (q, lo, true, hi)
        if abs(true) >= (1 << s):
            assert abs(est * scale - true) / abs(true) < 2 ** -(s + 1) + 1e-9
        found_neg |= hi < 0
        found_pos |= lo > 0
    # (b) the gaussian-around-zero input must exercise BOTH stores
    assert found_neg and found_pos

    # (c) loud guards
    with pytest.raises(Exception, match="NaN"):
        hdr_signed_quantiles(
            spark.createDataFrame([(1.0,), (float("nan"),)], "v double"),
            "v",
        ).collect()
    with pytest.raises(Exception, match="2\\^62"):
        hdr_signed_quantiles(
            spark.createDataFrame([(1e30,)], "v double"), "v"
        ).collect()


def test_hdr_quantiles_by_group_isolation(spark):
    """hdr_quantiles_by (r8): per-group sketches are computed in
    isolation — each group's brackets contain that group's OWN true
    rank values (two groups with disjoint magnitude ranges would
    expose any cross-group bucket bleed), output is one row per
    (group, q), and a group whose values are all null emits no
    row."""
    import math
    import random

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.sketches import (
        hdr_quantiles_by,
    )

    rng = random.Random(23)
    rows = [("lo_grp", rng.randrange(1, 2_000)) for _ in range(3000)]
    rows += [("hi_grp", rng.randrange(1_000_000, 9_000_000))
             for _ in range(3000)]
    df = spark.createDataFrame(rows, "g string, v long").unionByName(
        spark.createDataFrame(
            [("null_grp", None)] * 5, "g string, v long"
        )
    )
    qs = (0.5, 0.95)
    out = hdr_quantiles_by(df, "v", ["g"], qs, s=6).collect()
    assert {r["g"] for r in out} == {"lo_grp", "hi_grp"}
    assert len(out) == 4
    truth = {
        g: sorted(v for gg, v in rows if gg == g)
        for g in ("lo_grp", "hi_grp")
    }
    for r in out:
        vals = truth[r["g"]]
        true = vals[max(1, math.ceil(r["q"] * len(vals))) - 1]
        assert r["lo"] <= true <= r["hi"], (r["g"], r["q"])
        assert r["n"] == 3000


def test_ingest_increment_crash_rerun_is_idempotent(spark, tmp_path):
    """Crash-recovery pin for the ingest loop: a run that died AFTER
    appending its signatures but BEFORE writing meta leaves stray
    copies of the batch's own signatures in the index. The rerun
    must produce EXACTLY the clean run's outputs — without the
    base_sig anti-join every new doc would match its stray self at
    jaccard 1.0 and survivors would come out empty."""
    from etl_macropulse_br_spark.operators.dedup import (
        minhash_signature_table,
    )
    from scripts.ingest_increment import run

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    b1 = str(tmp_path / "b1.parquet")
    b2 = str(tmp_path / "b2.parquet")
    docs.filter("doc_id < 250").write.parquet(b1)
    docs.filter("doc_id >= 250").write.parquet(b2)

    # clean reference run
    clean = str(tmp_path / "clean_state")
    run(spark, b1, clean, str(tmp_path / "c_out1"), threshold=0.5)
    run(spark, b2, clean, str(tmp_path / "c_out2"), threshold=0.5)

    # crashed run: batch 1 ingests, then batch 2's signatures land
    # WITHOUT a meta update (the crash window), then the rerun
    crashed = str(tmp_path / "crash_state")
    run(spark, b1, crashed, str(tmp_path / "x_out1"), threshold=0.5)
    minhash_signature_table(
        spark.read.parquet(b2).select("doc_id", "text"),
        n_shingle=3,
        k=16,
    ).write.mode("append").parquet(f"{crashed}/signatures")
    m = run(spark, b2, crashed, str(tmp_path / "x_out2"), threshold=0.5)
    assert m["n_survivors"] > 0

    for sub in ("matches", "survivors"):
        want = sorted(
            map(
                tuple,
                spark.read.parquet(
                    str(tmp_path / "c_out2" / sub)
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                spark.read.parquet(
                    str(tmp_path / "x_out2" / sub)
                ).collect(),
            )
        )
        assert got == want, sub


@pytest.mark.slow  # r17: 47 s measured — multi-chain crash stress; each chain's crash windows are pinned individually by the r10/r11 tests; opt-in tier
def test_ingest_increment_multi_chain_with_crash_and_ann(spark, tmp_path):
    """r9 (VERDICT r8 Next #5): the WHOLE daily loop exercised N
    times — a 3-increment chain with a mid-chain crash-rerun, pinned
    consistent with one full-corpus minhash_near_dups pass, with the
    embeddings side (append_ann_index's split-append ≡ bulk-append
    property) composed into the same loop: each text increment is
    accompanied by an ANN append of that increment's embeddings, and
    after the chain the ANN index equals a one-shot bulk append."""
    import shutil

    from etl_macropulse_br_spark.operators.ann_index import (
        append_ann_index,
        load_ann_index,
        save_ann_index,
    )
    from etl_macropulse_br_spark.operators.dedup import (
        minhash_near_dups,
        minhash_signature_table,
    )
    from scripts.ingest_increment import run

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cuts = [(0, 170), (170, 340), (340, 10**9)]
    bpaths = []
    for i, (lo, hi) in enumerate(cuts):
        p = str(tmp_path / f"b{i}.parquet")
        docs.filter(f"doc_id >= {lo} and doc_id < {hi}").write.parquet(p)
        bpaths.append(p)

    # embeddings side: bulk reference index (train on slice 0, bulk
    # append slices 1+2) vs the chained per-increment appends
    esl = [
        emb.filter(f"vec_id >= {lo} and vec_id < {hi}") for lo, hi in cuts
    ]
    bulk_dir = str(tmp_path / "ann_bulk")
    save_ann_index(esl[0], bulk_dir, k=4, rounds=1, m=8, ks=8,
                   pq_rounds=1, sub=8)  # 64-dim corpus embeddings
    chain_dir = str(tmp_path / "ann_chain")
    shutil.copytree(bulk_dir, chain_dir)
    append_ann_index(esl[1].unionByName(esl[2]), bulk_dir)

    state = str(tmp_path / "chain_state")
    outs = []
    for i, bp in enumerate(bpaths):
        out = str(tmp_path / f"chain_out{i}")
        if i == 1:
            # mid-chain crash: batch 1's signatures land WITHOUT the
            # meta update, then the rerun proceeds (the legitimate
            # retry path — the completed-batch guard only rejects
            # reruns whose meta write committed)
            minhash_signature_table(
                spark.read.parquet(bp).select("doc_id", "text"),
                n_shingle=3,
                k=16,
            ).write.mode("append").parquet(f"{state}/signatures")
        m = run(spark, bp, state, out, threshold=0.5)
        outs.append(out)
        if i == 1:
            # r9: mid-chain signature-index compaction — must drop
            # the crash-rerun's dead rows and leave the next
            # increment's outputs unchanged (signatures are
            # deterministic per id, so dropDuplicates(id) is exact)
            from scripts.ingest_increment import (
                compact_signature_index,
            )

            c = compact_signature_index(spark, state, target_files=1)
            assert c["dead_rows_removed"] > 0
            assert c["rows_after"] == 340  # ids 0..339 ingested so far
            assert c["files_after"] <= c["files_before"]
        if i > 0:
            append_ann_index(esl[i], chain_dir)
    assert m["n_corpus_docs"] == docs.count()
    assert m["n_prior_batches"] == 2

    # chain == one full-corpus pass
    inc_pairs = {}
    for out in outs:
        for r in spark.read.parquet(f"{out}/matches").collect():
            inc_pairs[(r["new_id"], r["match_id"])] = r["jaccard"]
    full = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): r["jaccard"]
        for r in minhash_near_dups(
            docs, threshold=0.5, persist_candidates=False
        ).collect()
    }
    assert full and inc_pairs == full

    # survivors across the chain = docs with no match anywhere
    surv = set()
    for out in outs:
        surv |= {
            r["doc_id"]
            for r in spark.read.parquet(f"{out}/survivors").collect()
        }
    assert surv == {r["doc_id"] for r in docs.collect()} - {
        a for a, _ in inc_pairs
    }

    # embeddings side: chained appends == bulk append, row-for-row
    bix = load_ann_index(spark, bulk_dir)
    cix = load_ann_index(spark, chain_dir)
    assert sorted(map(tuple, bix.assign.collect())) == sorted(
        map(tuple, cix.assign.collect())
    )
    assert sorted(map(tuple, bix.codes.collect())) == sorted(
        map(tuple, cix.codes.collect())
    )


def test_r9_review_fixes_text_similarity_clustering(spark):
    """Batch pin for the r9 fourth review pass:
    (a) language_id / quality_features match markers
        case-insensitively (capitalized prose scored 'und' before);
    (b) cosine_topk_pandas keeps the caller's id column name/type
        (string ids crashed at the Arrow boundary before);
    (c) bm25_topk refuses an empty query loudly;
    (d) the k-means assign fold fails loudly on a width-mismatched
        vector instead of silently landing it in phantom cluster -1;
    (e) an EMPTY embedding array is dropped like a null one."""
    import pytest

    from etl_macropulse_br_spark.operators.clustering import (
        kmeans_centroids,
    )
    from etl_macropulse_br_spark.operators.similarity import (
        cosine_topk_pandas,
    )
    from etl_macropulse_br_spark.operators.text import (
        bm25_topk,
        language_id,
        quality_features,
    )

    # (a) capitalized markers count
    docs = spark.createDataFrame(
        [(1, "The cat and THE dog"), (2, "Der Hund und DIE Katze")],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert langs == {1: "en", 2: "de"}
    q = {r["doc_id"]: r["stopword_ratio"] for r in quality_features(docs).collect()}
    assert q[1] == 3 / 5  # The, and, THE all count

    # (b) string id column survives the pandas path
    vecs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
        "name string, embedding array<float>",
    )
    got = cosine_topk_pandas(vecs, [1.0, 0.0], k=2, id_col="name").collect()
    assert [r["name"] for r in got] == ["a", "b"]

    # (c) empty query refused
    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(docs, [], text_col="text")

    # (d) width mismatch fails loudly: assign a 4-dim vector against
    # 8-dim centroids (every distance fold is null -> pre-fix the
    # row silently landed in phantom cluster -1)
    from etl_macropulse_br_spark.operators.clustering import (
        _assign,
        _points,
    )

    emb8 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    cents = kmeans_centroids(emb8, k=2, rounds=1)
    mixed = spark.createDataFrame(
        [(100, [9.0] * 4)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="width differs"):
        _assign(_points(mixed, "vec_id", "embedding"), cents).collect()
    emb_ok = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [2.0] * 8), (3, [])],
        "vec_id long, embedding array<float>",
    )
    assert kmeans_centroids(emb_ok, k=2, rounds=1).count() <= 2


def test_ingest_rejects_foreign_hash_family_state(spark, tmp_path):
    """r10 (ADVICE r9 #1): persisted signatures are only comparable
    under the SAME hash family — the sidecar carries a family id
    stamped on first write; a mismatching id is rejected loudly, and
    a legacy sidecar (no field) gets the value-domain backstop
    (current family is mod 2^31-1, so any stored m-value >= 2^31
    proves a pre-fix, never-colliding index)."""
    import json
    import os

    from etl_macropulse_br_spark.functions.hashing import MINHASH_FAMILY
    from scripts.ingest_increment import run

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    bp = []
    for i, (lo, hi) in enumerate([(0, 80), (80, 160), (160, 240)]):
        p = str(tmp_path / f"famb{i}.parquet")
        docs.filter(f"doc_id >= {lo} and doc_id < {hi}").write.parquet(p)
        bp.append(p)
    state = str(tmp_path / "fam_state")
    meta_path = os.path.join(state, "meta.json")

    run(spark, bp[0], state, str(tmp_path / "famo0"), threshold=0.5)
    with open(meta_path) as f:
        meta = json.load(f)
    # stamped on first write
    assert meta["params"]["hash_family"] == MINHASH_FAMILY

    # explicit mismatch rejected before any work
    meta["params"]["hash_family"] = "md5-32+lcg0x5EED-UNREDUCED-v1"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="hash family"):
        run(spark, bp[1], state, str(tmp_path / "famo1"), threshold=0.5)

    # legacy sidecar (no field) + in-domain values: accepted and
    # re-stamped (pre-field state written by the CURRENT family)
    del meta["params"]["hash_family"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    run(spark, bp[1], state, str(tmp_path / "famo1b"), threshold=0.5)
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["params"]["hash_family"] == MINHASH_FAMILY

    # legacy sidecar + PRE-FIX values (>= 2^31, the un-reduced
    # family's domain): the backstop rejects
    del meta["params"]["hash_family"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    k = meta["params"]["k"]
    spark.read.parquet(f"{state}/signatures").limit(1).select(
        (F.col("id") + 10_000_000).alias("id"),
        *[F.lit((1 << 40) + i).alias(f"m{i}") for i in range(k)],
    ).write.mode("append").parquet(f"{state}/signatures")
    with pytest.raises(ValueError, match="pre-r9"):
        run(spark, bp[2], state, str(tmp_path / "famo2"), threshold=0.5)


def test_signature_index_single_writer_lease(spark, tmp_path):
    """r10 (VERDICT r9 #1): the signature index's writers hold the
    same state-dir lease as the ANN index — a concurrent increment
    or compaction is refused loudly, never interleaved."""
    import pytest

    from etl_macropulse_br_spark.operators.statelock import (
        WriterLockHeld,
        writer_lock,
    )
    from scripts.ingest_increment import compact_signature_index, run

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    b0 = str(tmp_path / "lease_b0.parquet")
    b1 = str(tmp_path / "lease_b1.parquet")
    docs.filter("doc_id < 60").write.parquet(b0)
    docs.filter("doc_id >= 60 and doc_id < 120").write.parquet(b1)
    state = str(tmp_path / "lease_state")
    run(spark, b0, state, str(tmp_path / "lease_o0"), threshold=0.5)

    with writer_lock(state, owner="in-flight-increment"):
        with pytest.raises(WriterLockHeld, match="single-writer"):
            run(spark, b1, state, str(tmp_path / "lease_o1"),
                threshold=0.5)
        with pytest.raises(WriterLockHeld):
            compact_signature_index(spark, state)

    # released: both proceed
    m = run(spark, b1, state, str(tmp_path / "lease_o1"), threshold=0.5)
    assert m["n_prior_batches"] == 1
    c = compact_signature_index(spark, state, target_files=1)
    assert c["rows_after"] == 120


def test_hdr_signed_auto_scale(spark):
    """r10 (VERDICT r9 #7): scale=None auto-derives the fixed-point
    scale from a one-pass max-|v| peek — the hand-tuned parameter
    removed. Pins the derivation rule (largest power of 10 keeping
    max|v|*scale under 2^61, capped at 1e15), that auto-scaled
    quantile brackets still contain the closed-form truth within the
    2^-(s+1) relative guarantee, that a domain the DEFAULT scale
    would have rejected (|v| ~ 1e14) now sketches fine, and that the
    explicit-scale overflow guard stays loud."""
    from etl_macropulse_br_spark.operators.sketches import (
        derive_signed_scale,
        hdr_signed_quantiles,
        hdr_signed_quantiles_by,
    )

    # derivation rule, pinned on three magnitudes
    def df_of(vals):
        return spark.createDataFrame([(float(v),) for v in vals], "v double")

    assert derive_signed_scale(df_of([1.0, -4.6]), "v") == 1e15
    assert derive_signed_scale(df_of([1e10]), "v") == 1e8
    assert derive_signed_scale(df_of([-1e20]), "v") == 1e-2
    # empty / all-null / all-zero fall back to the default
    assert derive_signed_scale(df_of([]), "v") == 1e6
    assert derive_signed_scale(df_of([0.0, -0.0]), "v") == 1e6
    import pytest

    with pytest.raises(ValueError, match="NaN/Inf"):
        derive_signed_scale(df_of([float("inf")]), "v")

    # auto-scaled quantiles on a mirrored {±r^2} domain scaled to
    # |v| ~ 1e14 — the DEFAULT scale=1e6 would overflow (1e14*1e6 =
    # 1e20 > 2^62) and fail the gateway; auto-scale derives 1e3 and
    # every bracket still holds the closed-form truth
    import pyspark.sql.functions as F

    n, s = 10_000, 6
    mag = 1e6  # r^2 up to 1e8, then x1e6 -> |v| up to 1e14
    pos = spark.range(n).select(
        (((F.col("id") + 1) * (F.col("id") + 1)).cast("double")
         * F.lit(mag)).alias("v")
    )
    sq = pos.unionAll(pos.select((-F.col("v")).alias("v")))
    got = hdr_signed_quantiles(sq, "v", (0.1, 0.5, 0.99), None, s).collect()
    assert len(got) == 3
    for r in got:
        rk = r["rank"]
        true = (
            -((n - rk + 1) ** 2) if rk <= n else (rk - n) ** 2
        ) * mag
        scale = derive_signed_scale(sq, "v")
        assert r["lo"] / scale <= true <= r["hi"] / scale + 1 / scale, r
        assert abs(r["est"] - true) / abs(true) < 2 ** -(s + 1), r
    # and the default explicit scale on this domain is still LOUD
    with pytest.raises(Exception, match="exceeds"):
        hdr_signed_quantiles(sq, "v", (0.5,), 1e6, s).collect()

    # grouped auto-scale: one shared derived scale, rows per group
    g = sq.withColumn("g", (F.col("v") > 0).cast("string"))
    rows = hdr_signed_quantiles_by(g, "v", ["g"], (0.5,), None, s).collect()
    assert {r["g"] for r in rows} == {"true", "false"}

    # plan identity: auto-scale pays ONE extra driver-side max
    # aggregate, then builds exactly the plan the explicit scale
    # builds — the sketch path itself is unchanged
    scale = derive_signed_scale(sq, "v")
    auto_df = hdr_signed_quantiles(sq, "v", (0.5,), None, s)
    explicit_df = hdr_signed_quantiles(sq, "v", (0.5,), scale, s)
    assert auto_df.sameSemantics(explicit_df)


def test_session_oracle_matches_native_on_boundary_events(spark, tmp_path):
    """The gaps-and-islands DuckDB oracle must replay session_window
    EXACTLY at the gap boundary (ts == prev + gap merges). The
    driver's testdata has continuous timestamps, so only this test
    exercises the boundary case the r5 differential surfaced."""
    import duckdb

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.plans.queries import (
        SESSION_WINDOW_STATS_SQL,
    )

    base = dt.datetime(2026, 3, 1, 9, 0, 0)
    deltas = [0, 1800, 3600, 5401, 7201, 9001, 9002, 10803]
    rows = [
        (1, i + 1, base + dt.timedelta(seconds=s))
        for i, s in enumerate(deltas)
    ]
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "boundary_events.parquet")
    df.coalesce(1).write.parquet(src)

    native = {
        (r["user_id"], r["session_start"], r["session_end_gap"], r["n_events"])
        for r in df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end_gap"),
            "n_events",
        )
        .collect()
    }

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{src}/*.parquet'")
    oracle = {
        (u, s, e, n)
        for u, s, e, n in con.execute(SESSION_WINDOW_STATS_SQL).fetchall()
    }
    assert native == oracle
    # the chain 0,1800,3600 merges through two exact boundaries
    assert any(n >= 3 and s == base for _, s, _, n in native)
