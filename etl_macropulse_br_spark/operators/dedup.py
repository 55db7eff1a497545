"""Deduplication operators — exact and near-duplicate.

Training-data pipeline operators (BASELINE.json north star), all
expression-based so they scale:

- exact: hash-groupBy on normalized text (one shuffle).
- MinHash + LSH: shingle → k minhashes → b bands → band-bucket join
  → candidate pairs → exact Jaccard verify. The classic
  Broder/Leskovec construction (MMDS ch. 3) as a pure DataFrame
  plan: explode-by-band keeps the shuffle proportional to b×docs,
  and candidate verification touches only bucket-colliding pairs —
  never the O(n²) cross join.
- SimHash: 64-bit Charikar sketch via per-bit majority vote,
  computed with higher-order array functions.
- n-gram Jaccard: exact pairwise similarity, restricted to LSH
  candidates (or any blocking key) to stay sub-quadratic.

Hash functions are the portable md5-based family
(functions/hashing.py) so every step can be replayed in the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_macropulse_br_spark.functions.hashing import md5_long

_WS = r"\s+"


def _norm_text(text_col: str) -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), _WS, " ")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized text with
    the kept (min-id) representative and the duplicate count."""
    return (
        df.select(md5_long(_norm_text(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text.

    Built with sequence/transform/slice over the token array —
    no explode, no UDF; empty/short docs yield their full token
    string as a single shingle so every doc has ≥1 shingle.
    """
    toks = F.split(_norm_text(text_col), _WS)
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


# Odd multipliers < 2^20 so (32-bit token hash × multiplier) sums of
# 3 stay under 2^54: Spark would wrap silently on 64-bit overflow but
# DuckDB raises, so the oracle-portable combiner must never overflow.
_SHINGLE_COEFS = (786433, 919393, 649657)


def token_shingle_hashes_sql(n: int = 3) -> str:
    """DuckDB twin of the distinct shingle hashes per doc that
    :func:`shingle_hash_rows` explodes, as an expression over a
    pre-computed token-hash array column named ``th`` (bit-identical
    to the Spark side)."""
    terms = " + ".join(
        f"coalesce(th[i + {j}], 0) * {coef}"
        for j, coef in enumerate(_SHINGLE_COEFS[:n])
    )
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(th) - {n - 1}, 1)), "
        f"i -> {terms}))"
    )


def minhash_signature(shingles: Column, k: int = 16) -> Column:
    """k-element MinHash signature.

    One md5 per shingle folded to 32 bits, then k integer hashes via
    a 2-universal family ((a_i * base + b_i) mod P, r9 — the mod is
    load-bearing: without it every h_i is monotone in the base and
    all k mins collapse to one hash; see hashing._MINHASH_P) — k×
    cheaper than k seeded md5s, same guarantees (Broder 1997;
    Carter-Wegman universal hashing), still bit-identical in the
    SQL oracle.
    """
    from etl_macropulse_br_spark.functions.hashing import (
        _MINHASH_P,
        _lcg_constants,
        base32,
    )

    bases = F.transform(shingles, lambda s: base32(s))

    def hashed(a: int, b: int):
        # single-arg lambda — a two-arg lambda would be invoked by
        # Spark as (element, index)
        return lambda h: F.pmod(
            h * F.lit(a) + F.lit(b), F.lit(_MINHASH_P)
        )

    return F.array(
        *[
            F.array_min(F.transform(bases, hashed(a, b)))
            for a, b in _lcg_constants(k)
        ]
    )


def shingle_hash_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    with_pos: bool = False,
) -> DataFrame:
    """Row-per-shingle hashes: (id, sh_h) — same multiset of hashes
    from either of two plans:

    - default (``with_pos=False``): token-hash ARRAY materialized in
      its own projection (one md5 per token — the non-cheap alias
      keeps CollapseProject from re-inlining the hash into the n
      element_at references, the same trick as the IVF argmax) →
      shingle hashes via a sequence/transform combine → explode.
      ZERO exchange: the combine is in-partition, and the downstream
      signature aggregate partial-combines before its own id
      shuffle. Measured ~20% faster than the window form and one
      exchange cheaper at any scale.
    - ``with_pos=True``: posexplode → per-token-row md5 → ``lead``
      window over (id, pos). One shuffle on id; consumers that need
      positions and windows anyway (winnowing) share that exchange.

    Both use the affine ``_SHINGLE_COEFS`` combine; short docs
    (< n tokens) keep their pos-0 partial shingle either way.
    """
    from pyspark.sql import Window

    from etl_macropulse_br_spark.functions.hashing import base32
    from etl_macropulse_br_spark.operators.util import spread

    toks = F.split(_norm_text(text_col), _WS)

    if not with_pos:
        with_th = spread(df).select(
            F.col(id_col).alias("id"),
            F.transform(toks, lambda t: base32(t)).alias("th"),
        )
        n_sh = F.greatest(
            F.size(F.col("th")) - F.lit(n_shingle - 1), F.lit(1)
        )

        def combine(i: Column) -> Column:
            total = F.lit(0).cast("bigint")
            for j, coef in enumerate(_SHINGLE_COEFS[:n_shingle]):
                total = total + F.coalesce(
                    F.element_at(F.col("th"), i + F.lit(j)), F.lit(0)
                ) * F.lit(coef)
            return total

        return with_th.select(
            "id",
            F.explode(
                F.transform(F.sequence(F.lit(1), n_sh), combine)
            ).alias("sh_h"),
        )

    tok_rows = spread(df).select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    hashed = tok_rows.select("id", "pos", base32("tok").alias("h"))
    w = Window.partitionBy("id").orderBy("pos")
    wcnt = Window.partitionBy("id")
    sh_h = F.col("h") * F.lit(_SHINGLE_COEFS[0])
    for j, coef in enumerate(_SHINGLE_COEFS[1:n_shingle], start=1):
        sh_h = sh_h + F.coalesce(F.lead("h", j).over(w), F.lit(0)) * F.lit(coef)
    out = hashed.select(
        "id",
        "pos",
        sh_h.alias("sh_h"),
        F.count(F.lit(1)).over(wcnt).alias("n_tok"),
    ).filter(
        F.col("pos") <= F.greatest(F.col("n_tok") - n_shingle, F.lit(0))
    )
    return out.select("id", "pos", "sh_h")


def minhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 16,
    rows: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature as columns (id, m0..m{k-1}).

    Shingle-hash rows → hash-aggregate k integer mins (2-universal
    family over the 32-bit folded shingle hash). Partial aggregation
    collapses each partition to one row per doc before any exchange,
    so the shuffle carries ~docs × (k+1) integers regardless of
    shingle count. Distinctness of shingles is irrelevant to a min
    aggregate, so no dedup step is needed.
    """
    from etl_macropulse_br_spark.functions.hashing import (
        _MASK32,
        _MINHASH_P,
        _lcg_constants,
    )

    if rows is None:
        rows = shingle_hash_rows(df, text_col, id_col, n_shingle)
    hashed = rows.select(
        "id", F.col("sh_h").bitwiseAND(F.lit(_MASK32)).alias("h")
    )
    # one parsed expression per signature column (a Column-API
    # min/mul/add chain costs ~4 Py4J round-trips per column at
    # plan-build time; see functions/exprs.py:lit_double_array);
    # the mod-P reduction is load-bearing (hashing._MINHASH_P)
    return hashed.groupBy("id").agg(
        *[
            F.expr(f"min(pmod(h * {a} + {b}, {_MINHASH_P})) AS m{i}")
            for i, (a, b) in enumerate(_lcg_constants(k))
        ]
    )


def _minhash_banded(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(id, band, band_hash) banding of a signature table — shared
    by the one-corpus candidate self-join and the incremental
    new-vs-base cross-join."""
    band_w = k // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        md5_long(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"m{b * band_w + j}")
                                    for j in range(band_w)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select("id", "bh.band", "bh.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
    rows: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    Signature split into ``bands`` groups of ``k/bands`` hashes; docs
    colliding on any band-hash become a candidate pair. Plan shape:
    signature table → explode per-band hashes (b× row growth, never
    n²) → shuffle on (band, band_hash) → within-bucket self-join →
    distinct pairs. Band hashes use the portable md5 family so the
    whole pipeline replays bit-identically in the SQL oracle."""
    sig = minhash_signature_table(df, text_col, id_col, n_shingle, k, rows)
    banded = _minhash_banded(sig, k, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    # NOT shuffle_hash-fused (r13 A/B, rejected with numbers in
    # PLANS.md): unlike embedding_near_dups, folding the broadcast
    # builds of this subtree into one shuffle-only job measured
    # consistently SLOWER at bench scale (the collect_set shingle-set
    # exchange outweighs the build jobs it saves). At corpus scale the
    # banded self-join side exceeds the auto-broadcast threshold and
    # AQE picks the shuffle strategy by itself.
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    rows: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for given candidate pairs.

    Joins shingle sets onto the (id_a, id_b) pair table (broadcast
    when small) and computes |A∩B| / |A∪B| with array intersect.
    """
    # Shingle sets as combined token-hashes (ints): no string shingle
    # allocation, and int-array intersect/union in the verify step.
    if rows is None:
        rows = shingle_hash_rows(df, text_col, id_col, n_shingle)
    sh = (
        rows.groupBy("id")
        .agg(F.collect_set("sh_h").alias("sh"))
    )
    # both lookups join the IDENTICAL `sh` subplan (rename AFTER the
    # join, not before) so the two builds canonicalize to one
    # exchange and ReuseExchange shares it — the shingle-set
    # aggregate runs once per action instead of twice (r6; same
    # pattern as embedding_near_dups' verify). The embedding-style
    # shuffle_hash fusion of these lookups was A/B-rejected in r13
    # (numbers in PLANS.md): the broadcast builds are cheaper than
    # the extra shingle-set exchanges here.
    pcols = list(pairs.columns)  # extra pair columns pass through
    j1 = pairs.join(sh, F.col("id_a") == sh["id"]).select(
        *pcols, F.col("sh").alias("sh_a")
    )
    return (
        j1.join(sh, F.col("id_b") == sh["id"])
        .select(
            *pcols,
            (
                F.size(F.array_intersect("sh_a", "sh"))
                / F.size(F.array_union("sh_a", "sh"))
            ).alias("jaccard"),
        )
    )


# The persist registry moved to the neutral operators/util module
# (bm25_topk consumers shouldn't need a release hook from the dedup
# module); re-exported here for backwards compatibility.
from etl_macropulse_br_spark.operators.util import (  # noqa: E402,F401
    _PERSISTED_CANDIDATES,
    persisted_count,
    register_persisted,
    small_input_profile,
    unpersist_candidates,
)


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
    persist_candidates: bool = True,
) -> DataFrame:
    """End-to-end near-dup pairs: LSH candidates verified by exact
    Jaccard ≥ threshold.

    The verify join references the candidate set twice (once per
    pair side), and without materialization Spark recomputes the
    entire signature→band→self-join pipeline for each reference —
    only the exchanges get reused. The candidate set is tiny
    relative to the corpus (pairs, two ids each), so it's persisted
    MEMORY_AND_DISK by default: measured ~35% off the end-to-end
    near-dup query, and at 100 TB it avoids re-reading the corpus
    for a second full LSH pass. The shingle-hash row stream is
    persisted the same way: BOTH the signature stage and the
    Jaccard verify consume it, and without materialization the
    posexplode + per-token md5 + lead-window pipeline runs twice
    per pass (measured ~0.7 s each at sf0.1 — the dominant cold
    cost). Pass ``persist_candidates=False`` for one-shot plans
    that must stay fully lazy.
    """
    rows = shingle_hash_rows(df, text_col, id_col, n_shingle)
    if persist_candidates:
        rows = register_persisted(rows)
    cands = minhash_lsh_candidates(
        df, text_col, id_col, n_shingle, k, bands, rows=rows
    )
    if persist_candidates:
        cands = register_persisted(cands)
    verified = ngram_jaccard_pairs(
        df, cands, text_col, id_col, n_shingle, rows=rows
    )
    return verified.filter(F.col("jaccard") >= threshold)


def minhash_sig_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs verified by SIGNATURE-agreement Jaccard (r9):
    banded LSH candidates scored with Broder's estimator — the
    fraction of the k minhash components on which the two documents
    agree — instead of the exact shingle-set Jaccard. Returns
    (id_a, id_b, est_jaccard) with ``id_a > id_b`` (the later doc
    points at the earlier — keep-first orientation shared with the
    incremental family).

    Why this variant exists: the verify needs only k INTEGERS per
    document, never the shingle sets — so (a) text is touched
    exactly once (to build signatures), (b) the verify join is an
    int-only k-column lookup, and (c) the per-doc state is k longs,
    bounded regardless of document length.
    Estimator contract: E[est_jaccard] = true Jaccard with std err
    ~ sqrt(J(1-J)/k); pairs near the threshold can flip relative to
    the exact verify — choose k accordingly (the exact-verify
    operator remains :func:`minhash_near_dups`).

    Scale shape: same single banding exchange as the exact op; the
    verify joins the SAME signature subplan twice (rename after the
    join) so ReuseExchange shares one build; no text columns cross
    any exchange after the signature aggregate."""
    sig = minhash_signature_table(df, text_col, id_col, n_shingle, k)
    banded = _minhash_banded(sig, k, bands)
    cands = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.id") > F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    j1 = cands.join(sig, F.col("id_a") == sig["id"]).select(
        "id_a", "id_b", *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)]
    )
    agree = " + ".join(f"cast(a{i} = m{i} as int)" for i in range(k))
    return (
        j1.join(sig, F.col("id_b") == sig["id"])
        .select(
            "id_a",
            "id_b",
            F.expr(f"({agree}) / {k}").alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def incremental_near_dups(
    new_df: DataFrame,
    base_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
    base_sig: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup detection — the production daily-crawl
    shape: dedup a NEW batch against the EXISTING corpus plus itself
    in one pass, instead of re-running LSH over base ∪ new (which
    re-pays the whole base corpus every increment). Returns
    (new_id, match_id, from_base, jaccard) — one row per verified
    duplicate relationship: ``from_base`` matches hit the existing
    corpus; intra-increment matches point to the SMALLER new id
    (keep-first within the batch). Ids must be disjoint across the
    two inputs (they share one id namespace in a real store).

    Scale shape: the base side contributes only its SIGNATURE →
    banding stream to candidate generation (k integers per doc);
    base TEXT is shingled for the exact-Jaccard verify
    only for docs that actually COLLIDE (an id semi-join prunes the
    base shingle stream before the verify's set aggregate), so per
    increment the base corpus is touched at signature granularity
    and only candidate-matched base docs pay the text pass. Both
    candidate families ride the same banding exchange; the verify
    reuses one shared shingle-set aggregate (ReuseExchange).

    ``base_sig`` (r8) is the PERSISTED signature index: a
    (id, m0..m{k-1}) frame — exactly what
    :func:`minhash_signature_table` emits and what
    ``operators/signature_index.py`` persists as parquet. When given,
    the base corpus contributes candidates from the stored k-int
    signatures WITHOUT re-hashing base text (previously every
    increment re-paid one md5 per shingle over the entire base — the
    cost this operator exists to avoid); ``base_df`` is then touched
    only for the semi-join-pruned verify of colliding docs. The
    precomputed-sig path is pinned row-identical to the recompute
    path (tests/test_extensions.py)."""
    rows_new = shingle_hash_rows(new_df, text_col, id_col, n_shingle)
    sig_new = minhash_signature_table(
        new_df, text_col, id_col, n_shingle, k, rows_new
    )
    bn = _minhash_banded(sig_new, k, bands)
    if base_sig is None:
        base_sig = minhash_signature_table(
            base_df, text_col, id_col, n_shingle, k
        )
    else:
        import re

        expected = ["id"] + [f"m{i}" for i in range(k)]
        missing = [c for c in expected if c not in base_sig.columns]
        if missing:
            raise ValueError(
                "incremental_near_dups: base_sig must carry columns "
                f"{expected} (a minhash_signature_table frame); "
                f"missing {missing}"
            )
        # r9 guard (ADVICE r8 #4): a signature table persisted with a
        # LARGER k carries extra m-columns; silently ignoring them
        # would band a k-prefix of a different signature family and
        # produce wrong candidates. Column-shape is the only
        # build-param visible on the frame — n_shingle consistency
        # remains the CALLER's contract (ingest_increment pins it via
        # the params persisted in its meta.json sidecar).
        extra = [
            c
            for c in base_sig.columns
            if re.fullmatch(r"m\d+", c) and c not in expected
        ]
        if extra:
            raise ValueError(
                "incremental_near_dups: base_sig carries signature "
                f"columns beyond k={k} ({extra}) — it was built with "
                "a different k and its signatures belong to a "
                "different hash family; pass the k it was built "
                "with, or rebuild the index."
            )
    bb = _minhash_banded(base_sig, k, bands)

    cross = (
        bn.alias("l")
        .join(
            bb.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
        )
        .distinct()
        .withColumn("from_base", F.lit(True))
    )
    intra = (
        bn.alias("l")
        .join(
            bn.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.id") > F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
        )
        .distinct()
        .withColumn("from_base", F.lit(False))
    )
    cands = cross.unionByName(intra)

    matched_base = (
        cands.filter(F.col("from_base"))
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    rows_base = shingle_hash_rows(
        base_df, text_col, id_col, n_shingle
    ).join(matched_base, "id", "left_semi")
    scored = ngram_jaccard_pairs(
        new_df,
        cands,
        text_col,
        id_col,
        n_shingle,
        rows=rows_new.unionByName(rows_base),
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("match_id"),
        "from_base",
        "jaccard",
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """Charikar SimHash over word tokens → (id, simhash) table.

    Per bit: majority vote of token-hash bits → one integer sketch.
    Near-dups are sketches within small Hamming distance; the sketch
    itself is a groupable/bucketable column.

    Plan shape (same row-level trick as :func:`shingle_hash_rows`):
    explode distinct tokens → ONE md5 per token row → per-bit
    popcounts as a single hash aggregate. The earlier array-
    expression form referenced the hash array twice per bit, which
    Catalyst re-inlines — the md5 ``transform`` was recomputed up to
    2×``bits`` times per document. Here the hash is provably computed
    once; the aggregate's partial (map-side) combine means the
    shuffle carries ~docs × (bits+1) integers.

    ``explode_outer`` keeps null-text documents (sketch 0, matching
    the SQL oracle's CASE-on-NULL fold).
    """
    from etl_macropulse_br_spark.operators.util import spread

    toks = F.array_distinct(F.split(_norm_text(text_col), _WS))
    tok_rows = spread(df).select(
        F.col(id_col).alias("id"), F.explode_outer(toks).alias("tok")
    )
    hashed = tok_rows.select("id", md5_long("tok").alias("h"))
    # single-parse expressions: the Column-API form paid ~4 Py4J
    # round-trips per bit column plus ~5 per when-arm of the sketch
    # fold (~150 driver RPCs per plan build)
    counted = hashed.groupBy("id").agg(
        F.expr("count(1) AS n"),
        *[
            F.expr(f"sum(shiftright(h, {b}) & 1) AS c{b}")
            for b in range(bits)
        ],
    )
    sketch_sql = (
        "CAST("
        + " + ".join(
            f"(CASE WHEN c{b} * 2 >= n THEN {2 ** b} ELSE 0 END)"
            for b in range(bits)
        )
        + " AS BIGINT)"
    )
    return counted.select(
        F.col("id").alias(id_col), F.expr(sketch_sql).alias("simhash")
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: sketch → banded blocking → Hamming
    verify. Completes the SimHash story (the sketch alone is a
    column; THIS is the dedup operator).

    Blocking uses the pigeonhole principle: split the ``bits``-bit
    sketch into ``max_hamming + 1`` bands — two sketches within
    ``max_hamming`` bit flips MUST agree exactly on at least one
    band, so banding loses no true pairs (recall 1.0, standard
    SimHash dedup construction per Manku et al. 2007, "Detecting
    near-duplicates for web crawling"). Plan: explode per-band keys
    (linear), self-join per (band, band_bits) bucket, verify
    ``bit_count(xor) <= max_hamming`` on colliding pairs only —
    never all-pairs. ``bit_count``/xor are bit-identical in the SQL
    oracle.
    """
    sk = simhash(df, text_col, id_col, bits).select(
        F.col(id_col).alias("id"), F.col("simhash").alias("sketch")
    )
    return banded_hamming_pairs(sk, bits, max_hamming)


def banded_hamming_pairs(
    sk: DataFrame, bits: int, max_hamming: int
) -> DataFrame:
    """Pigeonhole-banded Hamming pairing over any (id, sketch)
    table of ``bits``-bit integer sketches (the SimHash text path
    calls it). Split into ``max_hamming+1`` bands; two sketches
    within ``max_hamming`` flips must agree on >= 1 band (recall
    1.0); verify ``bit_count(xor)`` on colliding pairs only.
    Arithmetic ``shiftright`` sign-fill is masked off, so 64-bit
    (negative) sketches band correctly."""
    n_bands = max_hamming + 1
    if n_bands > bits:
        # band_width would floor to 0 and mask to 0 — every sketch
        # lands in one bucket per band and the self-join goes
        # quadratic. Fail fast instead of degrading to all-pairs.
        raise ValueError(
            f"max_hamming + 1 ({n_bands}) must be <= bits ({bits}); "
            "pigeonhole banding needs >= 1 bit per band"
        )
    band_width = bits // n_bands
    # a full-width band's all-ones mask is -1 in two's complement
    # ((1 << 64) - 1 would overflow LongType)
    mask = ((1 << band_width) - 1) if band_width < 64 else -1
    banded = sk.select(
        "id",
        "sketch",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sketch", b * band_width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sketch", "bb.band", "bb.band_bits")
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_bits") == F.col("r.band_bits"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(
                F.col("l.sketch").bitwiseXOR(F.col("r.sketch"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may collide in several bands
    )


def srp_signs(plane: int, dim: int) -> list[float]:
    """±1 hyperplane for one SRP plane, derived from the portable md5
    family (same bits as ``md5_long(dim_index, seed=plane)``), so
    Spark code, SQL oracle, and tests share identical planes."""
    import hashlib

    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[:15], 16)
        out.append(1.0 if h % 2 == 0 else -1.0)
    return out


def srp_banded(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 3,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, band, bucket) rows of the banded sign-random-projection
    blocking — shared by the near-dup pairing and the blocked-KNN
    path. The plane projections are computed by EXPLODING the
    vectors and grouping index-ordered sums — whole-stage-codegen
    arithmetic — instead of per-row zip_with/aggregate lambda folds,
    which Spark executes as interpreted CodegenFallback (measured
    ~2x the whole query at bench scale for 24 planes). Bit-equality
    with the fold (and hence with the SQL oracle's
    unnest+signs-matrix sums) is structural: posexplode emits one
    vector's elements contiguously in index order inside one scan
    partition, so the partial hash aggregate accumulates each d_p in
    exactly the fold's sequence and the merge step sees a single
    partial per id. The groupBy exchange ships n_bands*n_planes
    partial doubles per vector — no heavier than the vector itself.

    Two r7 alternatives were built, A/B-measured warm on one box,
    and rejected (full numbers in PLANS.md): an Arrow-vectorized
    ``mapInPandas`` matrix product with a pinned fold order (correct
    and exchange-free, but the Python stage's execution floor —
    0.19 s vs 0.05 s for a JVM select on the same input — made the
    full query slightly slower and noisier: interleaved mins
    0.468/0.508 vs 0.446/0.481 for this form); and fully unrolled
    per-row element_at chains (a 3k-node expression tree that
    spends SECONDS of driver time per plan in Catalyst). The r7 win
    that stayed is downstream: the bucket self-join reuses ONE
    exchange (shuffle_hash), so this aggregate runs once, not
    twice, and no broadcast-build job collects it.
    """
    from etl_macropulse_br_spark.functions.exprs import lit_double_array
    from etl_macropulse_br_spark.operators.util import (
        small_input_profile,
        spread,
    )

    n_pl = n_bands * n_planes
    # spread() is profile-gated like props_struct_parse: under the
    # small-input profile the repartition exchange costs more than
    # the per-row projections it parallelizes (measured ~0.1 s on
    # the 2k-vector bench input); at cluster scale multi-file
    # inputs make it a no-op anyway.
    src = df if small_input_profile(df) else spread(df)
    elems = src.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("i", "x"),
    )
    dots = elems.groupBy("id").agg(
        *[
            F.sum(
                F.col("x").cast("double")
                * F.element_at(
                    lit_double_array(srp_signs(p, dim)), F.col("i") + 1
                )
            ).alias(f"d{p}")
            for p in range(n_pl)
        ]
    )

    def band_bucket(b: int) -> Column:
        bucket = None
        for p in range(n_planes):
            bit = F.when(
                F.col(f"d{b * n_planes + p}") >= 0, F.lit(2**p)
            ).otherwise(F.lit(0))
            bucket = bit if bucket is None else bucket + bit
        return bucket

    return dots.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bucket(b).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_bands: int = 3,
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: banded sign-random-projection LSH,
    exact cosine verify on the (deduplicated) candidate set.

    Banded OR-construction: ``n_bands`` independent bands of
    ``n_planes`` hyperplanes each; a pair is a candidate if it
    collides in ANY band. More planes per band shrink bucket sizes
    exponentially (E[bucket] = n / 2^n_planes per band), so the
    within-bucket self-join stays sub-quadratic at corpus scale;
    recall lost to the sharper buckets is recovered by OR-ing bands —
    the standard LSH trade (MMDS ch. 3, same construction as the
    MinHash path above).

    The hyperplanes are data-independent, so they're precomputed on
    the driver and embedded as literal arrays — broadcast model
    parameters, not per-row hash folds (the earlier single-band form
    recomputed one md5 per dimension per plane per ROW). Plane
    ``band * n_planes + p`` uses the portable md5 family, so the SQL
    oracle replays the exact bucketing.

    ``dim=None`` infers the width with a one-row peek — a driver job
    at PLAN-BUILD time, not lazy; pass ``dim`` explicitly to keep
    plan construction action-free (as the registry query does).

    One-job shape (r12 — retires the VERDICT r11 weak-bar boundary):
    the r11 form left the two vector-lookup joins unhinted, so under
    the bench profile they AUTO-BROADCAST the lookup table and that
    broadcast BUILD is a separate Spark job per action — the query's
    2-job scheduling floor sat at 0.39–0.47 s on a 2,000-vector input
    for five rounds, within noise of the 0.4 s weak bar. The lookups
    are now profile-gated ``shuffle_hash`` (the :func:`broadcast_
    small` pattern inverted): under the small-input profile the hint
    keeps the whole DAG one shuffle-only job; under the cluster
    profile no hint is emitted and AQE's runtime stats pick the join
    strategy — a compile-time hint must never pin the full embedding
    table into a driver-side broadcast at 100 TB. Two alternatives
    were A/B-measured and rejected (numbers in PLANS.md): carrying
    (vector, norm) through the banding aggregate to skip the lookups
    entirely (+0.06–0.08 s — the explode materializes the 64-float
    array per ELEMENT row), and unrolling the verify dot into a
    64-term codegen sum (3.6× slower — 128 branchy element_at
    accesses in generated code lose to the HOF fold's tight loop
    over primitive UnsafeArrayData).
    """
    from etl_macropulse_br_spark.operators.util import (
        small_input_profile,
    )

    if dim is None:
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "embedding_near_dups: cannot infer vector width from an "
                "empty input (or null first vector); pass dim= explicitly"
            )
        dim = len(row[0])

    banded = srp_banded(df, vec_col, id_col, n_bands, n_planes, dim)
    left, right = banded.alias("l"), banded.alias("r")
    # shuffle_hash (not broadcast) for the bucket self-join: both
    # sides hash-partition on (band, bucket) over IDENTICAL subplans,
    # so ReuseExchange computes the banding ONCE and there is no
    # broadcast-build job collecting it to the driver (r7: one fewer
    # job under the bench profile). At corpus scale a self-join of
    # the full banded table is shuffle-sized anyway — broadcasting
    # 3n banded rows would be the wrong plan at 100 TB.
    cands = (
        left.join(
            right.hint("shuffle_hash"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()  # a pair colliding in several bands verifies once
    )
    from etl_macropulse_br_spark.operators.similarity import (
        _as_double_array,
        dot,
        norm,
    )

    # The lookup table carries each vector's PRECOMPUTED norm (r7):
    # the verify previously re-folded both norms per CANDIDATE PAIR
    # through the interpreted zip_with/aggregate lambdas — 2 of the
    # 3 folds per pair; computing them once per VECTOR in the lookup
    # build measured ~0.1 s off the query at bench scale, and the
    # per-vector fold is the identical float sequence, so every
    # cosine stays bit-for-bit equal to the inline form (pinned by
    # an A/B value comparison; the SQL oracle is untouched).
    # r16 A/B note: pre-casting `v` to a double array here (once per
    # vector) would drop the two interpreted per-pair `transform`
    # up-casts in the verify, and measured value-identical — but
    # `v_a` is SELECTED FROM this table and then crosses the second
    # lookup's exchange once per CANDIDATE PAIR, so the pre-cast
    # doubles the pair-sized shuffle bytes at corpus scale to save a
    # cheap map-side cast (the wrong side of guide §2.3's
    # narrower-types-through-the-exchange trade). Locally it was
    # inside box noise in every ABBA round (PLANS.md r16). Kept
    # float.
    e = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(_as_double_array(F.col(vec_col))).alias("nrm"),
    )

    # Profile-gated shuffle_hash on the lookups (r12): under the
    # small-input profile the hint replaces the auto-broadcast —
    # whose BUILD was a second Spark job per action — with a shuffle
    # stage inside the same job (A/B: 0.34–0.36 s / 1 job vs
    # 0.39–0.47 s / 2 jobs warm at bench scale). Under the cluster
    # profile no hint is emitted: AQE's runtime statistics choose
    # broadcast vs shuffle per run, and the full embedding table must
    # never be pinned by a compile-time hint at 100 TB. Both lookups
    # join the IDENTICAL subplan `e`, so the two exchanges
    # canonicalize to one and ReuseExchange shares the build (r6).
    def _sh(d: DataFrame) -> DataFrame:
        return d.hint("shuffle_hash") if small_input_profile(d) else d

    j1 = cands.join(_sh(e), F.col("id_a") == e["id"]).select(
        "id_a",
        "id_b",
        F.col("v").alias("v_a"),
        F.col("nrm").alias("n_a"),
    )
    return (
        j1.join(_sh(e), F.col("id_b") == e["id"])
        .select(
            "id_a",
            "id_b",
            (
                dot(_as_double_array(F.col("v_a")), _as_double_array(F.col("v")))
                / (F.col("n_a") * F.col("nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing-style document fingerprints (Schleimer et al. 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting"): a
    sparse, deterministic sample of the shingle-hash sequence that
    two documents sharing a long-enough substring are guaranteed to
    sample identically.

    Selection rule (engine-portable variant): shingle at position p
    is a fingerprint iff its hash is the minimum of the w-window
    STARTING at p (full windows only; a document with fewer than w
    shingles contributes its global minimum). This keeps the
    classic guarantee's shape — every w consecutive shingles share
    at least one selected position with any equal run elsewhere —
    while staying expressible as one window ``min`` in both Spark
    and the SQL oracle (the original's rightmost-argmin rule needs
    per-window argmin state). Expected density ~2/(w+1).

    Plan: shingle-hash rows (one md5 per token, affine combine — see
    :func:`shingle_hash_rows`) → one hash partition by doc serves
    the forward-min window, the global-min window and the count →
    filter + distinct. One exchange total; no per-doc buffering
    beyond the window sort, which is spillable.
    """
    from pyspark.sql import Window

    rows = shingle_hash_rows(df, text_col, id_col, n_shingle, with_pos=True)
    w_fwd = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    )
    w_all = Window.partitionBy("id")
    flagged = rows.select(
        "id",
        "pos",
        "sh_h",
        F.min("sh_h").over(w_fwd).alias("win_min"),
        F.min("sh_h").over(w_all).alias("glob_min"),
        F.count(F.lit(1)).over(w_all).alias("n_sh"),
    )
    selected = flagged.filter(
        (
            (F.col("pos") <= F.col("n_sh") - w)
            & (F.col("sh_h") == F.col("win_min"))
        )
        | ((F.col("n_sh") < w) & (F.col("sh_h") == F.col("glob_min")))
    )
    return selected.select("id", F.col("sh_h").alias("fp")).distinct()


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 16,
) -> DataFrame:
    """Connected components over a near-dup PAIR graph → one cluster
    label per member document (the minimum reachable id — the
    deterministic "keep this one" convention every dedup pipeline
    needs once pairs exist: A~B and B~C must collapse to ONE survivor
    even though (A, C) was never emitted as a pair).

    Iterative min-label propagation (the standard MapReduce/Spark CC
    formulation, cf. Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): every node starts labeled with
    itself; each round takes the min of its label and its neighbors'
    labels; fixpoint in O(component diameter) rounds. Scale shape:
    each round is one join + one aggregate over the EDGE set — the
    pair graph, which is orders of magnitude smaller than the corpus
    (LSH already reduced it) — and each round's labels are
    CHECKPOINTED, not merely persisted: persist alone truncates
    recomputation but the logical plan still deepens every round, so
    Catalyst re-analysis grows superlinearly with iterations
    (measured: a 9-round path graph took minutes in re-planning).
    Checkpointing cuts the lineage, keeping plan depth — and
    per-round planning cost — O(1). Reliable ``checkpoint()`` when
    the session has a checkpoint dir (the cluster deployment);
    ``localCheckpoint`` otherwise (executor-local, fine for local
    mode; set a checkpoint dir in production so task retries can
    rebuild).
    Near-dup components are shallow (dup clusters are near-cliques),
    so rounds ≈ 2-3 in practice; ``max_iter`` bounds the worst case
    (a path graph) and a driver-side convergence count stops early.

    Returns (node, cluster, keep): every document that appears in a
    pair, its component's min id, and whether it IS that survivor.
    Documents in no pair never enter the graph — they are their own
    implicit singleton clusters.
    """
    from pyspark.storagelevel import StorageLevel

    def truncate(df: DataFrame) -> DataFrame:
        sc = df.sparkSession.sparkContext
        has_dir = sc._jsc.sc().getCheckpointDir().isDefined()
        if has_dir:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = truncate(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    try:
        changed = 0
        for _ in range(max_iter):
            nbr_min = (
                sym.join(labels, sym.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_min"))
            )
            new_labels = truncate(
                labels.join(nbr_min, labels.node == nbr_min.src, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nbr_min"), F.col("label")),
                    ).alias("label"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        if changed:
            # a component with diameter > max_iter would be silently
            # reported as several clusters (extra "survivors"); fail
            # loudly rather than hand back a non-fixpoint labeling
            raise RuntimeError(
                f"dup_clusters did not converge in {max_iter} rounds "
                f"({changed} labels still changing); raise max_iter — "
                "near-dup components are near-cliques, so a deep "
                "component usually means the pair threshold is wrong"
            )
        # checkpointed: O(1)-deep plan backed by materialized
        # partitions (freed by the ContextCleaner when unreferenced)
        return labels.select(
            F.col("node"),
            F.col("label").alias("cluster"),
            (F.col("node") == F.col("label")).alias("keep"),
        )
    finally:
        sym.unpersist()


def dup_clusters_plan(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    rounds: int = 6,
    persist_edges: bool = True,
) -> DataFrame:
    """Connected components as ONE LAZY PLAN: ``rounds`` unrolled
    min-label-propagation steps, no driver actions, no checkpoints —
    the contract-safe twin of :func:`dup_clusters` for declared
    queries and prepared-statement reuse (the iterative variant runs
    count()/checkpoint() actions at plan-build time, which a
    reusable plan must not).

    Reaches the true fixpoint iff ``rounds >= component diameter``.
    Near-dup components are near-cliques (LSH emits most transitive
    edges directly), so diameter is 2-3 in practice; rounds=6 is a
    2x safety margin, and extra rounds past the fixpoint are label
    no-ops — the result then equals :func:`dup_clusters` and the
    oracle's recursive transitive closure exactly (pinned by
    tests/test_extensions.py's static-vs-iterative comparison). For
    unbounded-diameter graphs (a path of retweets, not near-dups)
    use the iterative variant, which detects non-convergence.

    Plan-size discipline — the reason this is not a transcription of
    the iterative loop: a round written as labels ⋈ nbr_min(labels)
    references ``labels`` TWICE, so k unrolled rounds build a
    2^k-leaf logical plan (measured: 6 rounds took ~10 s of Catalyst
    analysis alone). Instead the edge set carries SELF-LOOPS, so one
    round is a single join + min-aggregate that references
    ``labels`` exactly once — min over {own label} ∪ {neighbor
    labels} is the identical update rule, and plan depth stays
    linear in ``rounds``.

    ``persist_edges`` (default) registers the self-looped symmetric
    edge set in the shared persist registry: every unrolled round
    references it, and without materialization the pair-producing
    pipeline (typically a full LSH pass) would be re-analyzed and
    re-executed per round. Callers must release via
    util.unpersist_candidates() between query sets.
    """
    from etl_macropulse_br_spark.operators.util import register_persisted

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    nodes = edges.select("src").union(
        edges.select(F.col("dst").alias("src"))
    ).distinct()
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .union(nodes.select("src", F.col("src").alias("dst")))  # self-loops
    )
    if persist_edges:
        sym = register_persisted(sym)
    labels = sym.select(
        F.col("dst").alias("node"), F.col("dst").alias("label")
    ).distinct()
    for _ in range(rounds):
        labels = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("node"), "label")
        )
    return labels.select(
        F.col("node"),
        F.col("label").alias("cluster"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares ANY n-token shingle with an evaluation corpus — the
    overlap pass run before a training corpus ships (the GPT-3
    appendix-C / Pile-style n-gram collision check), here as a pure
    relational plan.

    Scale shape: both corpora reduce to shingle-hash rows (the same
    affine-combine stream the LSH path uses — map-only, no
    exchange); the eval side is DISTINCT shingles of a benchmark
    suite, i.e. small by construction, so the semi-join
    broadcast-resolves under AQE and the 100 TB training side is
    flagged at scan speed without ever shuffling its text. Only the
    matched ids (``|contaminated| << |train|``) hit a shuffle (the
    distinct).

    Returns (id_col, contaminated) for EVERY training doc.
    """
    t_sh = shingle_hash_rows(train, text_col, id_col, n_shingle)
    e_sh = (
        shingle_hash_rows(eval_df, text_col, id_col, n_shingle)
        .select("sh_h")
        .distinct()
    )
    hits = (
        t_sh.join(e_sh, "sh_h", "left_semi")
        .select("id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        train.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
) -> DataFrame:
    """The AUDIT companion to :func:`decontaminate`: for every
    contaminated training doc, WHICH eval docs it collides with and
    how hard — (train_id, eval_id, n_shared_shingles). A bare
    boolean is enough to drop docs; a release review needs the
    trace ("train doc X shares 14 trigrams with benchmark item Y")
    to distinguish verbatim benchmark leakage from a one-shingle
    idiom collision, and per-eval-doc totals show WHICH benchmark
    items are compromised in the corpus.

    Scale shape: the eval side keeps (eval_id, shingle) rows this
    time — still benchmark-suite-sized, so the equi-join on the
    shingle hash broadcast-resolves under AQE and the training side
    is matched at scan speed; only MATCHED (train_id, eval_id,
    shingle) rows reach the count aggregate (map-side combined),
    which is ``|contamination|``-sized, not corpus-sized. Shingle
    multiplicity on the train side counts once per distinct
    (shingle, position-independent) collision pair — both sides
    dedup (id, shingle) first, so ``n_shared_shingles`` is the size
    of the shared DISTINCT shingle set, the standard overlap
    measure.
    """
    t_sh = (
        shingle_hash_rows(train, text_col, id_col, n_shingle)
        .select(F.col("id").alias("train_id"), "sh_h")
        .distinct()
    )
    e_sh = (
        shingle_hash_rows(eval_df, text_col, id_col, n_shingle)
        .select(F.col("id").alias("eval_id"), "sh_h")
        .distinct()
    )
    return (
        t_sh.join(e_sh, "sh_h")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def chunk_dedup_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring span removal — the relational approximation of
    the suffix-array dedup in Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): instead of deleting
    every duplicated >=50-token substring (which needs a corpus-wide
    suffix array), partition each document into DISJOINT
    ``chunk_tokens``-token chunks and delete every chunk whose exact
    text occurs in >= ``min_docs`` distinct documents. Reference
    scope: the reference pipeline (src/pipeline.py) has no corpus
    text ops; this extends the training-data surface.

    Scale shape — text shuffles at most once, and only for docs
    that lost a chunk:

    1. map-only per doc: token array -> disjoint chunk strings
       (``transform(sequence(...))`` over ``slice``) -> one portable
       md5 hash per chunk. All inside whole-stage codegen.
    2. ``posexplode`` the HASH array only: (id, idx, h) int rows feed
       a doc-frequency aggregate (partial distinct-combine before the
       single int shuffle) -> the duplicated-hash set.
    3. semi-join the int rows against that set and collect the
       dropped POSITIONS per doc (``collect_set(idx)`` — ints again).
    4. join positions back to the per-doc chunk arrays on id. When
       few docs lost a chunk, AQE broadcast-resolves the positions
       side and the reassembly ``filter((c, i) -> ...)`` +
       ``array_join`` runs at scan speed on the map side. On a real
       web corpus where 30-50% of docs contain a duplicated chunk,
       the positions side is corpus-order, the join plans as SMJ,
       and the text-carrying side shuffles ONCE on id — the same
       single text pass a production span-removal job pays.

    Returns (id_col, n_chunks, n_dropped, clean_text) for every doc.
    """
    from etl_macropulse_br_spark.functions.hashing import md5_long
    from etl_macropulse_br_spark.operators.util import spread

    k = chunk_tokens
    toks = F.split(_norm_text(text_col), _WS)
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(k))).cast("int"), F.lit(1)
    )
    base = spread(df).select(
        F.col(id_col).alias("id"),
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.array_join(
                F.slice(toks, i * F.lit(k) + F.lit(1), F.lit(k)), " "
            ),
        ).alias("chunks"),
    )
    ex = base.select(
        "id",
        F.posexplode(F.transform("chunks", lambda c: md5_long(c))).alias(
            "idx", "h"
        ),
    )
    dup = (
        ex.groupBy("h")
        .agg(F.count_distinct(F.col("id")).alias("dfreq"))
        .filter(F.col("dfreq") >= F.lit(min_docs))
        .select("h")
    )
    drops = (
        ex.join(dup, "h", "left_semi")
        .groupBy("id")
        .agg(F.collect_set("idx").alias("drop_idx"))
    )
    d = F.coalesce(F.col("drop_idx"), F.array().cast("array<int>"))
    return base.join(drops, "id", "left").select(
        F.col("id").alias(id_col),
        F.size("chunks").cast("bigint").alias("n_chunks"),
        F.size(d).cast("bigint").alias("n_dropped"),
        F.array_join(
            F.filter(
                "chunks", lambda c, i: ~F.array_contains(d, i)
            ),
            " ",
        ).alias("clean_text"),
    )


# 10 odd constants < 2^24 for the span affine combine: 10 terms of
# (2^32 base x 2^24 coef) stay under 2^60 — no signed-64 overflow
# even with ANSI checks on (the 3-wide _SHINGLE_COEFS family uses
# ~2^20 coefs for the same reason at width 3).
_SPAN_COEFS = (
    15485863, 12582917, 11400713, 9999991, 8388617,
    7368791, 6291469, 5242883, 4194319, 3145739,
)


def _merged_ranges(starts_col, k: int):
    """Sorted hit-start array -> disjoint, merged token ranges
    ``array<struct<s,e>>`` covering ``[s, e)`` — a map-side array
    fold, no new shuffle. A duplicated run of length L >= k yields
    L-k+1 consecutive starts that collapse to ONE range, so the
    per-token coverage predicate checks |merged runs| entries
    instead of |hit grams| (the Lee et al. byte-range merge,
    token-granular). Adjacent/overlapping ranges (next start <=
    previous end) extend the last range in place."""
    empty = F.expr("CAST(array() AS array<struct<s:int,e:int>>)")

    def step(acc, st):
        last = F.element_at(acc, -1)
        extend = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["s"].alias("s"),
                    F.greatest(last["e"], st + F.lit(k)).alias("e"),
                )
            ),
        )
        append = F.concat(
            acc,
            F.array(F.struct(st.alias("s"), (st + F.lit(k)).alias("e"))),
        )
        return F.when((F.size(acc) > 0) & (st <= last["e"]), extend).otherwise(
            append
        )

    return F.aggregate(F.array_sort(starts_col), empty, step)


def _in_ranges(ranges_col):
    """Coverage predicate factory: token index -> covered by any
    merged range."""
    return lambda i: F.exists(
        ranges_col, lambda r: (i >= r["s"]) & (i < r["e"])
    )


def _check_span_tokens(span_tokens: int) -> None:
    """The affine gram hash has exactly ``len(_SPAN_COEFS)`` terms;
    a wider span would silently hash only the first 10 tokens and
    treat runs with matching prefixes as duplicates. Fail loudly
    instead (wider spans need more coefficients AND a wider-than-64
    accumulator — the 2^60 overflow budget is exactly 10 terms)."""
    if not 1 <= span_tokens <= len(_SPAN_COEFS):
        raise ValueError(
            f"span_tokens must be in 1..{len(_SPAN_COEFS)} (the affine "
            f"gram hash has {len(_SPAN_COEFS)} coefficients and a 2^60 "
            f"signed-64 overflow budget); got {span_tokens}"
        )


def span_dedup_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """SLIDING-window exact-substring span removal — the faithful
    relational form of Lee et al. 2022's duplicated-span deletion,
    strictly stronger than the disjoint-chunk approximation
    (:func:`chunk_dedup_clean`): a duplicated run of >= ``span_tokens``
    tokens is caught at ANY offset, not only on chunk boundaries.
    Every token covered by any corpus-duplicated ``span_tokens``-gram
    (exact, in >= ``min_docs`` distinct docs) is deleted; the doc is
    reassembled from the surviving tokens.

    Plan (int-only shuffles upstream; the reassembly join is the
    one place text can shuffle — see step 3):

    1. posexplode token HASHES; one ``lead``-window pass per doc
       builds the affine sliding n-gram hash at every start position
       (the ``with_pos`` shingle trick, widened to 10 via
       ``_SPAN_COEFS``) — one exchange on id.
    2. doc-frequency aggregate over the int gram hashes -> the
       duplicated-gram set; semi-join back -> hit START positions;
       ``collect_set`` per doc (ints only).
    3. join hit-starts to the per-doc token arrays and filter
       tokens with a nested higher-order predicate: token i
       survives iff NO hit start s has s <= i < s+K. With few
       affected docs the hits side AQE-broadcasts and the
       reassembly is map-side; on a heavily-duplicated corpus
       (30-50% of docs hit) the join plans as SMJ and text shuffles
       once on id — the unavoidable single text pass.

    Docs shorter than ``span_tokens`` have no window and pass
    through untouched. Returns (id_col, n_tokens, n_spans,
    n_removed, clean_text)."""
    from pyspark.sql import Window

    from etl_macropulse_br_spark.functions.hashing import base32
    from etl_macropulse_br_spark.operators.util import spread

    _check_span_tokens(span_tokens)
    k = span_tokens
    toks = F.split(_norm_text(text_col), _WS)
    tok_rows = spread(df).select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    hashed = tok_rows.select("id", "pos", base32("tok").alias("h"))
    w = Window.partitionBy("id").orderBy("pos")
    wcnt = Window.partitionBy("id")
    g_h = F.col("h") * F.lit(_SPAN_COEFS[0])
    for j, coef in enumerate(_SPAN_COEFS[1:k], start=1):
        g_h = g_h + F.coalesce(F.lead("h", j).over(w), F.lit(0)) * F.lit(
            coef
        )
    grams = hashed.select(
        "id",
        "pos",
        g_h.alias("g_h"),
        F.count(F.lit(1)).over(wcnt).alias("n_tok"),
    ).filter(F.col("pos") <= F.col("n_tok") - F.lit(k))
    dup = (
        grams.groupBy("g_h")
        .agg(F.count_distinct(F.col("id")).alias("dfreq"))
        .filter(F.col("dfreq") >= F.lit(min_docs))
        .select("g_h")
    )
    hits = (
        grams.join(dup, "g_h", "left_semi")
        .groupBy("id")
        .agg(F.collect_set("pos").alias("starts"))
    )
    base = spread(df).select(F.col(id_col).alias("id"), toks.alias("toks"))
    s = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    # byte-range merge post-pass: consecutive starts of one long
    # duplicated run collapse to a single [s, e) range before the
    # per-token predicate — same coverage set, |runs| checks/token.
    covered = _in_ranges(_merged_ranges(s, k))
    kept = F.filter("toks", lambda t, i: ~covered(i))
    return base.join(hits, "id", "left").select(
        F.col("id").alias(id_col),
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(s).cast("bigint").alias("n_spans"),
        (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    threshold: float = 0.5,
    max_df: int = 5,
) -> DataFrame:
    """DIRECTIONAL containment (Broder's asymmetric resemblance,
    |A∩B| / |A|) — catches SUB-DOCUMENT duplication that symmetric
    Jaccard under-scores: a short doc fully quoted inside a long one
    has tiny Jaccard but containment ~1.0 in the short->long
    direction.

    Blocking is RARE-SHINGLE indexing instead of MinHash bands: two
    docs are candidates iff they share >= 1 shingle seen in at most
    ``max_df`` docs (2..max_df). Rare shingles are the
    discriminative ones — boilerplate shingles (high df) generate
    quadratic pair floods and no signal, so the df cap bounds the
    inverted-index self-join at C(max_df, 2) pairs per shingle at
    ANY corpus size. The candidate policy is exactly replayable in
    SQL, so both containment directions hash-gate.

    Recall characterization (pinned by
    ``test_containment_blocking_recall_on_planted_subdocs``):
    against brute-force containment on a seeded corpus, blocking
    finds 100% of pairs whose overlap includes >= 1 discriminative
    (df <= max_df) shingle — every planted sub-document — and the
    exact verify stage keeps precision at 1.0. The bound it trades
    away: a pair whose ONLY shared shingles are high-df boilerplate
    is unfindable by construction (that is the point of the cap).

    Plan: distinct shingle-hash rows (map-only affine stream) -> df
    aggregate -> rare set -> bounded self-join -> array_intersect
    verify on collect_set arrays (int arrays only; text never
    shuffles). Returns (id_a, id_b, containment_a, containment_b)
    where either direction >= ``threshold``.
    """
    rows = shingle_hash_rows(df, text_col, id_col, n_shingle).distinct()
    dfreq = rows.groupBy("sh_h").agg(F.count(F.lit(1)).alias("c"))
    rare = dfreq.filter(
        (F.col("c") >= 2) & (F.col("c") <= F.lit(max_df))
    ).select("sh_h")
    rrows = rows.join(rare, "sh_h", "left_semi")
    a, b = rrows.alias("a"), rrows.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.sh_h") == F.col("b.sh_h"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sets = rows.groupBy("id").agg(F.collect_set("sh_h").alias("sh"))
    # rename AFTER each join so both lookups share one canonical
    # shingle-set build (ReuseExchange — same fix as the Jaccard and
    # SRP verify stages)
    j1 = cand.join(sets, F.col("id_a") == sets["id"]).select(
        "id_a", "id_b", F.col("sh").alias("sh_a")
    )
    inter = F.size(F.array_intersect("sh_a", "sh"))
    c_a = inter / F.size("sh_a")
    c_b = inter / F.size("sh")
    return (
        j1.join(sets, F.col("id_b") == sets["id"])
        .select(
            "id_a",
            "id_b",
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= F.lit(threshold)
        )
    )


def span_dedup_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """KEEP-GLOBALLY-FIRST span removal — the Lee et al. deletion
    policy at gram granularity: every occurrence of a duplicated
    >= ``span_tokens``-token run is deleted EXCEPT the corpus-first
    one (min (doc_id, pos) lexicographically). Two sharpenings over
    :func:`span_dedup_clean`: duplication counts OCCURRENCES (so a
    run repeated within ONE doc is deduplicated too), and exactly
    one copy of the duplicated text survives in the corpus (the
    symmetric variant deletes all of them).

    Winner protection (r6): removal and winner hit-starts both
    merge into byte ranges map-side (:func:`_merged_ranges`), and a
    token is deleted iff covered by a removal range AND NOT by a
    winner range — an overlapping non-winner gram can no longer
    clip the corpus-first copy's tokens, so the surviving copy is
    always intact (e.g. a doc of one token repeated 30x keeps the
    full first 10-token span, not a single token).

    Plan: the sliding gram stream (one ``lead`` window per doc) goes
    through ONE (gram-hash) window pass computing occurrence count
    and rank in (doc_id, pos) order — both sides of the oracle share
    that formulation verbatim; non-winner occurrences of duplicated
    grams become hit starts; reassembly is the same
    ``filter``/``array_join`` as the symmetric variant. Int-only
    shuffles upstream; text shuffles at most once, only for the
    reassembly join when the hits side is too large to broadcast.

    Returns (id_col, n_tokens, n_spans_removed, n_removed,
    clean_text)."""
    from pyspark.sql import Window

    from etl_macropulse_br_spark.functions.hashing import base32
    from etl_macropulse_br_spark.operators.util import spread

    _check_span_tokens(span_tokens)
    k = span_tokens
    toks = F.split(_norm_text(text_col), _WS)
    tok_rows = spread(df).select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    hashed = tok_rows.select("id", "pos", base32("tok").alias("h"))
    w = Window.partitionBy("id").orderBy("pos")
    wcnt = Window.partitionBy("id")
    g_h = F.col("h") * F.lit(_SPAN_COEFS[0])
    for j, coef in enumerate(_SPAN_COEFS[1:k], start=1):
        g_h = g_h + F.coalesce(F.lead("h", j).over(w), F.lit(0)) * F.lit(
            coef
        )
    grams = hashed.select(
        "id",
        "pos",
        g_h.alias("g_h"),
        F.count(F.lit(1)).over(wcnt).alias("n_tok"),
    ).filter(F.col("pos") <= F.col("n_tok") - F.lit(k))
    wg = Window.partitionBy("g_h")
    wr = Window.partitionBy("g_h").orderBy("id", "pos")
    hits = (
        grams.select(
            "id",
            "pos",
            F.count(F.lit(1)).over(wg).alias("occ"),
            F.row_number().over(wr).alias("rk"),
        )
        .filter(F.col("occ") >= F.lit(min_count))
        .groupBy("id")
        .agg(
            F.collect_set(
                F.when(F.col("rk") > 1, F.col("pos"))
            ).alias("starts"),
            F.collect_set(
                F.when(F.col("rk") == 1, F.col("pos"))
            ).alias("win_starts"),
        )
    )
    base = spread(df).select(F.col(id_col).alias("id"), toks.alias("toks"))
    s = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    w_s = F.coalesce(F.col("win_starts"), F.array().cast("array<int>"))
    removed = _in_ranges(_merged_ranges(s, k))
    protected = _in_ranges(_merged_ranges(w_s, k))
    kept = F.filter("toks", lambda t, i: ~removed(i) | protected(i))
    return base.join(hits, "id", "left").select(
        F.col("id").alias(id_col),
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(s).cast("bigint").alias("n_spans_removed"),
        (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter decontamination — the scale path of
    :func:`decontaminate` for when the distinct eval-shingle set
    itself outgrows a comfortable broadcast: the eval corpus
    compresses to an ``n_bits``-bit Bloom bitset (fixed size
    regardless of eval size) and the training side probes it.
    Structurally NO FALSE NEGATIVES (every truly contaminated doc is
    flagged); false positives occur at the classic
    ``(1 - e^(-kn/m))^k`` rate and only cost over-removal.

    The Bloom filter is built from the repo's portable primitives —
    ``n_hashes`` positions per shingle via the 2-universal family
    over the md5-folded shingle hash, bits OR-combined per 64-bit
    word — so unlike an engine-native bloom_filter_agg the ENTIRE
    operator (bitset construction included) replays bit-identically
    in the SQL oracle: OR is commutative/associative, making the
    bitset independent of row order and partitioning.

    Plan: eval -> distinct shingle hashes -> explode k (word, mask)
    int pairs -> ``bit_or`` per word -> the <= n_bits/64-row word
    table densifies into ONE array row (the Bloom bitset as a
    broadcast literal, fixed size by construction); train -> shingle
    hashes -> ALL k probes evaluate as map-side expressions over
    the broadcast array (a shingle hits iff every probed bit is
    set) -> a doc is contaminated iff ANY shingle hits (one
    partial-combined groupBy(id)). Map-only probe, int-only
    exchanges, the train text never shuffles. Returns
    (id_col, contaminated) for every training doc.
    """
    dense = bloom_bitset(
        eval_df, text_col, id_col, n_shingle, n_bits, n_hashes
    )
    t_sh = shingle_hash_rows(train, text_col, id_col, n_shingle)
    hit = _bloom_hit(F.col("sh_h"), F.col("bf"), n_bits, n_hashes)
    return (
        t_sh.crossJoin(F.broadcast(dense))
        .groupBy(F.col("id").alias(id_col))
        .agg(F.max(hit).alias("contaminated"))
    )


def _bloom_positions(sh_col: Column, n_bits: int, n_hashes: int):
    """The k probe positions for one shingle hash. Knuth
    multiplicative hashing: take MIDDLE bits of a*x+b (shiftright 16
    before the mod). Low bits of an affine map are a bijection of
    the base's low bits, which correlates the k probes and
    measurably inflates the FP rate (17% -> 0 doc-level false
    positives on the sf0.01 corpus at the default sizing)."""
    from etl_macropulse_br_spark.functions.hashing import (
        universal_hashes,
    )

    base = F.pmod(sh_col, F.lit(1 << 32))
    return [
        F.pmod(F.shiftright(h, 16), F.lit(n_bits))
        for h in universal_hashes(base, n_hashes)
    ]


def _bloom_word_mask(pos: Column):
    """(word index, bit mask) for a probe position — 60 usable bits
    per word: shifting into bit 63 overflows in DuckDB (checked)
    while Spark wraps silently, so 0..59 shifts are portable, same
    convention as the repo's 60-bit hash family."""
    word = F.floor(pos / F.lit(60)).cast("int")
    # shiftleft with a COLUMN bit count (the F.shiftleft wrapper
    # only takes a literal)
    mask = F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        F.pmod(pos, F.lit(60)).cast("int"),
    )
    return word, mask


def _bloom_hit(
    sh_col: Column, bf_col: Column, n_bits: int, n_hashes: int
) -> Column:
    """True iff every probed bit of the shingle is set in the bitset
    array — the probe :func:`decontaminate_bloom` groups per doc."""
    hit = None
    for pos in _bloom_positions(sh_col, n_bits, n_hashes):
        w, m = _bloom_word_mask(pos)
        one = F.element_at(bf_col, w + F.lit(1)).bitwiseAND(m) == m
        hit = one if hit is None else hit & one
    return hit


def bloom_bitset(
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
) -> DataFrame:
    """The eval corpus compressed to a ONE-row (bf: array<long>)
    Bloom bitset DataFrame — the broadcast "model parameter"
    :func:`decontaminate_bloom` probes. bit_or is
    commutative/associative, so the bitset is independent of row
    order and partitioning and the construction replays
    bit-identically in the SQL oracle."""
    n_words = (n_bits + 59) // 60
    e_sh = (
        shingle_hash_rows(eval_df, text_col, id_col, n_shingle)
        .select("sh_h")
        .distinct()
    )
    pairs = []
    for pos in _bloom_positions(F.col("sh_h"), n_bits, n_hashes):
        w, m = _bloom_word_mask(pos)
        pairs.append(F.struct(w.alias("word"), m.alias("mask")))
    bits = (
        e_sh.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.word", "p.mask")
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )

    # densify the sparse word table into the full bitset as one
    # array row — evaluated once (single row), broadcast to every
    # probe task
    packed = bits.groupBy().agg(
        F.collect_list(F.struct("word", "bits")).alias("wb")
    )
    return packed.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda w: F.coalesce(
                F.get(
                    F.filter(F.col("wb"), lambda x: x["word"] == w),
                    F.lit(0),
                )["bits"],
                F.lit(0).cast("long"),
            ),
        ).alias("bf")
    )
