"""Text-analysis operators for training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): token
counting, quality scoring and a language-ID heuristic over the
``documents`` table. Everything is built from Catalyst expressions
(split / higher-order array functions / regexp) — no Python UDFs,
so the operators stay inside whole-stage codegen and scale linearly
with input splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny fixed marker lists for the language-ID heuristic. Word-level
# markers (not char n-grams) keep the scoring expressible in both
# engines; the classifier is deterministic: highest marker count
# wins, ties broken by language code order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "pt": ("o", "a", "de", "que", "e"),
}

_WS = r"\s+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), _WS)


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the reference-free baseline tokenizer)."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-flavored token estimate: count word pieces + digits +
    punctuation runs via regexp. A cheap, deterministic proxy for
    subword token counts (≈ GPT-2 pre-tokenizer word splitting)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(
        c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0
    )
    return F.size(pieces)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features (length / punctuation / stopword
    ratios) used for corpus filtering."""
    from etl_macropulse_br_spark.operators.util import spread

    df = spread(df)
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    stop_list = [w for ws in LANG_MARKERS.values() for w in ws]
    # case-insensitive marker match (r9 review fix): the lists are
    # lowercase, so 'The cat and THE dog' previously counted only
    # 'and' — normally-capitalized prose under-scored systematically
    n_stop = F.size(
        F.filter(toks, lambda x: F.lower(x).isin(*stop_list))
    )
    # Ratios are int/int divisions — deterministic doubles, left
    # unrounded so they hash identically against the SQL oracle.
    return df.select(
        "*",
        F.length(t).alias("char_count"),
        n_tok.alias("word_count"),
        (F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))).alias(
            "uniq_word_ratio"
        ),
        (
            F.length(F.regexp_replace(t, r"[^.!?,;:]", ""))
            / F.greatest(F.length(t), F.lit(1))
        ).alias("punct_ratio"),
        (n_stop / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic marker-word language ID.

    Scores each language by marker-token count; argmax with
    lexicographic tiebreak. On real corpora, swap the marker lists
    for char-n-gram profiles (same plan shape — still pure
    expressions)."""
    from etl_macropulse_br_spark.operators.util import spread

    toks = tokens(F.col(text_col))
    scored = spread(df)
    for lang, markers in LANG_MARKERS.items():
        # case-insensitive (r9): sentence-initial markers ('The',
        # 'Der') previously never counted — see quality_features
        scored = scored.withColumn(
            f"__score_{lang}",
            F.size(
                F.filter(toks, lambda x: F.lower(x).isin(*markers))
            ),
        )
    # argmax via greatest + chained when (deterministic tiebreak:
    # first language in sorted order wins ties)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"__score_{lang}") for lang in langs])
    pred: Column = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"__score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.withColumn("pred_lang", pred).drop(
        *[f"__score_{lang}" for lang in langs]
    )


# Char-trigram profiles (Cavnar–Trenkle style, hand-picked top
# boundary-aware trigrams per language). Space-padded text makes
# word-boundary grams (" th", "de ") countable with plain substring
# counting — no regex, no tokenization.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", "ing", " an", "nd ", " of", "of ", "ed ", " to"),
    "es": (" de", "de ", " la", "la ", "que", " qu", "os ", " el", "el ", " y "),
    "de": ("der", "er ", "ie ", "sch", "die", "und", " un", "ch ", "ein", "en "),
    "fr": (" le", "le ", "les", "ent", " et", "et ", "on ", " la", " pa", "ais"),
    "pt": (" de", "de ", "ão ", "que", " co", "os ", " a ", " o ", "da ", " da"),
}


def language_id_ngram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Char-trigram language ID (Cavnar–Trenkle 1994 style): each
    language scored by total matched profile-trigram characters in
    the space-padded, lowercased text; argmax with lexicographic
    tiebreak, ``und`` when nothing matches.

    All-expression (substring counting via length/replace — codegen,
    CSE-friendly), so it runs at scan speed at 100 TB and replays
    bit-identically in the SQL oracle. Swap LANG_TRIGRAMS for
    corpus-derived profiles in production; the plan shape is
    unchanged.
    """
    from etl_macropulse_br_spark.operators.util import spread

    padded = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), _WS, " "),
        F.lit(" "),
    )
    # single-parse score expressions: the Column-API form paid ~3
    # Py4J round-trips per (lang, gram) pair — ~150 driver RPCs per
    # plan build for 5 langs × 10 grams. One F.expr per language
    # parses the whole sum; codegen CSE still evaluates __padded
    # once per row.
    scored = spread(df).withColumn("__padded", padded)
    langs = sorted(LANG_TRIGRAMS)
    for lang in langs:
        score_sql = " + ".join(
            f"(length(__padded) - length(replace(__padded, '{g}')))"
            for g in LANG_TRIGRAMS[lang]
        )
        scored = scored.withColumn(f"__ng_{lang}", F.expr(score_sql))
    best_sql = "greatest(" + ", ".join(f"__ng_{l}" for l in langs) + ")"
    case_sql = (
        "CASE "
        + " ".join(
            f"WHEN __ng_{l} = __best AND __best > 0 THEN '{l}'"
            for l in langs
        )
        + " ELSE 'und' END"
    )
    return (
        scored.withColumn("__best", F.expr(best_sql))
        .withColumn("pred_lang_ngram", F.expr(case_sql))
        .drop("__padded", "__best", *[f"__ng_{lang}" for lang in langs])
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_tf: bool = True,
) -> DataFrame:
    """BM25 document ranking for a bag of query terms (Robertson/
    Sparck Jones probabilistic retrieval), log-free variant.
    ``query_terms`` must be non-empty (r9: an empty list previously
    died with PySpark's bare ``AssertionError`` from ``agg(*[])``
    after the corpus-stats job had already run).

    The classic idf uses ``log((N - df + 0.5) / (df + 0.5))``; libm
    ``log`` is not bit-portable across engines, so this uses the
    monotone rational core ``(N - df + 0.5) / (df + 0.5)`` directly.
    NOTE the equivalence caveat: per TERM the rational idf is a
    strictly increasing transform of the log idf, so single-term
    rankings are identical — but BM25 sums per-term scores, and a
    monotone per-term transform does NOT commute with the sum, so
    multi-term rankings can diverge from log-idf BM25 (the rational
    form overweights rare terms). This operator therefore defines
    its OWN deterministic ranking function (rational-idf BM25);
    swap in a fixed-point log approximation if log-faithful
    multi-term ranking is required. Every operation is a
    bit-deterministic IEEE +,*,/ so the scores hash-match the SQL
    oracle exactly.

    Plan shape (scales):
    - Doc length is ``size(tokens)`` — an O(1) array op at the scan,
      NOT an aggregate over the exploded corpus, and it rides the
      explode so the corpus is tokenized exactly ONCE per run.
    - The corpus scalars (N, avgdl) are INDEX-TIME statistics —
      every real BM25 engine (Lucene et al.) stores them with the
      index rather than recomputing per query. They are collected at
      plan-build time by one scan-only aggregation job (no explode:
      ``size(tokens)`` again) and embedded as literals, exactly like
      the centroid sample in ivf_topk_deterministic; per-query runs
      then touch only the query-term rows.
    - The explode is filtered to the query terms BEFORE the tf
      aggregate, so the only token rows that ever reach a hash
      aggregate are |occurrences of query terms| (~1% of the
      corpus); per-term doc frequencies come from a window over that
      same filtered set. No joins at all — the scoring pipeline is
      explode → filter → aggregate → window → aggregate → top-k.
    Output: (doc_id, score) top-k, id-tiebroken.
    """
    if not query_terms:
        raise ValueError(
            "bm25_topk: query_terms must be non-empty (an upstream "
            "stopword filter may have stripped the whole query)"
        )
    from etl_macropulse_br_spark.operators.util import spread

    # split on the whitespace-run regex directly: collapsing runs
    # with regexp_replace first yields the IDENTICAL token vector
    # (both operate on \s+) while paying a second full-text regex
    # pass per document
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    # null text → split yields NULL → explode emits nothing: the doc
    # is absent from dl/N exactly as in an all-explode shape
    base = (
        spread(df)
        .select(F.col(id_col).alias("id"), toks.alias("__toks"))
        .filter(F.col("__toks").isNotNull())
    )
    # index-time corpus stats (plan-build driver job, see docstring);
    # sum/count are exact ints so the literal double equals the
    # oracle's own avgdl division bit-for-bit.
    #
    # r17: the stats pass counts tokens WITHOUT materializing them.
    # size(split(s, WS)) on any non-null s is exactly
    # regexp_count(s, WS) + 1 — split with its default limit keeps
    # leading/trailing empty fields, so the field count is always
    # (number of separator matches) + 1, and \s+ cannot match empty
    # — and lower() cannot change where whitespace falls, so the
    # count pass drops it too. The old shape allocated every token
    # of every document a second time (the tf pass re-tokenizes
    # anyway: two full split materializations per run) just to take
    # the array's size — and its null filter was
    # isnotnull(split(lower(trim(text)))), a split INSIDE the filter
    # condition that can never reach the scan. Spark 4 executes
    # regexp_count as size(regexp_extract_all(..)) (RuntimeReplaceable),
    # which still materializes the SEPARATOR matches — short
    # whitespace runs, a fraction of the token bytes — and the new
    # filter is a plain pushable isnotnull(text); see
    # plans/r17/bm25_stats_pass_{before,after}.txt.
    # Value-verified: (n_docs, sum dl) exact-int
    # identical on sf0.01 / sf0.1 / a K=16-replicated corpus and on
    # an adversarial edge set (empty, all-whitespace, tab/newline
    # runs, leading/trailing separators, unicode); identical ints ⇒
    # bit-identical avgdl literal ⇒ identical scores and oracle
    # hash. Measured (interleaved min-of-10, K=16 corpus, 80k docs):
    # 0.327 s → 0.237 s for the stats job. The null filter is
    # unchanged in effect: split(lower(trim(s))) is null iff s is
    # null.
    srow = (
        spread(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            (
                F.regexp_count(F.trim(F.col(text_col)), F.lit(_WS))
                + F.lit(1)
            ).alias("dl")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        )
        .collect()[0]
    )
    n_docs, avgdl = srow["n_docs"], srow["avgdl"]

    # per-doc term frequencies, query terms only, with dl carried
    # through the explode (same value on every row of a doc). With
    # ``persist_tf`` (the cluster-scale default) tf persists via the
    # shared registry in operators/util. REPEATED CALLERS MUST
    # RELEASE via util.unpersist_candidates() between query sets —
    # or pass persist_tf=False to stay fully lazy (small inputs,
    # one-shot plans).
    from etl_macropulse_br_spark.operators.util import register_persisted

    qt = [t.lower() for t in query_terms]
    # r17 (VERDICT r16 next #5): filter the token ARRAY down to the
    # query terms BEFORE the explode, so only matching tokens ever
    # become rows — the old shape exploded every token into the row
    # pipeline and discarded ~99% of them one operator later.
    # Integer-equivalent by construction: the higher-order `filter`
    # preserves order and multiplicity, so per-(doc, term) counts
    # are the same integers; dl still measures the UNFILTERED array;
    # a doc with zero matching tokens explodes to nothing exactly as
    # its rows all failed the old isin. Measured (ABBA x2, sf0.1):
    # 0.337/0.373 s -> 0.273/0.271 s full query; the tf-pass
    # decomposition that motivated it is in PLANS.md (r17 ledger).
    # Rejected alternates, same ledger: per-term regexp_count with
    # lookaround boundaries (0.45-0.56 s — 4 extra full-text regex
    # scans cost more than one split), regexp_extract_all tokenize
    # (ties split within noise). At corpus scale the explode's row
    # materialization is linear in ALL tokens; this bounds it by
    # matching tokens only, the same economics that won locally.
    tf = (
        base.select(
            "id",
            F.size("__toks").alias("dl"),
            F.explode(
                F.filter("__toks", lambda x: x.isin(*qt))
            ).alias("tok"),
        )
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    if persist_tf:
        tf = register_persisted(tf)

    from pyspark.sql import Window

    w_tok = Window.partitionBy("tok")
    scored = (
        tf.withColumn("df_t", F.count(F.lit(1)).over(w_tok))
        .withColumn("n_docs", F.lit(n_docs))
        .withColumn("avgdl", F.lit(avgdl))
    )
    idf = (F.col("n_docs") - F.col("df_t") + F.lit(0.5)) / (
        F.col("df_t") + F.lit(0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl") / F.col("avgdl"))
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom

    # A plain sum(score) per doc would be order-dependent float
    # addition (partial aggregation adds in partition order). Each
    # (doc, term) contributes exactly ONE value, so conditional
    # per-term sums are exact, and the final fold adds them in fixed
    # query-term order — bit-deterministic under any partitioning,
    # which is what lets the SQL oracle hash-match.
    per_term = scored.select("id", "tok", term_score.alias("s")).groupBy(
        "id"
    ).agg(
        *[
            F.sum(F.when(F.col("tok") == t, F.col("s"))).alias(f"s_{i}")
            for i, t in enumerate(qt)
        ]
    )
    score: Column = F.lit(0.0)
    for i in range(len(qt)):
        score = score + F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
    return (
        per_term.select(F.col("id").alias(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals for corpus filtering (Rae et
    al. 2021 §A1.1: repetitious documents are low-quality): per doc,

    - ``top_word_ratio``: occurrences of the most frequent token /
      total tokens (caught: keyword stuffing, boilerplate),
    - ``dup_bigram_ratio``: fraction of bigram INSTANCES that are
      repeats of an earlier bigram (caught: looping generations),
    - ``uniq_token_ratio``: distinct / total tokens.

    All ratios are int/int divisions — bit-deterministic doubles.

    Plan (shares the shingle path's row stream — see
    ``operators/dedup.py:shingle_hash_rows``): ONE posexplode feeds
    one md5-base32 per token; a ``lead`` window over (id, pos) forms
    each bigram hash as the n=2 affine combine of adjacent token
    hashes (same coefficients as the shingle path — no string
    concat, no second tokenization). r6: word and bigram statistics
    FUSE into one linear pipeline — each window row explodes into
    tagged (kind, key) pairs, one (id, kind, key) count aggregate
    (hash(id) already clusters it — no further shuffle) feeds one
    conditional per-doc aggregate. No join, no second aggregate
    branch, no broadcast build; one exchange of the token stream
    total (the r2 string pipeline paid two, the r3-r5 shape paid a
    words-x-bigrams join). Measured 0.32-0.51 s -> 0.19-0.22 s at
    sf0.1 with identical output.

    Token/bigram identity is the 32-bit folded hash, not the string:
    a colliding token pair perturbs one count in a ratio heuristic —
    irrelevant for filtering, and what the scale path would ship
    anyway (no string shuffle). The oracle replays the same hashes.
    """
    from pyspark.sql import Window

    from etl_macropulse_br_spark.functions.hashing import base32
    from etl_macropulse_br_spark.operators.dedup import _SHINGLE_COEFS
    from etl_macropulse_br_spark.operators.util import spread

    # split on \s+ directly — collapsing whitespace with
    # regexp_replace first yields the IDENTICAL token vector at the
    # cost of a second full-text regex pass (r9; bm25_topk's
    # established single-pass form)
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    tok_rows = spread(df).select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    hashed = tok_rows.select("id", "pos", base32("tok").alias("h"))
    w = Window.partitionBy("id").orderBy("pos")
    # bg_h is NULL on each doc's last token (lead has no next row)
    stream = hashed.select(
        "id",
        "h",
        (
            F.col("h") * F.lit(_SHINGLE_COEFS[0])
            + F.lead("h", 1).over(w) * F.lit(_SHINGLE_COEFS[1])
        ).alias("bg_h"),
    )
    keyed = (
        stream.select(
            "id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("kind"), F.col("h").alias("key")
                    ),
                    F.struct(
                        F.lit(1).alias("kind"), F.col("bg_h").alias("key")
                    ),
                )
            ).alias("e"),
        )
        .select("id", "e.kind", "e.key")
        .filter(F.col("key").isNotNull())
    )
    counts = keyed.groupBy("id", "kind", "key").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per = counts.groupBy("id").agg(
        F.max(F.when(F.col("kind") == 0, F.col("cnt"))).alias("top_cnt"),
        F.sum(F.when(F.col("kind") == 0, F.col("cnt"))).alias("n_tok"),
        F.count(F.when(F.col("kind") == 0, F.lit(1))).alias("n_uniq"),
        F.sum(F.when(F.col("kind") == 1, F.col("cnt"))).alias("n_bg"),
        F.count(F.when(F.col("kind") == 1, F.lit(1))).alias(
            "n_uniq_bg"
        ),
    )
    return per.select(
        F.col("id").alias(id_col),
        (F.col("top_cnt") / F.col("n_tok")).alias("top_word_ratio"),
        F.coalesce(
            (F.col("n_bg") - F.col("n_uniq_bg")) / F.col("n_bg"), F.lit(0.0)
        ).alias("dup_bigram_ratio"),
        (F.col("n_uniq") / F.col("n_tok")).alias("uniq_token_ratio"),
    )


def model_weights(n_buckets: int = 1024, seed: str = "qw") -> list[int]:
    """Deterministic integer weight vector in [-1000, 1000] for the
    hashed-linear scorer, derived from the portable md5 family (same
    derivation pattern as ``dedup.srp_signs``) — a stand-in for
    trained parameters with the identical deployment shape (swap in a
    real model's quantized weights without touching the plan)."""
    import hashlib

    return [
        int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:15], 16)
        % 2001
        - 1000
        for j in range(n_buckets)
    ]


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    seed: str = "qw",
    threshold: float = 0.0,
) -> DataFrame:
    """Linear model over hashed bag-of-words features, applied at
    SCAN SPEED — the shape of a fasttext-style quality classifier
    filtering a training corpus: the model is a driver-precomputed
    literal weight vector (broadcast parameters, exactly like the
    SRP hyperplanes), each token indexes it by portable 32-bit hash
    mod buckets, and the doc score is the mean of its token weights.

    Scale shape: map-only — no explode, no exchange, no UDF; 100 TB
    of text scores in one scan pass. Exactness: weights are INTEGERS
    and the fold sums integers (order-free, overflow-safe: |w| <=
    1000, so 2^53/1000 tokens per doc before the double...BIGINT sum
    could ever matter), with ONE final double division — so the
    score is bit-identical across engines and partitionings, unlike
    a float-weight sum (order-dependent) or a sigmoid (libm exp is
    not bit-portable).

    Returns (id_col, model_score, keep) where keep = score > threshold.
    """
    from etl_macropulse_br_spark.functions.hashing import base32
    from etl_macropulse_br_spark.operators.util import spread

    weights = model_weights(n_buckets, seed)
    w_lit = F.array(*[F.lit(w) for w in weights])
    # single-pass tokenization (r9; identical token vector — see
    # bm25_topk's comment)
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    score_int = F.aggregate(
        F.transform(
            toks,
            lambda t: F.element_at(
                w_lit, (F.pmod(base32(t), F.lit(n_buckets)) + 1).cast("int")
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    out = spread(df).select(
        F.col(id_col),
        (
            score_int.cast("double")
            / (F.lit(1000.0) * F.size(toks).cast("double"))
        ).alias("model_score"),
    )
    return out.withColumn("keep", F.col("model_score") > F.lit(threshold))


def boilerplate_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    min_docs: int = 3,
    max_frac: float = 0.5,
) -> DataFrame:
    """Corpus-frequent-n-gram ("boilerplate") flagging — the crawl
    curation stage that drops documents dominated by shared
    templates (nav bars, cookie banners, license footers; cf. the
    C4/RefinedWeb boilerplate filters). Reference scope: the
    reference pipeline (src/pipeline.py) has no corpus-level text
    ops; this extends the training-data surface.

    Two passes over ONE shared map-only shingle-hash stream (the
    same affine combine the LSH/decontamination paths use —
    operators/dedup.py:shingle_hash_rows, zero exchange to produce):

    1. doc-frequency aggregate per shingle hash → the ``common`` set
       (hashes seen in >= ``min_docs`` distinct docs). Shuffles int
       hashes, never text; partial distinct-combine applies.
    2. join the stream against ``common`` (un-hinted: the common set
       is df-thresholded and usually small, so AQE broadcast-resolves
       it at scale; at worst it is a hash join on int keys), then a
       per-doc aggregate: total shingles, common shingles, coverage
       fraction, and the keep/flag decision ``frac > max_frac``.

    The fraction divides two bigints (exact, order-free) and is
    rounded to 9dp so the cross-engine hash gate is stable.
    """
    from etl_macropulse_br_spark.operators.dedup import shingle_hash_rows

    rows = shingle_hash_rows(df, text_col, id_col, n_shingle)
    common = (
        rows.groupBy("sh_h")
        .agg(F.count_distinct(F.col("id")).alias("dfreq"))
        .filter(F.col("dfreq") >= F.lit(min_docs))
        .select("sh_h", F.lit(1).alias("is_common"))
    )
    frac = F.col("n_common").cast("double") / F.col("n_shingles").cast(
        "double"
    )
    return (
        rows.join(common, "sh_h", "left")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("is_common").alias("n_common"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_common",
            F.round(frac, 9).alias("boilerplate_frac"),
            (frac > F.lit(max_frac)).alias("boilerplate"),
        )
    )


def dsir_log_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 2,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc
    by ``log2 p_target(x) / p_raw(x)`` under bag-of-hashed-n-gram
    unigram models with add-one smoothing — the data-selection
    signal used to tilt a web corpus toward a target domain. This
    emits the WEIGHT column; composing a sampler is a separate
    stage (the repo's hash-rate / exact-k stratified samplers, or
    Gumbel-top-k for true importance resampling).

    Exactness: features are the shared affine shingle hash stream
    (BAG counts, not the set form the dedup family uses) bucketed
    ``pmod n_buckets``; both model's count tables are integers with
    map-side partial combine (each <= n_buckets rows — broadcast
    scale regardless of corpus size); the per-doc log fold runs
    over a bucket-sorted collect_list so float accumulation order
    is deterministic, with the constant totals term applied once
    outside the fold; 9dp-rounded for the cross-engine gate.

    Scale shape: two map-only feature streams, int-only shuffles,
    two <=B-row broadcast joins, no driver actions.
    """
    from etl_macropulse_br_spark.functions.hashing import base32
    from etl_macropulse_br_spark.operators.dedup import _SHINGLE_COEFS
    from etl_macropulse_br_spark.operators.util import spread

    B = n_buckets

    def bag_buckets(d: DataFrame) -> DataFrame:
        # single-pass tokenization (r9; identical token vector —
        # see bm25_topk's comment)
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        with_th = spread(d).select(
            F.col(id_col).alias("id"),
            F.transform(toks, lambda t: base32(t)).alias("th"),
        )
        n_sh = F.greatest(
            F.size("th") - F.lit(n_shingle - 1), F.lit(1)
        )

        def gram(i):
            g = None
            for j, coef in enumerate(_SHINGLE_COEFS[:n_shingle]):
                term = F.coalesce(
                    F.element_at(F.col("th"), i + F.lit(j)), F.lit(0)
                ) * F.lit(coef)
                g = term if g is None else g + term
            return g

        return with_th.select(
            "id",
            F.explode(
                F.transform(F.sequence(F.lit(1), n_sh), gram)
            ).alias("g_h"),
        ).select("id", F.pmod("g_h", F.lit(B)).alias("b"))

    docb = bag_buckets(df).groupBy("id", "b").agg(
        F.count(F.lit(1)).alias("n")
    )
    raw_b = docb.groupBy("b").agg(F.sum("n").alias("cr"))
    tgt_b = bag_buckets(target).groupBy("b").agg(
        F.count(F.lit(1)).alias("ct")
    )
    totals = (
        raw_b.agg(F.sum("cr").alias("tr"))
        .crossJoin(
            tgt_b.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
        )
    )
    joined = (
        docb.join(F.broadcast(raw_b), "b")
        .join(F.broadcast(tgt_b), "b", "left")
        .select(
            "id", "b", "n", F.coalesce("ct", F.lit(0)).alias("ct"), "cr"
        )
    )
    per_doc = joined.groupBy("id").agg(
        F.sum("n").alias("nf"),
        F.array_sort(
            F.collect_list(F.struct("b", "n", "ct", "cr"))
        ).alias("cs"),
    )
    term = lambda s: s["n"].cast("double") * (  # noqa: E731
        F.log2((s["ct"] + F.lit(1)).cast("double"))
        - F.log2((s["cr"] + F.lit(1)).cast("double"))
    )
    fold = F.aggregate(F.col("cs"), F.lit(0.0), lambda acc, s: acc + term(s))
    w = fold + F.col("nf").cast("double") * (
        F.log2((F.col("tr") + F.lit(B)).cast("double"))
        - F.log2((F.col("tt") + F.lit(B)).cast("double"))
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        F.col("id").alias(id_col),
        F.col("nf").cast("bigint").alias("n_feats"),
        F.round(w, 9).alias("log2_weight"),
    )
