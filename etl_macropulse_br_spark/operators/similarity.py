"""Similarity search over embedding columns.

- ``cosine_topk``: exact brute-force top-k vs a query vector.
  Dot product via zip_with/aggregate (sequential fold → bitwise
  deterministic), ranking via TakeOrderedAndProject — a true
  distributed top-k, no global sort materialization.
- ``ivf_topk``: IVF-style scale path — assign vectors to the nearest
  of c centroids (precomputed or sampled), probe only the closest
  cells. Bounds scanned vectors by probes/cells at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two numeric arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    a, b = _as_double_array(a), _as_double_array(b)
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float] | Column,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k nearest neighbors by cosine similarity.

    ``query_vec`` may be a Python list (becomes a literal array —
    broadcast to every task as part of the plan) or a Column.
    Deterministic ranking: rounded similarity desc, id asc.
    """
    from etl_macropulse_br_spark.functions.exprs import lit_double_array

    q = (
        lit_double_array([float(x) for x in query_vec])
        if isinstance(query_vec, list)
        else query_vec
    )
    from etl_macropulse_br_spark.operators.util import spread

    scored = spread(df).select(
        F.col(id_col),
        cosine_sim(F.col(vec_col), q).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def cosine_topk_pandas(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k via an Arrow-vectorized pandas UDF.

    The expression-fold path (:func:`cosine_topk`) is pure Catalyst
    but evaluates one lambda call per element; this variant moves
    each Arrow batch into NumPy and does one matrix-vector product —
    the designated escape hatch when vectorized math beats codegen
    (dims ≥ a few hundred, or batched many-query scoring). Results
    are identical up to float associativity, so the oracle-gated
    query keeps the fold path; benchmarks compare both.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    # the id column keeps ITS name and type (r9 review fix: the
    # schema was hard-coded to a LongType 'vec_id', which crashed
    # string ids at the Arrow boundary and silently renamed the
    # column for any non-default id_col)
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            # null vectors -> NULL cosine (nullable Float64 — a NaN
            # would sort FIRST under Spark's desc, where NaN > any
            # double, while the expression path's null sorts last);
            # matches cosine_sim(null) = null row-for-row (r8)
            vals = [None] * len(pdf)
            vecs, idxs = [], []
            for i, v in enumerate(pdf[vec_col]):
                if v is not None:
                    vecs.append(np.asarray(v, dtype=np.float64))
                    idxs.append(i)
            if vecs:
                m = np.asarray(vecs)
                sims = (m @ q) / (np.linalg.norm(m, axis=1) * qn)
                for i, s in zip(idxs, sims):
                    vals[i] = float(s)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cosine": pd.array(vals, dtype="Float64"),
                }
            )

    # NB: no spread() here — for Python-side operators, extra tiny
    # partitions each pay an Arrow round-trip + worker dispatch,
    # which dwarfs one vectorized matmul on small inputs. At real
    # scale the input's own partitioning provides the parallelism.
    scored = df.select(id_col, vec_col).mapInPandas(score, out_schema)
    return scored.orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    ).limit(k)


def ivf_topk_deterministic(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k, fully deterministic and oracle-able.

    Every stochastic choice is replaced by a portable deterministic
    twin so a SQL engine can replay the exact search:
    - centroids: the ``n_cells`` vectors ranked first by
      ``md5_long(id)`` (portable hash order — an unbiased,
      engine-independent sample);
    - cell assignment: argmax of fold-computed cosines, ties to the
      lowest cell index;
    - probe set: top ``n_probe`` cells by centroid-to-query cosine,
      computed with the same fold expressions (NOT numpy — BLAS
      reduction order differs from the SQL fold).
    The query vector is the embedding of ``query_id``.
    """
    import math

    from etl_macropulse_br_spark.functions.hashing import md5_long

    e = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    # Two tiny driver collects: the centroid sample (TakeOrdered,
    # no exchange) and the query row (pushed-filter point lookup).
    # Measured: unioning them into one job is SLOWER — the union's
    # GlobalLimit forces a SinglePartition exchange stage, costing
    # more than the second job's fixed overhead. Both are O(n_cells)
    # rows regardless of corpus size.
    cent_rows = (
        e.orderBy(md5_long(F.col("id").cast("string")), F.col("id"))
        .limit(n_cells)
        .collect()
    )
    centroids = [
        [float(x) for x in r["v"]] for r in cent_rows if r["v"] is not None
    ]
    if not centroids:
        raise ValueError(
            "ivf_topk_deterministic: corpus has no non-null "
            "embeddings to sample centroids from"
        )
    qrow = e.filter(F.col("id") == query_id).first()
    if qrow is None or qrow["v"] is None:
        raise ValueError(
            f"ivf_topk_deterministic: query_id={query_id} not found "
            "in the corpus (or its embedding is NULL)"
        )
    qv = [float(x) for x in qrow["v"]]

    # Probe ranking runs driver-side over n_cells Python lists — no
    # Spark job. Python doubles are IEEE 754 with per-op rounding, so
    # this sequential fold is bit-identical to the engines' fold
    # expressions (same op order), keeping the probe set oracle-exact.
    def fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    qn = math.sqrt(fold_dot(qv, qv))

    def fold_cos(c: list[float]) -> float:
        return fold_dot(c, qv) / (math.sqrt(fold_dot(c, c)) * qn)

    probe_cells = [
        i
        for i, _ in sorted(
            enumerate(centroids), key=lambda ic: (-fold_cos(ic[1]), ic[0])
        )[:n_probe]
    ]

    # Per-vector cell cosines come from EXPLODED index-ordered
    # grouped sums — whole-stage-codegen arithmetic — instead of
    # per-row zip_with/aggregate folds, which Spark executes as
    # interpreted CodegenFallback. Bit-equality with the fold (and
    # the oracle's list_reduce) is structural: posexplode emits one
    # vector's elements contiguously in index order inside one scan
    # partition, so the partial hash aggregate accumulates each dot
    # in exactly the fold's sequence and the merge sees a single
    # partial per id. cos_c = dot(v,c) / (sqrt(dot(v,v)) *
    # sqrt(dot(c,c))) with sqrt(dot(c,c)) precomputed on the driver
    # by the same sequential fold — the identical op tree the oracle
    # evaluates. Cell argmax keeps array_position(array_max):
    # first-match ties to the lowest cell, matching the oracle's
    # `ORDER BY cos DESC, cell ASC` ranking.
    import math as _math

    from etl_macropulse_br_spark.functions.exprs import lit_double_array

    elems = e.select(
        "id", F.posexplode(F.col("v")).alias("i", "x")
    )
    xd = F.col("x").cast("double")
    dots = elems.groupBy("id").agg(
        *[
            F.sum(
                xd
                * F.element_at(
                    lit_double_array([float(x) for x in c]), F.col("i") + 1
                )
            ).alias(f"dc{j}")
            for j, c in enumerate(centroids)
        ],
        F.sum(xd * xd).alias("dself"),
    )
    cnorms = [_math.sqrt(fold_dot(c, c)) for c in centroids]
    scores = F.array(
        *[
            F.col(f"dc{j}") / (F.sqrt(F.col("dself")) * F.lit(cnorms[j]))
            for j in range(len(centroids))
        ]
    )
    assigned = (
        dots.withColumn("__scores", scores)
        .withColumn(
            "cell",
            (
                F.array_position(
                    F.col("__scores"), F.array_max(F.col("__scores"))
                )
                - 1
            ).cast("int"),
        )
        .select("id", "cell", "dself")
    )
    pruned = assigned.filter(F.col("cell").isin(*probe_cells))
    # final exact score on the probed rows only: dot(v,q) is one
    # fold per surviving row; sqrt(dot(v,v)) rides along as
    # sqrt(dself) from the assignment aggregate (bit-equal to the
    # oracle's recomputed fold), sqrt(dot(q,q)) is a driver constant
    # from the same sequential fold.
    dot_vq = F.expr(
        "aggregate(zip_with(transform(v, x -> CAST(x AS DOUBLE)), "
        + "transform("
        + "array(" + ",".join(f"{x!r}D" for x in qv) + ")"
        + ", x -> CAST(x AS DOUBLE)), (x, y) -> x * y), "
        + "0.0D, (acc, x) -> acc + x)"
    )
    return (
        e.join(pruned, "id")
        .select(
            F.col("id").alias("vec_id"),
            (
                dot_vq
                / (F.sqrt(F.col("dself")) * F.lit(qn))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Train: sample ``n_cells`` centroids deterministically (seeded
    sample of rows — cheap, one small collect). Index: assign each
    vector to its nearest centroid (one pass, expression-only).
    Search: score only vectors whose cell is among the ``n_probe``
    cells closest to the query. At scale the assignment is written
    once (partitioned by cell) and queries prune ~(1 - probe/cells)
    of the data.
    """
    centroids = [
        [float(x) for x in r[vec_col]]
        for r in df.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_cells)
        .select(vec_col)
        .collect()
        if r[vec_col] is not None  # a null sampled vector is no centroid
    ]
    if not centroids:
        raise ValueError(
            "ivf_topk: corpus has no non-null embeddings to sample "
            "centroids from"
        )

    from etl_macropulse_br_spark.functions.exprs import (
        lit_double_array as lit_vec,
    )

    def cell_expr(vec: Column) -> Column:
        # Array argmax, NOT a chained when(): a when-chain would
        # duplicate the running best expression at every step
        # (exponential expression-tree growth with n_cells).
        scores = F.array(*[cosine_sim(vec, lit_vec(c)) for c in centroids])
        return F.array_position(scores, F.array_max(scores)).cast("int") - 1

    import numpy as np

    qv = np.asarray(query_vec, dtype=np.float64)

    def np_cos(c: list[float]) -> float:
        cv = np.asarray(c, dtype=np.float64)
        return float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv)))

    probe_cells = sorted(
        range(len(centroids)), key=lambda i: -np_cos(centroids[i])
    )[:n_probe]

    from etl_macropulse_br_spark.operators.util import spread

    assigned = spread(df).withColumn("__cell", cell_expr(F.col(vec_col)))
    pruned = assigned.filter(F.col("__cell").isin(*probe_cells))
    return cosine_topk(pruned, query_vec, k, vec_col, id_col)


def hybrid_rrf(
    lex: DataFrame,
    sem: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    lex_score: str = "score",
    sem_score: str = "cosine",
) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a semantic retrieval
    list (Cormack et al. 2009, "Reciprocal rank fusion outperforms
    Condorcet and individual rank learning methods") — the standard
    hybrid-retrieval combiner: each candidate scores
    ``sum over lists of 1 / (c + rank)``, which needs only RANKS, so
    it fuses incomparable score scales (BM25 vs cosine) without
    normalization. ``c = 60`` is the paper's constant.

    Inputs are TOP-K RESULT LISTS (e.g. ``text.bm25_topk`` and a
    cosine top-k), not corpora — the ranking windows here are
    single-partition over <= |list| rows by contract, the same
    driver-size scale-out story as every other top-k tail. A doc
    present in one list only keeps that list's contribution (the
    other term is 0 — full-outer join). Ranks are deterministic
    ((score desc, id asc)), and the fused score is two exact IEEE
    divisions added in fixed (lex, sem) order, so the whole fusion
    hash-gates cross-engine.

    Returns (id, lex_rank, sem_rank, rrf_score) top-``k`` by
    (rrf_score desc, id asc)."""
    from pyspark.sql import Window

    wl = Window.orderBy(F.col(lex_score).desc(), F.col(id_col).asc())
    la = lex.select(
        F.col(id_col), F.row_number().over(wl).alias("lex_rank")
    )
    ws = Window.orderBy(F.col(sem_score).desc(), F.col(id_col).asc())
    sa = sem.select(
        F.col(id_col), F.row_number().over(ws).alias("sem_rank")
    )
    cc = F.lit(float(c))
    rrf = F.coalesce(
        F.lit(1.0) / (cc + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (cc + F.col("sem_rank")), F.lit(0.0))
    return (
        la.join(sa, id_col, "full_outer")
        .select(id_col, "lex_rank", "sem_rank", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(k)
    )
