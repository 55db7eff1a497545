"""Distributed Lloyd k-means on the integer lattice — iterative
clustering with EXACT cross-engine parity.

Iterative algorithms normally get only a weak rows-only correctness
check (float means are summation-order-dependent, so no two engines
agree bit-for-bit). This variant makes every round exactly
reproducible in any engine:

- **Quantize** each float32 component to a 64-bit integer lattice
  point ``floor(x * 1e6)`` — float→double is exact and ``floor`` is
  deterministic everywhere.
- **Distances** are integer sums of squares — exact, order-free.
- **Centroid update** is component-wise integer FLOOR DIVISION of
  the member sum by the member count (``(s - pmod(s, n)) / n`` —
  pmod keeps floor semantics for negative sums; the quotient is an
  exact multiple, so the double division is exact for |s| < 2^53,
  which holds up to ~10^9 members per cluster at this lattice
  scale).
- **Ties** break to the smallest cluster id; clusters that lose all
  members drop out. Both rules are replayed identically by the SQL
  oracle (``QUALIFY row_number() OVER (ORDER BY dist, cluster_id)``).

Scale shape (100 TB): assignment is MAP-ONLY — the k centroids ride
along as one broadcast row (array of structs), and the argmin is a
``aggregate`` fold over that array inside codegen; no n×k explode,
no shuffle. The update shuffles (cluster_id, component) INTEGER
rows; map-side partial combine collapses each partition to at most
k·d rows before the exchange, so the shuffle is O(partitions · k·d)
regardless of corpus size. Round count is a static bound (the same
lazy-bounded-plan pattern as ``dup_clusters_plan``) — no driver
actions during plan construction.

Reference scope: the reference pipeline (src/pipeline.py,
src/transform.py) has no clustering; this extends the
training-data/embedding surface (IVF centroid training).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SCALE = 1_000_000


def quantize(emb_col) -> "F.Column":
    """float32 embedding -> exact integer lattice point array."""
    return F.transform(
        emb_col.cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(SCALE))).cast("long"),
    )


def _floordiv(s, n):
    """Exact integer floor division as portable expressions."""
    return ((s - F.pmod(s, n)) / n).cast("long")


def _assign(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """Map-only assignment: broadcast the k centroids as ONE row,
    fold an argmin over them per point. Adds (cluster_id, dist)."""
    packed = cents.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("cluster_id", "c"))
        ).alias("cents")
    )
    dist_to = lambda cen: F.aggregate(  # noqa: E731
        F.zip_with(F.col("q"), cen["c"], lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    best = F.aggregate(
        F.col("cents"),
        F.struct(
            F.lit(2**63 - 1).cast("long").alias("dist"),
            F.lit(-1).cast("int").alias("cluster_id"),
        ),
        lambda acc, cen: F.when(
            dist_to(cen) < acc["dist"],
            F.struct(
                dist_to(cen).alias("dist"),
                cen["cluster_id"].cast("int").alias("cluster_id"),
            ),
        ).otherwise(acc),
    )
    # sentinel guard (r9 review fix): a WIDTH-MISMATCHED vector
    # (zip_with pads with nulls -> null distance fold -> the init
    # sentinel survives) previously landed silently in phantom
    # cluster_id=-1 at dist 2^63-1, corrupting stats/serving — the
    # corruption class the r7 null-drop fixed for NULL vectors only.
    # This is an OUTPUT check on the fold result (a row that reaches
    # it was computed), so the r7-documented
    # InferFiltersFromConstraints trap for INPUT asserts does not
    # apply; the condition is never null (struct fields are
    # literal-initialized).
    checked = F.coalesce(
        F.assert_true(
            F.col("best.cluster_id") >= 0,
            F.lit(
                "kmeans assign: no centroid distance could be "
                "computed for a vector — its width differs from the "
                "centroids' (mixed-width corpus?)"
            ),
        ).cast("int"),
        F.col("best.cluster_id"),
    )
    return (
        pts.crossJoin(F.broadcast(packed))
        .withColumn("best", best)
        .select(
            "vec_id",
            "q",
            checked.alias("cluster_id"),
            F.col("best.dist").alias("dist"),
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Exploded-component integer centroid update. The explode is
    k·d-bounded AFTER map-side combine, so the exchange stays tiny
    at any corpus size."""
    comp = assigned.select(
        "cluster_id", F.posexplode("q").alias("j", "v")
    )
    sums = comp.groupBy("cluster_id", "j").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        sums.select(
            "cluster_id", "j", _floordiv(F.col("s"), F.col("n")).alias("cj")
        )
        .groupBy("cluster_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cj"))),
                lambda x: x["cj"],
            ).alias("c")
        )
    )


def _points(emb: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """Quantized lattice points. NULL vectors are DROPPED here (r7):
    passed through, a null quantizes to a null lattice point whose
    distance folds stay null, so the broadcast-argmin keeps its init
    sentinel and the row SILENTLY lands in a phantom
    cluster_id = -1 at distance 2^63-1 — corrupting stats (inertia
    blows up by ~2^63), SemDeDup keep-policies, and serving
    candidate sets (verified empirically). Dropping matches the SRP
    banding path, where the posexplode discards null vectors
    implicitly. A fail-fast assert was tried and REVERTED:
    InferFiltersFromConstraints copies the guarded projection into
    derived isnotnull/size predicates whose conjuncts can evaluate
    BEFORE a caller's own null-filter, so the assert fired exactly
    for callers who had already filtered — the guard's advice was
    self-defeating. Count-audit upstream if loud accounting is
    needed."""
    return emb.filter(
        F.col(emb_col).isNotNull() & (F.size(F.col(emb_col)) > 0)
    ).select(
        F.col(id_col).alias("vec_id"), quantize(F.col(emb_col)).alias("q")
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """``rounds`` Lloyd iterations seeded from the k vectors with
    the smallest PORTABLE HASH of their id (md5 family, seed 0 —
    the same device the samplers use) — the trained codebook as a
    LAZY k-row DataFrame (cluster_id, c). Hash-ordered seeding is
    deterministic and oracle-replayable like the old smallest-id
    order, but decorrelated from id assignment: on an id-sorted
    corpus (ids assigned by ingest order, which often tracks time
    or source) the k smallest ids can all start in one region of
    the space; the hash order is a uniform draw at zero parity
    cost (r7). Shared by the stats query, the IVF serving paths,
    and SemDeDup."""
    from etl_macropulse_br_spark.functions.hashing import md5_long

    pts = _points(emb, id_col, emb_col)
    skey = md5_long(F.col("vec_id").cast("string"), seed=0)
    # global window runs on <= k rows (post-limit) — the WindowExec
    # single-partition warning is expected and harmless here
    w = Window.orderBy("__skey", "vec_id")
    cents = (
        pts.withColumn("__skey", skey)
        .orderBy("__skey", "vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w) - F.lit(1)).cast("int").alias(
                "cluster_id"
            ),
            F.col("q").alias("c"),
        )
    )
    for _ in range(rounds):
        cents = _update(_assign(pts, cents))
    return cents


def kmeans_stats(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """``rounds`` Lloyd iterations seeded hash-ordered (see
    :func:`kmeans_centroids`), then per-cluster stats under the
    final centroids. Fully lazy — one composed plan, no driver
    actions.

    Returns (cluster_id, n_members, min_vec_id, inertia) where
    inertia is the exact integer sum of squared lattice distances,
    published as DECIMAL(38,0) so it cannot overflow at any corpus
    size."""
    pts = _points(emb, id_col, emb_col)
    cents = kmeans_centroids(emb, k, rounds, id_col, emb_col)
    final = _assign(pts, cents)
    return final.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("min_vec_id"),
        F.sum(F.col("dist").cast("decimal(38,0)")).alias("inertia"),
    )


def ivf_kmeans_topk(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    n_probe: int = 2,
    topk: int = 10,
    query_id: int = 0,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF serving over a k-means-TRAINED codebook, index training
    and query answering composed into ONE lazy plan (the structure a
    real IVF deployment has, vs the sampled-centroid
    ``similarity.ivf_topk_deterministic``):

    1. train: ``kmeans_centroids`` (lazy bounded Lloyd rounds),
    2. assign every vector to its cell (map-only broadcast argmin —
       the index build),
    3. probe: rank cells by exact lattice distance of centroid to
       the query vector, keep ``n_probe`` (a k-row sort),
    4. scan ONLY the probed cells' members and rank by the same
       sequential-fold cosine as ``embedding_cosine_topk`` —
       TakeOrderedAndProject, never a global sort.

    At corpus scale the probed subset is ~``n_probe/k`` of the data;
    everything upstream of the final top-k is map-only or
    k-row-sized. Exactness: lattice distances (integer) pick cells
    deterministically (ties -> lower cluster id), and the cosine fold
    is bit-identical cross-engine, so the full composition
    hash-matches its SQL oracle replaying identical rounds."""
    pts = _points(emb, id_col, emb_col)
    cents = kmeans_centroids(emb, k, rounds, id_col, emb_col)
    assign = _assign(pts, cents).select("vec_id", "cluster_id")
    qpt = pts.filter(F.col("vec_id") == query_id).select(
        F.col("q").alias("qq")
    )
    qdist = F.aggregate(
        F.zip_with(F.col("c"), F.col("qq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    probe = (
        cents.crossJoin(F.broadcast(qpt))
        .select("cluster_id", qdist.alias("qdist"))
        .orderBy("qdist", "cluster_id")
        .limit(n_probe)
        .select("cluster_id")
    )
    cand = assign.join(F.broadcast(probe), "cluster_id", "left_semi")
    from etl_macropulse_br_spark.operators.similarity import cosine_sim

    e = emb.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("v"))
    qv = emb.filter(F.col(id_col) == query_id).select(
        F.col(emb_col).alias("qv")
    )
    return (
        e.join(cand, "vec_id", "left_semi")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", cosine_sim(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(topk)
    )


def _subvectors(pts: DataFrame, m: int, sub: int) -> DataFrame:
    """Split quantized (vec_id, q) rows into the exploded
    (vec_id, s, qs) subvector table — the encode-side half of PQ,
    shared by codebook TRAINING (:func:`pq_codebooks`) and
    train-free ENCODING of new vectors against frozen codebooks
    (operators/ann_index.py:append_ann_index, r8). Map-only: m small
    structs per row, no shuffle. Carries the width fail-fast guard
    (see pq_codebooks docstring) so both paths refuse a vector whose
    width disagrees with m * sub."""
    width_guard = F.assert_true(
        F.size("q") == m * sub,
        F.concat(
            F.lit(
                f"pq subvectors: m * sub = {m} * {sub} = {m * sub} must "
                "equal the vector width; got width "
            ),
            F.size("q").cast("string"),
        ),
    ).cast("array<bigint>")
    pts = pts.withColumn("q", F.coalesce(width_guard, F.col("q")))
    return pts.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("q", s * sub + 1, sub).alias("qs"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("vec_id", "e.s", "e.qs")


def pq_codebooks(
    pts: DataFrame, m: int = 8, ks: int = 16, rounds: int = 2, sub: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codebooks on the integer lattice
    (Jegou et al. 2011, "Product quantization for nearest neighbor
    search"): split each quantized vector into ``m`` disjoint
    ``sub``-component subvectors and train an independent
    ``ks``-centroid Lloyd codebook per subspace — all ``m``
    trainings ride ONE plan (subspace id is just another grouping
    column). Same exact-parity rules as :mod:`clustering`: integer
    distances, floor-division updates, ties to the lowest code.

    Returns ``(subpts, cb)`` where ``subpts`` is the exploded
    (vec_id, s, qs) subvector table and ``cb`` the trained
    (s, code, c) codebooks. Scale shape: subvector explode is
    map-only (m small structs per row); the per-round update
    shuffles <= m * ks * sub integer rows after partial combine;
    codebook init needs one per-subspace top-ks — WindowGroupLimit
    prunes it map-side.

    Fails loudly when ``m * sub`` differs from the vector width: a
    mismatch would make ``slice`` return short/empty subvectors
    whose zip_with against full-width codebook entries yields null
    distance terms — silently wrong neighbors. The guard is a
    per-row assert on ``size(q)`` evaluated BEFORE any slice (first
    coalesce branch, so it cannot be pruned or short-circuited),
    mirroring the span_tokens/banding fail-fast guards."""
    subpts = _subvectors(pts, m, sub)
    w = Window.partitionBy("s").orderBy("vec_id")
    cb = (
        subpts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ks)
        .select(
            "s",
            (F.col("rn") - F.lit(1)).cast("int").alias("code"),
            F.col("qs").alias("c"),
        )
    )
    for _ in range(rounds):
        assigned = _pq_assign(subpts, cb)
        comp = assigned.select(
            "s", "code", F.posexplode("qs").alias("j", "v")
        )
        sums = comp.groupBy("s", "code", "j").agg(
            F.sum("v").alias("sm"), F.count(F.lit(1)).alias("n")
        )
        cb = (
            sums.select(
                "s",
                "code",
                "j",
                _floordiv(F.col("sm"), F.col("n")).alias("cj"),
            )
            .groupBy("s", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "cj"))),
                    lambda x: x["cj"],
                ).alias("c")
            )
        )
    return subpts, cb


def _pq_assign(subpts: DataFrame, cb: DataFrame) -> DataFrame:
    """Map-only per-subspace assignment: all m codebooks broadcast
    as ONE packed row; each (vec_id, s, qs) row folds an argmin over
    its own subspace's <= ks centroids (array pre-filtered on s)."""
    packed = cb.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("s", "code", "c"))).alias(
            "cbs"
        )
    )
    mine = F.filter("cbs", lambda cen: cen["s"] == F.col("s"))
    dist_to = lambda cen: F.aggregate(  # noqa: E731
        F.zip_with(F.col("qs"), cen["c"], lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    best = F.aggregate(
        mine,
        F.struct(
            F.lit(2**63 - 1).cast("long").alias("dist"),
            F.lit(-1).cast("int").alias("code"),
        ),
        lambda acc, cen: F.when(
            dist_to(cen) < acc["dist"],
            F.struct(
                dist_to(cen).alias("dist"),
                cen["code"].cast("int").alias("code"),
            ),
        ).otherwise(acc),
    )
    return (
        subpts.crossJoin(F.broadcast(packed))
        .withColumn("best", best)
        .select(
            "vec_id",
            "s",
            "qs",
            F.col("best.code").alias("code"),
            F.col("best.dist").alias("dist"),
        )
    )


def ivf_pq_rerank_topk(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    n_probe: int = 2,
    m: int = 8,
    ks: int = 16,
    pq_rounds: int = 2,
    shortlist: int = 32,
    topk: int = 10,
    query_id: int = 0,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    sub: int = 8,
    residual: bool = False,
) -> DataFrame:
    """IVF + PQ-ADC re-ranking — the standard 100 TB vector-search
    serving shape, composed as ONE lazy plan with a FULL exact hash
    gate:

    1. coarse: ``kmeans_centroids`` trains k cells; every vector is
       assigned map-only; the query's ``n_probe`` nearest cells (by
       exact lattice distance) select the candidate set — the scan
       touches ~n_probe/k of the corpus.
    2. PQ: ``pq_codebooks`` trains m per-subspace codebooks; each
       candidate's code is m small ints (the 8-byte-per-vector
       memory story that makes billion-vector serving fit in RAM).
    3. ADC (asymmetric distance computation): one m*ks-row lookup
       table of exact integer distances from the QUERY's subvectors
       to every subspace centroid — broadcast; each candidate's
       approximate distance is the sum of m table lookups (exploded
       codes join the table, partial-combined groupBy sums them).
       The query's own code attains the per-subspace minima, so the
       query is provably ADC-rank-1.
    4. shortlist: top-``shortlist`` by (adc_dist, vec_id) —
       TakeOrderedAndProject, never a global sort; then EXACT
       re-rank: the full vectors of only those ``shortlist`` rows
       are read and scored with the shared sequential-fold cosine.

    Everything upstream of the final top-k is integer arithmetic
    with deterministic ties, so the DuckDB oracle replays training,
    encoding, ADC, shortlist, and re-rank bit-for-bit.

    ``residual=False`` is FLAT PQ over the raw lattice (re-rank
    usage). ``residual=True`` is the full Jegou IVFADC: codebooks
    train on (vector - own cell centroid) residuals — integer
    subtraction, still exact — and the ADC table is built PER
    PROBED CELL from the query's residual against that cell's
    centroid (n_probe * m * ks rows, still broadcast-tiny); scores
    join on (cell, s, code). Residual encoding centers every cell's
    point cloud, so the shared codebooks spend their ks codes on
    local structure — the standard recall win at equal bytes."""
    from etl_macropulse_br_spark.operators.similarity import cosine_sim

    pts = _points(emb, id_col, emb_col)
    # coarse IVF: cells + probe (identical formulation to
    # ivf_kmeans_topk so the two oracles share CTEs)
    cents = kmeans_centroids(emb, k, rounds, id_col, emb_col)
    assign = _assign(pts, cents).select("vec_id", "cluster_id")
    qpt = pts.filter(F.col("vec_id") == query_id).select(
        F.col("q").alias("qq")
    )
    qdist = F.aggregate(
        F.zip_with(F.col("c"), F.col("qq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    probe = (
        cents.crossJoin(F.broadcast(qpt))
        .select("cluster_id", qdist.alias("qdist"))
        .orderBy("qdist", "cluster_id")
        .limit(n_probe)
        .select("cluster_id")
    )
    cand = assign.join(F.broadcast(probe), "cluster_id", "left_semi").select(
        "vec_id"
    )

    # PQ train + encode (on raw lattice vectors, or on per-cell
    # residuals for IVFADC)
    ctab = cents.select("cluster_id", F.col("c").alias("cc"))
    if residual:
        enc_pts = (
            pts.join(assign, "vec_id")
            .join(F.broadcast(ctab), "cluster_id")
            .select(
                "vec_id",
                F.zip_with("q", "cc", lambda a, b: a - b).alias("q"),
            )
        )
    else:
        enc_pts = pts
    subpts, cb = pq_codebooks(enc_pts, m, ks, pq_rounds, sub)
    codes = _pq_assign(subpts, cb).select("vec_id", "s", "code")

    qd = F.aggregate(
        F.zip_with(F.col("c"), F.col("qqs"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    if residual:
        # ADC per probed cell: the query's residual against THAT
        # cell's centroid vs every subspace code
        qres = (
            probe.join(F.broadcast(ctab), "cluster_id")
            .crossJoin(F.broadcast(qpt))
            .select(
                "cluster_id",
                F.zip_with("qq", "cc", lambda a, b: a - b).alias("rq"),
            )
        )
        qsub = qres.select(
            "cluster_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("qs_s"),
                            F.slice("rq", s * sub + 1, sub).alias("qqs"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e"),
        ).select("cluster_id", "e.qs_s", "e.qqs")
        adc = cb.join(
            F.broadcast(qsub), F.col("s") == F.col("qs_s")
        ).select("cluster_id", "s", "code", qd.alias("qd"))
        short = (
            codes.join(assign, "vec_id")
            .join(F.broadcast(probe), "cluster_id", "left_semi")
            .join(F.broadcast(adc), ["cluster_id", "s", "code"])
            .groupBy("vec_id")
            .agg(F.sum("qd").alias("adc_dist"))
            .orderBy("adc_dist", "vec_id")
            .limit(shortlist)
            .select("vec_id")
        )
    else:
        # ADC table: query subvectors vs every subspace centroid
        qsub = subpts.filter(F.col("vec_id") == query_id).select(
            F.col("s").alias("qs_s"), F.col("qs").alias("qqs")
        )
        adc = (
            cb.join(F.broadcast(qsub), F.col("s") == F.col("qs_s"))
            .select("s", "code", qd.alias("qd"))
        )
        short = (
            codes.join(cand, "vec_id", "left_semi")
            .join(F.broadcast(adc), ["s", "code"])
            .groupBy("vec_id")
            .agg(F.sum("qd").alias("adc_dist"))
            .orderBy("adc_dist", "vec_id")
            .limit(shortlist)
            .select("vec_id")
        )

    e = emb.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("v"))
    qv = emb.filter(F.col(id_col) == query_id).select(
        F.col(emb_col).alias("qv")
    )
    return (
        e.join(short, "vec_id", "left_semi")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id", cosine_sim(F.col("v"), F.col("qv")).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(topk)
    )


def _batch_qpts(queries: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """(qid, qq) quantized query set — the same integer lattice the
    index lives on, so every probe/ADC distance stays exact."""
    return _points(queries, id_col, emb_col).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq")
    )


def _batch_probe(
    cents: DataFrame, qpts: DataFrame, n_probe: int
) -> DataFrame:
    """(qid, cluster_id) probed cells per query: exact lattice
    distance of each of the k centroids to each query, per-query
    top-n_probe via row_number (plans WindowGroupLimit — partial
    limits prune map-side). k x |Q| rows, broadcast-tiny."""
    qdist = F.aggregate(
        F.zip_with(F.col("c"), F.col("qq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy("qdist", "cluster_id")
    return (
        cents.crossJoin(F.broadcast(qpts))
        .select("qid", "cluster_id", qdist.alias("qdist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("qid", "cluster_id")
    )


def ivf_kmeans_batch_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 8,
    rounds: int = 2,
    n_probe: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    index=None,
) -> DataFrame:
    """Batch-query IVF serving — :func:`ivf_kmeans_topk` generalized
    from ONE ``query_id`` to a query-SET DataFrame, the shape a real
    pipeline runs per batch (score every query of a request batch /
    eval suite in one pass over the index). Returns
    (query_id, vec_id, cosine, rank) — per-query exact top-k over
    the probed cells.

    Scale shape: training and assignment are shared across ALL
    queries (amortized — the single-query op repays them per call);
    the probe table is |Q| x n_probe rows (broadcast); candidates
    come from ONE broadcast join of the assignment table against it
    (each vector fans out only to the queries probing its cell,
    ~|Q| x n_probe/k expected); per-query top-k is a row_number
    window planning WindowGroupLimit, never a global sort.

    ``index`` (an :class:`~etl_macropulse_br_spark.operators.\
ann_index.AnnIndex`, r8): serve from a PERSISTED index instead of
    training inline — centroids and assignments come from the loaded
    parquet and ``k``/``rounds``/``id_col``/``emb_col`` are taken
    from the index's frozen training params (the call's values for
    those args are ignored; ``n_probe``/``topk`` stay serve-time
    knobs). Load-then-serve is pinned bit-identical to
    train-then-serve."""
    from etl_macropulse_br_spark.operators.similarity import cosine_sim

    if index is not None:
        id_col = index.params["id_col"]
        emb_col = index.params["emb_col"]
        cents, assign = index.cents, index.assign
    else:
        pts = _points(emb, id_col, emb_col)
        cents = kmeans_centroids(emb, k, rounds, id_col, emb_col)
        assign = _assign(pts, cents).select("vec_id", "cluster_id")
    qpts = _batch_qpts(queries, id_col, emb_col)
    probe = _batch_probe(cents, qpts, n_probe)
    cand = assign.join(F.broadcast(probe), "cluster_id").select(
        "qid", "vec_id"
    )
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("v"))
    qv = queries.select(
        F.col(id_col).alias("qid"), F.col(emb_col).alias("qv")
    )
    wtop = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        e.join(cand, "vec_id")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "vec_id",
            cosine_sim(F.col("v"), F.col("qv")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(wtop))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("qid").alias("query_id"), "vec_id", "cosine", "rank"
        )
    )


def ivf_pq_batch_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 8,
    rounds: int = 2,
    n_probe: int = 2,
    m: int = 8,
    ks: int = 16,
    pq_rounds: int = 2,
    shortlist: int = 32,
    topk: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    sub: int = 8,
    residual: bool = False,
    filter_expr: Column | None = None,
    index=None,
) -> DataFrame:
    """Batch-query IVF-PQ-ADC serving — :func:`ivf_pq_rerank_topk`
    generalized from ONE ``query_id`` to a query-SET DataFrame (the
    r6 verdict's top missing piece: a real pipeline scores a query
    set per run, not one vector per plan). Returns
    (query_id, vec_id, cosine, rank).

    ``filter_expr`` (a boolean Column over ``emb``'s columns) turns
    this into FILTERED vector search — exact top-k among the docs
    matching a metadata predicate ("nearest passages where
    lang='en'"), the standard serving feature. PRE-filter semantics:
    the index (coarse cells, PQ codebooks, encodings) trains on the
    FULL corpus exactly as unfiltered — an index is built once and
    must serve every predicate — while candidates are intersected
    with the predicate's id set BEFORE the ADC scoring and
    shortlist, so a selective filter cannot starve the shortlist the
    way post-filtering the final top-k would (the classic filtered-
    ANN failure mode). The predicate evaluates on the ``emb`` scan
    and joins candidates as an id semi-join. ``filter_expr=None`` is
    bit-identical to the unfiltered op (pinned).

    Everything query-independent (coarse training, cell assignment,
    PQ codebook training, encoding) is computed ONCE and amortized
    over the whole batch. Query-dependent state stays broadcast-
    sized: probes are |Q| x n_probe rows; the ADC tables are keyed
    by query — |Q| x m x ks rows flat, |Q| x n_probe x m x ks
    residual — still driver-broadcastable for realistic batch sizes
    (thousands of queries); candidate scoring joins codes to the
    per-query candidate set and sums m lookups per (query,
    candidate); shortlist and final top-k are per-query row_number
    windows planning WindowGroupLimit, never a global sort. Exact
    integer lattice end to end — the DuckDB oracle replays training,
    probing, encoding, ADC, shortlist, and re-rank bit-for-bit.

    ``residual=False`` is flat PQ; ``residual=True`` is batch
    IVFADC (codebooks on per-cell residuals; each query's ADC table
    is built per probed cell from ITS residual against that cell's
    centroid, scores joined on (qid via adc, cell, subspace, code)).

    ``index`` (an :class:`~etl_macropulse_br_spark.operators.\
ann_index.AnnIndex`, r8): serve from a PERSISTED index — centroids,
    assignments, codebooks, and codes come from the loaded parquet;
    every training-bound arg (``k``/``rounds``/``m``/``ks``/
    ``pq_rounds``/``sub``/``residual``/``id_col``/``emb_col``) is
    taken from the index's frozen params (the call's values are
    ignored — an index can only serve in the mode it was built);
    ``n_probe``/``shortlist``/``topk``/``filter_expr`` stay
    serve-time knobs. Requires a PQ-bearing index (``with_pq``).
    Load-then-serve is pinned bit-identical to train-then-serve.
    """
    from etl_macropulse_br_spark.operators.similarity import cosine_sim

    if index is not None:
        if index.cb is None or index.codes is None:
            raise ValueError(
                "ivf_pq_batch_topk: index has no PQ state (built "
                "with_pq=False) — use ivf_kmeans_batch_topk or "
                "rebuild with with_pq=True"
            )
        id_col = index.params["id_col"]
        emb_col = index.params["emb_col"]
        m, ks, sub = (
            index.params["m"],
            index.params["ks"],
            index.params["sub"],
        )
        residual = index.residual
        cents, assign = index.cents, index.assign
    else:
        pts = _points(emb, id_col, emb_col)
        cents = kmeans_centroids(emb, k, rounds, id_col, emb_col)
        assign = _assign(pts, cents).select("vec_id", "cluster_id")
    # index state (assign/codebooks/codes) always covers the FULL
    # corpus; the predicate narrows only the SERVING candidate set
    if filter_expr is not None:
        flt_ids = emb.filter(filter_expr).select(
            F.col(id_col).alias("vec_id")
        )
        serving_assign = assign.join(flt_ids, "vec_id", "left_semi")
    else:
        serving_assign = assign
    qpts = _batch_qpts(queries, id_col, emb_col)
    probe = _batch_probe(cents, qpts, n_probe)

    ctab = cents.select("cluster_id", F.col("c").alias("cc"))
    if index is not None:
        cb, codes = index.cb, index.codes
    else:
        if residual:
            enc_pts = (
                pts.join(assign, "vec_id")
                .join(F.broadcast(ctab), "cluster_id")
                .select(
                    "vec_id",
                    F.zip_with("q", "cc", lambda a, b: a - b).alias("q"),
                )
            )
        else:
            enc_pts = pts
        subpts, cb = pq_codebooks(enc_pts, m, ks, pq_rounds, sub)
        codes = _pq_assign(subpts, cb).select("vec_id", "s", "code")

    def sub_explode(src: DataFrame, vcol: str, keys: list[str]) -> DataFrame:
        return src.select(
            *keys,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("qs_s"),
                            F.slice(vcol, s * sub + 1, sub).alias("qqs"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e"),
        ).select(*keys, "e.qs_s", "e.qqs")

    qd = F.aggregate(
        F.zip_with(F.col("c"), F.col("qqs"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wshort = Window.partitionBy("qid").orderBy("adc_dist", "vec_id")
    if residual:
        qres = (
            probe.join(F.broadcast(ctab), "cluster_id")
            .join(F.broadcast(qpts), "qid")
            .select(
                "qid",
                "cluster_id",
                F.zip_with("qq", "cc", lambda a, b: a - b).alias("rq"),
            )
        )
        qsub = sub_explode(qres, "rq", ["qid", "cluster_id"])
        adc = cb.join(
            F.broadcast(qsub), F.col("s") == F.col("qs_s")
        ).select("qid", "cluster_id", "s", "code", qd.alias("qd"))
        # adc only holds (qid, probed cell) combos, so the join both
        # scopes candidates to probed cells and attaches the qid
        short = (
            codes.join(serving_assign, "vec_id")
            .join(F.broadcast(adc), ["cluster_id", "s", "code"])
            .groupBy("qid", "vec_id")
            .agg(F.sum("qd").alias("adc_dist"))
            .withColumn("rn", F.row_number().over(wshort))
            .filter(F.col("rn") <= shortlist)
            .select("qid", "vec_id")
        )
    else:
        qsub = sub_explode(qpts, "qq", ["qid"])
        adc = cb.join(
            F.broadcast(qsub), F.col("s") == F.col("qs_s")
        ).select("qid", "s", "code", qd.alias("qd"))
        cand = serving_assign.join(
            F.broadcast(probe), "cluster_id"
        ).select("qid", "vec_id")
        short = (
            codes.join(cand, "vec_id")
            .join(F.broadcast(adc), ["qid", "s", "code"])
            .groupBy("qid", "vec_id")
            .agg(F.sum("qd").alias("adc_dist"))
            .withColumn("rn", F.row_number().over(wshort))
            .filter(F.col("rn") <= shortlist)
            .select("qid", "vec_id")
        )

    e = emb.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("v"))
    qv = queries.select(
        F.col(id_col).alias("qid"), F.col(emb_col).alias("qv")
    )
    wtop = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        e.join(short, "vec_id")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "vec_id",
            cosine_sim(F.col("v"), F.col("qv")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(wtop))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("qid").alias("query_id"), "vec_id", "cosine", "rank"
        )
    )


def semantic_dedup(
    emb: DataFrame,
    k: int | None = 8,
    rounds: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"):
    embedding-space near-duplicate pruning via k-means blocking —
    pairwise cosine is computed only WITHIN a cluster, never across
    the corpus, which is the paper's trick for making semantic
    dedup tractable at web scale (cluster count scales with corpus
    size, so per-cluster pair work stays bounded).

    Keep policy: among two semantic duplicates (cosine >=
    ``threshold``, same cluster) the member FARTHER from its
    centroid survives — the paper's keep-low-centroid-similarity
    rule for diversity — applied pairwise (a row is dropped if ANY
    same-cluster neighbor above threshold beats it on
    (centroid_dist, id)), the same lazy pair-loser shape as the
    curation flagship rather than a connected-components pass.
    Centroid distance is the EXACT integer-lattice distance and the
    cosine is the shared sequential fold, so the whole operator
    hash-gates cross-engine.

    Returns (vec_id, cluster_id, centroid_dist, n_sem_dups,
    dropped) — ``dropped`` true marks a semantic-duplicate loser.

    Scale shape: training + assignment as in :mod:`clustering`
    (map-only assign, bounded update shuffles); the within-cluster
    self-join shuffles on cluster_id and is quadratic only in
    CLUSTER size — at 100 TB you grow k with the corpus (the paper
    uses k ~ sqrt(n)) to hold E[cluster] fixed. ``k=None`` applies
    that knob automatically: ``k = max(1, ceil(sqrt(n)))`` from one
    count aggregate at PLAN-BUILD time (a deliberate driver action,
    like the dim peek in embedding_near_dups — pass an explicit
    ``k`` to keep plan construction action-free). Under auto-k,
    E[cluster] = sqrt(n), so total within-cluster pair work grows
    ~n^1.5 instead of n^2 for fixed k — the scale_smoke row
    measures this holding as the corpus doubles.

    Recall characterization (pinned by
    ``test_semdedup_blocking_characterization``): planted duplicate
    pairs co-located in a cluster are always found (within-cluster
    recall 1.0); a pair split across a cluster boundary is
    structurally invisible — the paper's k-vs-recall knob, measured
    and pinned rather than implied."""
    from etl_macropulse_br_spark.operators.similarity import cosine_sim

    if k is None:
        import math

        # count the non-null vectors (= the rows the operator actually
        # clusters — _points drops nulls); the oracle's AUTO_K_SQL
        # scalar subquery counts the same null-filtered pts CTE
        n = emb.filter(F.col(emb_col).isNotNull()).count()
        k = max(1, math.ceil(math.sqrt(n)))
    pts = _points(emb, id_col, emb_col)
    cents = kmeans_centroids(emb, k, rounds, id_col, emb_col)
    e = emb.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("v")
    )
    assigned = (
        _assign(pts, cents)
        .select("vec_id", "cluster_id", F.col("dist").alias("cdist"))
        .join(e, "vec_id")
    )
    a = assigned.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("cdist").alias("cdist_a"),
        F.col("v").alias("v_a"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("cdist").alias("cdist_b"),
        F.col("v").alias("v_b"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            cosine_sim(F.col("v_a"), F.col("v_b")) >= F.lit(threshold)
        )
    )
    # id_a loses when the neighbor is farther from the centroid
    # (keep-diverse), ties to the lower id
    losing = pairs.filter(
        (F.col("cdist_b") > F.col("cdist_a"))
        | (
            (F.col("cdist_b") == F.col("cdist_a"))
            & (F.col("id_b") < F.col("id_a"))
        )
    )
    dup_stats = pairs.groupBy(F.col("id_a").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_sem_dups")
    )
    losers = losing.select(F.col("id_a").alias("vec_id")).distinct()
    return (
        assigned.join(dup_stats, "vec_id", "left")
        .join(
            losers.withColumn("__lost", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cluster_id",
            F.col("cdist").alias("centroid_dist"),
            F.coalesce("n_sem_dups", F.lit(0)).cast("bigint").alias(
                "n_sem_dups"
            ),
            F.coalesce("__lost", F.lit(False)).alias("dropped"),
        )
    )
