"""Per-group feature normalization — expression path and grouped-map
pandas path.

``zscore_expr`` computes the per-group z-score from EXACT integer
sums (values are finite 2-decimal doubles → cents), deriving mean
and sample variance from (n, Σc, Σc²) with the same double
arithmetic on both engines — so the result is bit-identical in the
DuckDB oracle despite involving a variance. The moments come from a
groupBy-agg joined back to the rows (r14; previously a whole-group
window): map-side partial aggregation replaces the full-fact
exchange-and-sort that WindowExec pays.

``zscore_pandas`` is the same semantics via ``applyInPandas``
(grouped map) — the API of choice when per-group logic outgrows SQL
(model scoring, per-entity fits). Tests assert it matches the
expression path to float tolerance.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def zscore_expr(
    df: DataFrame, value_col: str, group_cols: list[str], out_col: str = "zscore"
) -> DataFrame:
    """z = (v - mean) / sample_std, NULL when the group has <2
    non-null rows or zero variance; a NULL value gets a NULL z and
    does not corrupt the group's moments. All moments from exact
    integer cent-sums.

    Exactness at scale (r9 review fix): the squared terms run in
    DECIMAL — ``c*c`` and ``s*s`` in int64 wrap silently once group
    sums pass ~2^31.5 cents (a few million real-priced rows), while
    DuckDB's window sums widen to HUGEINT. decimal(19,0) inputs
    give exact products up to 10^38 on the Spark side, matching the
    oracle's int128 exactness; both engines then convert the exact
    integers to double at the SAME division points, so the twin
    stays bit-identical.

    Moment-domain bound (r10, ADVICE r9 #4): the decimal moments cap
    at decimal(38,0), so a group whose Σc² or (Σc)² exceeds 10^38
    (≈10^17 rows at real price magnitudes, or cent values near the
    int64 edge) overflows — and under the session's non-ANSI mode
    Spark returns NULL silently where DuckDB's HUGEINT stays exact
    (or raises). The guard below makes the Spark side loud too: a
    group with n ≥ 2 whose moments came back NULL raises instead of
    nulling every z in the group. The assert is the FIRST coalesce
    branch wrapping the output (null short-circuit would skip an
    appended guard), and z is never inferred into join/explode
    constraints here, so the guard fires only on genuine overflow."""
    # Plan shape (r14 — VERDICT r13 next #3, A/B'd with numbers in
    # PLANS.md "Floor certification"): group moments via
    # groupBy-agg + join-back, NOT a whole-group window. The window
    # shape exchanges the FULL fact hash-partitioned by the group
    # cols and sorts it inside WindowExec; the agg shape
    # partial-aggregates map-side down to |groups| rows and joins
    # them back — no sort, and the exchanged bytes drop from
    # O(rows) to O(groups). Same exact decimal moments, same double
    # conversion points (sums of exact integers are
    # order-independent), so the result is value-identical —
    # verified row-for-row against the window shape AND the DuckDB
    # oracle. The join is null-safe (a NULL group is a group, as in
    # the window/SQL semantics) and the moments side goes through
    # broadcast_small: hinted under the small-input profile, AQE's
    # runtime stats decide at cluster scale (a high-cardinality
    # grouping must never be pinned into a driver-OOM broadcast).
    from etl_macropulse_br_spark.operators.util import broadcast_small

    # shift-then-truncate == round-half-away-from-zero, minus the
    # per-row BigDecimal cost of F.round (see plans.queries._scaled)
    x = F.col(value_col) * 100
    c = F.when(x < 0, x - F.lit(0.5)).otherwise(x + F.lit(0.5)).cast(
        "bigint"
    )
    cd = c.cast("decimal(19,0)")
    # count NON-NULL values (r9): count(*) counted null-value rows
    # while the sums skipped them — wrong mean/variance for every
    # group containing a null
    mom = (
        df.groupBy(*group_cols)
        .agg(
            F.count(c).alias("__zs_n"),
            F.sum(cd).alias("__zs_s"),
            F.sum(cd * cd).alias("__zs_ssq"),
        )
        .select(
            *[
                F.col(g).alias(f"__zs_g{i}")
                for i, g in enumerate(group_cols)
            ],
            "__zs_n",
            "__zs_s",
            "__zs_ssq",
        )
    )
    cond = None
    for i, g in enumerate(group_cols):
        e = df[g].eqNullSafe(F.col(f"__zs_g{i}"))
        cond = e if cond is None else cond & e
    joined = df.join(broadcast_small(mom), cond, "left")
    n = F.col("__zs_n")
    s = F.col("__zs_s")
    ssq = F.col("__zs_ssq")
    # var in cents² with the textbook (ssq - s²/n)/(n-1) form; the
    # exact decimal integers convert to double exactly where
    # DuckDB's HUGEINT/BIGINT division does
    mean_cents = s.cast("double") / n
    var_cents = (
        ssq.cast("double") - (s * s).cast("double") / n
    ) / (n - 1)
    z = (c - mean_cents) / F.sqrt(var_cents)
    # n >= 2 counts NON-NULL cents, so s/ssq/(s*s) can only be NULL
    # through decimal(38,0) overflow — fail fast (see docstring)
    moments_ok = (n < 2) | (ssq.isNotNull() & (s * s).isNotNull())
    return joined.withColumn(
        out_col,
        F.coalesce(
            F.assert_true(
                moments_ok,
                F.lit(
                    "zscore_expr: group moments overflowed "
                    "decimal(38,0) (sum(c*c) or sum(c)^2 > 1e38) — "
                    "z-scores for this group would be silently NULL; "
                    "rescale the value column or split the group"
                ),
            ).cast("double"),
            F.when((n >= 2) & (var_cents > 0), z),
        ),
    ).drop(
        *[f"__zs_g{i}" for i in range(len(group_cols))],
        "__zs_n",
        "__zs_s",
        "__zs_ssq",
    )


def zscore_expr_sql(
    table: str, value_col: str, group_cols: list[str], select_cols: list[str]
) -> str:
    """DuckDB twin of :func:`zscore_expr` (same ops, same order).
    DuckDB's window sums widen to HUGEINT natively — the int128
    exactness the Spark side's decimal moments mirror; count(c)
    matches the Spark side's non-null count (r9)."""
    g = ", ".join(group_cols)
    sel = ", ".join(select_cols)
    return f"""
WITH c_t AS (
  SELECT {sel}, CAST(round({value_col} * 100, 0) AS BIGINT) AS c
  FROM {table}
), m AS (
  SELECT *,
         count(c) OVER (PARTITION BY {g}) AS n,
         sum(c) OVER (PARTITION BY {g}) AS s,
         sum(c * c) OVER (PARTITION BY {g}) AS ssq
  FROM c_t
)
SELECT {sel},
       CASE WHEN n >= 2
             AND ((ssq - (s * s) / n) / (n - 1)) > 0
            THEN (c - s / n) / sqrt((ssq - (s * s) / n) / (n - 1))
            END AS zscore
FROM m
"""


def zscore_pandas(
    df: DataFrame, value_col: str, group_cols: list[str], out_col: str = "zscore"
) -> DataFrame:
    """Grouped-map (applyInPandas) implementation: one pandas frame
    per group. Same semantics as :func:`zscore_expr` up to float
    associativity."""
    schema_str = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
        + f", {out_col} double"
    )

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col]
        # non-null count gates, matching zscore_expr (r9): pandas
        # mean/std already skip NaN, so len(pdf) disagreed with the
        # expression path for groups containing nulls
        if v.count() >= 2 and v.std(ddof=1) > 0:
            pdf[out_col] = (v - v.mean()) / v.std(ddof=1)
        else:
            pdf[out_col] = None
        return pdf

    return df.groupBy(*group_cols).applyInPandas(norm, schema=schema_str)


def _md5_uniform(id_col: str, seed: int):
    """THE deterministic uniform in (0, 1) both E-S samplers key on
    (r9: factored from its two hand-copies — the DuckDB oracle twins
    mirror this exact formula, so it must change in one place or
    none): md5 over (seed, id) → 53-bit residue → (h + 1)/(2^53 + 2),
    strictly inside (0, 1) so log(u) is always finite."""
    from etl_macropulse_br_spark.functions.hashing import md5_long

    two53 = float(1 << 53)
    return (
        F.pmod(
            md5_long(F.col(id_col).cast("string"), seed=seed),
            F.lit(1 << 53),
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(two53 + 2.0)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement via the
    Efraimidis-Spirakis (2006) one-pass reservoir key: each row
    draws key ``u^(1/w)`` (compared in the monotone-equivalent
    log form ``ln(u) / w``) and the k largest keys are exactly a
    weight-proportional sample without replacement. The uniform
    ``u`` derives from the portable md5 family over (seed, id) —
    deterministic, engine-replayable "randomness", the same device
    as the hash split/samplers — so the selected SET is stable and
    oracle-checkable rather than a Monte Carlo draw.

    Scale shape: one map-only projection + TakeOrderedAndProject —
    no shuffle, no global sort, any corpus size. Weights must be
    strictly positive doubles. The output carries the ``es_key``
    selection key column (documented — callers drop it if unwanted;
    the oracle twins round and compare it).
    """
    u = _md5_uniform(id_col, seed)
    # fail loudly on non-positive weights instead of silently
    # corrupting the sample: ln(u) < 0 divided by a NEGATIVE weight
    # flips positive and beats every valid key, and a zero weight
    # yields -inf (never sampled). assert_true returns NULL on
    # success and throws on false OR NULL condition, so a NULL
    # weight fails loudly too. It must be the FIRST coalesce branch:
    # appended as `key + guard`, codegen's null short-circuit would
    # skip it exactly on the NULL-weight rows (null left operand ->
    # right side never evaluated).
    guard = F.assert_true(
        F.col(weight_col) > 0,
        F.lit(f"weighted_sample: {weight_col} must be > 0"),
    ).cast("double")
    key = F.coalesce(guard, F.log(u) / F.col(weight_col))
    return (
        df.withColumn("es_key", key)
        .orderBy(F.col("es_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def weighted_sample_log2(
    df: DataFrame,
    log2_weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """:func:`weighted_sample` with the weight supplied in the LOG2
    domain — the scale-safe form for importance resampling, where a
    long strongly-out-of-domain document can carry
    ``log2_weight < -1074`` and ``pow(2, log2_weight)`` underflows
    to exactly 0.0 (tripping the positive-weight guard instead of
    sampling correctly).

    Maximizing the Efraimidis-Spirakis key ``ln(u)/w`` is monotone-
    identical to MINIMIZING ``(-ln u)/w`` (both sides positive), and
    log2 is monotone on positives, so we select the k SMALLEST
    values of::

        es_key = log2(-ln u) - log2_weight

    ``-ln u`` is bounded in (2^-53, 37) for the md5-derived uniforms,
    so ``log2(-ln u)`` lives in roughly [-53, 5.3] and the key never
    under- or overflows for ANY finite ``log2_weight`` — the weight
    itself is never exponentiated. Same uniforms, same selected set
    as the linear-domain sampler whenever both are representable
    (pinned by test), but correct at every corpus scale.

    The guard fails loudly on NULL/NaN log-weights: a NULL key would
    sort FIRST under the ascending order and silently win the
    sample.

    ``group_cols`` switches to a PER-GROUP sample: k rows per group
    (e.g. a per-language balanced importance sample), selected by
    the same keys through a ``row_number`` window — which plans
    WindowGroupLimit, so each map task pre-prunes to its local
    per-group top-k before the exchange; the global form stays a
    TakeOrderedAndProject. The output carries ``es_key`` (and, per
    group, the 1-based ``es_rk`` rank) — documented columns the
    oracle twins compare.
    """
    u = _md5_uniform(id_col, seed)
    lw = F.col(log2_weight_col)
    # the assert is the FIRST coalesce branch, so it is evaluated
    # before the key on every row — appending `+ guard` to the key
    # (the linear sampler's shape) would let codegen's null
    # short-circuit skip the guard exactly on the NULL rows it exists
    # to catch (null left operand -> right side never evaluated)
    # ±Infinity is rejected too (r9 review fix): a +inf log-weight
    # gives es_key = -inf, which sorts FIRST and silently occupies a
    # sample slot on every run — the guard's message always promised
    # "finite" but only NaN/NULL were checked
    guard = F.assert_true(
        lw.isNotNull()
        & ~F.isnan(lw)
        & (F.abs(lw) != F.lit(float("inf"))),
        F.lit(
            f"weighted_sample_log2: {log2_weight_col} must be a"
            " finite non-null double"
        ),
    ).cast("double")
    key = F.coalesce(guard, F.log2(-F.log(u)) - lw)
    keyed = df.withColumn("es_key", key)
    if group_cols:
        from pyspark.sql import Window

        w = Window.partitionBy(*group_cols).orderBy(
            F.col("es_key").asc(), F.col(id_col).asc()
        )
        return (
            keyed.withColumn("es_rk", F.row_number().over(w))
            .filter(F.col("es_rk") <= k)
        )
    return keyed.orderBy(
        F.col("es_key").asc(), F.col(id_col).asc()
    ).limit(k)
