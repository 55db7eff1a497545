"""Skew-handling joins: salting.

AQE's skew-join splitting (enabled in session.py) handles most skew
at runtime; explicit salting remains the tool when one join key
dominates so heavily that even split partitions bottleneck, or when
AQE is unavailable (streaming joins).

``salted_join``: the skewed (large) side gets a deterministic salt
in [0, n_salt); the small-ish side is replicated n_salt times with
every salt value; the join key becomes (key, salt). Each hot key's
rows spread across n_salt partitions instead of one. Deterministic
(pmod of a hash — no rand()) so retries/replays produce identical
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    n_salt: int = 16,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-join with the skewed side salted and the other side
    replicated. Output columns = skewed's + other's (minus the
    duplicate key), like ``skewed.join(other, on, how)``.

    Supported ``how``: inner / left / left_outer / semi / anti
    shapes — ones where unmatched OTHER rows never surface. right
    and full joins are REJECTED (r9 review fix): each unmatched
    ``other`` row exists as ``n_salt`` replicas, so a right/full
    join would emit it ``n_salt`` times null-extended, silently
    multiplying rows vs the plain join it claims to mirror.

    ``salt_cols`` (r9): columns whose hash spreads a hot key. The
    default (all columns) cannot spread EXACT-duplicate rows — they
    hash identically and all land in one partition, the precise
    bottleneck salting exists to remove; pass a high-cardinality
    disambiguator (a unique id, an event timestamp) when the hot
    key's rows repeat verbatim. Deterministic either way (no
    rand()), so retries/replays produce identical partitioning."""
    allowed = {
        "inner", "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "semi",
        "left_anti", "leftanti", "anti", "cross",
    }
    if how.lower().replace("_", "") not in {
        a.replace("_", "") for a in allowed
    }:
        raise ValueError(
            f"salted_join: how={how!r} is not salting-safe — "
            "unmatched replicated rows of the other side would be "
            "emitted n_salt times in a right/full join; use a plain "
            "join (AQE skew handling) for those shapes"
        )
    cols = salt_cols or skewed.columns
    salted = skewed.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salt)),
    )
    replicated = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    # Profile-gated shuffle_hash on the replicated side (r13 A/B,
    # kept with numbers in PLANS.md: 0.205→0.162 / 0.199→0.151 s and
    # 3→2 jobs on the declared skew_salted_rollup): under the
    # small-input profile the n_salt-times-replicated dim would
    # auto-broadcast — a separate build job per action that also
    # defeats the point of salting (a broadcast join never shuffles
    # the hot key at all, so nothing is spread). Under the cluster
    # profile no hint is emitted and AQE decides from the replicated
    # side's runtime size.
    from etl_macropulse_br_spark.operators.util import (
        small_input_profile,
    )

    if small_input_profile(other):
        replicated = replicated.hint("shuffle_hash")
    out = salted.join(replicated, on=[on, "__salt"], how=how)
    return out.drop("__salt")
