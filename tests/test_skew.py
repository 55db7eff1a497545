"""Salted join equivalence."""

from __future__ import annotations

from etl_macropulse_br_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # one hot key (0) with many rows + a long tail
    skewed = spark.createDataFrame(
        [(0, i) for i in range(500)] + [(k, k) for k in range(1, 20)],
        ["k", "v"],
    )
    dim = spark.createDataFrame(
        [(k, f"name_{k}") for k in range(0, 20, 2)], ["k", "name"]
    )
    plain = {(r["k"], r["v"], r["name"]) for r in skewed.join(dim, "k").collect()}
    salted = {
        (r["k"], r["v"], r["name"])
        for r in salted_join(skewed, dim, on="k", n_salt=8).collect()
    }
    assert salted == plain
    assert len(plain) == 500 + 9  # hot key + even tail keys


def test_salted_left_join_keeps_unmatched(spark):
    skewed = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    dim = spark.createDataFrame([(1, "x")], ["k", "name"])
    rows = salted_join(skewed, dim, on="k", n_salt=4, how="left").collect()
    got = {(r["k"], r["name"]) for r in rows}
    assert got == {(1, "x"), (2, None)}


def test_salted_join_rejects_right_full_and_spreads_dup_rows(spark):
    """r9 review fixes: (a) right/full joins are refused — each
    unmatched other-side row exists as n_salt replicas and would be
    emitted n_salt times null-extended; (b) salt_cols lets a hot key
    of EXACT-duplicate rows spread (the all-columns hash gives
    identical rows identical salts — one partition, the bottleneck
    salting exists to remove)."""
    import pytest
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, i, 10.0) for i in range(64)], "k long, rid long, v double"
    )
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k long, name string")

    for bad in ("right", "full", "outer", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="not salting-safe"):
            salted_join(fact, dim, "k", how=bad)

    # identical duplicate rows: the default salt is constant, the
    # rid-keyed salt spreads
    dup = fact.select("k", F.lit(0).cast("long").alias("rid"), "v")

    def n_salts(df, cols):
        s = df.withColumn(
            "__s",
            F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(16)),
        )
        return s.select("__s").distinct().count()

    assert n_salts(dup, dup.columns) == 1          # the trap
    assert n_salts(fact, ["rid"]) > 4              # the escape hatch
    out = salted_join(fact, dim, "k", n_salt=16, how="left",
                      salt_cols=["rid"])
    plain = fact.join(dim, "k", "left")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )
