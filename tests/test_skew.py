"""Salted join equivalence + bucketed-table shuffle elimination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_macropulse_br_spark.operators.skew import (
    bucketed_join_is_shuffle_free,
    salted_join,
    write_bucketed,
)


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


def test_bucketed_join_plans_no_exchange(spark):
    # warehouse.dir is a static conf — use the session default
    # (./spark-warehouse, gitignored) and drop the tables after.
    a = spark.range(0, 1000).withColumn("payload_a", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("payload_b", F.col("id") * 3)
    try:
        write_bucketed(a, "bucketed_a", "id", n_buckets=8)
        write_bucketed(b, "bucketed_b", "id", n_buckets=8)
    except Exception as e:  # no writable warehouse in some environments
        pytest.skip(f"warehouse unavailable: {e}")
    try:
        assert bucketed_join_is_shuffle_free(
            spark, "bucketed_a", "bucketed_b", "id"
        )
        # sanity: the same join on plain (non-bucketed) frames shuffles
        plan = a.join(b, "id")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan or "Broadcast" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_a")
        spark.sql("DROP TABLE IF EXISTS bucketed_b")


def test_bucketed_orders_rollup_query_plan_and_values(spark):
    """The r4 aux query end-to-end: the join of the two bucketed
    tables must be a sort-merge join with NO exchange between the
    bucketed scans and the join — the only hash exchange in the plan
    is the final rollup. Values must match the plain (non-bucketed)
    join of the same inputs."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.plans.queries import (
        _scaled,
        _t,
        bucketed_orders_rollup,
    )

    sf_dir = "/root/testdata/sf0.001"
    try:
        df = bucketed_orders_rollup(spark, sf_dir)
    except Exception as e:  # no writable warehouse in some environments
        _pytest.skip(f"warehouse unavailable: {e}")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Bucketed: true" in plan

        plain = (
            _t(spark, sf_dir, "customer")
            .join(
                _t(spark, sf_dir, "orders"),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                (F.sum(_scaled("o_totalprice")) / F.lit(100.0)).alias(
                    "total_price"
                ),
            )
        )
        got = {tuple(r) for r in df.collect()}
        want = {tuple(r) for r in plain.collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS aux_bucketed_orders")
        spark.sql("DROP TABLE IF EXISTS aux_bucketed_customer")


def test_write_bucketed_replace_is_crash_safe(spark):
    """A failed replacement write must leave the previous table's
    data restored, not destroyed (r4 ADVICE on skew.py)."""
    import os

    from etl_macropulse_br_spark.sinks.writers import table_location

    a = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    try:
        write_bucketed(a, "bucketed_safe", "id", n_buckets=4)
    except Exception as e:
        pytest.skip(f"warehouse unavailable: {e}")
    loc = table_location(spark, "bucketed_safe")
    try:
        before = sorted(os.listdir(loc))

        # a frame whose evaluation throws mid-write (UDF raising)
        from pyspark.sql.types import LongType

        def boom(x):
            raise RuntimeError("injected write failure")

        bad = spark.range(0, 100).withColumn(
            "v", F.udf(boom, LongType())(F.col("id"))
        )
        with pytest.raises(Exception):
            write_bucketed(bad, "bucketed_safe", "id", n_buckets=4)

        # old location restored byte-for-byte file set; no backup left
        assert sorted(os.listdir(loc)) == before
        assert not os.path.isdir(f"{loc}.__replacing")
        # orphan-dir path still recoverable: a fresh successful
        # replace works and reads back
        write_bucketed(a, "bucketed_safe", "id", n_buckets=4)
        assert spark.table("bucketed_safe").count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_safe")


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
