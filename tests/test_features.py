"""Per-group normalization: grouped-map pandas path vs expression
path."""

from __future__ import annotations

import pytest

from etl_macropulse_br_spark.operators.features import (
    zscore_expr,
    zscore_pandas,
)


@pytest.fixture()
def groups(spark):
    rows = [
        ("a", 1, 10.0),
        ("a", 2, 20.0),
        ("a", 3, 30.0),
        ("b", 4, 5.0),
        ("b", 5, 5.0),   # zero variance group -> null zscores
        ("c", 6, 42.0),  # singleton group -> null zscore
    ]
    return spark.createDataFrame(rows, ["g", "id", "v"])


def test_zscore_expr_semantics(groups):
    out = {r["id"]: r["zscore"] for r in zscore_expr(groups, "v", ["g"]).collect()}
    assert out[1] == pytest.approx(-1.0)
    assert out[2] == pytest.approx(0.0)
    assert out[3] == pytest.approx(1.0)
    assert out[4] is None and out[5] is None  # zero variance
    assert out[6] is None                     # n < 2


def test_zscore_pandas_matches_expr(groups):
    e = {r["id"]: r["zscore"] for r in zscore_expr(groups, "v", ["g"]).collect()}
    p = {r["id"]: r["zscore"] for r in zscore_pandas(groups, "v", ["g"]).collect()}
    assert set(e) == set(p)
    for k in e:
        if e[k] is None:
            assert p[k] is None
        else:
            assert p[k] == pytest.approx(e[k], abs=1e-9)


def test_weighted_sample_matches_python_reference(spark):
    """Efraimidis-Spirakis keys replicate exactly in pure Python
    (same md5-derived uniforms, same log-form key), so the selected
    set and its order are verifiable, not just plausible; heavy
    weights dominate the sample."""
    import hashlib
    import math

    from etl_macropulse_br_spark.operators.features import weighted_sample

    weights = {i: (1000.0 if i < 3 else 0.01) for i in range(30)}
    df = spark.createDataFrame(
        [(i, w) for i, w in weights.items()], "doc_id long, w double"
    )
    got = [
        (r["doc_id"], r["es_key"])
        for r in weighted_sample(df, "w", k=5).collect()
    ]

    def key(i):
        h = int(hashlib.md5(f"0:{i}".encode()).hexdigest()[:15], 16)
        u = ((h % (1 << 53)) + 1.0) / float((1 << 53) + 2)
        return math.log(u) / weights[i]

    expect = sorted(
        ((i, key(i)) for i in weights), key=lambda t: (-t[1], t[0])
    )[:5]
    assert [i for i, _ in got] == [i for i, _ in expect]
    for (gi, gk), (ei, ek) in zip(got, expect):
        assert gk == ek
    # the three heavy-weight docs must all be in the sample
    assert {0, 1, 2} <= {i for i, _ in got}


def test_dsir_weights_match_python_reference(spark):
    """Full-formula differential: dsir_log_weights equals an
    independent pure-Python implementation of the same spec (md5
    token hashes, affine bigram combine, bucket counts, add-one
    smoothing, bucket-sorted log fold) to the 9dp gate tolerance,
    over a randomized corpus."""
    import hashlib
    import math
    import random

    from etl_macropulse_br_spark.operators.dedup import _SHINGLE_COEFS
    from etl_macropulse_br_spark.operators.text import dsir_log_weights

    rng = random.Random(97)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 25))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    target_ids = {i for i in range(30) if i % 3 == 0}
    target = df.filter(df.doc_id.isin(*target_ids))
    B = 64
    got = {
        r["doc_id"]: r
        for r in dsir_log_weights(df, target, n_buckets=B).collect()
    }

    def base32(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) & (
            (1 << 32) - 1
        )

    c0, c1 = _SHINGLE_COEFS[:2]

    def buckets(text):
        th = [base32(t) for t in text.strip().lower().split()]
        n = max(len(th) - 1, 1)
        out = []
        for i in range(n):
            g = th[i] * c0 + (th[i + 1] if i + 1 < len(th) else 0) * c1
            out.append(g % B)
        return out

    docb, rawb, tgtb = {}, {}, {}
    for i, text in docs:
        for b in buckets(text):
            docb.setdefault(i, {}).setdefault(b, 0)
            docb[i][b] += 1
            rawb[b] = rawb.get(b, 0) + 1
            if i in target_ids:
                tgtb[b] = tgtb.get(b, 0) + 1
    tr, tt = sum(rawb.values()), sum(tgtb.values())
    for i, _ in docs:
        acc = 0.0
        nf = 0
        for b in sorted(docb[i]):
            n = docb[i][b]
            nf += n
            acc += n * (
                math.log2(tgtb.get(b, 0) + 1) - math.log2(rawb[b] + 1)
            )
        w = acc + nf * (math.log2(tr + B) - math.log2(tt + B))
        assert got[i]["n_feats"] == nf
        assert abs(got[i]["log2_weight"] - round(w, 9)) < 2e-9, i


def test_weighted_sample_rejects_nonpositive_weights(spark):
    """A negative weight would flip the ES key positive and dominate
    the sample silently; the guard must fail loudly instead."""
    import pytest

    from etl_macropulse_br_spark.operators.features import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0)], "doc_id long, w double"
    )
    with pytest.raises(Exception) as e:
        weighted_sample(df, "w", k=2).collect()
    assert "must be > 0" in str(e.value)


def test_weighted_sample_log2_matches_linear_domain(spark):
    """On moderate weights (where both forms are representable) the
    log-domain sampler must select the SAME set as the linear-domain
    one — the key transform is monotone, only the numeric domain
    changes."""
    import math

    from etl_macropulse_br_spark.operators.features import (
        weighted_sample,
        weighted_sample_log2,
    )

    weights = {i: (1000.0 if i < 3 else 0.01) for i in range(30)}
    lin = spark.createDataFrame(
        [(i, w) for i, w in weights.items()], "doc_id long, w double"
    )
    lg = spark.createDataFrame(
        [(i, math.log2(w)) for i, w in weights.items()],
        "doc_id long, log2_weight double",
    )
    got_lin = [r["doc_id"] for r in weighted_sample(lin, "w", k=5).collect()]
    got_log = [
        r["doc_id"]
        for r in weighted_sample_log2(lg, "log2_weight", k=5).collect()
    ]
    assert got_lin == got_log


def test_weighted_sample_log2_survives_extreme_underflow_weight(spark):
    """The scale bug the log-domain form exists for: a doc with
    log2_weight <= -1100 (pow(2, .) underflows to exactly 0.0, which
    the linear-domain guard rejects) must participate correctly —
    ranked last, never erroring — and a doc with a huge POSITIVE
    log-weight must win."""
    from etl_macropulse_br_spark.operators.features import (
        weighted_sample_log2,
    )

    rows = [(0, -1100.0), (1, 2000.0)] + [
        (i, 0.0) for i in range(2, 12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, log2_weight double")
    out = [
        r["doc_id"]
        for r in weighted_sample_log2(df, "log2_weight", k=11).collect()
    ]
    assert len(out) == 11
    assert out[0] == 1          # astronomically heavy doc wins
    assert 0 not in out         # 1 of 12 excluded: the 2^-1100 doc
    # and with k = n the underflow doc IS selectable (last, not error)
    full = [
        r["doc_id"]
        for r in weighted_sample_log2(df, "log2_weight", k=12).collect()
    ]
    assert full[-1] == 0


def test_weighted_sample_log2_rejects_null_and_nan(spark):
    """A NULL key would sort first under ascending order and silently
    win the sample; the guard must fail loudly instead."""
    import pytest

    from etl_macropulse_br_spark.operators.features import (
        weighted_sample_log2,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None)], "doc_id long, log2_weight double"
    )
    with pytest.raises(Exception) as e:
        weighted_sample_log2(df, "log2_weight", k=2).collect()
    assert "finite non-null" in str(e.value)

    df2 = spark.createDataFrame(
        [(1, 5.0), (2, float("nan"))], "doc_id long, log2_weight double"
    )
    with pytest.raises(Exception) as e2:
        weighted_sample_log2(df2, "log2_weight", k=2).collect()
    assert "finite non-null" in str(e2.value)


def test_weighted_sample_rejects_null_weight(spark):
    """A NULL weight nulls the whole key (sorted last, silently
    dropped) unless the guard is evaluated BEFORE the key; pin that
    it fails loudly like the negative-weight case."""
    import pytest as _pytest

    from etl_macropulse_br_spark.operators.features import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, None)], "doc_id long, w double"
    )
    with _pytest.raises(Exception) as e:
        weighted_sample(df, "w", k=2).collect()
    assert "must be > 0" in str(e.value)


def test_weighted_sample_log2_per_group(spark):
    """group_cols: k rows per group, ranked by the same log-domain
    keys as the global sampler — the union of per-group samples at
    k=1 must be each group's global-best row."""
    import math

    from etl_macropulse_br_spark.operators.features import (
        weighted_sample_log2,
    )

    from pyspark.sql import functions as F

    rows = [(i, "a" if i % 2 == 0 else "b", math.log2(1 + i % 7 + 1))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, g string, log2_weight double")
    out = weighted_sample_log2(
        df, "log2_weight", k=3, group_cols=["g"]
    ).collect()
    assert len(out) == 6
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append((r["es_rk"], r["doc_id"], r["es_key"]))
    for g, lst in by_g.items():
        lst.sort()
        assert [rk for rk, _, _ in lst] == [1, 2, 3]
        # ranks follow ascending keys
        keys = [k for _, _, k in lst]
        assert keys == sorted(keys)
        # the per-group winner equals a global sample restricted to
        # that group
        solo = weighted_sample_log2(
            df.filter(F.col("g") == g), "log2_weight", k=1
        ).collect()[0]
        assert solo["doc_id"] == lst[0][1]


def test_weighted_sample_log2_shift_invariant(spark):
    """Importance-resampling scale-invariance: adding a CONSTANT to
    every log2_weight (multiplying every weight by the same factor)
    shifts every E-S key by exactly that constant, so the selected
    set AND order must be identical — the property that makes the
    log-domain form safe under arbitrary weight normalization."""
    import math
    import random

    from etl_macropulse_br_spark.operators.features import (
        weighted_sample_log2,
    )

    rng = random.Random(11)
    rows = [(i, math.log2(rng.uniform(0.01, 100.0))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, log2_weight double")
    base = [
        r["doc_id"]
        for r in weighted_sample_log2(df, "log2_weight", k=10).collect()
    ]
    for shift in (-3000.0, -750.5, 1234.25):
        shifted = spark.createDataFrame(
            [(i, lw + shift) for i, lw in rows],
            "doc_id long, log2_weight double",
        )
        got = [
            r["doc_id"]
            for r in weighted_sample_log2(
                shifted, "log2_weight", k=10
            ).collect()
        ]
        assert got == base, shift


def test_zscore_moments_survive_large_groups_and_nulls(spark):
    """r9 review fixes: (a) group moments run in exact decimal — a
    group whose cent-sum squares past 2^63 previously wrapped int64
    silently (NULLed or garbage z); (b) NULL values neither corrupt
    the moments (count was count(*) while sums skipped nulls) nor
    desync the pandas path. Both pinned against an independent
    Python computation and against the DuckDB twin."""
    import duckdb

    from etl_macropulse_br_spark.operators.features import (
        zscore_expr,
        zscore_expr_sql,
        zscore_pandas,
    )

    # (a) large group: 200k rows of ~40_000.00 -> s ~ 8e11 cents,
    # s*s ~ 6.4e23 >> 2^63 (old path wrapped); values vary so
    # variance is real
    n = 200_000
    big = spark.range(n).selectExpr(
        "'g' as g", "cast(40000 + id % 1000 as double) as v", "id"
    )
    got = {
        r["id"]: r["zscore"]
        for r in zscore_expr(big, "v", ["g"]).collect()
    }
    import statistics

    vals = [40000 + i % 1000 for i in range(n)]
    mean = statistics.fmean(vals)
    # exact integer moments like the operator: cents
    cents = [v * 100 for v in vals]
    s = sum(cents)
    ssq = sum(c * c for c in cents)
    var = (ssq - (s * s) / n) / (n - 1)
    sd = var ** 0.5
    for i in (0, 1, 999, n - 1):
        expect = (cents[i] - s / n) / sd
        assert got[i] is not None and abs(got[i] - expect) < 1e-9, i

    # and the DuckDB twin still hash-matches on the same big group
    pdf = big.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    oracle = {
        r[1]: r[2]
        for r in con.sql(
            zscore_expr_sql("t", "v", ["g"], ["g", "id"])
        ).fetchall()
    }
    assert all(oracle[i] == got[i] for i in (0, 1, 999, n - 1))

    # (b) nulls: moments come from non-null rows only, null rows get
    # null z, and the pandas path agrees
    nd = spark.createDataFrame(
        [("a", 1.0, 0), ("a", 3.0, 1), ("a", None, 2), ("a", 5.0, 3)],
        "g string, v double, id long",
    )
    ge = {
        r["id"]: r["zscore"] for r in zscore_expr(nd, "v", ["g"]).collect()
    }
    gp = {
        r["id"]: r["zscore"] for r in zscore_pandas(nd, "v", ["g"]).collect()
    }
    assert ge[2] is None and gp[2] is None
    # mean of {1,3,5} = 3 -> z(3.0) == 0 exactly if nulls are excluded
    assert abs(ge[1]) < 1e-12
    for i in (0, 1, 3):
        assert abs(ge[i] - gp[i]) < 1e-9, i


def test_weighted_sample_log2_rejects_infinite_weights(spark):
    """r9 review fix: +-Infinity log-weights fail the guard loudly
    (a +inf weight made es_key -inf, silently winning a slot)."""
    import pytest

    from etl_macropulse_br_spark.operators.features import (
        weighted_sample_log2,
    )

    df = spark.createDataFrame(
        [(1, 0.5), (2, float("inf")), (3, 1.5)],
        "doc_id long, lw double",
    )
    with pytest.raises(Exception, match="finite"):
        weighted_sample_log2(df, "lw", 2).collect()
    with pytest.raises(Exception, match="finite"):
        weighted_sample_log2(
            df.selectExpr("doc_id", "-lw as lw"), "lw", 2
        ).collect()


def test_zscore_moment_overflow_is_loud(spark):
    """r10 (ADVICE r9 #4): a group whose decimal(38,0) moments
    overflow (sum(c*c) > 1e38 — cent values near the int64 edge)
    must RAISE, not silently NULL every z in the group while the
    DuckDB twin's HUGEINT stays exact."""
    from etl_macropulse_br_spark.operators.features import zscore_expr

    # two cents-values ~9e18: each square ~8.2e37 fits decimal(38,0),
    # their SUM (~1.6e38) does not
    big = spark.createDataFrame(
        [("g", 9.1e16), ("g", 9.0e16)], "g string, v double"
    )
    with pytest.raises(Exception, match="overflowed decimal"):
        zscore_expr(big, "v", ["g"]).collect()

    # sane magnitudes keep working through the guard
    ok = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0)], "g string, v double"
    )
    zs = sorted(
        r["zscore"] for r in zscore_expr(ok, "v", ["g"]).collect()
    )
    assert abs(zs[0] + 1.0) < 1e-12 and abs(zs[1]) < 1e-12
