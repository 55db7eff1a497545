"""Cross-engine hashing portability: the md5 family and its SQL
twins must be bit-identical in Spark and DuckDB — this is what makes
the dedup/fingerprint oracles valid."""

from __future__ import annotations

import duckdb

from etl_macropulse_br_spark.functions.hashing import (
    _MASK32,
    _lcg_constants,
    base32,
    base32_sql,
    md5_long,
    md5_long_sql,
)

SAMPLES = ["", "a", "abc", "the quick brown fox", "café açaí", "0", "x" * 100]


def test_md5_long_matches_duckdb(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["x"])
    got = [r["h"] for r in df.select(md5_long("x").alias("h")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {md5_long_sql('?::VARCHAR')}", [s]).fetchone()[0]
        for s in SAMPLES
    ]
    assert got == want


def test_md5_long_seeded_and_base32_match_duckdb(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["x"])
    got = [
        (r["h7"], r["b"])
        for r in df.select(
            md5_long("x", seed=7).alias("h7"), base32("x").alias("b")
        ).collect()
    ]
    con = duckdb.connect()
    for s, (h7, b) in zip(SAMPLES, got):
        w7 = con.execute(
            f"SELECT {md5_long_sql('?::VARCHAR', seed=7)}", [s]
        ).fetchone()[0]
        wb = con.execute(f"SELECT {base32_sql('?::VARCHAR')}", [s]).fetchone()[0]
        assert (h7, b) == (w7, wb)
        assert 0 <= b <= _MASK32


def test_lcg_constants_bounds():
    consts = _lcg_constants(64)
    assert len(set(consts)) == 64  # all distinct
    for a, b in consts:
        assert 1 <= a < 2**31 and a % 2 == 1
        assert 0 <= b < 2**31
        # no 64-bit overflow for a 32-bit base
        assert a * _MASK32 + b < 2**63


def test_minhash_family_is_not_monotone_degenerate(spark):
    """r9 review fix (the family-level defect the oracle CANNOT
    catch, since it replays the same expressions): without a modular
    reduction — or with a modulus so large the affine map wraps at
    most once (2^61-1 was tried and measured equally degenerate) —
    every h_i is (near-)monotone in the base, all k signature
    components select the same minimum shingle, and component
    agreement between documents collapses to all-or-nothing. Pins:
    (a) for a mid-similarity pair, agreement is strictly BETWEEN 0
    and k (a fractional estimate is impossible under the degenerate
    family); (b) signatures are NOT an affine image of one shared
    argmin; (c) across pairs, the mean |estimate - true J| is within
    a few times the Broder std err sqrt(J(1-J)/k)."""
    import hashlib
    import random
    import statistics

    from etl_macropulse_br_spark.functions.hashing import (
        _MINHASH_P,
        _lcg_constants,
    )
    from etl_macropulse_br_spark.operators.dedup import (
        minhash_signature_table,
    )

    COEFS = (786433, 919393, 649657)

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def sh_set(text: str, n: int = 3) -> set:
        th = [md5_long(t) & 0xFFFFFFFF for t in text.split()]
        out = set()
        for i in range(max(len(th) - n + 1, 1)):
            out.add(
                sum(
                    (th[i + j] if i + j < len(th) else 0) * c
                    for j, c in enumerate(COEFS)
                )
            )
        return out

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(200)]
    rows, pairs = [], []
    for p in range(20):
        base = [rng.choice(vocab) for _ in range(60)]
        keep = rng.randrange(10, 55)
        a = " ".join(base)
        b = " ".join(
            base[:keep] + [rng.choice(vocab) for _ in range(60 - keep)]
        )
        sa, sb = sh_set(a), sh_set(b)
        pairs.append((2 * p, 2 * p + 1, len(sa & sb) / len(sa | sb)))
        rows += [(2 * p, a), (2 * p + 1, b)]

    k = 16
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r["id"]: [r[f"m{i}"] for i in range(k)]
        for r in minhash_signature_table(df, k=k).collect()
    }

    # (a) fractional agreement exists (impossible when degenerate)
    agreements = [
        sum(x == y for x, y in zip(sig[ia], sig[ib]))
        for ia, ib, _ in pairs
    ]
    assert any(0 < a_ < k for a_ in agreements), agreements

    # (b) not an affine image of one argmin
    consts = _lcg_constants(k)
    s0 = sig[0]
    x0 = (s0[0] - consts[0][1]) // consts[0][0]
    assert not all(
        s0[i] == (consts[i][0] * x0 + consts[i][1]) % _MINHASH_P
        and s0[i] == consts[i][0] * x0 + consts[i][1]
        for i in range(k)
    )

    # (c) estimator quality: mean abs error within 3x the k=16
    # Broder bound (~0.125 at J=0.5)
    errs = [
        abs(sum(x == y for x, y in zip(sig[ia], sig[ib])) / k - J)
        for ia, ib, J in pairs
    ]
    assert statistics.fmean(errs) < 3 * 0.125, statistics.fmean(errs)


def test_banded_recall_curve_matches_analytic(spark):
    """r10 (VERDICT r9 #2): the END-TO-END banding recall curve,
    measured on planted exact-Jaccard pairs, must track the analytic
    1-(1-J^r)^b S-curve — the artifact the r2-r8 degeneracy (recall
    silently collapsed to plain J) shipped green without. The
    measurement is deterministic (md5 family, fixed token
    namespaces), so these bounds are exact replays, not flaky
    statistics; tolerances still follow the binomial stderr so a
    re-derived family with small bias keeps passing."""
    from tools.recall_curve import measure_banded_recall

    rows = measure_banded_recall(spark, pairs_per_point=200)
    assert len(rows) == 8
    for r in rows:
        # pointwise: within 4 sigma + the family's ~2pt bias budget
        tol = 4 * r["stderr"] + 0.02
        assert abs(r["measured_recall"] - r["analytic_recall"]) <= tol, r
    by_j = {r["j"]: r["measured_recall"] for r in rows}
    # anti-collapse: the S-curve is SUB-linear at low J and
    # SUPER-linear at high J; plain-J collapse fails both ends
    assert by_j[0.3] < 0.15 and by_j[0.4] < 0.20  # plain J: 0.3/0.4
    assert by_j[0.9] > 0.93 and by_j[0.95] > 0.97
    # and monotone non-decreasing across the grid
    vals = [r["measured_recall"] for r in sorted(rows, key=lambda x: x["j"])]
    assert vals == sorted(vals)


def test_srp_banded_recall_curve_matches_analytic(spark):
    """r10: the SRP (embedding) banding recall curve, measured on
    planted exact-cosine pairs in dense deterministic 2D subspaces,
    must track the analytic 1-(1-(1-θ/π)^p)^b at the shipped
    embedding_near_dups defaults — completing the measured-recall
    program (MinHash has the J-curve; SRP had a single planted-pair
    point). Deterministic (string-seeded subspaces, md5 hyperplane
    signs)."""
    from tools.recall_curve import measure_srp_banded_recall

    rows = measure_srp_banded_recall(spark, pairs_per_point=200)
    assert len(rows) == 6
    for r in rows:
        tol = 4 * r["stderr"] + 0.02
        assert abs(r["measured_recall"] - r["analytic_recall"]) <= tol, r
    by_c = {r["cos"]: r["measured_recall"] for r in rows}
    # anti-collapse at both ends: low-cos pairs must rarely collide,
    # near-identical pairs almost always
    assert by_c[0.5] < 0.25 and by_c[0.99] > 0.9
    vals = [r["measured_recall"] for r in sorted(rows, key=lambda x: x["cos"])]
    assert vals == sorted(vals)  # monotone in cosine
