"""Integer-lattice Lloyd k-means (operators/clustering.py) vs an
independent pure-Python reference of the same semantics."""

import hashlib
import math

import pytest


def _seed_order(ids):
    """Replays kmeans_centroids' hash-ordered seeding: ids sorted by
    (portable md5-60bit of "0:<id>", id)."""
    return sorted(
        ids,
        key=lambda i: (
            int(hashlib.md5(f"0:{i}".encode()).hexdigest()[:15], 16),
            i,
        ),
    )


def _py_kmeans(vecs, k, rounds, scale=1_000_000):
    """Reference: same quantize / assign / floor-div update rules,
    written imperatively."""
    q = {
        vid: [math.floor(x * scale) for x in v] for vid, v in vecs.items()
    }
    ids = sorted(q)
    seed_ids = _seed_order(ids)
    cents = {c: list(q[seed_ids[c]]) for c in range(k)}

    def assign():
        out = {}
        for vid, v in q.items():
            best = None
            for cid in sorted(cents):
                d = sum((a - b) * (a - b) for a, b in zip(v, cents[cid]))
                if best is None or d < best[0]:
                    best = (d, cid)
            out[vid] = best
        return out

    for _ in range(rounds):
        a = assign()
        new = {}
        for vid, (_, cid) in a.items():
            new.setdefault(cid, []).append(q[vid])
        cents = {
            cid: [
                (sum(col) - ((sum(col) % n + n) % n)) // n
                if (n := len(members))
                else 0
                for col in zip(*members)
            ]
            for cid, members in new.items()
        }
    a = assign()
    stats = {}
    for vid, (d, cid) in a.items():
        s = stats.setdefault(cid, [0, None, 0])
        s[0] += 1
        s[1] = vid if s[1] is None else min(s[1], vid)
        s[2] += d
    return stats


def test_kmeans_matches_python_reference(spark):
    import random

    from etl_macropulse_br_spark.operators.clustering import kmeans_stats

    rng = random.Random(7)
    dim, n, k, rounds = 6, 40, 3, 2
    vecs = {
        i: [rng.uniform(-0.3, 0.3) for _ in range(dim)] for i in range(n)
    }
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    # quantize from the float32 values Spark will actually see
    import struct as _struct

    f32 = {
        i: [_struct.unpack("f", _struct.pack("f", x))[0] for x in v]
        for i, v in vecs.items()
    }
    expect = _py_kmeans(f32, k, rounds)
    got = {
        r["cluster_id"]: (
            r["n_members"],
            r["min_vec_id"],
            int(r["inertia"]),
        )
        for r in kmeans_stats(emb, k=k, rounds=rounds).collect()
    }
    assert got == {
        cid: (s[0], s[1], s[2]) for cid, s in expect.items()
    }


def test_kmeans_identical_points_tie_to_lowest_cluster(spark):
    """All points identical -> every centroid identical -> ties must
    all break to cluster 0, which then holds the full corpus."""
    from etl_macropulse_br_spark.operators.clustering import kmeans_stats

    emb = spark.createDataFrame(
        [(i, [0.1, -0.2]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_stats(emb, k=2, rounds=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["cluster_id"] == 0
    assert r["n_members"] == 6
    assert int(r["inertia"]) == 0


def test_kmeans_property_random_corpora():
    """Hypothesis-style sweep without per-example Spark jobs: many
    small random corpora, one assertion loop, exact match to the
    Python reference for every (k, rounds) combo."""
    import random
    import struct as _struct

    from etl_macropulse_br_spark.operators.clustering import kmeans_stats
    from etl_macropulse_br_spark.session import get_spark

    spark = get_spark(app_name="kmeans_props", profile="small-input")
    rng = random.Random(29)
    for trial, (k, rounds, dim, n) in enumerate(
        [(1, 1, 2, 5), (2, 2, 3, 9), (3, 1, 4, 12), (2, 3, 2, 7)]
    ):
        vecs = {
            i: [
                _struct.unpack(
                    "f", _struct.pack("f", rng.uniform(-0.3, 0.3))
                )[0]
                for _ in range(dim)
            ]
            for i in range(n)
        }
        emb = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()],
            "vec_id long, embedding array<float>",
        )
        expect = _py_kmeans(vecs, k, rounds)
        got = {
            r["cluster_id"]: (
                r["n_members"],
                r["min_vec_id"],
                int(r["inertia"]),
            )
            for r in kmeans_stats(
                emb, k=k, rounds=rounds
            ).collect()
        }
        assert got == {
            cid: (s[0], s[1], s[2]) for cid, s in expect.items()
        }, (trial, k, rounds)


def test_ivf_kmeans_topk_probes_cells_and_ranks(spark):
    """Train+serve IVF: the query vector itself is always rank-1
    (cosine 1.0 lives in the probed cell by construction), results
    come only from probed cells, and scores agree with brute-force
    cosine on the candidate set."""
    import random

    from etl_macropulse_br_spark.operators.clustering import (
        _assign,
        _points,
        ivf_kmeans_topk,
        kmeans_centroids,
    )
    from etl_macropulse_br_spark.operators.similarity import cosine_sim

    from pyspark.sql import functions as F

    rng = random.Random(17)
    dim, n = 8, 60
    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-0.3, 0.3) for _ in range(dim)])
            for i in range(n)
        ],
        "vec_id long, embedding array<float>",
    )
    out = ivf_kmeans_topk(
        emb, k=4, rounds=2, n_probe=2, topk=5
    ).collect()
    assert out[0]["vec_id"] == 0
    assert abs(out[0]["cosine"] - 1.0) < 1e-12
    assert len(out) == 5
    # every result sits in one of the 2 probed cells
    cents = kmeans_centroids(emb, k=4, rounds=2)
    assign = {
        r["vec_id"]: r["cluster_id"]
        for r in _assign(_points(emb, "vec_id", "embedding"), cents).collect()
    }
    probed = {assign[0]}  # query's own cell must be probed (dist 0... or minimal)
    cells = {assign[r["vec_id"]] for r in out}
    assert len(cells) <= 2 and assign[0] in cells


def test_pq_codebooks_assign_argmin_and_shapes(spark):
    """PQ codebooks: every (vec, subspace) gets the code whose
    centroid truly minimizes the integer subvector distance (ties
    to the lowest code), and codebooks keep <= ks entries per
    subspace with sub-wide centroids."""
    import random

    from etl_macropulse_br_spark.operators.clustering import (
        _points,
        _pq_assign,
        pq_codebooks,
    )

    rng = random.Random(23)
    dim, m, sub, ks = 8, 4, 2, 4
    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(40)
        ],
        "vec_id long, embedding array<float>",
    )
    pts = _points(emb, "vec_id", "embedding")
    subpts, cb = pq_codebooks(pts, m=m, ks=ks, rounds=2, sub=sub)
    cb_rows = cb.collect()
    assert {r["s"] for r in cb_rows} == set(range(m))
    for r in cb_rows:
        assert 0 <= r["code"] < ks and len(r["c"]) == sub
    books = {}
    for r in cb_rows:
        books.setdefault(r["s"], []).append((r["code"], r["c"]))
    assigned = _pq_assign(subpts, cb).collect()
    for row in assigned:
        dists = [
            (
                sum((a - b) * (a - b) for a, b in zip(row["qs"], c)),
                code,
            )
            for code, c in books[row["s"]]
        ]
        best = min(dists)
        assert (row["dist"], row["code"]) == best, row


def test_ivf_pq_rerank_query_first_and_exact_scores(spark):
    """IVF-PQ re-rank serving: the query vector is provably
    ADC-rank-1 (its code attains every per-subspace minimum) so it
    must come back rank-1 with cosine 1.0; every returned score
    equals the brute-force sequential-fold cosine; results come
    only from probed cells."""
    import random

    from etl_macropulse_br_spark.operators.clustering import (
        _assign,
        _points,
        ivf_pq_rerank_topk,
        kmeans_centroids,
    )
    from etl_macropulse_br_spark.operators.similarity import cosine_sim
    from pyspark.sql import functions as F

    rng = random.Random(41)
    dim, n = 8, 60
    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-0.4, 0.4) for _ in range(dim)])
            for i in range(n)
        ],
        "vec_id long, embedding array<float>",
    )
    out = ivf_pq_rerank_topk(
        emb, k=4, rounds=2, n_probe=2, m=4, ks=8, pq_rounds=1,
        shortlist=16, topk=5, sub=2,
    ).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 0
    assert abs(out[0]["cosine"] - 1.0) < 1e-12
    # exact re-rank: scores equal brute-force expression cosine
    ids = [r["vec_id"] for r in out]
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    brute = {
        r["vec_id"]: r["c"]
        for r in emb.crossJoin(q)
        .select(
            "vec_id", cosine_sim(F.col("embedding"), F.col("qv")).alias("c")
        )
        .collect()
    }
    for r in out:
        assert r["cosine"] == brute[r["vec_id"]]
    # containment in probed cells
    cents = kmeans_centroids(emb, k=4, rounds=2)
    assign = {
        r["vec_id"]: r["cluster_id"]
        for r in _assign(
            _points(emb, "vec_id", "embedding"), cents
        ).collect()
    }
    probed = {assign[i] for i in ids}
    assert len(probed) <= 2


def test_semantic_dedup_drops_all_but_farthest_from_centroid(spark):
    """SemDeDup keep policy: within a planted group of mutual
    semantic duplicates (same cluster by construction), every
    member except the one farthest from the cluster centroid is
    dropped; singletons and sub-threshold neighbors are kept."""
    import random

    from etl_macropulse_br_spark.operators.clustering import (
        semantic_dedup,
    )

    rng = random.Random(7)
    dim = 8

    def jitter(base, eps, n):
        return [
            [x + rng.uniform(-eps, eps) for x in base] for _ in range(n)
        ]

    base_a = [1.0, 0.2, -0.5, 0.8, 0.1, -0.3, 0.6, -0.9]
    base_b = [-0.7, 0.9, 0.4, -0.2, 0.8, 0.5, -0.6, 0.3]
    rows = []
    vid = 0
    for v in jitter(base_a, 0.001, 3):  # group A: 3 mutual dups
        rows.append((vid, v)); vid += 1
    for v in jitter(base_b, 0.001, 2):  # group B: 2 mutual dups
        rows.append((vid, v)); vid += 1
    for _ in range(20):                 # scattered singletons
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(dim)]))
        vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, k=4, rounds=2, threshold=0.99).collect()
    }
    for group in ([0, 1, 2], [3, 4]):
        rs = [out[i] for i in group]
        assert len({r["cluster_id"] for r in rs}) == 1  # co-clustered
        for r in rs:
            assert r["n_sem_dups"] == len(group) - 1
        survivors = [r for r in rs if not r["dropped"]]
        assert len(survivors) == 1
        expect = max(rs, key=lambda r: (r["centroid_dist"], -r["vec_id"]))
        assert survivors[0]["vec_id"] == expect["vec_id"]
    # scattered points: no dups, never dropped
    for i in range(5, 25):
        assert out[i]["n_sem_dups"] == 0 and not out[i]["dropped"]


def test_ivfadc_residual_matches_semantics(spark):
    """Residual-encoding IVFADC: rank-1 is the query with cosine
    1.0 (shortlist covers the probed candidate set here), every
    score equals brute-force cosine, and the result set comes from
    probed cells only."""
    import random

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.clustering import (
        _assign,
        _points,
        ivf_pq_rerank_topk,
        kmeans_centroids,
    )
    from etl_macropulse_br_spark.operators.similarity import cosine_sim

    rng = random.Random(43)
    dim, n = 8, 60
    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-0.4, 0.4) for _ in range(dim)])
            for i in range(n)
        ],
        "vec_id long, embedding array<float>",
    )
    out = ivf_pq_rerank_topk(
        emb, k=4, rounds=2, n_probe=2, m=4, ks=8, pq_rounds=1,
        shortlist=64, topk=5, sub=2, residual=True,
    ).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 0
    assert abs(out[0]["cosine"] - 1.0) < 1e-12
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    brute = {
        r["vec_id"]: r["c"]
        for r in emb.crossJoin(q)
        .select(
            "vec_id",
            cosine_sim(F.col("embedding"), F.col("qv")).alias("c"),
        )
        .collect()
    }
    for r in out:
        assert r["cosine"] == brute[r["vec_id"]]
    cents = kmeans_centroids(emb, k=4, rounds=2)
    assign = {
        r["vec_id"]: r["cluster_id"]
        for r in _assign(
            _points(emb, "vec_id", "embedding"), cents
        ).collect()
    }
    assert len({assign[r["vec_id"]] for r in out}) <= 2


def test_ivf_pq_recall_on_planted_neighbors(spark):
    """ANN recall characterization (a measured bound): plant 10
    true near neighbors of the query among background noise and
    measure top-10 recall of the full IVF-PQ serving plan against
    brute-force cosine. Planted neighbors are tight around the
    query, so the coarse probe keeps their cell and PQ's shortlist
    must surface them — pin full recall here, and pin that the
    flat and residual variants agree on this corpus."""
    import random

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.clustering import (
        ivf_pq_rerank_topk,
    )
    from etl_macropulse_br_spark.operators.similarity import cosine_sim

    rng = random.Random(53)
    dim = 16
    base = [rng.uniform(0.5, 1.0) for _ in range(dim)]
    rows = [(0, base)]
    for i in range(1, 11):  # tight planted neighbors
        rows.append(
            (i, [x + rng.uniform(-0.02, 0.02) for x in base])
        )
    for i in range(11, 80):  # background noise
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    brute = [
        r["vec_id"]
        for r in emb.crossJoin(
            emb.filter(F.col("vec_id") == 0).select(
                F.col("embedding").alias("qv")
            )
        )
        .select(
            "vec_id", cosine_sim(F.col("embedding"), F.col("qv")).alias("c")
        )
        .orderBy(F.col("c").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    for residual in (False, True):
        got = [
            r["vec_id"]
            for r in ivf_pq_rerank_topk(
                emb, k=4, rounds=2, n_probe=2, m=4, ks=8,
                pq_rounds=1, shortlist=24, topk=10, sub=4,
                residual=residual,
            ).collect()
        ]
        recall = len(set(got) & set(brute)) / 10
        assert recall == 1.0, (residual, got, brute)


def test_semdedup_blocking_characterization(spark):
    """SemDeDup's documented trade-off, measured: duplicate pairs
    landing in the SAME cluster are always found (within-cluster
    recall 1.0 on planted dups), while a pair split across a
    cluster boundary is structurally invisible — that is the
    blocking bound (the paper's k-vs-recall knob), pinned here."""
    import random

    from etl_macropulse_br_spark.operators.clustering import (
        _assign,
        _points,
        kmeans_centroids,
        semantic_dedup,
    )

    rng = random.Random(71)
    dim = 8
    rows = []
    vid = 0
    planted = []
    for g in range(6):  # 6 planted dup pairs spread over space
        base = [rng.uniform(-1, 1) for _ in range(dim)]
        a, b = vid, vid + 1
        rows.append((a, base))
        rows.append(
            (b, [x + rng.uniform(-0.001, 0.001) for x in base])
        )
        planted.append((a, b))
        vid += 2
    for _ in range(30):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(dim)]))
        vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    k = 4
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, k=k, rounds=2, threshold=0.999).collect()
    }
    cents = kmeans_centroids(emb, k=k, rounds=2)
    cell = {
        r["vec_id"]: r["cluster_id"]
        for r in _assign(_points(emb, "vec_id", "embedding"), cents).collect()
    }
    co_located = [p for p in planted if cell[p[0]] == cell[p[1]]]
    assert co_located, "seed must co-locate at least one planted pair"
    for a, b in co_located:  # within-cluster recall 1.0
        assert out[a]["n_sem_dups"] >= 1 and out[b]["n_sem_dups"] >= 1
        assert out[a]["dropped"] != out[b]["dropped"] or (
            out[a]["n_sem_dups"] > 1  # triangle case: one survivor
        )
    for a, b in set(planted) - set(co_located):  # the documented miss
        assert out[a]["n_sem_dups"] == 0 and out[b]["n_sem_dups"] == 0


def _py_ivf_pq(
    f32, k, rounds, n_probe, m, ks, pq_rounds, shortlist, topk, sub,
    query_id=0, residual=False, scale=1_000_000,
):
    """Independent pure-Python reference of the FULL IVF-PQ serving
    pipeline (coarse train/probe, per-subspace PQ train/encode, ADC
    scoring, shortlist, exact sequential-fold cosine re-rank) under
    the same integer-lattice / lowest-id-tie rules."""
    q = {v: [math.floor(x * scale) for x in xs] for v, xs in f32.items()}
    ids = sorted(q)
    seed_ids = _seed_order(ids)

    def dist(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def floordiv(s, n):
        return (s - ((s % n + n) % n)) // n

    # coarse Lloyd (same rules as _py_kmeans, hash-ordered seeding)
    cents = {c: list(q[seed_ids[c]]) for c in range(k)}
    for _ in range(rounds):
        groups = {}
        for v in ids:
            best = min(
                (dist(q[v], cents[c]), c) for c in sorted(cents)
            )
            groups.setdefault(best[1], []).append(q[v])
        cents = {
            c: [floordiv(sum(col), len(m_)) for col in zip(*m_)]
            for c, m_ in groups.items()
        }
    assign = {
        v: min((dist(q[v], cents[c]), c) for c in sorted(cents))[1]
        for v in ids
    }
    qq = q[query_id]
    probe = [
        c
        for _, c in sorted(
            (dist(cents[c], qq), c) for c in sorted(cents)
        )[:n_probe]
    ]
    cand = [v for v in ids if assign[v] in probe]

    enc = (
        {
            v: [a - b for a, b in zip(q[v], cents[assign[v]])]
            for v in ids
        }
        if residual
        else q
    )

    def subv(vec, s):
        return vec[s * sub:(s + 1) * sub]

    # per-subspace PQ Lloyd, init from the ks smallest ids
    cb = {
        s: {c: list(subv(enc[ids[c]], s)) for c in range(ks)}
        for s in range(m)
    }
    for _ in range(pq_rounds):
        for s in range(m):
            groups = {}
            for v in ids:
                best = min(
                    (dist(subv(enc[v], s), cb[s][c]), c)
                    for c in sorted(cb[s])
                )
                groups.setdefault(best[1], []).append(subv(enc[v], s))
            cb[s] = {
                c: [floordiv(sum(col), len(m_)) for col in zip(*m_)]
                for c, m_ in groups.items()
            }
    codes = {
        (v, s): min(
            (dist(subv(enc[v], s), cb[s][c]), c) for c in sorted(cb[s])
        )[1]
        for v in ids
        for s in range(m)
    }

    if residual:
        score = {}
        for v in cand:
            cell = assign[v]
            rq = [a - b for a, b in zip(qq, cents[cell])]
            score[v] = sum(
                dist(subv(rq, s), cb[s][codes[(v, s)]])
                for s in range(m)
            )
    else:
        score = {
            v: sum(
                dist(subv(qq, s), cb[s][codes[(v, s)]])
                for s in range(m)
            )
            for v in cand
        }
    short = [
        v for v, _ in sorted(score.items(), key=lambda t: (t[1], t[0]))
    ][:shortlist]

    def cos(v):
        a, b = f32[v], f32[query_id]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    ranked = sorted(short, key=lambda v: (-cos(v), v))[:topk]
    return [(v, cos(v)) for v in ranked]


def test_ivf_pq_matches_python_reference(spark):
    """Triangulation: the full IVF-PQ serving output (ids AND exact
    float cosines) equals an independent pure-Python implementation
    of the same spec, for both the flat and residual variants — on
    top of the DuckDB hash gate, three independent implementations
    now agree bit-for-bit."""
    import random
    import struct as _struct

    from etl_macropulse_br_spark.operators.clustering import (
        ivf_pq_rerank_topk,
    )

    rng = random.Random(29)
    dim, n = 8, 50
    vecs = {
        i: [rng.uniform(-0.5, 0.5) for _ in range(dim)]
        for i in range(n)
    }
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    f32 = {
        i: [_struct.unpack("f", _struct.pack("f", x))[0] for x in v]
        for i, v in vecs.items()
    }
    params = dict(
        k=4, rounds=2, n_probe=2, m=4, ks=8, pq_rounds=2,
        shortlist=16, topk=8, sub=2,
    )
    for residual in (False, True):
        got = [
            (r["vec_id"], r["cosine"])
            for r in ivf_pq_rerank_topk(
                emb, residual=residual, **params
            ).collect()
        ]
        expect = _py_ivf_pq(f32, residual=residual, **params)
        assert got == expect, (residual, got, expect)


def test_semdedup_matches_python_reference(spark):
    """Triangulation for SemDeDup: cluster assignment, exact lattice
    centroid distances, within-cluster pairing at the threshold
    (sequential-fold cosine), and the keep-farthest pair-loser
    policy all equal an independent pure-Python implementation."""
    import random
    import struct as _struct

    from etl_macropulse_br_spark.operators.clustering import (
        semantic_dedup,
    )

    rng = random.Random(31)
    dim, n, k, rounds, thr = 8, 40, 3, 2, 0.5
    vecs = {
        i: [rng.uniform(-0.6, 0.6) for _ in range(dim)]
        for i in range(n)
    }
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    f32 = {
        i: [_struct.unpack("f", _struct.pack("f", x))[0] for x in v]
        for i, v in vecs.items()
    }
    q = {
        v: [math.floor(x * 1_000_000) for x in xs]
        for v, xs in f32.items()
    }
    ids = sorted(q)
    seed_ids = _seed_order(ids)

    def dist(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    cents = {c: list(q[seed_ids[c]]) for c in range(k)}
    for _ in range(rounds):
        groups = {}
        for v in ids:
            best = min((dist(q[v], cents[c]), c) for c in sorted(cents))
            groups.setdefault(best[1], []).append(q[v])
        cents = {
            c: [
                (sum(col) - ((sum(col) % len(m_) + len(m_)) % len(m_)))
                // len(m_)
                for col in zip(*m_)
            ]
            for c, m_ in groups.items()
        }
    asg = {
        v: min((dist(q[v], cents[c]), c) for c in sorted(cents))
        for v in ids
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(f32[a], f32[b]))
        na = math.sqrt(sum(x * x for x in f32[a]))
        nb = math.sqrt(sum(x * x for x in f32[b]))
        return d / (na * nb)

    expect = {}
    for v in ids:
        dv, cv = asg[v]
        nbrs = [
            w
            for w in ids
            if w != v and asg[w][1] == cv and cos(v, w) >= thr
        ]
        dropped = any(
            asg[w][0] > dv or (asg[w][0] == dv and w < v) for w in nbrs
        )
        expect[v] = (cv, dv, len(nbrs), dropped)

    got = {
        r["vec_id"]: (
            r["cluster_id"],
            r["centroid_dist"],
            r["n_sem_dups"],
            r["dropped"],
        )
        for r in semantic_dedup(
            emb, k=k, rounds=rounds, threshold=thr
        ).collect()
    }
    assert got == expect
    # the seed must actually exercise both branches
    assert any(t[3] for t in expect.values())
    assert any(t[2] == 0 for t in expect.values())


@pytest.mark.slow  # r17: 53 s measured — N-query batch vs per-query loop differential; the serve semantics are pinned by the single-query tests; opt-in tier
def test_batch_ann_matches_single_query_loop(spark):
    """The batch serving ops must return EXACTLY what a loop of
    single-query calls returns, per query — same vectors, same
    cosines, same order — for IVF, flat IVF-PQ, and residual IVFADC
    (the batch generalization changes the orchestration, never the
    answer)."""
    import random

    from etl_macropulse_br_spark.operators.clustering import (
        ivf_kmeans_batch_topk,
        ivf_kmeans_topk,
        ivf_pq_batch_topk,
        ivf_pq_rerank_topk,
    )
    from pyspark.sql import functions as F

    rng = random.Random(43)
    dim, n, n_q = 8, 60, 3
    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-0.4, 0.4) for _ in range(dim)])
            for i in range(n)
        ],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") < n_q)
    kw = dict(k=4, rounds=2, n_probe=2, topk=5)
    pq_kw = dict(m=4, ks=8, pq_rounds=1, shortlist=16, sub=2, **kw)

    cases = [
        (
            ivf_kmeans_batch_topk(emb, queries, **kw),
            lambda q: ivf_kmeans_topk(emb, query_id=q, **kw),
        ),
        (
            ivf_pq_batch_topk(emb, queries, **pq_kw),
            lambda q: ivf_pq_rerank_topk(emb, query_id=q, **pq_kw),
        ),
        (
            ivf_pq_batch_topk(emb, queries, residual=True, **pq_kw),
            lambda q: ivf_pq_rerank_topk(
                emb, query_id=q, residual=True, **pq_kw
            ),
        ),
    ]
    for batch_df, single_fn in cases:
        batch = batch_df.collect()
        for q in range(n_q):
            got = [
                (r["vec_id"], r["cosine"])
                for r in sorted(
                    (r for r in batch if r["query_id"] == q),
                    key=lambda r: r["rank"],
                )
            ]
            want = [
                (r["vec_id"], r["cosine"]) for r in single_fn(q).collect()
            ]
            assert got == want, (q, got, want)


def test_semdedup_auto_k_equals_explicit_sqrt_k(spark):
    """k=None must be exactly k = ceil(sqrt(n)) — one count
    aggregate at plan-build time, nothing else different."""
    import math
    import random

    from etl_macropulse_br_spark.operators.clustering import semantic_dedup

    rng = random.Random(17)
    dim, n = 8, 40
    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-0.6, 0.6) for _ in range(dim)])
            for i in range(n)
        ],
        "vec_id long, embedding array<float>",
    )
    auto = sorted(
        map(tuple, semantic_dedup(emb, k=None, threshold=0.5).collect())
    )
    explicit = sorted(
        map(
            tuple,
            semantic_dedup(
                emb, k=math.ceil(math.sqrt(n)), threshold=0.5
            ).collect(),
        )
    )
    assert auto == explicit and len(auto) == n


def test_null_vectors_dropped_not_phantom_cluster(spark):
    """Passed through, a NULL embedding silently landed in a phantom
    cluster_id=-1 at sentinel distance 2^63-1, corrupting stats and
    keep-policies (r7 finding). The lattice entry now DROPS null
    vectors (the SRP banding's implicit behavior, documented in
    _points — a fail-fast assert was reverted because inferred
    filter constraints copied it above callers' own null-filters),
    so the result equals the clean corpus exactly."""
    import random

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.clustering import kmeans_stats

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(10)
    ] + [(99, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with_null = kmeans_stats(emb, k=2, rounds=1).collect()
    assert {r["cluster_id"] for r in with_null} == {0, 1}  # no -1
    assert sum(r["n_members"] for r in with_null) == 10
    clean = kmeans_stats(
        emb.filter(F.col("embedding").isNotNull()), k=2, rounds=1
    ).collect()
    assert sorted(map(tuple, with_null)) == sorted(map(tuple, clean))


def test_filtered_ann_prefilter_semantics(spark):
    """filter_expr: every result matches the predicate; the index
    stays full-corpus (pre-filter candidates, not post-filter
    results) so a selective predicate still fills top-k from
    matching docs; filter_expr=None is bit-identical to the
    unfiltered op."""
    import random

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.clustering import (
        ivf_pq_batch_topk,
    )

    rng = random.Random(47)
    dim, n = 8, 80
    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-0.4, 0.4) for _ in range(dim)], i % 3)
            for i in range(n)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    qs = emb.filter(F.col("vec_id") < 2)
    kw = dict(k=4, rounds=2, n_probe=2, m=4, ks=8, pq_rounds=1,
              shortlist=24, topk=5, sub=2)
    base = ivf_pq_batch_topk(emb, qs, **kw).collect()
    flt = ivf_pq_batch_topk(
        emb, qs, filter_expr=F.col("label") == 0, **kw
    ).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    assert flt and all(labels[r["vec_id"]] == 0 for r in flt)
    # selective predicate (1/3 of corpus) still fills per-query top-k
    per_q = {}
    for r in flt:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
    none_path = ivf_pq_batch_topk(emb, qs, filter_expr=None, **kw).collect()
    assert sorted(map(tuple, none_path)) == sorted(map(tuple, base))


def test_semdedup_auto_k_counts_non_null_vectors(spark):
    """k=None derives k from the count of vectors the operator
    actually clusters (nulls dropped by _points) — matching the
    oracle's AUTO_K_SQL scalar subquery over the null-filtered pts
    CTE (r8). With 16 real vectors + 9 nulls, k must be
    ceil(sqrt(16)) = 4, not ceil(sqrt(25)) = 5."""
    import random

    from etl_macropulse_br_spark.operators.clustering import semantic_dedup

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(16)
    ] + [(100 + i, None) for i in range(9)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(emb, k=None, rounds=1, threshold=0.99).collect()
    assert len(out) == 16  # null rows never surface
    assert max(r["cluster_id"] for r in out) <= 3  # k = 4, ids 0..3


@pytest.mark.slow  # r17: 32 s measured — save/load differential re-run of invariants the append/compaction tests pin; opt-in tier
def test_ann_index_load_then_serve_equals_train_then_serve(spark, tmp_path):
    """Persisted-index serving (r8, the r7 verdict's top item): save
    the trained IVF-PQ index as parquet, load it, and serve — the
    result must be BIT-IDENTICAL to the train-inline op for flat PQ,
    residual IVFADC, and coarse IVF, because every persisted column
    is an exact integer (lattice centroids, cells, codes) and
    training is deterministic. Also pins that serving from the index
    ignores the call's training args (an index serves only in the
    mode it was built) and that a coarse-only index refuses PQ
    serving."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.ann_index import (
        load_ann_index,
        save_ann_index,
    )
    from etl_macropulse_br_spark.operators.clustering import (
        ivf_kmeans_batch_topk,
        ivf_pq_batch_topk,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], i % 3)
        for i in range(120)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    queries = emb.filter(F.col("vec_id") < 3)

    for residual in (False, True):
        path = str(tmp_path / f"ivfpq_res{residual}")
        save_ann_index(
            emb, path, k=4, rounds=1, m=4, ks=8, pq_rounds=1, sub=4,
            residual=residual,
        )
        ix = load_ann_index(spark, path)
        trained = ivf_pq_batch_topk(
            emb, queries, k=4, rounds=1, m=4, ks=8, pq_rounds=1,
            sub=4, residual=residual, topk=5,
        ).collect()
        served = ivf_pq_batch_topk(
            # training args deliberately WRONG here — frozen params
            # from the index must win
            emb, queries, k=99, m=99, residual=not residual,
            topk=5, index=ix,
        ).collect()
        assert sorted(map(tuple, trained)) == sorted(map(tuple, served))

    # filtered serving from the index
    fx = load_ann_index(spark, str(tmp_path / "ivfpq_resFalse"))
    flt_trained = ivf_pq_batch_topk(
        emb, queries, k=4, rounds=1, m=4, ks=8, pq_rounds=1, sub=4,
        topk=5, filter_expr=F.col("label") == 0,
    ).collect()
    flt_served = ivf_pq_batch_topk(
        emb, queries, topk=5, filter_expr=F.col("label") == 0, index=fx
    ).collect()
    assert sorted(map(tuple, flt_trained)) == sorted(map(tuple, flt_served))

    # coarse-only index: IVF serving matches; PQ serving refuses
    cpath = str(tmp_path / "ivf_only")
    save_ann_index(emb, cpath, k=4, rounds=1, with_pq=False)
    cix = load_ann_index(spark, cpath)
    ivf_trained = ivf_kmeans_batch_topk(
        emb, queries, k=4, rounds=1, topk=5
    ).collect()
    ivf_served = ivf_kmeans_batch_topk(
        emb, queries, k=99, topk=5, index=cix
    ).collect()
    assert sorted(map(tuple, ivf_trained)) == sorted(map(tuple, ivf_served))
    with pytest.raises(ValueError, match="no PQ state"):
        ivf_pq_batch_topk(emb, queries, index=cix)

    with pytest.raises(FileNotFoundError):
        load_ann_index(spark, str(tmp_path / "nope"))


def test_ann_index_append_encodes_like_training(spark, tmp_path):
    """append_ann_index (r8): encoding NEW vectors against the
    frozen index must equal what TRAINING-time encode produced for
    the same vectors — appending a shifted-id copy of the training
    corpus must reproduce every cluster assignment and PQ code
    row-for-row (two different code paths: save_ann_index's staged
    encode vs append's train-free encode), for both flat and
    residual encodings. A coarse-only index appends assignments
    only."""
    import random

    from etl_macropulse_br_spark.operators.ann_index import (
        append_ann_index,
        load_ann_index,
        save_ann_index,
    )

    rng = random.Random(13)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(60)]
    schema = "vec_id long, embedding array<float>"
    a = spark.createDataFrame(list(enumerate(vecs)), schema)
    b = spark.createDataFrame(
        [(1000 + i, v) for i, v in enumerate(vecs)], schema
    )

    for residual in (False, True):
        path = str(tmp_path / f"ix_res{residual}")
        save_ann_index(
            a, path, k=4, rounds=1, m=4, ks=8, pq_rounds=1, sub=2,
            residual=residual,
        )
        base = load_ann_index(spark, path)
        base_assign = {
            r["vec_id"]: r["cluster_id"] for r in base.assign.collect()
        }
        base_codes = {
            (r["vec_id"], r["s"]): r["code"]
            for r in base.codes.collect()
        }

        ix2 = append_ann_index(b, path)
        got_assign = {
            r["vec_id"]: r["cluster_id"] for r in ix2.assign.collect()
        }
        assert len(got_assign) == 120
        for i in range(60):
            assert got_assign[1000 + i] == base_assign[i]
        got_codes = {
            (r["vec_id"], r["s"]): r["code"]
            for r in ix2.codes.collect()
        }
        assert len(got_codes) == 2 * len(base_codes)
        for (vid, s), code in base_codes.items():
            assert got_codes[(1000 + vid, s)] == code

    # coarse-only: assignments append, no PQ state materializes
    cpath = str(tmp_path / "ix_ivf")
    save_ann_index(a, cpath, k=4, rounds=1, with_pq=False)
    cix = append_ann_index(b, cpath)
    assert cix.cb is None and cix.codes is None
    assert cix.assign.count() == 120


def test_ann_index_split_append_equals_bulk_and_serves(spark, tmp_path):
    """Split-append ≡ bulk-append (encoding each row depends only on
    the frozen index, never on batch-mates), and an appended index
    actually SERVES: a query whose exact duplicate was planted in
    the appended batch returns that new vector at full cosine, over
    the unioned corpus, without any retraining."""
    import random
    import shutil

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.ann_index import (
        append_ann_index,
        load_ann_index,
        save_ann_index,
    )
    from etl_macropulse_br_spark.operators.clustering import (
        ivf_pq_batch_topk,
    )

    rng = random.Random(29)
    schema = "vec_id long, embedding array<float>"
    a_rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)
    ]
    a = spark.createDataFrame(a_rows, schema)
    # appended batch: 19 random rows + an exact copy of vector 5
    b_rows = [
        (200 + i, [rng.uniform(-1, 1) for _ in range(8)])
        for i in range(19)
    ] + [(999, a_rows[5][1])]
    b = spark.createDataFrame(b_rows, schema)

    bulk = str(tmp_path / "bulk")
    save_ann_index(
        a, bulk, k=4, rounds=1, m=4, ks=8, pq_rounds=1, sub=2
    )
    split = str(tmp_path / "split")
    shutil.copytree(bulk, split)

    append_ann_index(b, bulk)
    append_ann_index(b.filter(F.col("vec_id") < 210), split)
    append_ann_index(b.filter(F.col("vec_id") >= 210), split)

    # compare the COMMITTED index views (r9: appended rows live in
    # manifest-listed segments, not the base directories)
    bix, six = load_ann_index(spark, bulk), load_ann_index(spark, split)
    assert sorted(map(tuple, bix.assign.collect())) == sorted(
        map(tuple, six.assign.collect())
    )
    assert sorted(map(tuple, bix.codes.collect())) == sorted(
        map(tuple, six.codes.collect())
    )

    corpus = a.unionByName(b)
    queries = a.filter(F.col("vec_id") == 5)
    res = ivf_pq_batch_topk(
        corpus, queries, topk=3, index=load_ann_index(spark, bulk)
    ).collect()
    got = {r["vec_id"]: r["cosine"] for r in res}
    # the planted duplicate is found through the appended encodings
    assert 999 in got and got[999] == max(got.values())


def test_ann_index_append_guards_and_crash_detection(spark, tmp_path):
    """Crash-safety guards (r8): (a) re-appending ids already in the
    index raises instead of silently doubling their ADC distances;
    (b) a crash between the assign and codes appends breaks the
    |codes| == m x |assign| invariant, which the next load (and the
    next append, via its initial load) detects loudly;
    (c) validate=False skips the check for paths that just
    validated."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.ann_index import (
        append_ann_index,
        load_ann_index,
        save_ann_index,
    )

    rng = random.Random(41)
    schema = "vec_id long, embedding array<float>"
    a = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        schema,
    )
    b = spark.createDataFrame(
        [
            (100 + i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(10)
        ],
        schema,
    )
    path = str(tmp_path / "ix")
    save_ann_index(a, path, k=4, rounds=1, m=4, ks=8, pq_rounds=1, sub=2)

    append_ann_index(b, path)
    with pytest.raises(ValueError, match="already exist"):
        append_ann_index(b, path)  # blind retry of a COMPLETED append

    # simulated crash: assign rows land, codes never do
    orphan = spark.createDataFrame(
        [(500, 0), (501, 1)], "vec_id long, cluster_id int"
    )
    orphan.write.mode("append").parquet(f"{path}/assign")
    with pytest.raises(ValueError, match="inconsistent"):
        load_ann_index(spark, path)
    with pytest.raises(ValueError, match="inconsistent"):
        append_ann_index(
            spark.createDataFrame(
                [(600, [0.1] * 8)], schema
            ),
            path,
        )
    ix = load_ann_index(spark, path, validate=False)
    assert ix.assign.count() == 52


def test_ann_index_append_commit_is_atomic(spark, tmp_path, monkeypatch):
    """r9 (VERDICT r8 Next #6): the manifest replace is the single
    commit point. Inject a crash AFTER both segment writes but
    BEFORE the manifest commit — the load must serve the PRE-append
    state (not raise, not a torn view), and the retry must succeed
    (the crashed batch's ids never entered the committed index, so
    the duplicate-id guard passes) and converge to the bulk result."""
    import random

    import pytest

    import etl_macropulse_br_spark.operators.ann_index as AIX

    rng = random.Random(53)
    schema = "vec_id long, embedding array<float>"
    a = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        schema,
    )
    b = spark.createDataFrame(
        [(100 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10)],
        schema,
    )
    path = str(tmp_path / "ix")
    AIX.save_ann_index(a, path, k=4, rounds=1, m=4, ks=8, pq_rounds=1, sub=2)
    before_assign = sorted(
        map(tuple, AIX.load_ann_index(spark, path).assign.collect())
    )
    before_manifest = AIX._read_manifest(path)

    real_commit = AIX._commit_manifest

    def crash_commit(p, manifest):
        raise RuntimeError("injected crash before manifest replace")

    monkeypatch.setattr(AIX, "_commit_manifest", crash_commit)
    with pytest.raises(RuntimeError, match="injected"):
        AIX.append_ann_index(b, path)
    monkeypatch.setattr(AIX, "_commit_manifest", real_commit)

    # pre-append state serves: same manifest, same rows, no error
    ix = AIX.load_ann_index(spark, path)
    assert AIX._read_manifest(path) == before_manifest
    assert sorted(map(tuple, ix.assign.collect())) == before_assign

    # the orphan segment exists on disk but is unreferenced
    seg_root = tmp_path / "ix" / "segments"
    orphans = list(seg_root.iterdir()) if seg_root.is_dir() else []
    assert len(orphans) == 1

    # retry commits cleanly and equals a bulk append on a fresh copy
    ix2 = AIX.append_ann_index(b, path)
    assert ix2.assign.count() == 50
    assert ix2.codes.select("vec_id").distinct().count() == 50
    # compaction prune reclaims the orphan
    AIX.compact_ann_index(spark, path, target_files=2)
    live = {p.name for p in seg_root.iterdir()}
    assert len(live) == 1 and next(iter(live)).startswith("seg-compact-")


def test_ann_index_compaction_bit_identical_and_bounds_files(
    spark, tmp_path
):
    """r9 (VERDICT r8 Next #3a): after N appends the index holds N+1
    segment directories; compact_ann_index rewrites them into ONE
    segment with a bounded file count, serving stays bit-identical,
    the drift history survives, and further appends keep working."""
    import glob
    import random

    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.ann_index import (
        append_ann_index,
        compact_ann_index,
        load_ann_index,
        save_ann_index,
    )
    from etl_macropulse_br_spark.operators.clustering import (
        ivf_pq_batch_topk,
    )

    rng = random.Random(59)
    schema = "vec_id long, embedding array<float>"
    a = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        schema,
    )
    path = str(tmp_path / "ix")
    save_ann_index(a, path, k=4, rounds=1, m=4, ks=8, pq_rounds=1, sub=2)
    for j in range(3):
        batch = spark.createDataFrame(
            [
                (1000 + 100 * j + i, [rng.uniform(-1, 1) for _ in range(8)])
                for i in range(10)
            ],
            schema,
        )
        append_ann_index(batch, path)

    pre = load_ann_index(spark, path)
    assert len(pre.manifest["segments"]) == 4
    pre_assign = sorted(map(tuple, pre.assign.collect()))
    pre_codes = sorted(map(tuple, pre.codes.collect()))
    pre_hist = pre.adc_history
    n_files_pre = len(
        glob.glob(f"{path}/**/*.parquet", recursive=True)
    )
    # serve from the PRE index before compaction prunes its files
    # (prune's documented contract: in-flight readers finish first)
    corpus = a
    queries = a.filter(F.col("vec_id") < 2)
    lhs = sorted(
        map(
            tuple,
            ivf_pq_batch_topk(corpus, queries, topk=5, index=pre).collect(),
        )
    )

    post = compact_ann_index(spark, path, target_files=2)
    assert len(post.manifest["segments"]) == 1
    assert sorted(map(tuple, post.assign.collect())) == pre_assign
    assert sorted(map(tuple, post.codes.collect())) == pre_codes
    assert post.adc_history == pre_hist
    n_files_post = len(
        glob.glob(f"{path}/**/*.parquet", recursive=True)
    )
    assert n_files_post < n_files_pre

    # serving pinned identical pre/post-compaction
    rhs = sorted(
        map(
            tuple,
            ivf_pq_batch_topk(corpus, queries, topk=5, index=post).collect(),
        )
    )
    assert lhs == rhs

    # lifecycle continues: append after compaction
    more = spark.createDataFrame(
        [(5000 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(5)],
        schema,
    )
    ix = append_ann_index(more, path)
    assert ix.assign.count() == 95


def test_ann_index_retrain_crash_never_serves_duplicates(
    spark, tmp_path, monkeypatch
):
    """r9 review fix: a retrain (save_ann_index over an index that
    has appended segments) invalidates the old manifest BEFORE
    touching the base tables. Pre-fix, a crash between the base
    overwrite and the new manifest commit left the OLD manifest
    listing segments whose vec_ids are also in the new base — a
    consistent-looking torn view that double-counted those vectors'
    ADC distances. Post-fix, a crash at the commit point leaves a
    legacy-shaped index over the fully-written new base: loading
    must serve each vec_id exactly ONCE (or fail loudly — never
    silent duplicates)."""
    import random

    import pytest

    import etl_macropulse_br_spark.operators.ann_index as AIX

    rng = random.Random(71)
    schema = "vec_id long, embedding array<float>"
    a = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        schema,
    )
    b = spark.createDataFrame(
        [(100 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10)],
        schema,
    )
    path = str(tmp_path / "ix")
    AIX.save_ann_index(a, path, k=4, rounds=1, m=4, ks=8, pq_rounds=1, sub=2)
    AIX.append_ann_index(b, path)  # daily-loop state: base + segment

    real_commit = AIX._commit_manifest

    def crash_commit(p, manifest):
        raise RuntimeError("injected crash at retrain commit")

    monkeypatch.setattr(AIX, "_commit_manifest", crash_commit)
    with pytest.raises(RuntimeError, match="injected"):
        AIX.save_ann_index(
            a.unionByName(b), path, k=4, rounds=1, m=4, ks=8,
            pq_rounds=1, sub=2,
        )
    monkeypatch.setattr(AIX, "_commit_manifest", real_commit)

    ix = AIX.load_ann_index(spark, path)
    got = [r["vec_id"] for r in ix.assign.collect()]
    assert sorted(got) == sorted(set(got)) == list(range(40)) + list(
        range(100, 110)
    )
    assert ix.codes.groupBy("vec_id", "s").count().filter(
        "count > 1"
    ).count() == 0


def test_ann_index_legacy_layout_loads_and_appends(spark, tmp_path):
    """Pre-r9 indexes carry no MANIFEST.json — loading must
    synthesize the implicit base-segment listing, and an append must
    upgrade the index in place (write its segment + commit a
    manifest including the legacy base), with the result equal to an
    append on the manifest-ful copy."""
    import os
    import random
    import shutil

    from etl_macropulse_br_spark.operators.ann_index import (
        append_ann_index,
        load_ann_index,
        save_ann_index,
    )

    rng = random.Random(67)
    schema = "vec_id long, embedding array<float>"
    a = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        schema,
    )
    b = spark.createDataFrame(
        [(100 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10)],
        schema,
    )
    modern = str(tmp_path / "modern")
    save_ann_index(a, modern, k=4, rounds=1, m=4, ks=8, pq_rounds=1, sub=2)
    legacy = str(tmp_path / "legacy")
    shutil.copytree(modern, legacy)
    os.remove(os.path.join(legacy, "MANIFEST.json"))

    # manifest-less load serves identically
    lx = load_ann_index(spark, legacy)
    mx = load_ann_index(spark, modern)
    assert sorted(map(tuple, lx.assign.collect())) == sorted(
        map(tuple, mx.assign.collect())
    )

    # append upgrades in place; result equals the modern append
    append_ann_index(b, legacy)
    append_ann_index(b, modern)
    assert os.path.exists(os.path.join(legacy, "MANIFEST.json"))
    lx2 = load_ann_index(spark, legacy)
    mx2 = load_ann_index(spark, modern)
    assert sorted(map(tuple, lx2.codes.collect())) == sorted(
        map(tuple, mx2.codes.collect())
    )
    assert lx2.assign.count() == 50


def test_ann_index_adc_drift_metric_rises_under_shift(spark, tmp_path):
    """r9 (VERDICT r8 Next #3b): the manifest's adc_history makes
    codebook staleness measurable — an appended batch drawn from the
    TRAINING distribution lands near the training residual, while a
    planted distribution shift (scaled domain the frozen codebooks
    never saw) lands far above it."""
    import random

    from etl_macropulse_br_spark.operators.ann_index import (
        append_ann_index,
        save_ann_index,
    )

    rng = random.Random(61)
    schema = "vec_id long, embedding array<float>"
    train = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        schema,
    )
    in_dist = spark.createDataFrame(
        [
            (1000 + i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(50)
        ],
        schema,
    )
    shifted = spark.createDataFrame(
        [
            (2000 + i, [8 + 4 * rng.uniform(-1, 1) for _ in range(8)])
            for i in range(50)
        ],
        schema,
    )
    path = str(tmp_path / "ix")
    save_ann_index(train, path, k=4, rounds=2, m=4, ks=8, pq_rounds=2, sub=2)
    append_ann_index(in_dist, path)
    ix = append_ann_index(shifted, path)

    hist = ix.adc_history
    assert [h["segment"] == "base" for h in hist][0]
    assert len(hist) == 3
    base_r, in_r, shift_r = (h["adc_residual_mean"] for h in hist)
    assert base_r is not None and base_r > 0
    # in-distribution append: same ballpark as training
    assert in_r < 3 * base_r
    # planted shift: far above — the "retrain now" signal
    assert shift_r > 5 * base_r, (base_r, in_r, shift_r)


def test_ann_index_single_writer_lease(spark, tmp_path):
    """r10 (VERDICT r9 #1): the single-writer contract is ENFORCED.
    (a) an in-flight append (lease held, segment written, manifest
    not yet committed) makes a concurrent compaction fail LOUDLY —
    its uncommitted segment is never silently pruned; (b) a second
    writer of any kind is refused while the lease is held; (c) a
    crashed writer's stale lock breaks after the stale window."""
    import os
    import time

    import pytest
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.operators.ann_index import (
        append_ann_index,
        compact_ann_index,
        load_ann_index,
        save_ann_index,
    )
    from etl_macropulse_br_spark.operators.statelock import (
        WriterLockHeld,
        writer_lock,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(64)
    path = str(tmp_path / "lease_idx")
    save_ann_index(emb, path, k=2, rounds=1, m=4, ks=4, pq_rounds=1,
                   sub=16)

    inflight = os.path.join(path, "segments", "seg-inflight", "assign")
    with writer_lock(path, owner="in-flight-append"):
        # the in-flight appender has written its segment but not yet
        # committed the manifest
        os.makedirs(inflight)
        with open(os.path.join(inflight, "part-0.parquet"), "wb") as f:
            f.write(b"uncommitted")
        # (a) concurrent compaction: refused loudly, segment intact
        with pytest.raises(WriterLockHeld, match="single-writer"):
            compact_ann_index(spark, path)
        assert os.path.exists(inflight)
        # (b) concurrent append/save: refused loudly
        batch = emb.select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        with pytest.raises(WriterLockHeld):
            append_ann_index(batch, path)
        with pytest.raises(WriterLockHeld):
            save_ann_index(emb, path, k=2, rounds=1, with_pq=False)

    # lease released: the orphan from the "crashed" append is pruned
    # by a legitimate compaction and the index still serves
    compact_ann_index(spark, path)
    assert not os.path.exists(inflight)
    assert load_ann_index(spark, path).assign.count() == 64

    # (c) stale-lock recovery: a crashed writer's lock older than the
    # stale window is broken; a fresh one is honored
    lock = os.path.join(path, ".writer.lock")
    with open(lock, "w") as f:
        f.write("crashed-writer pid=0 token=x t=0")
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with writer_lock(path, owner="recovering", stale_after_s=3600):
        pass  # stolen, acquired, released
    assert not os.path.exists(lock)


def test_writer_lock_release_is_token_checked(tmp_path):
    """r10 self-review: a writer whose lease was stolen (it exceeded
    the stale window) must NOT delete the new holder's lock on its
    late release — pre-fix the blind unlink let a third writer in."""
    import os

    from etl_macropulse_br_spark.operators.statelock import writer_lock

    d = str(tmp_path / "lease_dir")
    lock = os.path.join(d, ".writer.lock")
    with writer_lock(d, owner="slow-writer"):
        # simulate the steal: a waiter broke our stale lock and took
        # its own lease while we were still inside the block
        os.unlink(lock)
        with open(lock, "w") as f:
            f.write("fast-writer pid=1 token=other t=1")
    # our late release must leave the new holder's lock intact —
    # and a fresh writer is still refused by it (it is live, not
    # stale)
    assert os.path.exists(lock)
    with open(lock) as f:
        assert "fast-writer" in f.read()
    import pytest

    from etl_macropulse_br_spark.operators.statelock import (
        WriterLockHeld,
    )

    with pytest.raises(WriterLockHeld):
        with writer_lock(d, owner="third"):
            pass
    # once the live holder releases (simulated), normal take/release
    # removes our own lock as before
    os.unlink(lock)
    with writer_lock(d, owner="normal"):
        pass
    assert not os.path.exists(lock)


def test_writer_lock_heartbeat_protects_live_slow_writer(tmp_path):
    """r11 (ADVICE r10, medium): a LIVE writer whose mutation
    outlives stale_after_s must not lose its lease — the holder
    heartbeats the lock's mtime, so staleness measures silence since
    the last heartbeat (a dead process), not mutation duration.
    Pre-fix, the waiter below would steal after stale_after_s and
    re-admit the concurrent-writer race the lock exists to prevent."""
    import os
    import time

    import pytest

    from etl_macropulse_br_spark.operators.statelock import (
        WriterLockHeld,
        writer_lock,
    )

    d = str(tmp_path / "hb_dir")
    with writer_lock(d, owner="slow-but-alive", stale_after_s=1.0):
        time.sleep(2.6)  # mutation runs well past the stale window
        # a waiter judging with the same stale window must STILL be
        # refused: our heartbeat (every 0.25s) keeps the lease fresh
        with pytest.raises(WriterLockHeld, match="single-writer"):
            with writer_lock(d, owner="waiter", stale_after_s=1.0):
                pass
    assert not os.path.exists(os.path.join(d, ".writer.lock"))
    # a DEAD writer (no heartbeat — backdated mtime, the crash shape)
    # is still stolen exactly as before
    lock = os.path.join(d, ".writer.lock")
    with open(lock, "w") as f:
        f.write("crashed pid=0 token=x t=0")
    old = time.time() - 10
    os.utime(lock, (old, old))
    with writer_lock(d, owner="recovering", stale_after_s=1.0):
        pass
    assert not os.path.exists(lock)


def test_writer_lock_provider_seam(tmp_path):
    """r11 (VERDICT r10 Next round #8): the lease logic talks to the
    filesystem ONLY through the provider's five primitives, so an
    object-store conditional-put backend is a constructor argument,
    not a rewrite. Pinned by routing a counting provider through
    acquire, heartbeat-config, steal, and token-checked release."""
    import os
    import time

    from etl_macropulse_br_spark.operators.statelock import (
        PosixLockProvider,
        writer_lock,
    )

    calls = []

    class Recording(PosixLockProvider):
        def try_create(self, lock, body):
            calls.append("try_create")
            return super().try_create(lock, body)

        def read_holder(self, lock):
            calls.append("read_holder")
            return super().read_holder(lock)

        def steal(self, lock, token):
            calls.append("steal")
            return super().steal(lock, token)

        def release_if_token(self, lock, token):
            calls.append("release_if_token")
            return super().release_if_token(lock, token)

    d = str(tmp_path / "prov_dir")
    prov = Recording()
    with writer_lock(d, owner="a", provider=prov):
        pass
    assert calls == ["try_create", "release_if_token"]

    # stale path exercises read_holder + steal through the provider
    calls.clear()
    lock = os.path.join(d, ".writer.lock")
    with open(lock, "w") as f:
        f.write("crashed pid=0 token=x t=0")
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with writer_lock(d, owner="b", stale_after_s=3600, provider=prov):
        pass
    assert calls == [
        "try_create", "read_holder", "steal", "try_create",
        "release_if_token",
    ]
    assert not os.path.exists(lock)


def test_writer_lock_works_with_non_filesystem_provider(tmp_path):
    """r11 seam-completeness proof: the five provider primitives are
    SUFFICIENT — the full protocol (acquire, contention refusal,
    stale steal, heartbeat refresh, token-checked release) runs
    against a backend that stores leases in a plain dict, touching
    no lock file at all. This is the exact surface an object-store
    conditional-put backend implements (create = If-None-Match:*,
    steal/release = generation-conditioned delete)."""
    import time

    import pytest

    from etl_macropulse_br_spark.operators.statelock import (
        WriterLockHeld,
        writer_lock,
    )

    class MemoryLockProvider:
        def __init__(self):
            self.locks: dict[str, list] = {}  # key -> [body, beat_t]

        def try_create(self, lock, body):
            if lock in self.locks:
                return False
            self.locks[lock] = [body, time.time()]
            return True

        def read_holder(self, lock):
            e = self.locks.get(lock)
            if e is None:
                return None
            return time.time() - e[1], e[0]

        def steal(self, lock, token):
            # a real store does a generation-conditioned delete so
            # exactly one contender wins; pop models the winner
            self.locks.pop(lock, None)

        def heartbeat(self, lock):
            e = self.locks.get(lock)
            if e:
                e[1] = time.time()

        def release_if_token(self, lock, token):
            e = self.locks.get(lock)
            if e and f"token={token}" in e[0]:
                self.locks.pop(lock)

    d = str(tmp_path / "mem_lease")
    mem = MemoryLockProvider()
    # plain acquire/release round-trip
    with writer_lock(d, owner="a", provider=mem):
        assert len(mem.locks) == 1
        # contention: refused loudly, lease untouched
        with pytest.raises(WriterLockHeld, match="single-writer"):
            with writer_lock(d, owner="b", provider=mem):
                pass
    assert mem.locks == {}
    # stale steal: a dead holder (backdated beat, no heartbeat) is
    # broken and the waiter acquires
    mem.locks[f"{d}/.writer.lock"] = ["crashed token=x", time.time() - 99]
    with writer_lock(d, owner="c", stale_after_s=1.0, provider=mem):
        (body, _), = [tuple(v) for v in mem.locks.values()]
        assert "c " in body  # the waiter's lease replaced the stale one
    assert mem.locks == {}
    # token-checked release: a foreign lease survives our late release
    with writer_lock(d, owner="slow", provider=mem):
        mem.locks.clear()
        mem.locks[f"{d}/.writer.lock"] = ["fast token=other", time.time()]
    assert list(mem.locks.values())[0][0] == "fast token=other"


def test_retrain_crash_before_assign_is_loud(spark, tmp_path, monkeypatch):
    """r10 self-review: a retrain crashing AFTER the centroids
    overwrite but BEFORE the assign overwrite used to leave NEW
    centroids over OLD assign/codes — counts consistent (old x old),
    so the PQ invariant passed and serving silently probed new cells
    against stale assignments. The meta sidecar is now invalidated
    up front, so the torn state loads loudly; a retry retrains
    cleanly."""
    import pytest
    from pyspark.sql import functions as F

    import etl_macropulse_br_spark.operators.clustering as CL
    from etl_macropulse_br_spark.operators.ann_index import (
        load_ann_index,
        save_ann_index,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(64)
    )
    path = str(tmp_path / "torn_retrain_idx")
    save_ann_index(emb, path, k=2, rounds=1, m=4, ks=4, pq_rounds=1,
                   sub=16)

    real_assign = CL._assign

    def crash_assign(pts, cents):
        raise RuntimeError("injected crash before assign overwrite")

    monkeypatch.setattr(CL, "_assign", crash_assign)
    grown = emb.unionByName(
        emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                   "embedding")
    )
    with pytest.raises(RuntimeError, match="injected"):
        save_ann_index(grown, path, k=2, rounds=1, m=4, ks=4,
                       pq_rounds=1, sub=16)
    # the torn state (new centroids, old assign/codes) must NOT load
    with pytest.raises(FileNotFoundError, match="not an"):
        load_ann_index(spark, path)
    # retry retrains cleanly over the torn remains
    monkeypatch.setattr(CL, "_assign", real_assign)
    ix = save_ann_index(grown, path, k=2, rounds=1, m=4, ks=4,
                        pq_rounds=1, sub=16)
    assert ix.assign.count() == 128
