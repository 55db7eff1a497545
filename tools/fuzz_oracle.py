"""Randomized cross-engine fuzz differential: generate a synthetic
corpus snapshot (documents with adversarial edge-case text,
embeddings with planted duplicates, a deterministic sample of the
real events table), then run every registry query that depends only
on those tables through BOTH engines and compare with the exact
typed gate from check_oracle.

The driver's gate proves correctness ON ITS CORPUS; this tool walks
the registry over DIFFERENT data — empty strings, unicode,
whitespace runs, exact/case duplicates, degenerate one-token docs,
identical embedding vectors, resampled event distributions, and
(r10) a referentially-consistent random SUB-CORPUS of the
relational tables (sampled orders keys, lineitem filtered to them,
dims verbatim) so the TPC-H-shaped queries fuzz too instead of
skipping — the FULL registry runs (0 skipped) with
per-seed fact cardinality/selectivity. Data-dependent divergence
(normalization mismatches, tie-break drift, estimator branch
flips, group-emptiness edges) fails loudly instead of hiding
behind one fixed dataset. Everything is seed-deterministic: a
failure reproduces with the same seed.

Usage:
    python tools/fuzz_oracle.py [seed] [n_docs] [n_vecs]

Prints per-query OK/SKIP/FAIL + one JSON summary line; exit 1 on
any FAIL.
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import _arrow_rows, normalize  # noqa: E402

REAL_SF = "/root/testdata/sf0.001"

_VOCAB = (
    "spark table merge data rows corpus model train eval shard "
    "quick brown fox lazy dog alpha beta gamma delta epsilon"
).split()

_EDGE_TEXTS = [
    "",  # empty doc
    "tok",  # single token
    "a   b\t\tc     d",  # whitespace runs
    "café coração 北京 餃子 ñandú über",  # unicode
    "!!! ??? ... ---",  # punctuation soup
    "dup dup dup dup dup dup dup dup",  # repeated token run
    "The Quick Brown Fox",  # case variant of a seeded phrase
    "the quick brown fox",  # its lowercase twin (exact dup source)
    "0 1 2 3 4 5 6 7 8 9 10 11 12",  # digits
]

_LANGS = ["en", "de", "es", "fr", "zh"]
_SOURCES = ["web", "wiki", "code"]


def gen_documents(seed: int, n: int):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = i % (len(_EDGE_TEXTS) + 3)
        if kind < len(_EDGE_TEXTS):
            text = _EDGE_TEXTS[kind]
        elif kind == len(_EDGE_TEXTS):
            # exact duplicate of an earlier random doc (if any)
            text = rows[rng.randrange(len(rows))][1] if rows else "seed"
        else:
            text = " ".join(
                rng.choice(_VOCAB) for _ in range(rng.randint(3, 120))
            )
        rows.append(
            (i, text, _LANGS[i % len(_LANGS)], _SOURCES[i % len(_SOURCES)],
             len(text))
        )
    return rows


def gen_embeddings(seed: int, n: int, dim: int = 64):
    rng = random.Random(seed + 1)
    rows = []
    for i in range(n):
        if i == 9 and n > 9:
            # planted NULL vector (r8): every embedding operator must
            # agree with its oracle on how null vectors are dropped
            # (clustering._points vs the pts CTE's IS NOT NULL) — the
            # r7 gate could never catch a divergence here
            rows.append((i, None, i % 3))
            continue
        if i == 5 and n > 5:
            vec = list(rows[4][1])  # exact duplicate vector
        elif i == 7 and n > 7:
            vec = [x + rng.uniform(-1e-4, 1e-4) for x in rows[6][1]]
        else:
            vec = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
        rows.append((i, [float(x) for x in vec], i % 3))
    return rows


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = gen_documents(seed, n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs], pa.string()),
                "lang": pa.array([r[2] for r in docs], pa.string()),
                "source": pa.array([r[3] for r in docs], pa.string()),
                "n_chars": pa.array([r[4] for r in docs], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    embs = gen_embeddings(seed, n_vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in embs], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in embs], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in embs], pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    # events: deterministic row sample of the REAL table (same schema,
    # different cardinality/distribution — estimator branches flip)
    real = pq.read_table(os.path.join(REAL_SF, "events.parquet"))
    rng = random.Random(seed + 2)
    k = max(50, real.num_rows // 3)
    idx = sorted(rng.sample(range(real.num_rows), min(k, real.num_rows)))
    pq.write_table(real.take(idx), os.path.join(out_dir, "events.parquet"))

    # relational sub-corpus (r10): the TPC-H-shaped registry queries
    # previously SKIPPED under fuzz (no lineitem/orders/... in the
    # corpus). Provide a referentially-CONSISTENT random subset: a
    # seed-deterministic sample of orders keys, lineitem filtered to
    # those keys, dimension tables verbatim — every join keeps its
    # integrity while fact cardinality/selectivity/distribution vary
    # per seed (group-emptiness, broadcast-threshold and
    # tie-break branches flip). Both engines read the same files, so
    # the typed gate stays exact.
    import pyarrow.compute as pc

    for t in ("region", "nation", "customer", "supplier", "part"):
        pq.write_table(
            pq.read_table(os.path.join(REAL_SF, f"{t}.parquet")),
            os.path.join(out_dir, f"{t}.parquet"),
        )
    rng3 = random.Random(seed + 3)
    orders = pq.read_table(os.path.join(REAL_SF, "orders.parquet"))
    keys = orders.column("o_orderkey").to_pylist()
    frac = 0.3 + 0.5 * rng3.random()
    keep = rng3.sample(keys, max(20, int(frac * len(keys))))
    keep_arr = pa.array(sorted(keep), pa.int64())
    pq.write_table(
        orders.filter(pc.is_in(orders.column("o_orderkey"), keep_arr)),
        os.path.join(out_dir, "orders.parquet"),
    )
    li = pq.read_table(os.path.join(REAL_SF, "lineitem.parquet"))
    pq.write_table(
        li.filter(pc.is_in(li.column("l_orderkey"), keep_arr)),
        os.path.join(out_dir, "lineitem.parquet"),
    )


FUZZ_TABLES = (
    "documents",
    "embeddings",
    "events",
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)


def run(seed: int, n_docs: int, n_vecs: int, only: set[str] | None = None):
    import duckdb

    from etl_macropulse_br_spark.plans.queries import (
        AUX_ORACLES,
        AUX_QUERIES,
        ORACLES,
        QUERIES,
    )
    from etl_macropulse_br_spark.session import get_spark

    out_dir = tempfile.mkdtemp(prefix=f"fuzz_oracle_{seed}_")
    write_tables(out_dir, seed, n_docs, n_vecs)

    spark = get_spark(app_name=f"fuzz_oracle_{seed}")
    con = duckdb.connect()
    for t in FUZZ_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{out_dir}/{t}.parquet'"
        )

    all_q = {**QUERIES, **AUX_QUERIES}
    all_o = {**ORACLES, **AUX_ORACLES}
    passed, failed, skipped = [], [], []
    for name, fn in sorted(all_q.items()):
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, out_dir)
            s_cols, s_rows = _arrow_rows(sdf.toArrow())
        except Exception as e:
            msg = str(e)
            if (
                "PATH_NOT_FOUND" in msg
                or "Path does not exist" in msg
                or "does not exist" in msg
            ):
                skipped.append(name)
                print(f"{name:30s} SKIP (needs other tables)")
                continue
            failed.append(name)
            print(f"{name:30s} FAIL spark-error {msg[:120]}")
            continue
        if name not in all_o:
            print(f"{name:30s} rows-only: {len(s_rows)}")
            passed.append(name)
            continue
        try:
            d_cols, d_rows = _arrow_rows(
                con.execute(all_o[name]).fetch_arrow_table()
            )
        except Exception as e:
            msg = str(e)
            if "does not exist" in msg:
                skipped.append(name)
                print(f"{name:30s} SKIP (oracle needs other tables)")
                continue
            failed.append(name)
            print(f"{name:30s} FAIL duckdb-error {msg[:120]}")
            continue
        status = []
        if sorted(s_cols) != sorted(d_cols):
            status.append("SCHEMA")
        elif len(s_rows) != len(d_rows):
            status.append(f"COUNT spark={len(s_rows)} duck={len(d_rows)}")
        else:
            ns, nd = normalize(s_rows, s_cols), normalize(d_rows, d_cols)
            if ns != nd:
                diff = [(a, b) for a, b in zip(ns, nd) if a != b][:2]
                status.append(f"VALUES {diff}")
        if status:
            failed.append(name)
            print(f"{name:30s} FAIL {' | '.join(status)}")
        else:
            passed.append(name)
            print(f"{name:30s} OK    ({len(s_rows)} rows)")
    return passed, failed, skipped, out_dir


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 120
    n_vecs = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    passed, failed, skipped, out_dir = run(seed, n_docs, n_vecs)
    print(
        json.dumps(
            {
                "seed": seed,
                "n_docs": n_docs,
                "n_vecs": n_vecs,
                "passed": len(passed),
                "failed": failed,
                "skipped": len(skipped),
                "dir": out_dir,
            }
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
