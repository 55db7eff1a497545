"""Seeded RANDOM-crash-point fuzz for the two persisted-index ingest
loops (r11 — VERDICT r10 Next round #6).

The r10 crash tests cover hand-picked windows (before the manifest
commit, after meta). This tool makes the coverage exhaustive instead
of enumerated: each round replays a multi-increment ingest chain —
the MinHash signature-index loop (operators/signature_index.run),
the ANN-index append loop (streaming/ann_ingest.append_new_embeddings),
and the streaming docs wrapper (streaming/ingest.ingest_micro_batch,
which adds the corpus write + the O(1) completed-batch skip)
— and KILLS a randomly chosen increment after a RANDOM write in its
commit sequence (every parquet write and every sidecar/manifest
commit is a candidate crash point), then reruns it exactly as the
cron/stream redelivery would. The pin: final state ≡ a clean
uncrashed chain over the same batches —

- docs loop: per-increment matches + survivors row sets equal; final
  meta (batches, n_docs) equal; post-compaction signature rows equal
  (a crashed-then-rerun increment leaves dead duplicate signature
  rows by documented contract; compaction drops them — both sides
  are compacted before comparing). A crash AFTER the meta write is
  the completed-increment case: the rerun must be REFUSED loudly
  (the CLI contract) and the chain proceeds — also asserted.
- ANN loop: final assign/codes row sets equal the clean bulk append.
  A crash AFTER the manifest commit is the redelivery-after-commit
  case: the rerun (same batch id) must return "skipped" via the O(1)
  manifest ledger — also asserted.

Crash injection is driver-side and write-granular: the active
DataFrameWriter.parquet, the meta ``json.dump``, and the ANN
``_commit_manifest`` are wrapped to count completed commit events
and raise AFTER the chosen one — so every "crashed between write k
and write k+1" window is reachable, including the windows the
enumerated tests pinned. Everything derives from the seed: a failure
reproduces with ``python tools/fuzz_ingest.py <seed>`` (the same
seed-repro contract as fuzz_oracle).

Usage:
    python tools/fuzz_ingest.py [seed] [n_docs] [rounds]

Prints per-round OK/FAIL + one JSON summary line; exit 1 on FAIL.
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _InjectedCrash(RuntimeError):
    pass


class _CrashPlan:
    """Raise _InjectedCrash immediately AFTER the crash_at-th commit
    event completes (1-based). crash_at beyond the sequence = no
    crash (the clean window)."""

    def __init__(self, crash_at: int):
        self.crash_at = crash_at
        self.count = 0

    def tick(self):
        self.count += 1
        if self.count == self.crash_at:
            raise _InjectedCrash(
                f"fuzz-injected crash after write #{self.count}"
            )


@contextmanager
def _crash_after(plan: _CrashPlan):
    """Wrap every driver-side commit primitive the ingest loops use:
    parquet writes, json.dump (meta sidecars), and the ANN manifest
    replace."""
    from pyspark.sql.readwriter import DataFrameWriter

    from etl_macropulse_br_spark.operators import ann_index as AIX

    orig_parquet = DataFrameWriter.parquet
    orig_dump = json.dump
    orig_commit = AIX._commit_manifest

    def parquet(self, *a, **kw):
        r = orig_parquet(self, *a, **kw)
        plan.tick()
        return r

    def dump(*a, **kw):
        r = orig_dump(*a, **kw)
        plan.tick()
        return r

    def commit(*a, **kw):
        r = orig_commit(*a, **kw)
        plan.tick()
        return r

    DataFrameWriter.parquet = parquet
    json.dump = dump
    AIX._commit_manifest = commit
    try:
        yield
    finally:
        DataFrameWriter.parquet = orig_parquet
        json.dump = orig_dump
        AIX._commit_manifest = orig_commit


def _read_rows(spark, path, cols):
    import glob as _glob

    if not _glob.glob(os.path.join(path, "*.parquet")):
        return frozenset()
    return frozenset(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(path).select(*cols).collect()
    )


def fuzz_docs_chain(spark, rng: random.Random, n_docs: int, tag: str):
    """3-increment signature-index chain with one random-point crash
    per round; pin fuzzed final state ≡ clean chain."""
    from tools.fuzz_oracle import gen_documents

    from etl_macropulse_br_spark.operators.signature_index import (
        compact_signature_index,
        run,
    )

    docs = [
        (i, t) for (i, t, *_r) in gen_documents(rng.randrange(1 << 30), n_docs)
    ]
    cuts = sorted(rng.sample(range(1, len(docs)), 2))
    batches = [docs[: cuts[0]], docs[cuts[0]: cuts[1]], docs[cuts[1]:]]

    root = tempfile.mkdtemp(prefix=f"fuzz_ingest_docs_{tag}_")
    bpaths = []
    for i, rows in enumerate(batches):
        p = os.path.join(root, f"batch{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(p)
        bpaths.append(p)

    def chain(state, out_root, crash_inc=None, crash_at=None):
        events = []
        for i, bp in enumerate(bpaths):
            out = os.path.join(out_root, f"inc{i}")
            if i == crash_inc:
                plan = _CrashPlan(crash_at)
                try:
                    with _crash_after(plan):
                        run(spark, bp, state, out)
                    events.append((i, "no-crash"))
                except _InjectedCrash:
                    # the redelivery: rerun exactly as cron would
                    try:
                        run(spark, bp, state, out)
                        events.append((i, f"crash@{crash_at}+rerun"))
                    except ValueError as e:
                        # crash landed AFTER the meta write — the
                        # completed-increment guard must be LOUD and
                        # the state must already be complete
                        assert "already recorded" in str(e), e
                        events.append((i, f"crash@{crash_at}+refused"))
            else:
                run(spark, bp, state, out)
        return events

    clean_state = os.path.join(root, "clean_state")
    clean_out = os.path.join(root, "clean_out")
    chain(clean_state, clean_out)

    fuzz_state = os.path.join(root, "fuzz_state")
    fuzz_out = os.path.join(root, "fuzz_out")
    crash_inc = rng.randrange(3)
    # per increment: matches, survivors, sig append (parquet) + meta
    # (json.dump) = 4 commit events; 4 = after-meta (refused rerun)
    crash_at = rng.randint(1, 4)
    events = chain(fuzz_state, fuzz_out, crash_inc, crash_at)

    for i in range(3):
        for sub, cols in (
            ("matches", ["new_id", "match_id", "jaccard"]),
            ("survivors", ["doc_id", "text"]),
        ):
            a = _read_rows(spark, f"{clean_out}/inc{i}/{sub}", cols)
            b = _read_rows(spark, f"{fuzz_out}/inc{i}/{sub}", cols)
            assert a == b, (i, sub, len(a), len(b))
    with open(os.path.join(clean_state, "meta.json")) as f:
        cm = json.load(f)
    with open(os.path.join(fuzz_state, "meta.json")) as f:
        fm = json.load(f)
    assert len(cm["batches"]) == len(fm["batches"]) == 3
    assert cm["n_docs"] == fm["n_docs"] == len(docs)
    # dead rows from the crash-rerun are documented; compact both
    # sides, then signatures must be row-identical
    compact_signature_index(spark, clean_state, target_files=1)
    compact_signature_index(spark, fuzz_state, target_files=1)
    sc = spark.read.parquet(os.path.join(clean_state, "signatures"))
    sf = spark.read.parquet(os.path.join(fuzz_state, "signatures"))
    rows_c = frozenset(map(tuple, sc.collect()))
    rows_f = frozenset(map(tuple, sf.collect()))
    assert rows_c == rows_f and len(rows_c) == len(docs)
    return events


def fuzz_ann_chain(spark, rng: random.Random, n_docs: int, tag: str):
    """Base index + 2 streamed appends with one random-point crash;
    pin fuzzed final index ≡ clean bulk append."""
    from etl_macropulse_br_spark.operators.ann_index import (
        load_ann_index,
        save_ann_index,
    )
    from etl_macropulse_br_spark.streaming.ann_ingest import (
        append_new_embeddings,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter("embedding is not null")
    )
    lo = rng.randrange(0, 200)
    b0 = lo + 80
    b1 = b0 + rng.randint(20, 60)
    b2 = b1 + rng.randint(20, 60)
    base = emb.filter(f"vec_id >= {lo} and vec_id < {b0}")
    s1 = emb.filter(f"vec_id >= {b0} and vec_id < {b1}")
    s2 = emb.filter(f"vec_id >= {b1} and vec_id < {b2}")

    root = tempfile.mkdtemp(prefix=f"fuzz_ingest_ann_{tag}_")
    clean, fuzz = os.path.join(root, "clean"), os.path.join(root, "fuzz")
    kw = dict(k=2, rounds=1, m=4, ks=4, pq_rounds=1, sub=16)
    save_ann_index(base, clean, **kw)
    save_ann_index(base, fuzz, **kw)

    sid = "fuzz-ckpt"  # stream identity scoping the ledger (r12)
    for bid, b in ((1, s1), (2, s2)):
        assert (
            append_new_embeddings(b, clean, batch_id=bid, stream_id=sid)
            == "appended"
        )

    crash_bid = rng.choice([1, 2])
    # per append: segment assign, segment codes (parquet), the
    # manifest temp-file json.dump (BEFORE the atomic replace), and
    # the completed commit = 4 events; only 4 = after-commit
    # (redelivery skipped O(1) via the batch ledger); 3 = crash
    # between the temp write and the replace — still retryable
    crash_at = rng.randint(1, 4)
    events = []
    for bid, b in ((1, s1), (2, s2)):
        if bid == crash_bid:
            plan = _CrashPlan(crash_at)
            try:
                with _crash_after(plan):
                    append_new_embeddings(
                        b, fuzz, batch_id=bid, stream_id=sid
                    )
                events.append((bid, "no-crash"))
            except _InjectedCrash:
                got = append_new_embeddings(
                    b, fuzz, batch_id=bid, stream_id=sid
                )
                if crash_at >= 4:
                    # manifest committed before the crash: the
                    # redelivery must skip via the batch ledger
                    assert got == "skipped", got
                    events.append((bid, f"crash@{crash_at}+skipped"))
                else:
                    assert got == "appended", got
                    events.append((bid, f"crash@{crash_at}+rerun"))
        else:
            assert (
                append_new_embeddings(b, fuzz, batch_id=bid, stream_id=sid)
                == "appended"
            )

    ic, fz = load_ann_index(spark, clean), load_ann_index(spark, fuzz)
    for kind in ("assign", "codes"):
        a = frozenset(map(tuple, getattr(ic, kind).collect()))
        b = frozenset(map(tuple, getattr(fz, kind).collect()))
        assert a == b, (kind, len(a), len(b))
    assert fz.manifest["committed_batches"] == [f"{sid}:1", f"{sid}:2"]
    assert fz.manifest["stream_max_batch"] == {sid: 2}
    return events


def fuzz_docs_stream_chain(
    spark, rng: random.Random, n_docs: int, tag: str
):
    """The STREAMING docs wrapper (streaming/ingest.ingest_micro_batch)
    under random crash points — one more commit event than the CLI
    chain: the batch-id-deterministic corpus write precedes the
    increment, so the sequence is corpus parquet, matches, survivors,
    sig append, meta (5 events). The wrapper's redelivery contract
    differs from the CLI's: a crash AFTER meta redelivers a COMPLETED
    batch, which the wrapper must SKIP via the meta batches list
    (O(1)) — not refuse — because the stream's checkpoint legitimately
    replays it. Pin: final state ≡ a clean chain, and the corpus
    parquet always matches the batch rows (the overwrite is
    redelivery-idempotent)."""
    from tools.fuzz_oracle import gen_documents

    from etl_macropulse_br_spark.operators.signature_index import (
        compact_signature_index,
    )
    from etl_macropulse_br_spark.streaming.ingest import (
        ingest_micro_batch,
    )

    docs = [
        (i, t) for (i, t, *_r) in gen_documents(rng.randrange(1 << 30), n_docs)
    ]
    cuts = sorted(rng.sample(range(1, len(docs)), 2))
    batches = [docs[: cuts[0]], docs[cuts[0]: cuts[1]], docs[cuts[1]:]]
    root = tempfile.mkdtemp(prefix=f"fuzz_ingest_stream_{tag}_")

    def chain(which, crash_bid=None, crash_at=None):
        corpus = os.path.join(root, f"{which}_corpus")
        state = os.path.join(root, f"{which}_state")
        out = os.path.join(root, f"{which}_out")
        events = []
        for bid, rows in enumerate(batches):
            bdf = spark.createDataFrame(rows, "doc_id long, text string")
            if bid == crash_bid:
                plan = _CrashPlan(crash_at)
                try:
                    with _crash_after(plan):
                        ingest_micro_batch(bdf, bid, corpus, state, out)
                    events.append((bid, "no-crash"))
                except _InjectedCrash:
                    # the stream redelivers the same micro-batch id
                    got = ingest_micro_batch(bdf, bid, corpus, state, out)
                    if crash_at >= 5:
                        # meta committed: redelivery must SKIP O(1)
                        assert got == "skipped", got
                        events.append((bid, f"crash@{crash_at}+skipped"))
                    else:
                        assert got == "ingested", got
                        events.append((bid, f"crash@{crash_at}+rerun"))
            else:
                assert ingest_micro_batch(
                    bdf, bid, corpus, state, out
                ) == "ingested"
        return corpus, state, out, events

    c_corpus, c_state, c_out, _ = chain("clean")
    crash_bid = rng.randrange(3)
    crash_at = rng.randint(1, 5)
    f_corpus, f_state, f_out, events = chain("fuzz", crash_bid, crash_at)

    for i in range(3):
        # frozen corpus batch equals its input rows on both sides
        for corpus in (c_corpus, f_corpus):
            got = _read_rows(
                spark, os.path.join(corpus, f"batch-{i:08d}"),
                ["doc_id", "text"],
            )
            assert got == frozenset(batches[i]), (corpus, i)
        for sub, cols in (
            ("matches", ["new_id", "match_id", "jaccard"]),
            ("survivors", ["doc_id", "text"]),
        ):
            a = _read_rows(
                spark, os.path.join(c_out, f"batch-{i:08d}", sub), cols
            )
            b = _read_rows(
                spark, os.path.join(f_out, f"batch-{i:08d}", sub), cols
            )
            assert a == b, (i, sub, len(a), len(b))
    with open(os.path.join(c_state, "meta.json")) as f:
        cm = json.load(f)
    with open(os.path.join(f_state, "meta.json")) as f:
        fm = json.load(f)
    assert len(cm["batches"]) == len(fm["batches"]) == 3
    assert cm["n_docs"] == fm["n_docs"] == len(docs)
    compact_signature_index(spark, c_state, target_files=1)
    compact_signature_index(spark, f_state, target_files=1)
    rows_c = frozenset(
        map(tuple, spark.read.parquet(
            os.path.join(c_state, "signatures")).collect())
    )
    rows_f = frozenset(
        map(tuple, spark.read.parquet(
            os.path.join(f_state, "signatures")).collect())
    )
    assert rows_c == rows_f and len(rows_c) == len(docs)
    return events


CHECKS = {
    "docs_chain": fuzz_docs_chain,
    "ann_chain": fuzz_ann_chain,
    "docs_stream_chain": fuzz_docs_stream_chain,
}


def run_fuzz(seed: int, n_docs: int, rounds: int):
    from etl_macropulse_br_spark.session import get_spark

    spark = get_spark(app_name=f"fuzz_ingest_{seed}")
    passed, failed = [], []
    for rnd in range(rounds):
        for name, fn in CHECKS.items():
            tag = f"{name}_{seed}_{rnd}"
            rng = random.Random(f"{seed}:{rnd}:{name}")
            try:
                events = fn(spark, rng, n_docs, tag)
                passed.append(tag)
                print(f"{tag:32s} OK    {events}")
            except Exception as e:
                failed.append(tag)
                print(f"{tag:32s} FAIL  {type(e).__name__}: {str(e)[:200]}")
    return passed, failed


def main() -> None:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    passed, failed = run_fuzz(seed, n_docs, rounds)
    print(
        json.dumps(
            {
                "seed": seed,
                "n_docs": n_docs,
                "rounds": rounds,
                "passed": len(passed),
                "failed": failed,
            }
        )
    )
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
