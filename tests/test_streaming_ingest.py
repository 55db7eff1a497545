"""Streaming dedup ingest (streaming/ingest.py): the union of
streamed increments must equal one full-corpus minhash_near_dups
pass; redelivery of a completed increment must be an idempotent
no-op; survivors partition the corpus against the matches."""

from __future__ import annotations

import os


def test_dedup_ingest_stream_equals_full_pass(spark, tmp_path):
    from etl_macropulse_br_spark.operators.dedup import minhash_near_dups
    from etl_macropulse_br_spark.streaming.ingest import (
        ingest_micro_batch,
        start_dedup_ingest_stream,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    s1 = docs.filter("doc_id < 170")
    s2 = docs.filter("doc_id >= 170 and doc_id < 340")
    s3 = docs.filter("doc_id >= 340")

    src = str(tmp_path / "doc_stream")
    for i, s in enumerate((s1, s2, s3)):
        s.coalesce(1).write.mode("append" if i else "overwrite").parquet(src)
    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "ingest_state")
    out = str(tmp_path / "ingest_out")
    q = start_dedup_ingest_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        corpus,
        state,
        out,
        str(tmp_path / "ingest_ckpt"),
        threshold=0.5,
    )
    q.awaitTermination(300)
    # each micro-batch reads its source once
    assert sum(p["numInputRows"] for p in q.recentProgress) == docs.count()

    # union of streamed increments == one full-corpus pass
    inc = {}
    batch_dirs = sorted(os.listdir(out))
    assert len(batch_dirs) == 3
    for b in batch_dirs:
        for r in spark.read.parquet(f"{out}/{b}/matches").collect():
            inc[(r["new_id"], r["match_id"])] = r["jaccard"]
    full = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): r["jaccard"]
        for r in minhash_near_dups(
            docs, threshold=0.5, persist_candidates=False
        ).collect()
    }
    assert full and inc == full

    # survivors across the stream = docs with no match anywhere
    surv = set()
    for b in batch_dirs:
        surv |= {
            r["doc_id"]
            for r in spark.read.parquet(f"{out}/{b}/survivors").collect()
        }
    assert surv == {r["doc_id"] for r in docs.collect()} - {
        a for a, _ in inc
    }

    # redelivery of a COMPLETED increment (crash after meta, before
    # the checkpoint advanced): idempotent no-op, state untouched
    import json

    with open(os.path.join(state, "meta.json")) as f:
        n_docs_before = json.load(f)["n_docs"]
    # batch ids were 0,1,2 — replay batch 1's data under its id
    assert (
        ingest_micro_batch(s2, 1, corpus, state, out, threshold=0.5)
        == "skipped"
    )
    with open(os.path.join(state, "meta.json")) as f:
        meta = json.load(f)
    assert meta["n_docs"] == n_docs_before
    assert len(meta["batches"]) == 3

    # empty micro-batch: no-op
    assert (
        ingest_micro_batch(
            s2.limit(0), 99, corpus, state, out, threshold=0.5
        )
        == "empty"
    )
