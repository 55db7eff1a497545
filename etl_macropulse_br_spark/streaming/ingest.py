"""Continuous dedup ingest: a documents stream feeding the
persisted MinHash signature index (r10) — the streaming twin of the
daily-crawl loop (`operators/signature_index.py`, CLI wrapper
`scripts/ingest_increment.py`), completing the symmetry with
:mod:`streaming.ann_ingest` (both persisted-index families now have
a stream-maintenance shape).

Each micro-batch becomes one increment: the batch lands as an
immutable parquet directory under ``corpus_dir`` (named by the
micro-batch id, which Structured Streaming REPLAYS STABLY from the
checkpoint), then ``signature_index.run`` executes against the
signature-index state — emitting matches/survivors and appending the
batch's signatures — under the state directory's single-writer
lease. (r11 — ADVICE r10: the engine import now stays inside the
package; previously this module imported from ``scripts/``, which
broke when the package was installed without the repo root on
``sys.path``.)

Exactly-once effect, same argument as ann_ingest:

- the corpus write is an idempotent ``overwrite`` to a
  batch-id-deterministic path (redelivery rewrites identical rows);
- a crash BEFORE the increment's ``meta.json`` write redelivers a
  batch whose path meta never recorded — the documented
  crashed-rerun path (stray signature copies are anti-joined out,
  outputs equal a clean run's);
- a crash AFTER the meta write but before the checkpoint advances
  redelivers a COMPLETED batch — detected here by its recorded path
  and skipped as a no-op (the CLI's completed-batch guard stays
  loud for humans; the stream's redelivery is the one legitimate
  automated case).

The union of streamed increments therefore equals one full-corpus
``minhash_near_dups`` pass on everything ingested (pinned).

Reference scope: the reference is strictly batch with incremental
INTENT (`state/state.json`, never implemented — SURVEY.md §4);
this is that intent, Spark-native, over the dedup extension surface.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame


def ingest_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    state_dir: str,
    out_root: str,
    threshold: float = 0.8,
) -> str:
    """One micro-batch → one increment. Returns ``"ingested"``,
    ``"skipped"`` (redelivery of a completed increment), or
    ``"empty"``."""
    from etl_macropulse_br_spark.operators.signature_index import (
        _META,
        run,
    )

    bpath = os.path.abspath(
        os.path.join(corpus_dir, f"batch-{batch_id:08d}")
    )
    meta_path = os.path.join(state_dir, _META)
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            if bpath in json.load(f)["batches"]:
                # completed increment redelivered (crash after meta,
                # before the checkpoint advanced): idempotent no-op
                return "skipped"
    # deterministic path + overwrite = the corpus write itself is
    # redelivery-idempotent; doc text is frozen here because later
    # increments re-read colliding docs' text from this path. The
    # write is the only read of the batch's source: emptiness is
    # tested on the written copy.
    spark = batch_df.sparkSession
    batch_df.select("doc_id", "text").write.mode("overwrite").parquet(
        bpath
    )
    if spark.read.parquet(bpath).isEmpty():
        shutil.rmtree(bpath)
        return "empty"
    out_dir = os.path.join(out_root, f"batch-{batch_id:08d}")
    run(spark, bpath, state_dir, out_dir, threshold)
    return "ingested"


def start_dedup_ingest_stream(
    stream: DataFrame,
    corpus_dir: str,
    state_dir: str,
    out_root: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    trigger_once: bool = True,
):
    """Wire a documents stream into the incremental-dedup loop:
    ``foreachBatch`` → :func:`ingest_micro_batch`. Outputs land
    under ``out_root/batch-<id>/{matches,survivors}``; the
    signature-index state grows under ``state_dir`` exactly as the
    CLI loop's would (same operator, same lease, same sidecar)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ingest_micro_batch(
            batch_df, batch_id, corpus_dir, state_dir, out_root,
            threshold,
        )

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
