"""Streaming ingest throughput: input rows per second of the documents
stream that ``scripts/stream_ingest.py --mode docs`` runs.

Measures end-to-end availableNow throughput of
``streaming.ingest.start_dedup_ingest_stream``: each micro-batch is one
incremental MinHash dedup increment against the persisted
signature-index state (``operators/signature_index.run``), writing its
corpus batch and its matches/survivors. The input is sf0.1
``documents.parquet`` replicated K times with disjoint doc ids and a
per-copy text tag, so every copy is a near-dup of the original and
later micro-batches match against the state earlier ones appended.

The input is range-split into ``--files`` files and consumed with
maxFilesPerTrigger, so the run carries state across real micro-batches,
not one giant batch. Wall time includes query startup (the same fixed
cost every run pays), so the number is a conservative floor. Rows and
micro-batches are counted from the corpus batches the stream wrote, not
from the query's progress log, which keeps only the last 100 updates.

Usage:
    python tools/stream_throughput.py [--k 8] [--files 8] \
        [--files-per-trigger 2] [--out plans/stream_throughput.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _docs(spark, sf_dir, k, dest, n_files):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_smoke import replicate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # an explicit partition count: AQE would coalesce an orderBy's
    # partitions, leaving fewer files than asked and fewer batches
    replicate(docs, k, "doc_id", "text").repartitionByRange(
        n_files, "doc_id"
    ).write.mode("overwrite").parquet(dest)


def _run_ingest(spark, src, root, files_per_trigger):
    from etl_macropulse_br_spark.streaming.ingest import (
        start_dedup_ingest_stream,
    )

    # maxFilesPerTrigger is a file-SOURCE option: set on the sink it is
    # silently ignored and the run consumes everything in one batch
    # (micro_batches in the output catches that)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(src)
    )
    corpus = os.path.join(root, "corpus")
    t0 = time.perf_counter()
    q = start_dedup_ingest_stream(
        stream,
        corpus,
        os.path.join(root, "state"),
        os.path.join(root, "out"),
        os.path.join(root, "ckpt"),
    )
    if not q.awaitTermination(1800):
        q.stop()
        raise RuntimeError(
            "stream_throughput: the ingest did not finish in 1800 s"
        )
    wall = time.perf_counter() - t0
    # one batch-<id> directory per non-empty micro-batch
    n_batches = len(os.listdir(corpus))
    rows = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(corpus)
        .count()
    )
    return wall, rows, n_batches


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--k", type=int, default=8)
    ap.add_argument("--files", type=int, default=8)
    ap.add_argument("--files-per-trigger", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    from etl_macropulse_br_spark.session import get_spark

    spark = get_spark(app_name="stream_throughput", profile="cluster")
    root = tempfile.mkdtemp(prefix="stream_tp_")
    out = {
        "k": args.k,
        "sf_dir": sf_dir,
        "files": args.files,
        "files_per_trigger": args.files_per_trigger,
        "loadavg_1m_start": round(os.getloadavg()[0], 2),
        "note": "wall includes query startup; rows/s is input rows "
        "consumed per wall second (conservative floor)",
        "operators": {},
    }
    try:
        docs_dir = os.path.join(root, "docs")
        _docs(spark, sf_dir, args.k, docs_dir, args.files)
        wall, rows, nb = _run_ingest(
            spark, docs_dir, root, args.files_per_trigger
        )
        out["operators"]["start_dedup_ingest_stream"] = {
            "input_rows": rows,
            "wall_s": round(wall, 2),
            "rows_per_s": round(rows / wall),
            "micro_batches": nb,
        }
        print(f"# dedup ingest: {rows} rows / {wall:.2f}s", file=sys.stderr)

        out["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
        line = json.dumps(out, indent=2)
        print(line)
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(line + "\n")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
