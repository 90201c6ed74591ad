"""spark-submit entrypoint.

Usage (sandbox stand-in for the multi-executor cluster submit):

    python -m paddleocr_spark.package            # build dist/paddleocr_spark.zip
    spark-submit --py-files dist/paddleocr_spark.zip \
        $(python -c 'import paddleocr_spark.__main__ as m; print(m.__file__)') \
        --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/extracted_out --run-id run1 [--buckets 32]

Reads the documents table, synthesizes the interleaved span corpus
(synth.py), runs the extraction pipeline, writes extracted and commits it
with a resumable snapshot manifest (lineage.py), prints a one-line JSON
summary.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default=f"run_{int(time.time())}")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--max-parts", type=int, default=None)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--mode",
                    choices=["batch", "incremental", "dedup-stream"],
                    default="batch",
                    help="batch: snapshot-manifest resume; incremental: "
                         "Structured Streaming AvailableNow with "
                         "checkpointed file tracking. In incremental mode "
                         "--input must be a DIRECTORY containing ONLY raw "
                         "documents-table parquet files (doc_id bigint, "
                         "text, ...); synthesis runs inside each "
                         "micro-batch. dedup-stream: stateful streaming "
                         "exact dedup (applyInPandasWithState) over the "
                         "same directory shape — emits one first-seen row "
                         "per content hash, with checkpointed cross-run "
                         "state")
    args = ap.parse_args(argv)

    from paddleocr_spark.lineage import run_extract
    from paddleocr_spark.pipeline import extract
    from paddleocr_spark.session import get_spark
    from paddleocr_spark.synth import synth_spans

    spark = get_spark("paddleocr-spark-extract", cores=args.cores)
    t0 = time.time()
    if args.mode == "incremental":
        import os

        from paddleocr_spark.streaming import run_incremental
        # A dedicated directory is required: Spark file streams reject a
        # single-file basePath, and widening to the parent directory would
        # ingest sibling tables under the wrong schema.
        if not os.path.isdir(args.input):
            ap.error("--mode incremental needs --input to be a directory "
                     "of raw documents parquet files (got a file path); "
                     "copy/link the documents files into their own dir")
        n = run_incremental(
            spark, args.input, os.path.join(args.output, "extracted"),
            os.path.join(args.output, "checkpoint"),
            input_format="documents")
        summary = {"run_id": args.run_id, "mode": "incremental",
                   "batches": n}
    elif args.mode == "dedup-stream":
        import os

        from paddleocr_spark.streaming.stateful import (read_first_seen,
                                                        streaming_dedup)
        if not os.path.isdir(args.input):
            ap.error("--mode dedup-stream needs --input to be a directory "
                     "of raw documents parquet files")
        streaming_dedup(spark, args.input, args.output,
                        os.path.join(args.output, "checkpoint"))
        summary = {"run_id": args.run_id, "mode": "dedup-stream",
                   "distinct_total": read_first_seen(spark,
                                                     args.output).count()}
    else:
        docs = spark.read.parquet(args.input)
        extracted = extract(synth_spans(docs))
        summary = run_extract(spark, extracted, args.output, args.run_id,
                              n_buckets=args.buckets,
                              max_parts=args.max_parts)
    summary["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
