"""Streaming surface — batch incrementalism via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.11); the north rule's
resumability maps to incremental batch processing. Two equivalent surfaces:

* :mod:`paddleocr_spark.lineage` — plain batch + bucket pruning against
  the snapshot manifest (the primary path: simplest, Iceberg-shaped).
* this package — ``readStream`` + ``Trigger.AvailableNow`` + checkpointed
  ``foreachBatch``, for deployments that prefer Spark's own source tracking
  (processed-files log) over an explicit commit manifest.
"""

from .incremental import (DOCUMENTS_SCHEMA, RAW_DOCUMENTS_SCHEMA,
                          run_incremental)

__all__ = ["DOCUMENTS_SCHEMA", "RAW_DOCUMENTS_SCHEMA",
           "run_incremental"]
