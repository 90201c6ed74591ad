"""In-process replay of the ``mapInArrow`` kernel with counters.

``pipeline._assemble_arrow`` runs in the driver over the same sorted rows
the kernel stage receives, sliced into batches of
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows per partition. The
benchmark wraps ``pipeline.order_document`` (the exact per-doc slow path),
``pipeline._order_ranks`` and ``pipeline._emit_arrow`` from outside to
count and time them; the program itself is not changed.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from paddleocr_spark import geometry as G
from paddleocr_spark import pipeline

#: Columns ``order_and_assemble`` hands to the kernel, in its order.
KERNEL_COLUMNS = ["doc_id", "span_idx", "kind", "text", "media_ref",
                  "x1", "y1", "x2", "y2"]


@contextmanager
def _counted(counters: dict):
    """Wrap the kernel's module-level functions with call counters/timers."""
    orig = (pipeline.order_document, pipeline._order_ranks,
            pipeline._emit_arrow)
    order_document, order_ranks, emit_arrow = orig

    def counted_order_document(kinds, *args, **kw):
        t = time.perf_counter()
        try:
            return order_document(kinds, *args, **kw)
        finally:
            counters["order_document_s"] += time.perf_counter() - t
            counters["order_document_calls"] += 1
            counters["order_document_spans"] += len(kinds)

    def counted_order_ranks(*args, **kw):
        t = time.perf_counter()
        try:
            return order_ranks(*args, **kw)
        finally:
            counters["order_ranks_s"] += time.perf_counter() - t

    def counted_emit_arrow(tbl):
        t = time.perf_counter()
        try:
            return emit_arrow(tbl)
        finally:
            counters["emit_total_s"] += time.perf_counter() - t
            counters["batches"] += 1

    (pipeline.order_document, pipeline._order_ranks,
     pipeline._emit_arrow) = (counted_order_document, counted_order_ranks,
                              counted_emit_arrow)
    try:
        yield
    finally:
        (pipeline.order_document, pipeline._order_ranks,
         pipeline._emit_arrow) = orig


def replay(partitions: list[pa.Table], max_records: int) -> dict:
    """Run the kernel over each partition's sorted rows; returns the
    ``kernel.*`` / ``kernels.*`` counters plus output doc and span counts.

    ``carried_docs`` counts documents whose rows straddle an input batch
    boundary, so the kernel concatenates them into the next batch."""
    c = dict.fromkeys(["order_document_s", "order_document_calls",
                       "order_document_spans", "order_ranks_s",
                       "emit_total_s", "batches"], 0)
    docs = spans = carried = 0
    with _counted(c):
        for tbl in partitions:
            batches = tbl.combine_chunks().to_batches(
                max_chunksize=max_records)
            for a, b in zip(batches, batches[1:]):
                ids = a.column(0)
                carried += int(ids[len(ids) - 1] == b.column(0)[0])
            for out in pipeline._assemble_arrow(iter(batches)):
                docs += out.num_rows
                spans += int(pc.sum(pc.list_value_length(
                    out.column(1))).as_py() or 0)
    slow = c["order_document_calls"]
    return {
        "kernel.batches": c["batches"],
        "kernel.docs": docs,
        "kernel.fast_docs": docs - slow,
        "kernel.slow_docs": slow,
        "kernel.fast_share": (docs - slow) / docs if docs else 0.0,
        "kernel.carried_docs": carried,
        "kernel.order_ranks_s": c["order_ranks_s"],
        "kernel.emit_s": c["emit_total_s"] - c["order_ranks_s"],
        "kernels.order_document_calls": slow,
        "kernels.order_document_s": c["order_document_s"],
        "kernels.order_document_spans": c["order_document_spans"],
        "spans": spans,
    }


def kernel_input(spans: pa.Table) -> pa.Table:
    """The kernel's input rows for a ``(doc_id, spans)`` table, made
    without Spark: explode, geometry and the P9/P10 filters (the P11 style
    strip changes no box), sorted by (doc_id, span_idx). Mirrors
    ``oracle.extract_pandas``."""
    lengths = pc.list_value_length(spans.column("spans")).to_numpy()
    flat = pc.list_flatten(spans.column("spans")).combine_chunks()
    doc_id = np.repeat(spans.column("doc_id").to_numpy(
        zero_copy_only=False), lengths)
    span_idx = np.arange(len(flat)) - np.repeat(
        np.cumsum(lengths) - lengths, lengths)
    kind = flat.field("kind").to_numpy(zero_copy_only=False)
    text = flat.field("text")
    offset = flat.field("offset").to_numpy()
    tlen = pc.fill_null(pc.utf8_length(text), 0).to_numpy()
    x1, y1 = offset % G.PAGE_WIDTH, offset // G.PAGE_WIDTH
    width = np.where(tlen == 0, G.EMPTY_TEXT_WIDTH,
                     G.TEXT_WIDTH_BASE + tlen % G.TEXT_WIDTH_MOD)
    for k, w in G.KIND_WIDTH_FIXED.items():
        width = np.where(kind == k, w, width)
    height = np.array([G.KIND_HEIGHT[k] for k in kind], dtype=np.int64)
    did = np.array([int(d[4:]) for d in doc_id], dtype=np.int64)
    smod = (did * 7 + span_idx * 173) % G.SCORE_MOD
    milli = G.SCORE_BASE_MILLI + smod * G.SCORE_SPREAD_NUM \
        // G.SCORE_SPREAD_DEN
    keep = ((width > G.MIN_SIDE) & (height > G.MIN_SIDE)
            & ((kind != "text")
               | (milli >= int(round(G.DROP_SCORE * G.SCORE_MOD)))))
    tbl = pa.table({
        "doc_id": doc_id, "span_idx": span_idx.astype(np.int32),
        "kind": kind, "text": text, "media_ref": flat.field("media_ref"),
        "x1": x1.astype(np.int32), "y1": y1.astype(np.int32),
        "x2": (x1 + width).astype(np.int32),
        "y2": (y1 + height).astype(np.int32),
    }).filter(pa.array(keep))
    return tbl.sort_by([("doc_id", "ascending"), ("span_idx", "ascending")])
