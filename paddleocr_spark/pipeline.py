"""The flagship extraction pipeline — PP-Structure recovery path, Spark-first.

Restates the reference dataflow (SURVEY.md §3.2):

    documents → explode spans → geometry (JVM) → det filter P9 (JVM)
    → drop_score P10 (JVM) → style strip P11 (JVM replace chain)
    → repartition(n, doc_id) + sortWithinPartitions → mapInArrow kernel
      (sorted_boxes O1 + region segmentation D1 + sorted_layout_boxes O2 +
      ordered emission O5, Arrow-native reassembly)
    → extracted (doc_id, spans array<struct<kind,text,media_ref,offset>>)

Exactly ONE payload shuffle end-to-end: the explicit hash repartition on
doc_id feeding the kernel. Everything before it is map-side
whole-stage-codegen; the kernel emits fully assembled documents so no
re-aggregation shuffle follows. The kernel is ``mapInArrow`` (not
per-group ``applyInPandas``, not pandas) for two measured reasons — see
``order_and_assemble`` — and string columns are only ever moved by
vectorized Arrow ``take``, never through per-span Python objects. The
clustering and the batch-boundary carry are operators/grouped.py's, shared
with every other per-group operator; this module owns only the kernel
body (``_order_ranks`` + ``_emit_arrow``).
Reference parity citations live in paddleocr_spark/kernels.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType, StructField,
                               StructType)

from . import geometry as G
from .kernels import order_document

EXTRACTED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]))),
])


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → one row per span with its array position."""
    return documents.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id", "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def with_geometry(spans: DataFrame) -> DataFrame:
    """Derive the span box from (kind, text, offset) — geometry.py constants.

    x = offset MOD page_width, y = offset DIV page_width (FIXTURES.md §1);
    extent from kind/text length. Pure JVM expressions.
    """
    x1 = (F.col("offset") % G.PAGE_WIDTH).alias("x1")
    y1 = F.floor(F.col("offset") / G.PAGE_WIDTH).cast("int").alias("y1")
    h = (
        F.when(F.col("kind") == "text", G.KIND_HEIGHT["text"])
        .when(F.col("kind") == "title", G.KIND_HEIGHT["title"])
        .when(F.col("kind") == "table", G.KIND_HEIGHT["table"])
        .otherwise(G.KIND_HEIGHT["media"])
    )
    tlen = F.length(F.coalesce(F.col("text"), F.lit("")))
    w = (
        F.when(F.col("kind") == "media", G.KIND_WIDTH_FIXED["media"])
        .when(F.col("kind") == "table", G.KIND_WIDTH_FIXED["table"])
        .when(F.col("kind") == "title", G.KIND_WIDTH_FIXED["title"])
        .when(tlen == 0, G.EMPTY_TEXT_WIDTH)
        .otherwise(F.lit(G.TEXT_WIDTH_BASE) + tlen % G.TEXT_WIDTH_MOD)
    )
    df = spans.select("*", x1, y1, w.alias("w"), h.alias("h"))
    return df.select(
        "*",
        (F.col("x1") + F.col("w")).alias("x2"),
        (F.col("y1") + F.col("h")).alias("y2"),
    ).drop("w", "h")


def det_keep_predicate():
    """P9 keep condition: every side > 3 px (predict_det.py:209-223)."""
    return (((F.col("x2") - F.col("x1")) > G.MIN_SIDE)
            & ((F.col("y2") - F.col("y1")) > G.MIN_SIDE))


def det_filter(spans: DataFrame) -> DataFrame:
    """P9: drop boxes with any side ≤ 3 px (predict_det.py:209-223)."""
    return spans.filter(det_keep_predicate())


def drop_score_filter(spans: DataFrame,
                      drop_score: float = G.DROP_SCORE) -> DataFrame:
    """P10: keep text lines iff rec-confidence ≥ drop_score
    (predict_system.py:117-125; confidence analog per geometry.py).

    Integer milli-score comparison so the 0.500 boundary is exact.

    The did parse is deliberately coupled to the synth corpus's
    'doc_<number>' ids: the score is a deterministic stand-in for a model
    confidence that in production arrives as its own column — this
    expression is the fixture, not a general doc_id contract.
    """
    return spans.filter(score_keep_predicate(drop_score))


def score_keep_predicate(drop_score: float = G.DROP_SCORE):
    """P10 keep condition as a reusable Column (see drop_score_filter)."""
    did = F.expr("CAST(substring(doc_id, 5) AS LONG)")
    smod = (did * 7 + F.col("span_idx") * 173) % G.SCORE_MOD
    milli = G.SCORE_BASE_MILLI + F.floor(
        smod * G.SCORE_SPREAD_NUM / G.SCORE_SPREAD_DEN).cast("long")
    thresh = int(round(drop_score * G.SCORE_MOD))
    return (F.col("kind") != "text") | (milli >= thresh)


def strip_styles(spans: DataFrame) -> DataFrame:
    """P11: remove the reference style_token set — chained literal JVM
    ``replace`` calls in the reference's token order.

    ppstructure/predict_system.py:151-162; the token list omits '</strike>'
    (kernels.STYLE_TOKENS quirk) and lists '<strike>' twice (kept — the
    second pass is a no-op). Round 3 replaced the single-pass regexp
    alternation with the sequential chain: the two differ whenever
    removing one token CREATES a token that appears LATER in the list
    (e.g. '<i<b>>' → reference yields '', single-pass regexp '<i>') — a
    corpus-independent guarantee instead of the round-2 corpus property.
    All 14 replaces stay inside whole-stage codegen (literal, no regex
    engine).
    """
    from .kernels import STYLE_TOKENS
    col = F.col("text")
    for tok in STYLE_TOKENS:
        col = F.replace(col, F.lit(tok), F.lit(""))
    # exact short-circuit: every token contains '<', so a text without
    # '<' is a fixed point of the whole chain (~70% of spans on the synth
    # corpus, more on real web text). Measured at 8 cores on a 775k-span
    # corpus: chain 1.60 s, old single-pass regexp 1.88 s, guarded chain
    # 1.53 s — the literal chain beats the regex engine even unguarded.
    return spans.withColumn(
        "text", F.when(F.instr("text", "<") == 0, F.col("text"))
        .otherwise(col))


def _order_ranks(doc_codes, kind_codes, text_code, kind_dict,
                 x1, y1, x2, y2):
    """Per-document reading-order resolution over a sorted run of spans.

    Args are aligned arrays sorted by (doc_id, span_idx); ``doc_codes``
    must be grouped (all rows of a doc contiguous); kinds arrive
    dictionary-encoded (``kind_codes`` + ``kind_dict``, ``text_code`` =
    code of 'text' or -1). Returns (starts, take, offsets): document start
    indices, a take-index array mapping output position → input row (docs
    in input order, spans in reading order), and the within-doc output
    offsets.

    FAST PATH (the measured hot spot at web scale — per-doc Python kernel
    calls dominate otherwise): a document's reading order equals its plain
    stable (y, x) lexsort order whenever, on the lexsorted rows,

    * **A** no adjacent pair has 0 < Δy < 10 with x decreasing — then the
      sorted_boxes bubble pass (kernels.sorted_boxes_indices) never swaps;
    * **B** every region except the doc's last fails BOTH column tests of
      sorted_layout_boxes (x1 < w/4 ∧ x2 < 3w/4; x1 > w/4 ∧ x2 > w/2) —
      then the O2 scan buffers nothing and emits scan order (the last
      region always emits last whichever branch it takes,
      recovery_to_doc.py:109-127); and
    * **C** region (y1, x1) keys are nondecreasing in first-appearance
      order — then O2's stable pre-sort is the identity.

    A/B/C and the region segmentation itself (kernels.segment_regions'
    run conditions) are all computed vectorized across the WHOLE batch;
    only documents failing a condition take the exact per-doc kernel.
    Bit-equality with the kernel on every doc is enforced by a hypothesis
    differential fuzz (tests/test_kernels.py) and the committed flagship
    fixture oracle.
    """
    n = len(doc_codes)
    bounds = np.flatnonzero(doc_codes[1:] != doc_codes[:-1]) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [n]])
    n_docs = len(starts)
    sizes = ends - starts
    doc_idx = np.repeat(np.arange(n_docs), sizes)

    # Global stable lexsort by (doc, y, x) — identical to sorted_boxes'
    # pre-sort per doc (ties keep input order, matching Python sorted()).
    order = np.lexsort((x1, y1, doc_idx))
    xs, ys = x1[order], y1[order]
    x2s, y2s = x2[order], y2[order]
    ks = kind_codes[order]
    dsorted = doc_idx[order]

    same_doc = dsorted[1:] == dsorted[:-1]

    # A: bubble pass is the identity.
    dy = ys[1:] - ys[:-1]
    viol_a = same_doc & (dy > 0) & (dy < 10) & (xs[1:] < xs[:-1])

    # Region runs (kernels.segment_regions conditions, vectorized).
    h_prev = np.maximum(y2s[:-1] - ys[:-1], 1)
    gap = ys[1:] - y2s[:-1]
    x_overlap = ~((xs[1:] >= x2s[:-1]) | (x2s[1:] <= xs[:-1]))
    same_region = (same_doc & (ks[1:] == ks[:-1]) & (ks[1:] == text_code)
                   & (gap < 1.5 * h_prev) & (gap > -h_prev) & x_overlap)
    r_start = np.concatenate([[True], ~same_region])
    r_starts = np.flatnonzero(r_start)
    rx1 = np.minimum.reduceat(xs, r_starts)
    ry1 = np.minimum.reduceat(ys, r_starts)
    rx2 = np.maximum.reduceat(x2s, r_starts)
    r_doc = dsorted[r_starts]
    r_last = np.concatenate([r_doc[1:] != r_doc[:-1], [True]])

    # B: all regions but the doc's last are 'single'.
    w = float(G.PAGE_WIDTH)
    left_col = (rx1 < w / 4) & (rx2 < 3 * w / 4)
    right_col = (rx1 > w / 4) & (rx2 > w / 2)
    viol_b = (left_col | right_col) & ~r_last

    # C: region keys nondecreasing within doc.
    r_same_doc = r_doc[1:] == r_doc[:-1]
    key_dec = (ry1[1:] < ry1[:-1]) | ((ry1[1:] == ry1[:-1])
                                      & (rx1[1:] < rx1[:-1]))
    viol_c = r_same_doc & key_dec

    complex_doc = np.zeros(n_docs, dtype=bool)
    complex_doc[dsorted[1:][viol_a]] = True
    complex_doc[r_doc[viol_b]] = True
    complex_doc[r_doc[1:][viol_c]] = True

    # Fast docs: reading order IS the lexsorted row order.
    take = order.copy()
    for d in np.flatnonzero(complex_doc):
        s, e = starts[d], ends[d]
        if e - s == 1:
            continue
        rank = order_document(
            [kind_dict[c] for c in kind_codes[s:e]],
            x1[s:e], y1[s:e], x2[s:e], y2[s:e], G.PAGE_WIDTH)
        take[s:e] = s + rank.argsort(kind="stable")
    offsets = np.arange(n, dtype=np.int64) - np.repeat(starts, sizes)
    return starts, take, offsets


def _emit_arrow(tbl: "pa.Table"):
    """Assemble one run of complete documents into an Arrow RecordBatch of
    (doc_id, spans) — all column movement via vectorized Arrow take and
    dictionary codes; the only per-span Python objects are the kind
    strings of documents on the exact-kernel slow path."""
    import pyarrow as pa
    import pyarrow.compute as pc

    doc_col = tbl.column("doc_id").combine_chunks()
    kind_col = tbl.column("kind").combine_chunks()
    doc_codes = np.asarray(doc_col.dictionary_encode().indices)
    kind_enc = kind_col.dictionary_encode()
    kind_codes = np.asarray(kind_enc.indices)
    kind_dict = kind_enc.dictionary.to_pylist()
    text_code = kind_dict.index("text") if "text" in kind_dict else -1
    x1 = tbl.column("x1").to_numpy()
    y1 = tbl.column("y1").to_numpy()
    x2 = tbl.column("x2").to_numpy()
    y2 = tbl.column("y2").to_numpy()
    starts, take, offsets = _order_ranks(
        doc_codes, kind_codes, text_code, kind_dict, x1, y1, x2, y2)

    idx = pa.array(take)
    kind_o = pc.take(kind_col, idx)
    text_o = pc.take(tbl.column("text").combine_chunks(), idx)
    ref_o = pc.take(tbl.column("media_ref").combine_chunks(), idx)
    struct = pa.StructArray.from_arrays(
        [kind_o, text_o, ref_o, pa.array(offsets, type=pa.int32())],
        names=["kind", "text", "media_ref", "offset"])
    list_offsets = pa.array(
        np.concatenate([starts, [len(doc_codes)]]).astype(np.int32))
    spans = pa.ListArray.from_arrays(list_offsets, struct)
    doc_ids = pc.take(doc_col, pa.array(starts))
    return pa.RecordBatch.from_arrays([doc_ids, spans],
                                      names=["doc_id", "spans"])


def _assemble_arrow(it):
    """mapInArrow body: batches of one hash-partition arrive sorted by
    (doc_id, span_idx); grouped.carry_groups carries the last (possibly
    incomplete) document of each batch into the next before
    ``_emit_arrow`` assembles a run of complete documents."""
    from .operators.grouped import carry_groups

    yield from carry_groups(it, ["doc_id"], _emit_arrow)


def order_and_assemble(spans: DataFrame) -> DataFrame:
    """Reading-order resolution + document re-assembly (the one shuffle).

    Physical strategy (deliberate, see BENCH notes): grouped.cluster's
    EXPLICIT ``repartition(defaultParallelism, doc_id)`` +
    ``sortWithinPartitions(doc_id, span_idx)``, then ``mapInArrow`` over
    ``_assemble_arrow``, instead of ``groupBy(doc_id).applyInPandas``,
    because

    * per-group applyInPandas pays Arrow slicing + pandas construction per
      document — ruinous for web-scale corpora of small docs (40k docs/task
      at sf0.1 ⇒ the Python stage dominated wall time ~2×);
    * AQE coalesces shuffle partitions by BYTE size, but this stage is
      CPU-bound in Python at very low bytes/CPU — byte-based coalescing
      collapsed it to ~9 tasks on 32 cores. An explicit repartition count
      is exempt from AQE coalescing, keeping the Python stage wide;
    * one partition per core, not more, so the stage runs as one wave
      of Python tasks (see grouped.cluster for why).

    Hash partitioning on doc_id guarantees each document lands whole in one
    partition; the within-partition sort makes output independent of both
    partition count and input row order. This is the same shape as every
    other per-group operator (operators/grouped.py); only the kernel body
    differs.
    """
    from .operators.grouped import cluster

    df = spans.select("doc_id", "span_idx", "kind", "text", "media_ref",
                      "x1", "y1", "x2", "y2")
    return cluster(df, ["doc_id"], ["span_idx"]).mapInArrow(
        _assemble_arrow, schema=EXTRACTED_SCHEMA)


def ensure_input_parallelism(documents: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism when the scan is
    under-partitioned.

    A single small parquet file (or a handful of Iceberg manifests) arrives
    as 1 task, serializing every narrow stage before the first shuffle. At
    production scale the Iceberg scan is already wide and this is a no-op
    check; in the sandbox it is the difference between 1 core and all of
    them doing the synth/explode/filter work.
    """
    n = documents.sparkSession.sparkContext.defaultParallelism
    if documents.rdd.getNumPartitions() < n:
        return documents.repartition(n)
    return documents


def extract(documents: DataFrame,
            drop_score: float = G.DROP_SCORE) -> DataFrame:
    """documents(doc_id, spans) → extracted(doc_id, spans ordered).

    Output 'offset' = reading-order rank 0..n-1 (FIXTURES.md §2). Documents
    whose spans are all filtered out do not appear (matching the reference,
    which emits nothing for empty results, predict_system.py:84-88).
    """
    documents = ensure_input_parallelism(documents)
    s = explode_spans(documents)
    s = with_geometry(s)
    s = det_filter(s)
    s = drop_score_filter(s, drop_score)
    s = strip_styles(s)
    return order_and_assemble(s)
