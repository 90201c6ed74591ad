"""The flagship extraction pipeline — PP-Structure recovery path, Spark-first.

Restates the reference dataflow (SURVEY.md §3.2):

    documents → explode spans → geometry (JVM) → det filter P9 (JVM)
    → drop_score P10 (JVM) → style strip P11 (JVM replace chain)
    → mapInArrow kernel in the same stage
      (sorted_boxes O1 + region segmentation D1 + sorted_layout_boxes O2 +
      ordered emission O5, Arrow-native reassembly)
    → extracted (doc_id, spans array<struct<kind,text,media_ref,offset>>)

No payload shuffle: each input row is one whole document, and
``posexplode`` emits its spans together and in ``span_idx`` order, so the
kernel reads every scan partition's exploded spans straight from the map
side (see ``order_and_assemble``). The only exchange an extract can have is
``ensure_input_parallelism``'s round-robin widening of an under-partitioned
scan. The kernel emits fully assembled documents, so no re-aggregation
shuffle follows. It is ``mapInArrow`` (not per-group ``applyInPandas``,
not pandas), and string columns are only ever moved by vectorized Arrow
``take``, never through per-span Python objects. The batch-boundary carry
is operators/grouped.py's, shared with every other per-group operator;
this module owns only the kernel body (``_order_ranks`` + ``_emit_arrow``).

The map-side stages build their expressions as SQL strings
(``selectExpr``, ``where``, one ``F.expr`` each): every PySpark ``Column``
call costs several py4j round trips of query-context bookkeeping, paid in
driver time before the first job (PERF.md, "No shuffle, and a plan built
from SQL strings").
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
    return documents.selectExpr(
        "doc_id", "posexplode(spans) AS (span_idx, span)",
    ).selectExpr(
        "doc_id", "span_idx", "span.kind AS kind", "span.text AS text",
        "span.media_ref AS media_ref", "span.`offset` AS `offset`")


def with_geometry(spans: DataFrame) -> DataFrame:
    """Derive the span box from (kind, text, offset) — geometry.py constants.

    x = offset MOD page_width, y = offset DIV page_width (FIXTURES.md §1);
    extent from kind/text length. Pure JVM expressions.
    """
    x1 = f"`offset` % {G.PAGE_WIDTH}"
    y1 = f"CAST(FLOOR(`offset` / {G.PAGE_WIDTH}) AS INT)"
    h = (f"CASE WHEN kind = 'text' THEN {G.KIND_HEIGHT['text']}"
         f" WHEN kind = 'title' THEN {G.KIND_HEIGHT['title']}"
         f" WHEN kind = 'table' THEN {G.KIND_HEIGHT['table']}"
         f" ELSE {G.KIND_HEIGHT['media']} END")
    tlen = "length(coalesce(text, ''))"
    w = (f"CASE WHEN kind = 'media' THEN {G.KIND_WIDTH_FIXED['media']}"
         f" WHEN kind = 'table' THEN {G.KIND_WIDTH_FIXED['table']}"
         f" WHEN kind = 'title' THEN {G.KIND_WIDTH_FIXED['title']}"
         f" WHEN {tlen} = 0 THEN {G.EMPTY_TEXT_WIDTH}"
         f" ELSE {G.TEXT_WIDTH_BASE} + {tlen} % {G.TEXT_WIDTH_MOD} END")
    return spans.selectExpr("*", f"{x1} AS x1", f"{y1} AS y1",
                            f"{x1} + {w} AS x2", f"{y1} + {h} AS y2")


#: The P9 keep condition as SQL (det_filter, det_keep_predicate).
_DET_KEEP = f"x2 - x1 > {G.MIN_SIDE} AND y2 - y1 > {G.MIN_SIDE}"


def det_keep_predicate():
    """P9 keep condition: every side > 3 px (predict_det.py:209-223)."""
    return F.expr(_DET_KEEP)


def det_filter(spans: DataFrame) -> DataFrame:
    """P9: drop boxes with any side ≤ 3 px (predict_det.py:209-223)."""
    return spans.where(_DET_KEEP)


#: The P10 keep condition as SQL (see drop_score_filter).
_SCORE_KEEP = (
    f"kind != 'text' OR {G.SCORE_BASE_MILLI} + CAST(FLOOR("
    f"(CAST(substring(doc_id, 5) AS LONG) * 7 + span_idx * 173)"
    f" % {G.SCORE_MOD} * {G.SCORE_SPREAD_NUM} / {G.SCORE_SPREAD_DEN})"
    f" AS LONG) >= {int(round(G.DROP_SCORE * G.SCORE_MOD))}")


def drop_score_filter(spans: DataFrame) -> DataFrame:
    """P10: keep text lines iff rec-confidence ≥ G.DROP_SCORE
    (predict_system.py:117-125; confidence analog per geometry.py).

    Integer milli-score comparison so the 0.500 boundary is exact.

    The did parse is deliberately coupled to the synth corpus's
    'doc_<number>' ids: the score is a deterministic stand-in for a model
    confidence that in production arrives as its own column — this
    expression is the fixture, not a general doc_id contract.
    """
    return spans.where(_SCORE_KEEP)


def score_keep_predicate():
    """P10 keep condition as a reusable Column (see drop_score_filter)."""
    return F.expr(_SCORE_KEEP)


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
    chain = "text"
    for tok in STYLE_TOKENS:   # no token holds a quote or a backslash
        chain = f"replace({chain}, '{tok}', '')"
    # exact short-circuit: every token contains '<', so a text without
    # '<' is a fixed point of the whole chain (~70% of spans on the synth
    # corpus, more on real web text). Measured at 8 cores on a 775k-span
    # corpus: chain 1.60 s, old single-pass regexp 1.88 s, guarded chain
    # 1.53 s — the literal chain beats the regex engine even unguarded.
    return spans.withColumn("text", F.expr(
        f"CASE WHEN instr(text, '<') = 0 THEN text ELSE {chain} END"))


def _order_ranks(doc_codes, kind_codes, text_code, kind_dict,
                 x1, y1, x2, y2):
    """Per-document reading-order resolution over a run of spans.

    Args are aligned arrays grouped by document (all rows of a doc
    contiguous in ``doc_codes``), in ``span_idx`` order within; kinds arrive
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


def _check_runs(doc_dict, doc_codes, span_idx, starts) -> None:
    """The kernel's input precondition: each document is one run of rows,
    in increasing ``span_idx`` order. Without a shuffle in front of the
    kernel, a ``doc_id`` held by two input rows would otherwise come out as
    two documents (two runs) or one interleaved document (one run)."""
    if len(starts) != len(doc_dict):
        codes, counts = np.unique(doc_codes[starts], return_counts=True)
        code, what = codes[counts > 1][0], "comes as two runs of spans"
    else:
        bad = np.flatnonzero((doc_codes[1:] == doc_codes[:-1])
                             & (span_idx[1:] <= span_idx[:-1]))
        if not bad.size:
            return
        code, what = doc_codes[bad[0]], "has a span_idx that does not increase"
    raise ValueError(f"doc_id {doc_dict[int(code)].as_py()!r} {what}: "
                     "two input rows share it")


def _emit_arrow(tbl: "pa.Table"):
    """Assemble one run of complete documents into an Arrow RecordBatch of
    (doc_id, spans) — all column movement via vectorized Arrow take and
    dictionary codes; the only per-span Python objects are the kind
    strings of documents on the exact-kernel slow path. Raises
    ``ValueError`` naming the ``doc_id`` when a document is not one run in
    ``span_idx`` order (``_check_runs``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    doc_col = tbl.column("doc_id").combine_chunks()
    kind_col = tbl.column("kind").combine_chunks()
    doc_enc = doc_col.dictionary_encode()
    doc_codes = np.asarray(doc_enc.indices)
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
    _check_runs(doc_enc.dictionary, doc_codes,
                tbl.column("span_idx").to_numpy(), starts)

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
    """mapInArrow body: the batches of one scan partition arrive with each
    document's spans contiguous and in ``span_idx`` order;
    grouped.carry_groups carries the last (possibly incomplete) document of
    each batch into the next before ``_emit_arrow`` assembles a run of
    complete documents."""
    from .operators.grouped import carry_groups

    yield from carry_groups(it, ["doc_id"], _emit_arrow)


def order_and_assemble(spans: DataFrame) -> DataFrame:
    """Reading-order resolution + document re-assembly, in the scan's own
    stage: no Exchange, no Sort.

    Each input row of ``extract`` is one whole document, and ``posexplode``
    plus the map-side filters keep its spans together and in ``span_idx``
    order within their partition. That is all the kernel needs, so it
    streams each partition's spans straight into ``mapInArrow`` over
    ``_assemble_arrow``, and the Python stage is as wide as the scan
    (``ensure_input_parallelism`` widens an under-partitioned one). The
    reference and ``oracle.extract_pandas`` also order each input document
    by itself; a ``doc_id`` held by two input rows raises in the kernel
    (``_check_runs``) rather than being merged.

    ``mapInArrow`` over whole Arrow batches, not
    ``groupBy(doc_id).applyInPandas``: per-group applyInPandas pays Arrow
    slicing + pandas construction per document — ruinous for web-scale
    corpora of small docs (40k docs/task at sf0.1 ⇒ the Python stage
    dominated wall time ~2×).
    """
    return spans.selectExpr(
        "doc_id", "span_idx", "kind", "text", "media_ref",
        "x1", "y1", "x2", "y2").mapInArrow(
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


def extract(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → extracted(doc_id, spans ordered).

    Output 'offset' = reading-order rank 0..n-1 (FIXTURES.md §2). Documents
    whose spans are all filtered out do not appear (matching the reference,
    which emits nothing for empty results, predict_system.py:84-88).
    """
    documents = ensure_input_parallelism(documents)
    s = explode_spans(documents)
    s = with_geometry(s)
    s = det_filter(s)
    s = drop_score_filter(s)
    s = strip_styles(s)
    return order_and_assemble(s)
