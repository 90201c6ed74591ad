"""The flagship extraction pipeline — PP-Structure recovery path, Spark-first.

Restates the reference dataflow (SURVEY.md §3.2):

    documents → explode spans → geometry → det filter P9
    → drop_score P10 → style strip P11
    → reading order (sorted_boxes O1 + region segmentation D1 +
      sorted_layout_boxes O2 + ordered emission O5, Arrow-native
      reassembly)
    → extracted (doc_id, spans array<struct<kind,text,media_ref,offset>>)

``extract`` runs all of it in one ``mapInArrow`` over the scan's own
``(doc_id, spans)`` rows: each input row is one whole document and an
Arrow batch holds whole rows, so every batch holds whole documents. The
kernel flattens each batch's spans and runs the explode, the geometry and
P9–P11 in numpy and ``pyarrow.compute`` (``_kept_spans``), then orders
and re-assembles them (``_order_ranks`` + ``_emit_arrow``). Each kept
span is keyed to its document by its input row, not by its ``doc_id``,
so a repeated or NULL ``doc_id`` is one more document in every input
layout, as in the reference and ``oracle.extract_pandas``. No JVM
``Generate``, no per-span ``doc_id`` copy, no batch-boundary carry, no
shuffle: the only exchange an extract can have is
``ensure_input_parallelism``'s round-robin widening of an
under-partitioned scan. String columns are only ever moved by vectorized
Arrow kernels, never through per-span Python objects (PERF.md,
"Whole-document kernel").

The same prefix also exists as JVM SQL stages (``explode_spans`` …
``strip_styles``), which the registry chain (``registry.DEFAULT_CONFIG``)
and the secondary queries run; ``order_and_assemble`` is its kernel over
exploded spans, through operators/grouped.py's batch-boundary carry; it
finds documents by ``doc_id`` and raises when two input rows share one
(``_check_runs``). A differential test holds the two prefixes equal row
for row. The JVM stages build their expressions as SQL strings
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
from .kernels import STYLE_TOKENS, order_document

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
    in increasing ``span_idx`` order. Codes number documents in order of
    first appearance, so the runs are distinct documents exactly when
    their start codes strictly increase. On ``extract``'s path the codes
    are input rows and neither check can fire; on the registry chain's
    exploded input, a ``doc_id`` held by two input rows would otherwise
    come out as two documents (two runs) or one interleaved document."""
    first = doc_codes[starts]
    bad = np.flatnonzero(first[1:] <= first[:-1])
    if bad.size:
        code, what = first[bad[0] + 1], "comes as two runs of spans"
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
    strings of documents on the exact-kernel slow path. The documents are
    the codes of ``doc_id``: a dictionary column (``extract``'s, coded by
    input row) keeps its codes, and a plain one (the registry chain's) is
    encoded here, a NULL id taking a code of its own. Raises
    ``ValueError`` naming the ``doc_id`` when a document is not one run in
    ``span_idx`` order (``_check_runs``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    doc_col = tbl.column("doc_id").combine_chunks()
    kind_col = tbl.column("kind").combine_chunks()
    doc_enc = pc.dictionary_encode(doc_col, null_encoding="encode")
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
    doc_ids = doc_enc.dictionary.take(doc_codes[starts])
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
    """Reading-order resolution + document re-assembly over exploded spans
    (the registry chain's last stage), in their own stage: no Exchange,
    no Sort.

    When each input row of the chain is one whole document, ``posexplode``
    plus the map-side filters keep its spans together and in ``span_idx``
    order within their partition. That is all the kernel needs, so it
    streams each partition's spans straight into ``mapInArrow`` over
    ``_assemble_arrow``; an Arrow batch here counts spans, so a document
    can straddle two batches and ``grouped.carry_groups`` carries it. The
    reference and ``oracle.extract_pandas`` also order each input document
    by itself, but exploded spans carry no input row: here a ``doc_id``
    held by two input rows raises in the kernel (``_check_runs``) rather
    than being merged. ``extract`` runs the same ``_emit_arrow`` over
    whole-document batches instead, keyed on the input row.

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


#: ``with_geometry``'s kinds, in the order of the box tables below; a
#: null or unknown kind takes the last slot, its CASEs' ELSE branches
#: (as tall as media, as wide as text).
_KINDS = ["text", "title", "table", "media"]
_KIND_HEIGHT = np.array([G.KIND_HEIGHT[k] for k in _KINDS]
                        + [G.KIND_HEIGHT["media"]])
_KIND_WIDTH = np.array([G.KIND_WIDTH_FIXED.get(k, 0) for k in _KINDS] + [0])

#: The JVM half of P10: the number a ``doc_<number>`` id carries, or NULL
#: (``drop_score_filter`` casts it inside the filter and raises there).
_DID = "try_cast(substring(doc_id, 5) AS BIGINT) AS did"

#: ``did`` bounds within which ``did * 7`` fits a BIGINT.
_DID_MIN, _DID_MAX = -(2 ** 63 // 7), (2 ** 63 - 1) // 7


def _strip_styles_arrow(text):
    """P11 over an Arrow string array: ``strip_styles``' sequential replace
    chain in ``STYLE_TOKENS`` order, run only on the texts that hold a
    '<' (the same exact short-cut)."""
    import pyarrow.compute as pc

    styled = pc.fill_null(pc.match_substring(text, "<"), False)
    sub = text.filter(styled)
    for tok in STYLE_TOKENS:
        sub = pc.replace_substring(sub, pattern=tok, replacement="")
    return pc.replace_with_mask(text, styled, sub)


def _score_keep(doc_id, did, rows, span_idx):
    """P10's keep condition for the spans of input ``rows`` that need a
    score: ``drop_score_filter``'s integer milli-score over ``did * 7 +
    span_idx * 173``, false where the ``doc_id`` is NULL (a NULL score).
    Raises ``ValueError`` naming the ``doc_id`` where Spark's cast or its
    BIGINT / INT arithmetic raises (``CAST_INVALID_INPUT``,
    ``ARITHMETIC_OVERFLOW``)."""
    has_did = did.is_valid().to_numpy(zero_copy_only=False)[rows]
    has_doc = doc_id.is_valid().to_numpy(zero_copy_only=False)[rows]
    d = did.fill_null(0).to_numpy()[rows]
    b = span_idx.astype(np.int64) * 173
    bad = has_doc & ~has_did
    what = "has no number after its first 4 characters"
    if not bad.any():
        over = (d < _DID_MIN) | (d > _DID_MAX) | (b > np.iinfo(np.int32).max)
        d = np.where(over, 0, d)
        bad = over | (d * 7 > np.iinfo(np.int64).max - b)
        what = "overflows BIGINT in its P10 score"
    if bad.any():
        row = int(rows[np.flatnonzero(bad)[0]])
        raise ValueError(f"doc_id {doc_id[row].as_py()!r} {what}")
    smod = np.fmod(d * 7 + b, G.SCORE_MOD)
    milli = G.SCORE_BASE_MILLI + (smod * G.SCORE_SPREAD_NUM
                                  // G.SCORE_SPREAD_DEN)
    return has_did & (milli >= int(round(G.DROP_SCORE * G.SCORE_MOD)))


def _kept_spans(batch):
    """The map-side prefix of ``extract`` over one Arrow batch of whole
    documents ``(doc_id, spans, did)``: explode, geometry, P9, P10 and the
    P11 strip, with the JVM stages' semantics (``explode_spans`` …
    ``strip_styles``). Returns the kernel's input table, its rows in
    document and ``span_idx`` order, or ``None`` when no span is kept.
    Its ``doc_id`` is a dictionary column over the batch's ``doc_id``s
    whose codes are the spans' input rows: the kernel's document key,
    with no per-span string copy.

    Spark's semantics, kept: a NULL or empty ``spans`` explodes to
    nothing, and a NULL span (``StructArray.flatten`` applies the parent's
    nulls) or a NULL ``offset`` fails P9; ``%`` is Java's remainder
    (``np.fmod``) and ``FLOOR(offset / w)`` floor division; ``length``
    counts code points, as ``utf8_length`` does; a NULL or unknown kind
    takes the CASEs' ELSE branches, and a NULL kind needs P10's score."""
    import pyarrow as pa
    import pyarrow.compute as pc

    doc_id = batch.column("doc_id")
    spans = batch.column("spans")
    # list_parent_indices would count the slots under a NULL list, which
    # list_flatten skips; the lengths count exactly what it emits
    lengths = pc.fill_null(pc.list_value_length(spans), 0).to_numpy()
    flat = pc.list_flatten(spans)
    if not len(flat):
        return None
    col = dict(zip([f.name for f in flat.type], flat.flatten()))
    kind, text, offset = col["kind"], col["text"], col["offset"]
    parent = np.repeat(np.arange(len(lengths)), lengths)
    span_idx = np.arange(len(flat)) - np.repeat(
        np.cumsum(lengths) - lengths, lengths)

    code = pc.fill_null(pc.index_in(kind, value_set=pa.array(_KINDS)),
                        len(_KINDS)).to_numpy()
    tlen = pc.fill_null(pc.utf8_length(text), 0).to_numpy()
    w = np.where(tlen == 0, G.EMPTY_TEXT_WIDTH,
                 G.TEXT_WIDTH_BASE + tlen % G.TEXT_WIDTH_MOD)
    w = np.where(_KIND_WIDTH[code] > 0, _KIND_WIDTH[code], w)
    off = offset.fill_null(0).to_numpy()
    x1 = np.fmod(off, G.PAGE_WIDTH)
    y1 = off // G.PAGE_WIDTH
    x2, y2 = x1 + w, y1 + _KIND_HEIGHT[code]
    keep = (offset.is_valid().to_numpy(zero_copy_only=False)
            & (x2 - x1 > G.MIN_SIDE) & (y2 - y1 > G.MIN_SIDE))      # P9

    scored = np.flatnonzero(
        keep & ((code == 0) | kind.is_null().to_numpy(zero_copy_only=False)))
    keep[scored] = _score_keep(doc_id, batch.column("did"), parent[scored],
                               span_idx[scored])                     # P10
    idx = np.flatnonzero(keep)
    if not idx.size:
        return None
    take = pa.array(idx)
    return pa.table({
        "doc_id": pa.DictionaryArray.from_arrays(parent[idx], doc_id),
        "span_idx": span_idx[idx].astype(np.int32),
        "kind": kind.take(take),
        "text": _strip_styles_arrow(text.take(take)),                 # P11
        "media_ref": col["media_ref"].take(take),
        "x1": x1[idx].astype(np.int32), "y1": y1[idx].astype(np.int32),
        "x2": x2[idx].astype(np.int32), "y2": y2[idx].astype(np.int32),
    })


def _extract_arrow(it):
    """mapInArrow body of ``extract``: each batch holds whole documents,
    so ``_kept_spans`` and ``_emit_arrow`` run on it alone, with no carry
    into the next batch."""
    for batch in it:
        tbl = _kept_spans(batch)
        if tbl is not None:
            yield _emit_arrow(tbl)


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

    One ``mapInArrow`` over the scan's own rows plus P10's ``did``, in the
    scan's stage (``_extract_arrow``). Its Arrow batches hold whole
    documents, so ``spark.sql.execution.arrow.maxRecordsPerBatch`` counts
    documents here, not spans. Each input row is its own document: a
    ``doc_id`` held by several rows, NULL included, comes out once per
    row in any input layout. A text span whose score Spark could not
    compute raises (``_score_keep``).
    """
    documents = ensure_input_parallelism(documents)
    return documents.selectExpr("doc_id", "spans", _DID).mapInArrow(
        _extract_arrow, schema=EXTRACTED_SCHEMA)
