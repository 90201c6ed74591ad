"""Recognition-analog stages: R1/R2/R3 (sort-to-batch Arrow map + CTC
decode) and the R4 decoder demos.

The reference's recognizer (tools/infer/predict_rec.py:393-633) sorts crops
by aspect ratio so same-batch crops share padded width (argsort :396-400),
runs the model in batches of 6, CTC-decodes
(ppocr/postprocess/rec_postprocess.py:157-185), and scatters results back by
index. The classifier (tools/infer/predict_cls.py:74-122) is the same shape
plus a conditional 180° flip when label=='180' and score>0.9.

Spark restatement:

* the "model input" is a deterministic CTC id-sequence encoding of the span
  text (charset lookup + duplicate/blank injection) built with JVM
  higher-order functions — the stand-in for the Paddle tensor;
* ``sortWithinPartitions(aspect)`` is the sort-to-batch trick — NO shuffle,
  it only reorders rows inside each partition so Arrow batches handed to the
  Python worker have uniform width (padding-minimization at scale);
* one per-row Arrow stage (``operators.grouped.map_rows``) decodes
  whole Arrow batches through the shared
  :func:`paddleocr_spark.kernels.ctc_decode` kernel (never per-row
  Python UDFs);
* results carry their ``(doc_id, span_idx)`` keys — order is restored by
  key, never by row position (SURVEY.md J3: we do not rely on zip order).

Round-trip contract: ``decode(encode(text)) == text`` exactly, score 1.0
(0.0 for empty text — the reference's conf_list=[0] fallback), which makes
the stage oracle-checkable end to end.

R4: the 13 other decoder families of rec_postprocess.py (Attn, SAR, NRTR,
ViTSTR, SRN, RFL, SEED, SATRN, PREN, ABINet, SPIN, VL, CAN), each a pure
JVM projection (``*_decode``) twinned by a ``kernels.*_label_decode``
kernel and a DuckDB query in ``entry_queries.oracle_sql()``. Each demo
feeds its decoder a deterministic "model output" id stream built from
the document text. The streams are data, written once in
:data:`STREAMS` and rendered into Spark SQL here (:func:`_text_ids`) and
into DuckDB SQL in ``oracle_sql()``; each engine's decode walk over the
stream (eos cut, ignored ids, negative wrap, dictionary lookup) stays
hand-written, since that walk is what the twin checks. The tests spell
the same streams a third time as Python lists: a renderer that drifts
from the table's meaning fails there, even when both engines agree.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import ctc_decode
from .grouped import map_rows

#: Recognition charset (id 0 is the CTC blank; charset[i] maps id i+1 —
#: ppocr/postprocess/rec_postprocess.py:42-62 plus use_space_char ' ').
CHARSET = (
    "abcdefghijklmnopqrstuvwxyz0123456789"
    ".,;:!?'\"()<>/-_=+*&%$#@[]{}|\\^~` "
)

REC_SCHEMA = ("doc_id string, span_idx long, rec_text string, "
              "rec_score double")

#: CHARSET escaped for a SQL single-quoted literal.
_CS = CHARSET.replace("\\", "\\\\").replace("'", "\\'")


#: Segment markers of a decoder demo's id stream (:data:`STREAMS`): the
#: encoded text, and the encoded first two characters of the text.
BODY, HEAD2 = "BODY", "HEAD2"


class Every(NamedTuple):
    """A stream segment: ``id``, emitted only when ``doc_id % k = 0``."""
    k: int
    id: int


class IdStream(NamedTuple):
    """One decoder demo's "model output". A charset char encodes to its
    1-based CHARSET position plus ``shift``, any other char to
    ``unknown``; ``segments`` are, in order, BODY, HEAD2, a literal id
    or an :class:`Every`."""
    unknown: int
    shift: int
    segments: tuple


_N = len(CHARSET)

#: The R4 decoder demos' id streams, by family; each decoder's docstring
#: says what every segment exercises. The ids ``_N + 21`` and up lie
#: past their family's dictionary.
STREAMS = {
    "attn": IdStream(0, 0, (0, BODY, _N + 1, HEAD2)),
    "sar": IdStream(_N, -1, (Every(5, _N + 1), BODY, _N + 2, _N + 1,
                             HEAD2)),
    "nrtr": IdStream(1, 3, (Every(4, 2), BODY, Every(2, 0), Every(7, -1),
                            _N + 24, 3, HEAD2)),
    "vitstr": IdStream(_N + 22, 1, (2, Every(4, 0), BODY, Every(7, -1),
                                    1, HEAD2)),
    "srn": IdStream(_N, -1, (Every(5, _N + 1), BODY, Every(3, _N), _N + 1,
                             HEAD2, Every(7, -1))),
    "rfl": IdStream(0, 0, (Every(5, _N + 1), BODY, Every(3, 0), _N + 1,
                           HEAD2, Every(7, -1))),
    "seed": IdStream(_N + 2, -1, (BODY, Every(3, _N + 1), Every(7, -1), _N,
                                  HEAD2)),
    "satrn": IdStream(_N, -1, (Every(5, _N + 1), BODY, Every(7, -1),
                               _N + 1, HEAD2)),
    "pren": IdStream(2, 2, (Every(3, 0), BODY, Every(7, -1), 1, HEAD2)),
    "abinet": IdStream(_N + 21, 0, (BODY, Every(7, -1), 0, HEAD2)),
    "spin": IdStream(0, 1, (Every(5, 1), BODY, Every(3, 0), 1, HEAD2,
                            Every(7, -1))),
    "vl": IdStream(_N + 30, 0, (BODY, 0, HEAD2)),
    "can": IdStream(_N - 1, -1, (BODY, 0, HEAD2)),
}


def _text_ids(family: str) -> str:
    """``STREAMS[family]`` as Spark SQL over ``doc_id`` and ``text``.
    ``filter(c != '')`` guards the empty-text edge: split('', '') yields
    [''] and Spark's instr(s, '') is 1, which would fabricate a char
    id."""
    s = STREAMS[family]

    def enc(src: str) -> str:
        return (f"transform(filter(split({src}, ''), c -> c != ''), "
                f"c -> CASE WHEN instr('{_CS}', c) = 0 THEN {s.unknown} "
                f"ELSE instr('{_CS}', c) + {s.shift} END)")
    text = {BODY: enc("coalesce(text, '')"),
            HEAD2: enc("substring(coalesce(text, ''), 1, 2)")}

    def seg(x) -> str:
        if x in text:
            return text[x]
        if isinstance(x, Every):
            return (f"CASE WHEN doc_id % {x.k} = 0 THEN array({x.id}) "
                    f"ELSE array() END")
        return f"array({x})"
    return f"concat({', '.join(map(seg, s.segments))})"


def _with_ids(docs: DataFrame, family: str) -> DataFrame:
    return docs.withColumn("_ids", F.expr(_text_ids(family)))


def ctc_encode_expr(text_col: str = "text"):
    """CTC id sequence for a text column, as a pure JVM expression.

    Per char c (1-based id = position in CHARSET): emit the id twice
    (simulating the model dwelling two timesteps per glyph) and append a
    blank (0) after every char — blanks between repeats are exactly what
    CTC decoding needs to preserve doubled letters. Unknown chars map to
    blank and vanish on decode (the reference drops out-of-dict chars,
    rec_postprocess.py:58-61 'unsupport type' path).
    """
    return F.expr(
        f"flatten(transform(split(coalesce({text_col}, ''), ''), "
        f"c -> array(instr('{_CS}', c), instr('{_CS}', c), 0)))")


def _decode_row(doc_id, span_idx, ids, _aspect) -> list:
    return [(doc_id, span_idx, *ctc_decode(ids, None, list(CHARSET)))]


def recognize(spans: DataFrame) -> DataFrame:
    """R2+R3: encode (JVM) → sort-to-batch → Arrow-batched CTC decode.

    Input needs (doc_id, span_idx, text, x1, x2, y1, y2); aspect = w/h drives
    the within-partition sort (predict_rec.py:396-400 argsort analog).
    """
    enc = spans.select(
        "doc_id", F.col("span_idx").cast("long").alias("span_idx"),
        ctc_encode_expr("text").alias("ids"),
        ((F.col("x2") - F.col("x1"))
         / F.greatest(F.col("y2") - F.col("y1"), F.lit(1))).alias("aspect"))
    return map_rows(enc.sortWithinPartitions("aspect"), _decode_row,
                    REC_SCHEMA)


def classify_rotate(rec: DataFrame, cls_thresh: float = 0.9) -> DataFrame:
    """R1 TextClassifier analog: flip iff label=='180' and score > thresh
    (predict_cls.py:112-122). The deterministic "classifier" labels a span
    '180' when its md5 first hex digit is 0 (≈1/16 of spans); the flip is
    string reversal (the 1-D stand-in for the 180° image rotation).
    """
    label = F.when(
        F.expr("substring(md5(concat(doc_id, ':', span_idx)), 1, 1)") == "0",
        F.lit("180")).otherwise(F.lit("0"))
    score = F.lit(0.95)
    return rec.select(
        "doc_id", "span_idx",
        F.when((label == "180") & (score > cls_thresh),
               F.reverse("rec_text")).otherwise(F.col("rec_text"))
        .alias("rec_text"),
        "rec_score",
        label.alias("cls_label"))


def orient4(docs: DataFrame) -> DataFrame:
    """4-way image-orientation stage (ppstructure/predict_system.py:94-108).

    The reference's PULC text_image_orientation classifier predicts one of
    0/90/180/270 and the page is rotated back upright before layout/OCR.
    1-D text stand-in: the deterministic "scanner rotation" distorts the
    pristine text (90° = rotate chars right by one, 180° = reverse,
    270° = rotate left by one), the classifier label derives from the same
    md5 digit the distortion used (a 100%-accurate classifier, like the
    reference's 99%-acc PULC model on its own benchmark), and the
    correction applies the inverse rotation — so corrected == original,
    which is what the oracle hash pins.

    Input (doc_id bigint, text); output (doc_id, angle, corrected).
    """
    cls = F.expr("(instr('0123456789abcdef', "
                 "substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) % 4")
    t = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(t)
    short = n <= 1
    rot_r = F.concat(F.substring(t, -1, 1), F.expr(
        "substring(coalesce(text, ''), 1, length(coalesce(text, '')) - 1)"))
    rot_l = F.concat(F.expr("substring(coalesce(text, ''), 2)"),
                     F.substring(t, 1, 1))
    oriented = (F.when(short, t)
                .when(cls == 1, rot_r)
                .when(cls == 2, F.reverse(t))
                .when(cls == 3, rot_l)
                .otherwise(t))
    df = docs.select("doc_id", cls.alias("cls"), oriented.alias("otext"))
    ot = F.col("otext")
    on = F.length(ot)
    oshort = on <= 1
    un_r = F.concat(F.expr("substring(otext, 2)"), F.substring(ot, 1, 1))
    un_l = F.concat(F.substring(ot, -1, 1),
                    F.expr("substring(otext, 1, length(otext) - 1)"))
    corrected = (F.when(oshort, ot)
                 .when(F.col("cls") == 1, un_r)
                 .when(F.col("cls") == 2, F.reverse(ot))
                 .when(F.col("cls") == 3, un_l)
                 .otherwise(ot))
    angle = F.expr("element_at(array('0', '90', '180', '270'), "
                   "CAST(cls AS INT) + 1)")
    return df.select("doc_id", angle.alias("angle"),
                     corrected.alias("corrected"))


def attn_decode(docs: DataFrame) -> DataFrame:
    """R4 AttnLabelDecode demo (kernels.attn_label_decode twin, pure JVM).

    Deterministic "model output": ids = [sos] + encode(text) + [eos] +
    encode(first-2-chars) — the tail after eos DECODES TOO (the reference's
    break-at-eos is dead code: eos sits in ignored_tokens and the continue
    precedes the break, rec_postprocess.py:484-489). Unknown chars encode
    to id 0 (= sos) and vanish. Output: (doc_id, attn_text) =
    charset-filtered text followed by its charset-filtered first 2 chars.
    """
    eos = len(CHARSET) + 1
    decoded = (f"concat_ws('', transform(filter(_ids, "
               f"i -> i != 0 AND i != {eos}), "
               f"i -> substring('{_CS}', CAST(i AS INT), 1)))")
    return _with_ids(docs, "attn").select(
        "doc_id", F.expr(decoded).alias("attn_text"))


def sar_decode(docs: DataFrame) -> DataFrame:
    """R4 second decoder: SARLabelDecode demo (kernels.sar_label_decode
    twin, pure JVM).

    Deterministic "model output" over the SAR dictionary (CHARSET +
    [<UKN>, <BOS/EOS>, <PAD>], 0-based): every 5th doc prepends an eos at
    index 0 (SKIPPED — the text_prob-is-None branch), then
    encode(text) + [pad, eos] + encode(first 2 chars). Unlike the Attn
    twin, the post-eos tail must NOT decode (SAR's break is live), pad is
    dropped, and characters outside CHARSET decode to the literal
    '<UKN>' marker (a real dictionary entry in SAR).
    Output: (doc_id, sar_text).
    """
    n = len(CHARSET)
    ukn, eos, pad = n, n + 1, n + 2
    # first eos at a 1-based position >= 2 breaks; pad and a position-1
    # eos are dropped; remaining ids map to chars or the '<UKN>' marker
    p = f"array_position(slice(_ids, 2, size(_ids) - 1), {eos})"
    cut = f"(CASE WHEN {p} > 0 THEN {p} ELSE size(_ids) END)"
    kept = (f"filter(transform(sequence(1, {cut}), "
            f"i -> element_at(_ids, CAST(i AS INT))), "
            f"v -> v != {pad} AND v != {eos})")
    decoded = (f"concat_ws('', transform({kept}, "
               f"v -> CASE WHEN v = {ukn} THEN '<UKN>' "
               f"ELSE substring('{_CS}', CAST(v + 1 AS INT), 1) END))")
    return (_with_ids(docs, "sar")
            .select("doc_id", F.expr(decoded).alias("sar_text")))


def nrtr_decode(docs: DataFrame) -> DataFrame:
    """R4 fourth decoder family: NRTRLabelDecode demo
    (kernels.nrtr_label_decode twin, pure JVM).

    Dict layout ['blank', '<unk>', '<s>', '</s>'] + CHARSET → a charset
    char's id is instr+3; blank/unk/sos are REAL decodable entries (NRTR
    has no ignored tokens) and eos (3) breaks at any position (live,
    unlike Attn's dead break).

    Deterministic "model output" exercising every quirk: every 4th doc
    prepends sos (decodes to the literal '<s>' — the un-stripped path of
    __call__'s preds_id[0][0]==2 batch check); body = encode(text) with
    out-of-dict chars → '<unk>'; every 2nd doc appends blank (the literal
    'blank' joins the text); every 7th doc appends id -1 (Python wrap →
    LAST dict char); an always-present out-of-range id is silently
    skipped (the bare-except quirk); then eos + encode(first 2 chars),
    which must NOT decode. Output: (doc_id, nrtr_text).
    """
    big = len(CHARSET) + 4          # dict size: one past the last index
    p = "array_position(_ids, 3)"
    cut = f"(CASE WHEN {p} > 0 THEN {p} - 1 ELSE size(_ids) END)"
    # negative ids wrap once (v + dict_size); anything still outside
    # [0, dict_size) is the bare-except skip
    kept = (f"filter(transform(slice(_ids, 1, CAST({cut} AS INT)), "
            f"v -> CASE WHEN v < 0 THEN v + {big} ELSE v END), "
            f"v -> v >= 0 AND v < {big})")
    decoded = (f"concat_ws('', transform({kept}, "
               f"v -> CASE WHEN v = 0 THEN 'blank' WHEN v = 1 THEN '<unk>' "
               f"WHEN v = 2 THEN '<s>' "
               f"ELSE substring('{_CS}', CAST(v - 3 AS INT), 1) END))")
    return (_with_ids(docs, "nrtr")
            .select("doc_id", F.expr(decoded).alias("nrtr_text")))


def vitstr_decode(docs: DataFrame) -> DataFrame:
    """R4 fifth decoder family, part 1: ViTSTRLabelDecode demo
    (kernels.vitstr_label_decode twin, pure JVM).

    Dict layout ['<s>', '</s>'] + CHARSET (rec_postprocess.py:1123-1125)
    → a charset char's id is instr+1; eos is id 1 (not NRTR's 3) and
    __call__ DROPS time-step 0 before decoding (preds[:, 1:],
    :1110-1114).

    Deterministic "model output": element 0 is always a real charset id
    (id 2 = the first charset char) — it must VANISH via the column
    drop, not decode; every 4th doc then carries sos (the literal '<s>'
    — no ignored tokens, NRTR's inherited walk); body = encode(text)
    with out-of-dict chars mapped out-of-range (bare-except skip);
    every 7th doc appends id -1 (Python wrap → LAST dict char); then
    eos + encode(first 2 chars), which must NOT decode (live break).
    Output: (doc_id, vitstr_text).
    """
    big = len(CHARSET) + 2          # dict size: one past the last index
    # the [:, 1:] drop happens FIRST, then the break scan
    dropped = "slice(_ids, 2, size(_ids) - 1)"
    p = f"array_position({dropped}, 1)"
    cut = f"(CASE WHEN {p} > 0 THEN {p} - 1 ELSE size({dropped}) END)"
    kept = (f"filter(transform(slice({dropped}, 1, CAST({cut} AS INT)), "
            f"v -> CASE WHEN v < 0 THEN v + {big} ELSE v END), "
            f"v -> v >= 0 AND v < {big})")
    decoded = (f"concat_ws('', transform({kept}, "
               f"v -> CASE WHEN v = 0 THEN '<s>' "
               f"ELSE substring('{_CS}', CAST(v - 1 AS INT), 1) END))")
    return (_with_ids(docs, "vitstr")
            .select("doc_id", F.expr(decoded).alias("vitstr_text")))


def srn_decode(docs: DataFrame) -> DataFrame:
    """R4 fifth decoder family, part 2: SRNLabelDecode demo
    (kernels.srn_label_decode twin, pure JVM).

    Dict layout CHARSET + ['<BOS>', '<EOS>'] (add_special_char appends
    at the END, rec_postprocess.py:770-772) → a charset char's id is
    instr-1, beg = n, end = n+1, ignored = BOTH, and decode has NO
    break statement (:742-768) — the family's signature.

    Deterministic "model output": every 5th doc prepends end; body =
    encode(text) with out-of-dict chars mapped to beg (skipped, the
    Attn-style vanish); every 3rd doc inserts a mid-stream beg; then a
    mid-stream END + encode(first 2 chars) — which, uniquely among the
    five families, DOES decode (eos never breaks); every 7th doc
    appends id -1, which is NOT ignored and wraps Python-style to the
    LITERAL '<EOS>' marker string joining the text.
    Output: (doc_id, srn_text).
    """
    n = len(CHARSET)
    beg, end = n, n + 1
    decoded = (f"concat_ws('', transform(filter(_ids, "
               f"v -> v != {beg} AND v != {end}), "
               f"v -> CASE WHEN v = -1 THEN '<EOS>' "
               f"ELSE substring('{_CS}', CAST(v + 1 AS INT), 1) END))")
    return (_with_ids(docs, "srn")
            .select("doc_id", F.expr(decoded).alias("srn_text")))


def rfl_decode(docs: DataFrame) -> DataFrame:
    """R4 seventh decoder family: RFLLabelDecode demo
    (kernels.rfl_label_decode / rfl_cnt_length twins, pure JVM).

    Seq branch: Attn's exact walk over the same ['sos'] + CHARSET +
    ['eos'] layout (both specials ignored anywhere, the break at eos
    DEAD, id -1 wrapping to the literal 'eos'). The family's signature
    is the COUNTING branch (rec_postprocess.py:601-607): a cnt head's
    per-step floats sum to a predicted length via Python round() —
    BANKER'S rounding, which this demo exercises with exact 0.25-step
    sums (x.5 ties go to the even neighbor; a SQL half-away ROUND would
    drift on every odd-floor tie).

    Deterministic "model output": every 5th doc prepends eos (skipped,
    dead break); body = encode(text) with out-of-dict chars → sos
    (skipped); every 3rd doc inserts a mid-stream sos; then eos +
    encode(first 2 chars) — which DOES decode; every 7th doc appends
    id -1 → the literal 'eos' joins the text. cnt lens: step k of
    length(text) contributes ((doc_id + k) % 5) * 0.25.
    Output: (doc_id, rfl_text, rfl_cnt_len).
    """
    n = len(CHARSET)
    end = n + 1
    decoded = (f"concat_ws('', transform(filter(_ids, "
               f"v -> v != 0 AND v != {end}), "
               f"v -> CASE WHEN v = -1 THEN 'eos' "
               f"ELSE substring('{_CS}', CAST(v AS INT), 1) END))")
    # banker's round of an exact multiple of 0.25 — spelled out as CASE
    # so Spark and DuckDB share one rounding definition (kernel twin:
    # rfl_cnt_length)
    # sequence(1, 0) would yield [1, 0] (Spark steps DOWN when start >
    # stop) — filter a 0-anchored ascending sequence instead so zero-
    # length text sums to exactly 0.0 like DuckDB's empty generate_series
    s = ("aggregate(filter(sequence(0, length(coalesce(text, ''))), "
         "k -> k > 0), CAST(0.0 AS DOUBLE), "
         "(acc, k) -> acc + ((doc_id + k) % 5) * 0.25D)")
    cnt = (f"CAST((CASE WHEN {s} - floor({s}) < 0.5 THEN floor({s}) "
           f"WHEN {s} - floor({s}) > 0.5 THEN floor({s}) + 1 "
           f"WHEN CAST(floor({s}) AS BIGINT) % 2 = 0 THEN floor({s}) "
           f"ELSE floor({s}) + 1 END) AS BIGINT)")
    return (_with_ids(docs, "rfl")
            .select("doc_id", F.expr(decoded).alias("rfl_text"),
                    F.expr(cnt).alias("rfl_cnt_len")))


def seed_decode(docs: DataFrame) -> DataFrame:
    """R4 eighth decoder family: SEEDLabelDecode demo
    (kernels.seed_label_decode twin, pure JVM).

    Dict layout CHARSET + ['eos', 'padding', 'unknown'] → a charset
    char's id is instr-1, eos = n. Signature: eos BREAKS anywhere (live)
    but there is NO ignored-token skip — 'padding' (n+1) and 'unknown'
    (n+2) decode as LITERAL dictionary strings, and id -1 wraps
    Python-style to the literal 'unknown'.

    Deterministic "model output": body = encode(text) with out-of-dict
    chars → unknown id (the literal 'unknown' joins the text!); every
    3rd doc inserts a mid-stream padding id ('padding' joins); every 7th
    doc appends -1 ('unknown' joins); then eos + encode(first 2 chars),
    which must NOT decode (live break). Output: (doc_id, seed_text).
    """
    n = len(CHARSET)
    eos, pad, unk = n, n + 1, n + 2
    p = f"array_position(_ids, {eos})"
    cut = f"(CASE WHEN {p} > 0 THEN {p} - 1 ELSE size(_ids) END)"
    decoded = (f"concat_ws('', transform(slice(_ids, 1, CAST({cut} AS "
               f"INT)), v -> CASE WHEN v = {pad} THEN 'padding' "
               f"WHEN v = {unk} OR v = -1 THEN 'unknown' "
               f"ELSE substring('{_CS}', CAST(v + 1 AS INT), 1) END))")
    return (_with_ids(docs, "seed")
            .select("doc_id", F.expr(decoded).alias("seed_text")))


def satrn_decode(docs: DataFrame) -> DataFrame:
    """R4 ninth decoder family: SATRNLabelDecode demo with
    rm_symbol=True (kernels.satrn_label_decode twin, pure JVM).

    The walk is SAR's (same dict layout CHARSET + ['<UKN>', '<BOS/EOS>',
    '<PAD>'], pad-only ignored set, position-0 eos skipped, any other
    eos breaks, -1 wraps to the literal '<PAD>'); the family signature
    is rm_symbol (rec_postprocess.py:915-918): lowercase then strip
    [^A-Z^a-z^0-9^\\u4e00-\\u9fa5] — the later '^'s are LITERAL inside
    the class, so caret characters SURVIVE, and the wrapped '<PAD>'
    reduces to 'pad'.

    Deterministic "model output": every 5th doc prepends eos (skipped
    only because it is at position 0); body = encode(text) with
    out-of-dict chars → '<UKN>' (reduces to 'ukn'); every 7th doc
    appends -1; then eos + encode(first 2 chars), which must NOT decode.
    Output: (doc_id, satrn_text).
    """
    n = len(CHARSET)
    unk, end = n, n + 1
    # the idx==0 continue applies to the RAW stream; drop a leading eos
    # first, then break before the first remaining eos
    work = (f"(CASE WHEN size(_ids) > 0 AND element_at(_ids, 1) = {end} "
            f"THEN slice(_ids, 2, size(_ids) - 1) ELSE _ids END)")
    p = f"array_position({work}, {end})"
    cut = f"(CASE WHEN {p} > 0 THEN {p} - 1 ELSE size({work}) END)"
    raw = (f"concat_ws('', transform(filter(slice({work}, 1, CAST({cut} "
           f"AS INT)), v -> v != {n + 2}), "
           f"v -> CASE WHEN v = -1 THEN '<PAD>' "
           f"WHEN v = {unk} THEN '<UKN>' "
           f"ELSE substring('{_CS}', CAST(v + 1 AS INT), 1) END))")
    # pattern passed as a Python string (not through SQL-literal escape
    # parsing); '^' is literal inside the class per the reference quirk
    cleaned = F.regexp_replace(F.lower(F.expr(raw)),
                               "[^A-Z^a-z0-9一-龥]", "")
    return (_with_ids(docs, "satrn")
            .select("doc_id", cleaned.alias("satrn_text")))


def pren_decode(docs: DataFrame) -> DataFrame:
    """R4 tenth decoder family: PRENLabelDecode demo
    (kernels.pren_label_decode twin, pure JVM).

    The only family that PREPENDS all three specials: dict ['<PAD>',
    '<EOS>', '<UNK>'] + CHARSET → pad=0, eos=1, unk=2 and a charset
    char's id is instr+2. eos breaks anywhere; pad/unk skip anywhere;
    id -1 wraps Python-style to the LAST charset char.

    Deterministic "model output": every 3rd doc prepends pad (skipped);
    body = encode(text) with out-of-dict chars → unk (skipped, PREN
    drops unknowns silently); every 7th doc appends -1 (the last charset
    char — a space — joins); then eos + encode(first 2 chars), which
    must NOT decode. Output: (doc_id, pren_text).
    """
    n = len(CHARSET)
    p = "array_position(_ids, 1)"
    cut = f"(CASE WHEN {p} > 0 THEN {p} - 1 ELSE size(_ids) END)"
    decoded = (f"concat_ws('', transform(filter(slice(_ids, 1, CAST({cut} "
               f"AS INT)), v -> v != 0 AND v != 2), "
               f"v -> CASE WHEN v = -1 THEN substring('{_CS}', {n}, 1) "
               f"ELSE substring('{_CS}', CAST(v - 2 AS INT), 1) END))")
    return (_with_ids(docs, "pren")
            .select("doc_id", F.expr(decoded).alias("pren_text")))


def abinet_decode(docs: DataFrame) -> DataFrame:
    """R4 eleventh decoder family: ABINetLabelDecode demo
    (kernels.abinet_label_decode twin, pure JVM).

    NRTR's inherited walk (bare-except skip of out-of-range ids,
    Python-style negative wrap, live break on '</s>') over the 1-special
    dict ['</s>'] + CHARSET — eos is id ZERO (unique among the
    families) and a charset char's id is instr.

    Deterministic "model output": body = encode(text) with out-of-dict
    chars mapped out-of-range (bare-except skip); every 7th doc appends
    -1 (wraps to the LAST charset char); then eos + encode(first 2
    chars), which must NOT decode (live break at id 0).
    Output: (doc_id, abinet_text).
    """
    n = len(CHARSET)
    big = n + 1                        # dict size
    kept = (f"filter(transform(_ids, v -> CASE WHEN v < 0 THEN v + {big} "
            f"ELSE v END), v -> v >= 0 AND v < {big})")
    p = f"array_position({kept}, 0)"
    cut = f"(CASE WHEN {p} > 0 THEN {p} - 1 ELSE size({kept}) END)"
    decoded = (f"concat_ws('', transform(slice({kept}, 1, CAST({cut} AS "
               f"INT)), v -> substring('{_CS}', CAST(v AS INT), 1)))")
    return (_with_ids(docs, "abinet")
            .select("doc_id", F.expr(decoded).alias("abinet_text")))


def spin_decode(docs: DataFrame) -> DataFrame:
    """R4 twelfth decoder family: SPINLabelDecode demo
    (kernels.spin_label_decode twin, pure JVM).

    Attn's inherited decode over the FRONT-loaded dict ['sos'] + ['eos']
    + CHARSET (beg=0, end=1, a charset char's id is instr+1): both
    specials skipped anywhere, the break at eos DEAD, and -1 wrapping to
    the LAST charset char (Attn's layout would give the literal 'eos').

    Deterministic "model output": every 5th doc prepends eos (skipped,
    dead break); body = encode(text) with out-of-dict chars → sos
    (skipped); every 3rd doc inserts a mid-stream sos; then eos +
    encode(first 2 chars) — which DOES decode; every 7th doc appends -1
    (the last charset char joins). Output: (doc_id, spin_text).
    """
    n = len(CHARSET)
    decoded = (f"concat_ws('', transform(filter(_ids, "
               f"v -> v != 0 AND v != 1), "
               f"v -> CASE WHEN v = -1 THEN substring('{_CS}', {n}, 1) "
               f"ELSE substring('{_CS}', CAST(v - 1 AS INT), 1) END))")
    return (_with_ids(docs, "spin")
            .select("doc_id", F.expr(decoded).alias("spin_text")))


def vl_decode(docs: DataFrame, nsteps: int = 25) -> DataFrame:
    """R4 thirteenth decoder family: VLLabelDecode eval path demo
    (kernels.vl_eval_decode twin, pure JVM).

    The reference's inference walk (rec_postprocess.py:1458-1516) fixes
    nsteps time-steps and derives each sample's length as the step index
    of the FIRST top-1 == 0 (+1 — the eos step is INCLUDED in the
    length), or nsteps if none; the text joins character[id-1] over the
    counted steps with ids outside [1, n] contributing '' (the :1505
    guard). A charset char's id is instr (1-based, the family's
    off-by-one).

    Deterministic "model output": encode(text) (out-of-dict chars → an
    out-of-range id that decodes to '' but still occupies a counted
    step), then eos, then encode(first 2 chars) (must NOT decode), then
    out-of-range padding up to nsteps; texts ≥ nsteps chars never reach
    their eos (length pins at nsteps). Output: (doc_id, vl_text, vl_len).
    """
    n = len(CHARSET)
    pad = STREAMS["vl"].unknown
    ids = (f"slice(concat({_text_ids('vl')}, "
           f"array_repeat({pad}, {nsteps})), 1, {nsteps})")
    p = "array_position(_ids, 0)"
    ln = f"(CASE WHEN {p} > 0 THEN {p} ELSE {nsteps} END)"
    decoded = (f"concat_ws('', transform(slice(_ids, 1, CAST({ln} AS "
               f"INT)), v -> CASE WHEN v >= 1 AND v <= {n} "
               f"THEN substring('{_CS}', CAST(v AS INT), 1) ELSE '' END))")
    return (docs.withColumn("_ids", F.expr(ids))
            .select("doc_id", F.expr(decoded).alias("vl_text"),
                    F.expr(f"CAST({ln} AS BIGINT)").alias("vl_len")))


def can_decode(docs: DataFrame) -> DataFrame:
    """R4 fourteenth decoder family: CANLabelDecode demo
    (kernels.can_label_decode twin, pure JVM).

    The latex-symbol family: seq_end = ``argmin`` of the id sequence —
    the FIRST occurrence of the SMALLEST id, not a search for 0 — and
    symbols before the cut join with SPACES. Any text containing the
    charset's FIRST character ('a', id 0) therefore cuts at that
    character, not at the appended eos: the argmin quirk is live on
    ordinary English text.

    Deterministic "model output": encode(text) (0-based ids,
    out-of-dict chars → the LAST charset id), then 0, then encode(first
    2 chars) (never decodes — 0 is the global minimum whenever no 'a'
    precedes it). Output: (doc_id, can_text).
    """
    p = "array_position(_ids, array_min(_ids))"
    decoded = (f"concat_ws(' ', transform(slice(_ids, 1, CAST({p} - 1 AS "
               f"INT)), v -> substring('{_CS}', CAST(v + 1 AS INT), 1)))")
    return (_with_ids(docs, "can")
            .select("doc_id", F.expr(decoded).alias("can_text")))
