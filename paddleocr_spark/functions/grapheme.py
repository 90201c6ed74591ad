"""Korean grapheme operators — the reference fork's distinguishing layer.

The hoonisone fork decomposes Hangul syllables into initial/medial/final
jamo streams (represented as representative syllables), trains per-stream
recognizers, and re-composes characters from the three streams
(ppocr/utils/korean_grapheme_label.py, korean_compose.py); its RecMetric
adds a grapheme-level NED alongside the character NED
(ppocr/metrics/rec_metric.py:147-200).

Everything here is a pure JVM column pipeline (split / transform / instr /
substring over short jamo literals) — no Python UDFs, so the ops
whole-stage-codegen and scale linearly with corpus bytes. Composing a
syllable from its jamo indices needs codepoint→char, which Spark's ASCII
`char()` cannot do; we build the 3 UTF-8 bytes arithmetically and
`decode(unhex(...), 'utf-8')` them (every Hangul syllable is 3-byte
UTF-8). Kernel twins live in kernels.py; DuckDB oracles in
entry_queries.py (DuckDB side uses `chr()` directly).

Korean text is SYNTHESIZED deterministically from documents.text (no
external data): char k of a doc maps to 44032 + (codepoint*31 + k*7 +
doc_id) % 11174 — a range that deliberately overshoots the reference's
44032..55199 Hangul test (kernels.decompose_korean_char quirk) so the
passthrough boundary is exercised — except every 4th position, which
keeps the original ASCII char (the non-Hangul path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import HANGUL_FINALS, HANGUL_INITIALS, HANGUL_MEDIALS

#: Reference quirk bound (korean_grapheme_label.py:13): the Hangul test is
#: <= 55199, so syllables U+D7A0..U+D7A3 take the non-Hangul path.
HANGUL_LO, HANGUL_HI = 44032, 55199


def _utf8_char(cp: str) -> str:
    """SQL expr: 3-byte UTF-8 char for a codepoint expr in [0x800, 0xFFFF].

    All three bytes are >= 0x80 so hex() is always 2 digits — no lpad."""
    return (f"decode(unhex(concat(hex(224 + (({cp}) div 4096)), "
            f"hex(128 + (({cp}) div 64) % 64), "
            f"hex(128 + ({cp}) % 64))), 'utf-8')")


def korean_text_expr(doc_id: str = "doc_id", text: str = "text") -> str:
    """Deterministic Hangul-heavy synth string from a text column."""
    syn = _utf8_char(f"{HANGUL_LO} + (ascii(c) * 31 + (i + 1) * 7 "
                     f"+ {doc_id}) % 11174")
    return (f"array_join(transform(filter(split(coalesce({text}, ''), ''), "
            f"c -> c != ''), (c, i) -> CASE WHEN (i + 1) % 4 = 0 THEN c "
            f"ELSE {syn} END), '')")


def _stream_expr(src: str, alphabet: str, idx: str) -> str:
    """Per-char jamo stream: Hangul → alphabet[idx], else passthrough."""
    return (f"array_join(transform(filter(split({src}, ''), "
            f"c -> c != ''), c -> CASE WHEN ascii(c) >= {HANGUL_LO} AND "
            f"ascii(c) <= {HANGUL_HI} THEN substring('{alphabet}', "
            f"({idx}) + 1, 1) ELSE c END), '')")


def decompose_exprs(src: str) -> tuple[str, str, str]:
    """The three jamo stream exprs for a Korean text expr/column
    (kernels.decompose_korean_char twin: //588, (%588)//28, %28)."""
    code = f"(ascii(c) - {HANGUL_LO})"
    return (_stream_expr(src, HANGUL_INITIALS, f"{code} div 588"),
            _stream_expr(src, HANGUL_MEDIALS, f"({code} % 588) div 28"),
            _stream_expr(src, HANGUL_FINALS, f"{code} % 28"))


def grapheme_decompose(docs: DataFrame) -> DataFrame:
    """Decompose synthesized Korean text into initial/medial/final streams.

    Output: (doc_id, ktext, initial, medial, final)."""
    d = docs.withColumn("ktext", F.expr(korean_text_expr()))
    ini, med, fin = decompose_exprs("ktext")
    return d.select("doc_id", "ktext",
                    F.expr(ini).alias("initial"),
                    F.expr(med).alias("medial"),
                    F.expr(fin).alias("final"))


#: Per-position probs for the compose demo: multiples of 0.25 so the /3
#: mean is order-independent enough for a 4dp round in both engines.
_IP = "((doc_id + k) % 4) * 0.25D"
_MP = "((doc_id + 2 * k) % 4) * 0.25D"
_FP = "((doc_id + 3 * k) % 4) * 0.25D"


def compose_struct_expr(ini: str, med: str, fin: str) -> str:
    """SQL expr composing three jamo stream columns back into
    struct(composed string, conf array) — kernels.compose_korean_char
    twin with deterministic per-position probs.

    Quirks preserved: zip truncation to the shortest stream; >=2 unknown
    jamo → max-prob grapheme passes through VERBATIM (first-max tie
    order); <=1 unknown → defaults (11, 0, 0); empty input composes to a
    single SPACE (the reference returns (' ', 0))."""
    n = (f"least(length({ini}), length({med}), length({fin}))")
    i_ch = f"substring({ini}, k, 1)"
    m_ch = f"substring({med}, k, 1)"
    f_ch = f"substring({fin}, k, 1)"
    ipos = f"instr('{HANGUL_INITIALS}', {i_ch})"
    mpos = f"instr('{HANGUL_MEDIALS}', {m_ch})"
    fpos = f"instr('{HANGUL_FINALS}', {f_ch})"
    nn = (f"(CASE WHEN {ipos} = 0 THEN 1 ELSE 0 END + "
          f"CASE WHEN {mpos} = 0 THEN 1 ELSE 0 END + "
          f"CASE WHEN {fpos} = 0 THEN 1 ELSE 0 END)")
    cp = (f"{HANGUL_LO} + ((CASE WHEN {ipos} = 0 THEN 11 ELSE {ipos} - 1 "
          f"END) * 21 + (CASE WHEN {mpos} = 0 THEN 0 ELSE {mpos} - 1 END)) "
          f"* 28 + (CASE WHEN {fpos} = 0 THEN 0 ELSE {fpos} - 1 END)")
    ch = (f"CASE WHEN {nn} >= 2 THEN "
          f"(CASE WHEN {_IP} >= {_MP} AND {_IP} >= {_FP} THEN {i_ch} "
          f"WHEN {_MP} >= {_FP} THEN {m_ch} ELSE {f_ch} END) "
          f"ELSE {_utf8_char(cp)} END")
    conf = (f"CASE WHEN {nn} >= 2 THEN "
            f"(CASE WHEN {_IP} >= {_MP} AND {_IP} >= {_FP} THEN {_IP} "
            f"WHEN {_MP} >= {_FP} THEN {_MP} ELSE {_FP} END) "
            f"ELSE ({_IP} + {_MP} + {_FP}) / 3 END")
    # sequence(1, 0) steps DOWN to [1, 0] in Spark — anchor at 0 and
    # filter so an empty stream yields an empty position list
    seq = f"filter(sequence(0, CAST({n} AS INT)), k -> k > 0)"
    return (f"struct(CASE WHEN {n} = 0 THEN ' ' ELSE "
            f"array_join(transform({seq}, k -> {ch}), '') END AS composed, "
            f"transform({seq}, k -> round({conf}, 4)) AS conf)")


def grapheme_compose(docs: DataFrame) -> DataFrame:
    """Decompose→compose roundtrip with deterministic probs.

    Output: (doc_id, composed, conf array<double>). For the pure-Hangul
    positions the roundtrip is the identity; ASCII (%4) and >55199
    positions take the >=2-unknown max-prob passthrough."""
    d = grapheme_decompose(docs)
    s = compose_struct_expr("initial", "medial", "final")
    return d.select("doc_id", F.expr(s).alias("_c")).select(
        "doc_id", F.col("_c.composed").alias("composed"),
        F.col("_c.conf").alias("conf"))


def grapheme_compose_label(docs: DataFrame) -> DataFrame:
    """The korean_compose.py:28-44 label dialect: a position whose
    INITIAL or MEDIAL is not a known jamo passes the INITIAL through
    verbatim (medial/final discarded); a missing FINAL defaults to
    index 0. Output: (doc_id, composed) — the reference's per-char list,
    joined. Kernel twin: kernels.compose_korean_char_grapheme_label."""
    d = grapheme_decompose(docs)
    i_ch = "substring(initial, k, 1)"
    m_ch = "substring(medial, k, 1)"
    f_ch = "substring(final, k, 1)"
    ipos = f"instr('{HANGUL_INITIALS}', {i_ch})"
    mpos = f"instr('{HANGUL_MEDIALS}', {m_ch})"
    fpos = f"instr('{HANGUL_FINALS}', {f_ch})"
    cp = (f"{HANGUL_LO} + (({ipos} - 1) * 21 + ({mpos} - 1)) * 28 + "
          f"(CASE WHEN {fpos} = 0 THEN 0 ELSE {fpos} - 1 END)")
    ch = (f"CASE WHEN {ipos} = 0 OR {mpos} = 0 THEN {i_ch} "
          f"ELSE {_utf8_char(cp)} END")
    n = "least(length(initial), length(medial), length(final))"
    # 0-anchored ascending sequence: empty streams -> empty composition
    # (sequence(1, 0) would step DOWN to [1, 0])
    return d.select(
        "doc_id",
        F.expr(f"array_join(transform(filter(sequence(0, CAST({n} AS "
               f"INT)), k -> k > 0), k -> {ch}), '')").alias("composed"))


def grapheme_ned(docs: DataFrame) -> DataFrame:
    """RecMetric.eval_full's fork report (rec_metric.py:147-200): acc,
    c_ned = 1 - mean normalized char Levenshtein, g_ned = 1 - mean
    grapheme_edit_dis, each over (n + 1e-5) with ignore_space=True.

    grapheme_edit_dis is transcribed WITH its bug (kernels twin): the
    decompose dict is iterated by KEYS, so every non-empty pair scores
    0.0 and only the empty-side quirk (1 when lengths match, else 0)
    moves the sum — g_ned therefore tracks the empty-pair counts, NOT
    grapheme similarity. Pairs: target = synthesized Korean text
    (emptied when doc_id%13==0), pred = '' (%11), = target (%3), else
    target minus its first char (char distance exactly 1)."""
    d = docs.select(
        "doc_id", F.expr(korean_text_expr()).alias("kt")).select(
        "doc_id",
        F.expr("CASE WHEN doc_id % 13 = 0 THEN '' ELSE kt END").alias("tgt0"),
    ).select(
        "doc_id", "tgt0",
        F.expr("CASE WHEN doc_id % 11 = 0 THEN '' "
               "WHEN doc_id % 3 = 0 THEN tgt0 "
               "ELSE substring(tgt0, 2) END").alias("pred0"))
    # ignore_space=True: strip spaces from both before every metric
    p = d.select(
        "doc_id",
        F.replace("tgt0", F.lit(" "), F.lit("")).alias("tgt"),
        F.replace("pred0", F.lit(" "), F.lit("")).alias("pred"))
    lev_norm = (
        F.when(F.col("pred") == F.col("tgt"), F.lit(0.0))
        .otherwise(F.levenshtein("pred", "tgt").cast("double")
                   / F.greatest(F.length("pred"), F.length("tgt"))))
    g_dist = F.expr(
        "CASE WHEN length(pred) = 0 OR length(tgt) = 0 THEN "
        "(CASE WHEN length(pred) = length(tgt) THEN 1.0 ELSE 0.0 END) "
        "ELSE 0.0 END")
    eps = 1e-5
    agg = p.agg(
        F.sum(F.when(F.col("pred") == F.col("tgt"), 1).otherwise(0))
        .cast("double").alias("correct"),
        F.sum(lev_norm).alias("ned_sum"),
        F.sum(g_dist).alias("g_sum"),
        F.count("*").cast("double").alias("n"))
    return agg.select(
        F.round(F.col("correct") / (F.col("n") + eps), 4).alias("acc"),
        F.round(1.0 - F.col("ned_sum") / (F.col("n") + eps), 4)
        .alias("c_ned"),
        F.round(1.0 - F.col("g_sum") / (F.col("n") + eps), 4)
        .alias("g_ned"),
        F.col("n").cast("long").alias("n"))


# ---------------------------------------------------------------------------
# utf8string dialect (korean_compose_by_utf8.py) + the ensemble layer the
# fork's grapheme decoders call at inference (rec_postprocess.py:306,
# 340-357): flat compatibility-jamo streams, greedy re-composition, and
# char/word-level prediction ensembles.
# ---------------------------------------------------------------------------

from ..kernels import CHOSUNG, JONGSUNG, JUNGSUNG  # noqa: E402

#: This dialect's Hangul test is the FULL block (korean_compose_by_utf8
#: .py:19 — <= 44032+11171), unlike korean_grapheme_label's 55199.
UTF8_HI = 44032 + 11171


def utf8_decompose(docs: DataFrame) -> DataFrame:
    """Flatten synthesized Korean text to a compatibility-jamo stream
    (kernels.decompose_hangul_by_utf8 twin): every syllable becomes
    cho+jung+jong with '@' for an absent final; non-Hangul passes
    through. Output: (doc_id, jamo).

    Widened BEFORE the projection: the synth + decompose HOFs are
    per-char interpreted work (~3.7 M jamo at sf0.1) attached to the
    scan stage, and documents.parquet arrives as ONE task — measured
    3.2 s single-threaded vs ~0.2 s wide. A repartition placed after
    this function (the pre-fix layout) runs the HOFs before the
    exchange and parallelizes nothing."""
    from ..pipeline import ensure_input_parallelism

    d = ensure_input_parallelism(docs).withColumn(
        "ktext", F.expr(korean_text_expr()))
    code = f"(ascii(c) - {HANGUL_LO})"
    jong = f"({code} % 28)"
    junk = f"((({code} - {jong}) div 28) % 21)"
    cho = f"((({code} - {jong}) div 28) div 21)"
    per = (f"CASE WHEN ascii(c) >= {HANGUL_LO} AND ascii(c) <= {UTF8_HI} "
           f"THEN concat(substring('{CHOSUNG}', {cho} + 1, 1), "
           f"substring('{JUNGSUNG}', {junk} + 1, 1), "
           f"substring('{JONGSUNG}', {jong} + 1, 1)) ELSE c END")
    return d.select(
        "doc_id",
        F.expr(f"array_join(transform(filter(split(ktext, ''), "
               f"c -> c != ''), c -> {per}), '')").alias("jamo"))


#: Per-jamo-position prob for the compose/ensemble demos: in (0, 1].
def _jp(mult: int) -> str:
    return f"(CAST((doc_id + {mult} * k) % 8 + 1 AS DOUBLE) / 8)"


def utf8_compose(docs: DataFrame) -> DataFrame:
    """Greedy jamo re-composition (kernels.compose_string_by_utf8, the
    exec-ref-differentialed kernel, applied per row) with deterministic
    per-position probs.

    The scan is inherently sequential — a cho+jung start CONSUMES the
    next 1-2 positions (a following JONGSUNG char, INCLUDING '@' →
    final index 0, is eaten as the final) — so a stateless per-position
    transform would double-start overlapping candidates. An
    `aggregate`-HOF left fold expresses it JVM-side but measured
    O(n²): HOFs are interpreted, and each step's array-append copies
    the whole accumulator (58 s for 500 × ~7.5k-jamo docs at sf0.01).
    This is the textbook 'built-ins can't express it efficiently' case,
    so the scan runs as one per-row Arrow stage over (doc_id, jamo)
    rows (operators.grouped.map_rows) — O(n) per doc, ~100× faster, and
    general over adversarial jamo streams (not just roundtrip ones).

    Output: (doc_id, composed, ps array<double> rounded 4dp)."""
    from ..kernels import compose_string_by_utf8
    from ..operators.grouped import map_rows

    def compose(d_id, jamo):
        d_id, jamo = int(d_id), jamo or ""
        text, pc = compose_string_by_utf8(
            jamo, [((d_id + 5 * k) % 8 + 1) / 8
                   for k in range(1, len(jamo) + 1)])
        return [(d_id, text, [round(x, 4) for x in pc])]

    # arrives wide (decompose widens its input)
    return map_rows(utf8_decompose(docs), compose,
                    "doc_id long, composed string, ps array<double>")


def rec_ensemble(docs: DataFrame) -> DataFrame:
    """The fork's prediction-ensemble layer over two synthetic preds:
    pred1 = synthesized Korean text with probs p1(k), pred2 = the same
    text with every 5th char substituted ('x') and probs p2(k).

    Columns (kernels twins in parentheses):
    - char_ens: per-position max-prob pick (char_level_ensemble)
    - char_thr: on='left' threshold-0.5 pick
      (char_level_ensemble_by_threshold)
    - mul_pick: 'p1'/'p2' by product-of-probs (word_level_ensemble;
      ties → p1 — and long docs UNDERFLOW both products to 0.0, so the
      tie rule decides, a real reference behavior at word length ≫ 1)
    - logavg_pick: threshold_word_ensemble_log_avg with the DEFAULT
      threshold 0.5 — a mean LOG-prob is always <= 0, so the on='left'
      test never passes and pred2 wins unconditionally (pinned quirk).
    """
    d = docs.withColumn("kt", F.expr(korean_text_expr())).withColumn(
        "chars", F.expr("filter(split(kt, ''), c -> c != '')"))
    n = "size(chars)"
    seq = f"filter(sequence(0, {n}), k -> k > 0)"
    c1 = "element_at(chars, CAST(k AS INT))"
    c2 = f"CASE WHEN k % 5 = 0 THEN 'x' ELSE {c1} END"
    p1, p2 = _jp(1), _jp(3)
    char_ens = (f"array_join(transform({seq}, k -> "
                f"CASE WHEN {p1} >= {p2} THEN {c1} ELSE {c2} END), '')")
    char_thr = (f"array_join(transform({seq}, k -> "
                f"CASE WHEN {p1} >= 0.5D THEN {c1} ELSE {c2} END), '')")
    mul1 = (f"CASE WHEN {n} = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"aggregate({seq}, CAST(1 AS DOUBLE), (a, k) -> a * {p1}) END")
    mul2 = (f"CASE WHEN {n} = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"aggregate({seq}, CAST(1 AS DOUBLE), (a, k) -> a * {p2}) END")
    return d.select(
        "doc_id",
        F.expr(char_ens).alias("char_ens"),
        F.expr(char_thr).alias("char_thr"),
        F.expr(f"CASE WHEN {mul1} >= {mul2} THEN 'p1' ELSE 'p2' END")
        .alias("mul_pick"),
        F.lit("p2").alias("logavg_pick"))
