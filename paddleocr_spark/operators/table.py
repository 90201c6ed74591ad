"""Table structure decode (D7), pred-HTML assembly (J2) and token accuracy (A7).

Restates the reference's table pipeline tail end Spark-first:

* **D7** ``TableLabelDecode.decode`` (ppocr/postprocess/table_postprocess.py:
  63-98 with ``merge_no_span_structure=True``, :34-46): per step argmax →
  break at the first ``eos`` with idx>0 (an ``eos`` AT idx 0 is merely
  skipped — it is in ``ignored_tokens`` — a quirk preserved here) → skip
  ``sos``/``eos`` → map ids to structure tokens via the merged dictionary
  (``<td>`` removed, ``<td></td>`` appended).
* **J2** ``TableMatch.get_pred_html`` (ppstructure/table/matcher.py:99-138):
  walk the structure tokens; every tag containing ``</td>`` consumes the
  next cell index and splices its matched OCR texts — multi-text cells drop
  empties, strip ONE leading space, cut 3 chars when ``<b>`` occurs
  ANYWHERE (the reference slices ``[3:]`` unconditionally — quirk kept),
  cut 4 chars for ``</b>`` likewise, join with single spaces keyed on the
  ORIGINAL element index (a skipped last element still leaves the previous
  separator — quirk kept), and wrap in ``<b>…</b>`` iff the FIRST matched
  text is EXACTLY ``<b>`` and the cell has >1 texts (the reference's
  ``'<b>' in ocr_contents[i]`` runs against a (text, score) TUPLE —
  element equality, not substring; verified by executing the reference
  method, round 3). The final html carries
  the ``<html><body><table>`` wrapper exactly like
  ppstructure/table/predict_structure.py:150-154.
* **A7** ``TableStructureMetric`` (ppocr/metrics/table_metric.py:18-60):
  acc = exact joined-token-string matches / (n + 1e-6).

Everything runs as JVM expressions / plain relational ops (no Python in the
distributed path); the iterative reference loops become HOF array programs
plus window functions, with a DuckDB twin generated from the same builders
(``dialect`` parameter) so the driver gate hash-checks all three queries.
Input token-id sequences and cell texts are synthesized deterministically
from ``lineitem`` (the same 50-table universe as the J1 ``cell_match``
family) and include: an idx-0 ``eos``, sprinkled ``sos``, spanning cells
(``<td`` + colspan + ``>``), post-``eos`` garbage, and (pred side only) a
dropped trailing cell every 11th table so A7 measures real mismatches.

``paddleocr_spark.kernels.table_label_decode`` / ``kernels.get_pred_html``
are the faithful single-node transcriptions used by pytest to
differential-check the distributed results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import sf_table

#: Structure-token dictionary AFTER merge_no_span_structure
#: (table_postprocess.py:34-40: '<td>' removed, '<td></td>' appended),
#: wrapped in sos/eos (AttnLabelDecode.add_special_char,
#: rec_postprocess.py:469-474). A compact subset of
#: ppocr/utils/dict/table_structure_dict_ch.txt.
TABLE_TOKENS = ["<thead>", "</thead>", "<tbody>", "</tbody>", "<tr>",
                "</tr>", "<td", ">", "</td>", ' colspan="2"',
                ' rowspan="2"', "<td></td>"]
TABLE_DICT = ["sos"] + TABLE_TOKENS + ["eos"]
SOS = 0
EOS = len(TABLE_DICT) - 1
(THEAD, THEAD_E, TBODY, TBODY_E, TR, TR_E, TD_OPEN, GT, TD_CLOSE, COL2,
 ROW2, TD_MERGED) = range(1, 13)

#: Tags whose emission consumes a cell index in get_pred_html's walk
#: (matcher.py:101 ``'</td>' in tag``).
TD_WALK_TOKENS = ("</td>", "<td></td>")

#: SQL dialect vocabularies for the shared expression builders.
_SPARK = {
    "T": "transform", "FL": "filter", "SEQ": "sequence", "SZ": "size",
    "POS": "array_position", "INSTR": "instr",
}
_DUCK = {
    "T": "list_transform", "FL": "list_filter", "SEQ": "generate_series",
    "SZ": "len", "POS": "list_position", "INSTR": "strpos",
}


def _arr(d: dict, *items) -> str:
    body = ", ".join(str(i) for i in items)
    return f"array({body})" if d is _SPARK else f"[{body}]"


def _cat(d: dict, *parts: str) -> str:
    return ("concat(" + ", ".join(parts) + ")" if d is _SPARK
            else "(" + " || ".join(parts) + ")")


def _el(d: dict, arr: str, idx1: str) -> str:
    """1-based element access (Spark element_at wants an INT index)."""
    return (f"element_at({arr}, CAST({idx1} AS INT))" if d is _SPARK
            else f"({arr})[{idx1}]")


def table_ids_sql(mutate_cond: str, dialect: str = "spark",
                  t: str = "t_id") -> str:
    """Deterministic per-table structure-id sequence (the argmax stand-in).

    Grammar: [eos?] sos <thead><tr> header-cells </tr></thead><tbody>
    (nrows × <tr> cells </tr>) </tbody> eos garbage — where nrows =
    1 + t%3, ncells = 2 + t%2, a cell is the merged '<td></td>' except
    every (t+r+c)%5==2 which is the spanning ['<td', colspan, '>', '</td>']
    run, and ``mutate_cond`` (SQL boolean over t) drops one trailing cell
    from the last body row (the A7 pred mutation).
    """
    d = _SPARK if dialect == "spark" else _DUCK
    nrows_m1 = f"{t} % 3"            # nrows - 1
    ncells_m1 = f"1 + {t} % 2"       # ncells - 1
    cell = (f"CASE WHEN ({t} + r + c) % 5 = 2 "
            f"THEN {_arr(d, TD_OPEN, COL2, GT, TD_CLOSE)} "
            f"ELSE {_arr(d, TD_MERGED)} END")
    row = _cat(
        d, _arr(d, TR),
        f"flatten({d['T']}({d['SEQ']}(0, {ncells_m1} - CASE WHEN "
        f"({mutate_cond}) AND r = {nrows_m1} THEN 1 ELSE 0 END), "
        f"c -> {cell}))",
        _arr(d, TR_E))
    return _cat(
        d,
        f"CASE WHEN {t} % 17 = 0 THEN {_arr(d, EOS)} ELSE {_arr(d)} END",
        _arr(d, SOS, THEAD, TR),
        f"flatten({d['T']}({d['SEQ']}(1, 1 + {ncells_m1}), "
        f"c -> {_arr(d, TD_MERGED)}))",
        _arr(d, TR_E, THEAD_E, TBODY),
        f"flatten({d['T']}({d['SEQ']}(0, {nrows_m1}), r -> {row}))",
        _arr(d, TBODY_E, EOS, TR, TD_MERGED, TR_E))


def table_decode_sql(ids: str, dialect: str = "spark") -> str:
    """TableLabelDecode.decode over an id-array expression → token array.

    Break at the first eos with idx > 0; THEN drop sos/eos (so an idx-0
    eos survives the break check and is dropped by the ignored filter —
    table_postprocess.py:80-84's exact order); map via the merged dict.
    """
    d = _SPARK if dialect == "spark" else _DUCK
    dict_lit = _arr(d, *[f"'{tok}'" for tok in TABLE_DICT])
    tail = (f"slice({ids}, 2, {d['SZ']}({ids}) - 1)" if d is _SPARK
            else f"({ids})[2:]")
    p = f"{d['POS']}({tail}, {EOS})"
    cut = f"(CASE WHEN {p} > 0 THEN {p} ELSE {d['SZ']}({ids}) END)"
    kept = (f"{d['T']}({d['SEQ']}(0, {cut} - 1), "
            f"i -> {_el(d, ids, 'i + 1')})")
    filtered = f"{d['FL']}({kept}, x -> x != {SOS} AND x != {EOS})"
    return f"{d['T']}({filtered}, x -> {_el(d, dict_lit, 'x + 1')})"


# ---------------------------------------------------------------------------
# Spark-side queries (DuckDB twins live in entry_queries via the builders)
# ---------------------------------------------------------------------------

def _tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    li = sf_table(spark, sf_dir, "lineitem")
    return (li.select((F.col("l_orderkey") % 50).alias("t_id")).distinct())


def _decoded(tables: DataFrame, mutate_cond: str, out: str) -> DataFrame:
    """Synthesize the id array, MATERIALIZE it across an exchange, then
    decode the materialized column.

    The repartition barrier is load-bearing: CollapseProject folds
    adjacent projections and substitutes the ``_ids`` alias textually into
    every reference — including ``element_at(_ids, i+1)`` inside the
    decode's per-element lambda — so without the exchange the whole
    grammar-synthesis expression re-evaluates once per TOKEN (measured
    ~1.8 s per table at sf0.1; with the barrier the full decode of all 50
    tables is milliseconds). The exchange itself moves ~50 tiny rows.
    """
    ids = (tables
           .withColumn("_ids", F.expr(table_ids_sql(mutate_cond, "spark")))
           .repartition("t_id"))
    return (ids
            .withColumn(out, F.expr(table_decode_sql("_ids", "spark")))
            .drop("_ids"))


def table_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: decoded structure tokens, one row per (t_id, pos, token).

    posexplode_OUTER is load-bearing: for a plain posexplode, Catalyst's
    InferFiltersFromGenerate adds ``size(tokens) > 0`` and predicate
    pushdown drives that filter — with the whole synthesis+decode
    expression substituted in — below the distinct, evaluating it once per
    LINEITEM row (measured 100 s at sf0.1 vs ~2 s). The grammar always
    emits tokens, so outer and inner explode are row-identical here."""
    toks = _decoded(_tables(spark, sf_dir), "t_id % 11 = 3", "tokens")
    return toks.select(
        "t_id", F.posexplode_outer("tokens").alias("pos", "token")
    ).select("t_id", F.col("pos").cast("long").alias("pos"), "token")


def table_token_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: structure-token accuracy of pred (mutated) vs gt (clean)."""
    per = _decoded(_decoded(_tables(spark, sf_dir),
                            "t_id % 11 = 3", "pred_toks"),
                   "FALSE", "gt_toks").select(
        "t_id",
        F.array_join("pred_toks", "").alias("pred_str"),
        F.array_join("gt_toks", "").alias("gt_str"))
    correct = F.sum(F.when(F.col("pred_str") == F.col("gt_str"), 1)
                    .otherwise(0))
    n = F.count("*")
    return per.agg(
        F.round(correct / (n + F.lit(1e-6)), 4).alias("token_acc"),
        correct.cast("long").alias("n_correct"),
        n.cast("long").alias("n_tables"))


def _cell_contents(assigned: DataFrame) -> DataFrame:
    """(t_id, box_id, cell_id) → per-cell spliced content, matcher.py:108-133.

    Content variants exercise every munging branch: box_id%7 = 0 → '<b>'
    prefix, 1 → '</b>' suffix, 2 → leading space, 3 → empty, else plain.
    """
    bc = assigned.select("t_id", "cell_id", "box_id",
                         raw_content_col().alias("content"))
    # Explicit hash repartition on the window/group keys: AQE coalesces
    # the exchange by BYTES (260k short strings ~ a few MB -> 1 task) and
    # the whole window + collect_list pipeline then runs 1-wide. A keyed
    # repartition is exempt, keeps every core busy, and both window specs
    # AND the final groupBy reuse the partitioning (one exchange total).
    n = assigned.sparkSession.sparkContext.defaultParallelism * 2
    bc = bc.repartition(n, "t_id", "cell_id")
    win = Window.partitionBy("t_id", "cell_id")
    wo = win.orderBy("box_id")
    bc = (bc.withColumn("n", F.count("*").over(win))
          .withColumn("i", F.row_number().over(wo) - 1)
          .withColumn("first_c", F.first("content").over(wo)))
    # multi-text munging (matcher.py:115-129), single text used raw (:131)
    c0 = F.col("content")
    c1 = F.when(F.substring(c0, 1, 1) == " ", F.expr("substring(content, 2)")
                ).otherwise(c0)
    c2 = F.when(F.instr(c1, "<b>") > 0, F.substring(c1, 4, 1 << 30)
                ).otherwise(c1)
    c3 = F.when(F.instr(c2, "</b>") > 0,
                F.substring(c2, 1, F.length(c2) - 4)).otherwise(c2)
    bc = bc.withColumn("c3", c3)
    kept = (F.col("n") == 1) | ((c0 != "") & (F.col("c3") != ""))
    piece = F.when(
        F.col("n") == 1, c0).otherwise(
        F.concat(F.col("c3"),
                 F.when((F.col("i") != F.col("n") - 1)
                        & (F.substring("c3", -1, 1) != " "),
                        F.lit(" ")).otherwise(F.lit(""))))
    bc = bc.withColumn("kept", kept).withColumn("piece", piece)
    agg = (bc.groupBy("t_id", "cell_id")
           .agg(F.concat_ws("", F.expr(
               "transform(array_sort(collect_list(CASE WHEN kept THEN "
               "struct(i, piece) END)), s -> s.piece)")).alias("txt"),
               F.max("n").alias("n"),
               F.min("first_c").alias("first_c")))
    b_with = (F.col("n") > 1) & (F.col("first_c") == "<b>")
    return agg.select(
        "t_id", "cell_id",
        F.when(b_with, F.concat(F.lit("<b>"), F.col("txt"), F.lit("</b>")))
        .otherwise(F.col("txt")).alias("cell_content"))


def table_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: assembled pred HTML per table — decode walk + cell splice.

    The walk's running td counter is a window prefix-sum over token
    positions; cell contents join on (t_id, td_idx = cell_id) — fully
    relational, no per-row Python.
    """
    from ..entry_queries import q_cell_match
    toks = table_structure(spark, sf_dir)
    is_td = F.col("token").isin(*TD_WALK_TOKENS)
    wp = (Window.partitionBy("t_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    toks = toks.withColumn(
        "td_idx", F.when(is_td, F.sum(is_td.cast("int")).over(wp) - 1))
    cells = _cell_contents(q_cell_match(spark, sf_dir))
    j = toks.join(cells,
                  (toks.t_id == cells.t_id)
                  & (toks.td_idx == cells.cell_id), "left").drop(cells.t_id)
    content = F.coalesce("cell_content", F.lit(""))
    exp = (F.when(F.col("td_idx").isNull(), F.col("token"))
           .when(F.col("token") == "<td></td>",
                 F.concat(F.lit("<td>"), content, F.lit("</td>")))
           .otherwise(F.concat(content, F.lit("</td>"))))
    per = (j.select("t_id", "pos", exp.alias("exp"))
           .groupBy("t_id")
           .agg(F.concat(
               F.lit("<html><body><table>"),
               F.concat_ws("", F.expr(
                   "transform(array_sort(collect_list(struct(pos, exp))), "
                   "s -> s.exp)")),
               F.lit("</table></body></html>")).alias("html")))
    return per.select("t_id", "html")


# ---------------------------------------------------------------------------
# J2b: TableMaster HTML dialect (matcher.py:140-180 + table_master_match.py)
# ---------------------------------------------------------------------------

#: Empty-bbox tokens injected by the synthesis (a subset of the master
#: vocabulary's <ebN> set, table_master_match.py:523-557) — chosen to
#: exercise plain, bold-empty, and U+2028 expansions.
EB_SYNTH = ["<eb></eb>", "<eb2></eb2>", "<eb5></eb5>", "<eb10></eb10>"]


def master_pred_structures(tokens: list, t_id: int) -> list:
    """Master-dialect token stream for table t: merge span runs
    (kernels.merge_span_token) then replace every (t_id + k) % 5 == 1
    merged '<td></td>' — k the running td counter — with an <ebN>
    empty-bbox token. The eb substitution is SYNTHESIS (the stand-in for
    StructureMaster's separate vocabulary), deterministic so the fixture
    and the distributed path agree; note eb tokens do NOT contain '</td>'
    and therefore do not consume a td index in the master walk."""
    from ..kernels import merge_span_token
    out = []
    td = 0
    for tok in merge_span_token(tokens):
        if tok == "<td></td>":
            if (t_id + td) % 5 == 1:
                tok = EB_SYNTH[(t_id + td) % len(EB_SYNTH)]
            td += 1
        out.append(tok)
    return out


def raw_content_col():
    """The per-box OCR content synthesis (same variants _cell_contents
    documents: <b> prefix, </b> suffix, leading space, empty, plain)."""
    x = (F.col("box_id") % 100).cast("string")
    return (F.when(F.col("box_id") % 21 == 0, F.lit("<b>"))
            .when(F.col("box_id") % 7 == 0, F.concat(F.lit("<b>w"), x))
            .when(F.col("box_id") % 7 == 1, F.concat(F.lit("w"), x,
                                                     F.lit("</b>")))
            .when(F.col("box_id") % 7 == 2, F.concat(F.lit(" w"), x))
            .when(F.col("box_id") % 7 == 3, F.lit(""))
            .otherwise(F.concat(F.lit("w"), x)))


def html_master_one(t_id: int, tokens: list, cells: list) -> str:
    """Single-table master HTML: shared by the distributed emit and the
    fixture generator. ``cells`` = (box_id, cell_id, content) sorted by
    box_id; matched_index maps a master td index k to the boxes of
    cell_id == k (cells whose id lands on an eb-replaced or absent td
    simply never match — both sides use the same rule)."""
    from ..kernels import get_pred_html_master
    pred = master_pred_structures(tokens, int(t_id))
    contents = [c for _, _, c in cells]
    matched: dict = {}
    for i, (_, cid, _c) in enumerate(cells):
        matched.setdefault(int(cid), []).append(i)
    return get_pred_html_master(pred, matched, contents)


def html_master_one_txt(t_id: int, tokens: list, cell_txts: dict) -> str:
    """Single-table master HTML from PRE-ASSEMBLED per-cell txt (the
    distributed fast path): the walk itself, with the content loop
    already folded into cell_txts (kernels.assemble_cell_txt semantics —
    here produced relationally by _cell_contents)."""
    from ..kernels import get_pred_html_master_txt
    pred = master_pred_structures(tokens, int(t_id))
    return get_pred_html_master_txt(pred, cell_txts)


def table_html_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2b: assembled master-dialect HTML per table.

    The master walk (whole-token replacement, deal_eb_token, deal_bb's
    thead regex surgery) is iterative string rewriting with backreference
    replaces — not relational like the plain dialect — so it runs as a
    per-table Arrow kernel (grouped.grouped_map_rows keyed by t_id).
    Round 4: the per-cell content loop is separable from the walk (pure
    function of one cell's ordered contents — kernels.assemble_cell_txt),
    so it is pre-aggregated relationally by _cell_contents and the kernel
    consumes ~cells rows per table instead of ~boxes rows (260k -> 600 at
    sf0.1; at 100 TB the Python stage scales with table count x cell
    count, never box count). Oracle: committed fixture
    (tools/make_fixtures.py) built from the UNFACTORED per-box kernel
    (html_master_one) over the DuckDB twins — the gate hash is therefore
    a differential between the two formulations.
    """
    from ..entry_queries import q_cell_match
    from .grouped import grouped_map_rows
    toks = table_structure(spark, sf_dir)
    cells = _cell_contents(q_cell_match(spark, sf_dir))
    t = toks.select("t_id", F.lit("t").alias("side"),
                    F.col("pos").alias("a"),
                    F.col("token").alias("s"))
    c = cells.select("t_id", F.lit("c").alias("side"),
                     F.col("cell_id").alias("a"),
                     F.col("cell_content").alias("s"))

    def per_table(g):
        # sorted by (side, a): side 'c' rows precede 't' rows
        is_tok = g["side"] == "t"
        t_id = int(g["t_id"][0])
        txts = {int(a): s for a, s in zip(g["a"][~is_tok], g["s"][~is_tok])}
        yield t_id, html_master_one_txt(t_id, list(g["s"][is_tok]), txts)

    return grouped_map_rows(t.unionByName(c), ["t_id"], ["side", "a"],
                            per_table, "t_id long, html string")
