"""DOM-heuristic main-content extraction (jusText-style boilerplate strip).

The north rule's extraction triad is "HTML boilerplate strip, PDF/layout
parse, DOM heuristics"; the pipeline covers the first two (``style_strip``,
``pdfcodec``) and this module supplies the third: the published jusText
block-classification algorithm (Pomikalek 2011, "Removing Boilerplate and
Duplicate Content from Web Corpora"; the reference implementation is the
public ``justext`` package, core.py) re-expressed as pure Spark JVM
expressions + window functions. No reference-repo counterpart — this row is
the training-data-pipeline tier, same as the dedup/curation family.

Shape of the query (one pass, hash-gates every stage):

1. **Synthesize** a deterministic HTML page per document from the corpus
   word list (closed-form in ``(did, b, k)`` — nav/aside/footer link farms,
   h1/h2 headings, main ``<p>`` blocks with stopword injection, one ``(c)``
   block per 17 docs). Same twin-generator discipline as ``synth.py``.
2. **Serialize** to one HTML string and **parse it back** with regexes
   (block segmentation by tag, tag strip, anchor-text extraction) — the
   DuckDB twin predicts every feature from the generator formulas WITHOUT
   parsing, so the serialize->parse path itself is hash-gated (the
   ``media_decode`` pattern).
3. **Classify** context-free per block (link density, copyright marker,
   length, stopword density -> bad/short/neargood/good with jusText's
   published defaults), then run the full **context-sensitive revision**:
   short-heading promotion within MAX_HEADING_DISTANCE chars of a good
   block, the short-block neighbour vote (with the neargood-chain arm),
   the neargood pass, and the final bad-heading re-promotion.

The revision in the published algorithm is a sequential per-document loop;
here every pass is a window expression:

* "nearest good/bad neighbour skipping {short, neargood}" is
  ``last/first(CASE WHEN cls IN ('good','bad') ...) IGNORE NULLS`` over
  unbounded preceding/following frames (boundary default 'bad');
* the heading-distance scan ("walk forward summing block lengths until
  > MAX_HEADING_DISTANCE, promote on the first good") collapses to
  ``min(CASE WHEN good THEN cum_prev END) OVER (following) - cum <= D``
  because the cumulative length is monotone, so the nearest following
  good block is the one minimizing the distance;
* the sequential neargood pass collapses to a closed form: within a
  maximal run of neargood blocks between good/bad anchors P and N, the
  first block's outcome (bad iff P==N=='bad', else good) propagates to
  every later member — by induction the whole run gets exactly
  ``CASE WHEN P='bad' AND N='bad' THEN 'bad' ELSE 'good' END`` — which is
  what the window form computes directly. The literal sequential
  transcription is differential-tested against this form in
  ``tests/test_content.py``.

Scale shape: one FileScan (doc_id + text only), synthesis/serialize/parse/
features all HOF + regexp expressions inside whole-stage codegen, ONE hash
exchange on doc_id for the window stack (every window shares the same
partition+order spec), per-doc work bounded by <= 12 blocks. No Python, no
driver state; at 10^12 docs this is scan-shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import sf_table
from .textfns import QUALITY_STOPWORDS, words_col

#: jusText published defaults (justext/core.py, classify_paragraphs /
#: revise_paragraph_classification keyword defaults).
LENGTH_LOW = 70
LENGTH_HIGH = 200
STOPWORDS_LOW = 0.30
STOPWORDS_HIGH = 0.32
MAX_LINK_DENSITY = 0.2
MAX_HEADING_DISTANCE = 200

#: Stoplist for the stopword-density feature (the corpus is the driver's
#: synthetic English-ish word soup, so the quality-score list is the
#: natural stoplist; injection makes the density arms non-degenerate).
STOPLIST = QUALITY_STOPWORDS

# the (did + k) % 8 injection formula in _TOK assumes exactly 8 stopwords
assert len(STOPLIST) == 8


def _sql_stop_array() -> str:
    return "array(" + ", ".join(f"'{w}'" for w in STOPLIST) + ")"


# ---------------------------------------------------------------------------
# Deterministic HTML synthesis (closed form in (did, b, k); the DuckDB twin
# mirrors these formulas verbatim — keep the two in lockstep)
# ---------------------------------------------------------------------------

#: role(b): evaluated in order; nb = 6 + did % 7 blocks per page.
_ROLE = ("CASE WHEN {b} = 0 THEN 'nav' "
         "WHEN {b} = nb - 1 THEN 'footer' "
         "WHEN (did + {b}) % 5 = 2 THEN 'h' "
         "WHEN (did * 3 + {b}) % 11 = 7 THEN 'aside' "
         "ELSE 'p' END")

#: words per block, by role.
_WN = ("CASE {role} WHEN 'nav' THEN 6 WHEN 'footer' THEN 5 "
       "WHEN 'h' THEN 2 + (did + {b}) % 3 "
       "WHEN 'aside' THEN 4 + (did + {b}) % 4 "
       "ELSE 8 + (did * 7 + {b} * 5) % 56 END")

#: token text at position k (role 'p' gets stopword injection + the one
#: copyright block per did%17==9 page).
_TOK = ("CASE WHEN {role} = 'p' AND did % 17 = 9 AND {b} = 2 AND {k} = 0 "
        "THEN '©2026' "
        "WHEN {role} = 'p' AND (did + {b}) % 2 = 0 AND ({k} + {b}) % 3 = 0 "
        "THEN element_at({stop}, CAST((did + {k}) % 8 + 1 AS INT)) "
        "WHEN {role} = 'p' AND (did + {b}) % 2 = 1 AND ({k} + {b}) % 5 = 0 "
        "THEN element_at({stop}, CAST((did + {k}) % 8 + 1 AS INT)) "
        "ELSE element_at(wl, CAST((did * 13 + {b} * 29 + {k}) % W + 1 AS INT))"
        " END")

#: link flag at position k, by role (headings never carry links).
_LINKED = ("CASE WHEN {role} IN ('nav', 'footer') THEN {k} % 2 = 0 "
           "WHEN {role} = 'aside' THEN {k} % 3 = 0 "
           "WHEN {role} = 'p' THEN (did + 17 * {b} + 3 * {k}) % 37 = 3 "
           "ELSE false END")

_OPEN = ("CASE {role} WHEN 'nav' THEN '<div class=\"nav\">' "
         "WHEN 'aside' THEN '<div class=\"aside\">' "
         "WHEN 'footer' THEN '<footer>' "
         "WHEN 'h' THEN CASE WHEN {b} = 1 THEN '<h1>' ELSE '<h2>' END "
         "ELSE '<p>' END")

_CLOSE = ("CASE {role} WHEN 'nav' THEN '</div>' WHEN 'aside' THEN '</div>' "
          "WHEN 'footer' THEN '</footer>' "
          "WHEN 'h' THEN CASE WHEN {b} = 1 THEN '</h1>' ELSE '</h2>' END "
          "ELSE '</p>' END")


def synth_html_expr(linked: str = _LINKED, comma: bool = False) -> str:
    """SQL expression building the page HTML from (did, wl, W, nb).

    NOTE: the word-array column is ``wl``, not ``w`` — Spark resolves
    column names case-insensitively, so a ``w`` array column and the ``W``
    size column would collide (withColumn("W") silently replaces ``w``).

    Nested HOFs: transform over blocks, transform over token positions;
    tokens for which the ``linked`` rule (a ``{role}/{b}/{k}`` template,
    :data:`_LINKED` by default) holds wrap in ``<a href="#{b}_{k}">``;
    tokens join with a single space, blocks concatenate back-to-back.
    ``comma`` appends a ',' to 'p'-block tokens where
    ``(did*11 + b*7 + k*5) % 13 == 4``, OUTSIDE the anchor wrapper, so
    arc90's comma-count feature is non-degenerate. The readability
    (``comma=True``) and boilerpipe (``_LINKED_BP``) pages stay in
    lockstep with their DuckDB twins in entry_queries.
    """
    role = _ROLE.format(b="b")
    tok = _TOK.format(role=role, b="b", k="k", stop=_sql_stop_array())
    linked = linked.format(role=role, b="b", k="k")
    tok_html = (f"CASE WHEN {linked} THEN concat('<a href=\"#', b, '_', k, "
                f"'\">', {tok}, '</a>') ELSE {tok} END")
    if comma:
        cond = f"({role} = 'p' AND (did * 11 + b * 7 + k * 5) % 13 = 4)"
        tok_html = (f"concat({tok_html}, "
                    f"CASE WHEN {cond} THEN ',' ELSE '' END)")
    wn = _WN.format(role=role, b="b")
    block = (f"concat({_OPEN.format(role=role, b='b')}, "
             f"array_join(transform(sequence(0, {wn} - 1), "
             f"k -> {tok_html}), ' '), "
             f"{_CLOSE.format(role=role, b='b')})")
    return (f"array_join(transform(sequence(0, nb - 1), b -> {block}), '')")


# ---------------------------------------------------------------------------
# The query: synthesize -> serialize -> parse -> classify -> revise
# ---------------------------------------------------------------------------

# NB: doubled backslash — this string is embedded in a SQL single-quoted
# literal, whose escape pass halves it back to the \1 backreference.
_BLOCK_RE = r"<(p|h1|h2|div|footer)[^>]*>.*?</\\1>"
_ANCHOR_RE = r"<a[^>]*>([^<]*)</a>"


def _pages(spark: SparkSession, sf_dir: str, synth_expr: str) -> DataFrame:
    """(doc_id, html): each document's page built by ``synth_expr`` from
    (did, wl, W, nb), for the documents with at least one word."""
    from ..pipeline import ensure_input_parallelism

    # Widen BEFORE the synth/regex projections: the HTML serialize +
    # block regex-parse are per-char work attached to the scan stage,
    # and the sf corpus arrives as ONE file/task (the utf8-chain lesson,
    # PERF.md). At production scale the scan is already wide → no-op.
    return (ensure_input_parallelism(sf_table(spark, sf_dir, "documents"))
            .select("doc_id",
                    F.col("doc_id").cast("long").alias("did"),
                    words_col().alias("wl"))
            .withColumn("W", F.size("wl"))
            .where(F.col("W") >= 1)
            .withColumn("nb", F.expr("6 + did % 7"))
            .select("doc_id", F.expr(synth_expr).alias("html")))


def main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block jusText classification over the synthesized corpus HTML.

    Output: one row per block with the parsed text, the context-free and
    final classes, and the rounded feature densities; ``kept`` marks the
    main-content selection (final class 'good').
    """
    html = _pages(spark, sf_dir, synth_html_expr())

    # Parse the serialized page back: block segmentation + tag strip +
    # anchor-text extraction (regex-only; never peeks at the generator).
    blocks = (html
              .select("doc_id",
                      F.posexplode(F.expr(
                          f"regexp_extract_all(html, '{_BLOCK_RE}', 0)"))
                      .alias("block_idx", "raw")))
    feat = (blocks
            .withColumn("tag", F.expr(
                "regexp_extract(raw, '^<([a-z0-9]+)', 1)"))
            .withColumn("inner", F.expr(
                "regexp_replace(regexp_replace(raw, '^<[^>]*>', ''), "
                "'</[^>]*>$', '')"))
            .withColumn("text", F.expr(
                "regexp_replace(inner, '<[^>]*>', '')"))
            .withColumn("len_text", F.length("text"))
            .withColumn("link_chars", F.expr(
                f"aggregate(regexp_extract_all(inner, '{_ANCHOR_RE}', 1), "
                f"0, (a, x) -> a + length(x))"))
            .withColumn("wlist", F.expr(
                "filter(split(text, ' '), x -> x != '')"))
            .withColumn("n_words", F.size("wlist"))
            .withColumn("stop_n", F.expr(
                f"size(filter(wlist, x -> "
                f"array_contains({_sql_stop_array()}, x)))"))
            .withColumn("heading", F.col("tag").isin("h1", "h2"))
            .drop("raw", "inner", "wlist"))

    link_d = F.col("link_chars") / F.col("len_text")
    stop_d = F.col("stop_n") / F.col("n_words")
    cf = (F.when(link_d > MAX_LINK_DENSITY, "bad")
          .when(F.col("text").contains("©")
                | F.col("text").contains("&copy"), "bad")
          .when(F.col("len_text") < LENGTH_LOW,
                F.when(F.col("link_chars") > 0, "bad").otherwise("short"))
          .when(stop_d >= STOPWORDS_HIGH,
                F.when(F.col("len_text") > LENGTH_HIGH, "good")
                .otherwise("neargood"))
          .when(stop_d >= STOPWORDS_LOW, "neargood")
          .otherwise("bad"))
    feat = feat.withColumn("cf", cf)

    w = Window.partitionBy("doc_id").orderBy("block_idx")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_next = w.rowsBetween(1, Window.unboundedFollowing)

    def prev_in(cls_col, vals):
        return F.coalesce(
            F.last(F.when(F.col(cls_col).isin(*vals), F.col(cls_col)),
                   ignorenulls=True).over(w_prev), F.lit("bad"))

    def next_in(cls_col, vals):
        return F.coalesce(
            F.first(F.when(F.col(cls_col).isin(*vals), F.col(cls_col)),
                    ignorenulls=True).over(w_next), F.lit("bad"))

    # cumulative length: cum[i] = sum(len_text[0..i]); the scan distance
    # from heading i to candidate j is cum[j-1] - cum[i].
    s1 = (feat
          .withColumn("cum", F.sum("len_text").over(
              w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("cum_prev", F.col("cum") - F.col("len_text")))

    # step 2 — good headings: short heading -> neargood when a cf-good
    # block lies within MAX_HEADING_DISTANCE chars ahead.
    s2 = (s1
          .withColumn("ng_cum0", F.min(
              F.when(F.col("cf") == "good", F.col("cum_prev"))).over(w_next))
          .withColumn("cls1", F.when(
              F.col("heading") & (F.col("cf") == "short")
              & (F.col("ng_cum0") - F.col("cum") <= MAX_HEADING_DISTANCE),
              "neargood").otherwise(F.col("cf"))))

    # step 3 — short revision (snapshot semantics: every neighbour scan
    # reads cls1, never the pass's own output).
    s3 = (s2
          .withColumn("p_ign", prev_in("cls1", ["good", "bad"]))
          .withColumn("n_ign", next_in("cls1", ["good", "bad"]))
          .withColumn("p_ng", prev_in("cls1", ["good", "bad", "neargood"]))
          .withColumn("n_ng", next_in("cls1", ["good", "bad", "neargood"])))
    s3 = s3.withColumn("cls2", F.when(F.col("cls1") != "short", F.col("cls1"))
                       .otherwise(
        F.when((F.col("p_ign") == "good") & (F.col("n_ign") == "good"),
               "good")
        .when((F.col("p_ign") == "bad") & (F.col("n_ign") == "bad"), "bad")
        .when(((F.col("p_ign") == "bad") & (F.col("p_ng") == "neargood"))
              | ((F.col("n_ign") == "bad") & (F.col("n_ng") == "neargood")),
              "good")
        .otherwise("bad")))

    # step 4 — neargood pass (closed form of the sequential loop; proof in
    # the module docstring, differential in tests/test_content.py).
    s4 = (s3
          .withColumn("p2", prev_in("cls2", ["good", "bad"]))
          .withColumn("n2", next_in("cls2", ["good", "bad"])))
    s4 = s4.withColumn("cls3", F.when(
        F.col("cls2") == "neargood",
        F.when((F.col("p2") == "bad") & (F.col("n2") == "bad"), "bad")
        .otherwise("good")).otherwise(F.col("cls2")))

    # step 5 — more good headings: revision-demoted heading -> good when a
    # (post-revision) good block lies within the distance budget ahead.
    s5 = (s4
          .withColumn("ng_cum3", F.min(
              F.when(F.col("cls3") == "good", F.col("cum_prev"))).over(w_next))
          .withColumn("final", F.when(
              F.col("heading") & (F.col("cls3") == "bad")
              & (F.col("cf") != "bad")
              & (F.col("ng_cum3") - F.col("cum") <= MAX_HEADING_DISTANCE),
              "good").otherwise(F.col("cls3"))))

    return s5.select(
        "doc_id",
        F.col("block_idx").cast("bigint").alias("block_idx"),
        "tag", "text",
        F.col("cf").alias("cf_class"),
        F.col("final").alias("final_class"),
        (F.col("final") == "good").alias("kept"),
        F.col("len_text").cast("bigint").alias("len_text"),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(link_d, 4).alias("link_density"),
        F.round(stop_d, 4).alias("stop_density"))


# ---------------------------------------------------------------------------
# Readability (arc90) block scoring — the second published DOM heuristic
# ---------------------------------------------------------------------------

#: Minimum final score for a block to be kept as main content (the operator
#: knob; arc90 keeps the best candidate subtree, the flat-block variant
#: keeps every block clearing this bar).
READ_MIN_SCORE = 3.0

#: Class names hit by the negative regex (arc90 getClassWeight's negative
#: pattern plus Mozilla Readability's unlikely-candidate list, which is
#: where 'aside'/'footer' removal lives in the tree-walking original).
READ_NEG_CLASSES = ("nav", "aside", "footer", "sidebar", "comment")


def _read_blocks(spark: SparkSession, sf_dir: str,
                 synth_expr: str) -> DataFrame:
    """Synthesize pages with ``synth_expr`` and regex-parse them back to
    one row per block with the raw open tag preserved (shared by the
    readability/boilerpipe extractors)."""
    return (_pages(spark, sf_dir, synth_expr)
            .select("doc_id",
                    F.posexplode(F.expr(
                        f"regexp_extract_all(html, '{_BLOCK_RE}', 0)"))
                    .alias("block_idx", "raw"))
            .withColumn("tag", F.expr(
                "regexp_extract(raw, '^<([a-z0-9]+)', 1)"))
            .withColumn("klass", F.regexp_extract(
                "raw", r'^<[a-z0-9]+ class="([a-z]+)"', 1))
            .withColumn("inner", F.expr(
                "regexp_replace(regexp_replace(raw, '^<[^>]*>', ''), "
                "'</[^>]*>$', '')"))
            .withColumn("text", F.expr(
                "regexp_replace(inner, '<[^>]*>', '')"))
            .drop("raw"))


def readability_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arc90 Readability content scoring, flattened to block granularity.

    The published readability.js algorithm (arc90, later Mozilla
    Readability) walks the DOM scoring candidate containers:
    ``initializeNode`` seeds a score by tag (DIV +5, H1-H6 -5,
    ADDRESS-family -3), ``getClassWeight`` adds ±25 by class/id regex,
    each paragraph contributes ``1 + commas + min(floor(len/100), 3)``,
    and the final candidate score is scaled by ``1 - linkDensity``. Our
    block model is flat (no parent/child propagation — the same
    flattening ``main_content`` applies to jusText), so every block
    scores itself with exactly those published formulas:

        raw   = tag_weight + class_weight + 1 + commas + chunks
        score = round(raw * (1 - link_density), 4)
        kept  = score >= READ_MIN_SCORE

    with tag_weight: div +5, footer -3, h1/h2 -5, p 0; class_weight -25
    when the class attribute is in READ_NEG_CLASSES or the tag itself is
    ``footer`` (the tree original strips those nodes in its
    unlikely-candidate pass before scoring).

    Same serialize→regex-parse discipline as ``main_content``: the DuckDB
    twin predicts every feature closed-form from the generator formulas
    without parsing, so the parse path is hash-gated. Scale shape: scan →
    HOF synth/parse; every feature is per-block (no window stack), so the
    ONLY exchange is the small-input widening repartition — which is a
    no-op on an already-wide production scan. Plan-audited: 1 exchange,
    0 Python nodes.
    """
    feat = (_read_blocks(spark, sf_dir, synth_html_expr(comma=True))
            .withColumn("len_text", F.length("text"))
            .withColumn("commas",
                        F.size(F.split(F.col("text"), ",")) - 1)
            .withColumn("link_chars", F.expr(
                f"aggregate(regexp_extract_all(inner, '{_ANCHOR_RE}', 1), "
                f"0, (a, x) -> a + length(x))"))
            .drop("inner"))

    tag_w = (F.when(F.col("tag") == "div", 5)
             .when(F.col("tag") == "footer", -3)
             .when(F.col("tag").isin("h1", "h2"), -5)
             .otherwise(0))
    class_w = F.when(
        F.col("klass").isin(*READ_NEG_CLASSES)
        | (F.col("tag") == "footer"), -25).otherwise(0)
    chunks = F.least(F.floor(F.col("len_text") / 100), F.lit(3))
    raw_score = tag_w + class_w + 1 + F.col("commas") + chunks
    link_d = F.col("link_chars") / F.col("len_text")
    score = F.round(raw_score * (F.lit(1.0) - link_d), 4)

    return feat.select(
        "doc_id",
        F.col("block_idx").cast("bigint").alias("block_idx"),
        "tag", "klass", "text",
        F.col("commas").cast("bigint").alias("commas"),
        F.col("len_text").cast("bigint").alias("len_text"),
        F.col("link_chars").cast("bigint").alias("link_chars"),
        raw_score.cast("bigint").alias("raw_score"),
        F.round(link_d, 4).alias("link_density"),
        score.alias("score"),
        (score >= READ_MIN_SCORE).alias("kept"))


# ---------------------------------------------------------------------------
# Boilerpipe NumWordsRulesClassifier — the third published DOM heuristic
# ---------------------------------------------------------------------------

#: Boilerpipe's published decision thresholds (Kohlschuetter, Fankhauser,
#: Nejdl, "Boilerplate Detection using Shallow Text Features", WSDM 2010;
#: the trained NumWordsRulesClassifier constants shipped in the public
#: boilerpipe DefaultExtractor).
BP_CURR_LD = 0.333333
BP_PREV_LD = 0.555556

#: Aside link rule for the boilerpipe page variant: 2 of every 3 tokens
#: linked (k % 3 != 2), so an aside's word-level link density (~0.67)
#: clears BP_PREV_LD and the prev-dense subtree of the classifier is
#: reachable on the following block. Nav/footer/p/h rules are unchanged
#: from the shared generator.
_LINKED_BP = ("CASE WHEN {role} IN ('nav', 'footer') THEN {k} % 2 = 0 "
              "WHEN {role} = 'aside' THEN {k} % 3 != 2 "
              "WHEN {role} = 'p' THEN (did + 17 * {b} + 3 * {k}) % 37 = 3 "
              "ELSE false END")


def boilerpipe_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerpipe main-content classification (NumWordsRulesClassifier).

    The published boilerpipe DefaultExtractor classifies each text block
    from three shallow features of the (prev, curr, next) block triple —
    word count and word-level link density (tokens inside anchors /
    tokens) — with the decision tree trained in the WSDM 2010 paper:

        curr.linkDensity <= 0.333333
        | prev.linkDensity <= 0.555556
        | | curr.numWords <= 16
        | | | next.numWords <= 15
        | | | | prev.numWords <= 4  -> boilerplate
        | | | | prev.numWords >  4  -> CONTENT
        | | | next.numWords > 15    -> CONTENT
        | | curr.numWords > 16      -> CONTENT
        | prev.linkDensity > 0.555556
        | | curr.numWords <= 40
        | | | next.numWords <= 17   -> boilerplate
        | | | next.numWords > 17    -> CONTENT
        | | curr.numWords > 40      -> CONTENT
        curr.linkDensity > 0.333333 -> boilerplate

    Missing neighbours (document edges) are boilerpipe's empty
    TextBlocks: numWords 0, linkDensity 0. Same serialize→regex-parse
    discipline as the siblings; the classifier itself is lag/lead over
    ONE doc_id exchange (the whole query has exactly one shuffle).
    """
    feat = (_read_blocks(spark, sf_dir, synth_html_expr(_LINKED_BP))
            .withColumn("wlist", F.expr(
                "filter(split(text, ' '), x -> x != '')"))
            .withColumn("n_words", F.size("wlist"))
            .withColumn("linked_words", F.expr(
                f"size(regexp_extract_all(inner, '{_ANCHOR_RE}', 1))"))
            .drop("inner", "wlist"))

    w = Window.partitionBy("doc_id").orderBy("block_idx")
    ld = F.col("linked_words") / F.col("n_words")
    feat = (feat
            .withColumn("ld", ld)
            .withColumn("prev_nw", F.lag("n_words", 1, 0).over(w))
            .withColumn("next_nw", F.lead("n_words", 1, 0).over(w))
            .withColumn("prev_ld", F.lag(F.col("ld"), 1, 0.0).over(w)))

    content = F.when(
        F.col("ld") <= BP_CURR_LD,
        F.when(
            F.col("prev_ld") <= BP_PREV_LD,
            F.when(F.col("n_words") <= 16,
                   F.when(F.col("next_nw") <= 15,
                          F.col("prev_nw") > 4)
                   .otherwise(F.lit(True)))
            .otherwise(F.lit(True)))
        .otherwise(
            F.when(F.col("n_words") <= 40, F.col("next_nw") > 17)
            .otherwise(F.lit(True)))).otherwise(F.lit(False))

    return feat.select(
        "doc_id",
        F.col("block_idx").cast("bigint").alias("block_idx"),
        "tag", "klass", "text",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("linked_words").cast("bigint").alias("linked_words"),
        F.col("prev_nw").cast("bigint").alias("prev_nw"),
        F.col("next_nw").cast("bigint").alias("next_nw"),
        F.round("ld", 4).alias("link_density_words"),
        F.round("prev_ld", 4).alias("prev_link_density"),
        content.alias("content"))
