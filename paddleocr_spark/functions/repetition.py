"""Gopher repetition filters — the full Rae et al. (2021) Table A1 block.

``textfns.gopher_rules`` covers the shape rules plus two repetition
signals (dup word fraction, top 2-gram char fraction). This module adds
the COMPLETE repetition block of the published filter (Rae et al.,
"Scaling Language Models: Methods, Analysis & Insights from Training
Gopher", Appendix A1.1, Table A1), per document:

* ``dup_line_frac`` / ``dup_line_char_frac`` — duplicate-line fraction
  and the character fraction those duplicates cover (thresholds
  0.30 / 0.20);
* ``dup_para_frac`` / ``dup_para_char_frac`` — same for paragraphs
  (0.30 / 0.20);
* ``top2/top3/top4_char_frac`` — characters covered by the single most
  frequent word n-gram (0.20 / 0.18 / 0.16);
* ``dup5..dup10_char_frac`` — characters covered by ALL duplicated
  n-grams, n = 5..10 (0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10);
* ``repetition_pass`` — every signal under its threshold.

Conventions (each documented because the published text under-specifies
them). They are inspired by HF datatrove's GopherRepetitionFilter but
differ from it in four ways, noted on each bullet: singleton handling,
the denominator, the tie-break and overlap accounting.

* The corpus text carries no newlines, so a "line" is a non-overlapping
  ``LINE_WIDTH_WORDS``-word chunk (the ``line_dedup`` convention) and a
  "paragraph" is four lines' worth of words.
* Character counts are word-granular (sum of word lengths, joining
  spaces excluded) — the same base ``gopher_rules`` uses. (datatrove
  divides by ``len(text)``, spaces included.)
* A duplicate line/paragraph/n-gram occurrence is any occurrence AFTER
  the first (by position) of a chunk/gram seen >= 2 times in the doc.
* ``top{n}_char_frac`` counts the top gram's word chars times its full
  occurrence count (0 when the top gram occurs once; datatrove charges
  a singleton too); ties resolve to the lexicographically first gram so
  both engines agree (datatrove takes the first by occurrence).
* ``dup{n}_char_frac`` is overlap-aware: duplicate occurrences mark the
  word POSITIONS they cover, positions are unioned, and the fraction is
  the covered positions' chars over all word chars (so overlapping
  duplicated grams never double-count; datatrove instead scans
  greedily, skipping ahead past each duplicate it counts).

Because within-document repetition is rare in the synthetic corpus, the
signals run over :func:`repetition_corpus` — documents plus two
closed-form decorations (a tripled first paragraph on ``did % 7 == 3``
docs, a 20x bigram spam run on ``did % 11 == 5`` docs) chosen so every
signal fires on some docs and passes on others at every SF. The DuckDB
twin mirrors the decoration formulas verbatim.

Scale shape: one scan; explodes are linear in token count (3x for the
top-gram family, 6x for the dup-gram family, 1.25x for chunks); every
aggregate/join after the first hash exchange is keyed by doc_id (plus
gram/chunk digests that never leave their doc group), so the whole query
is a handful of co-partitioned doc-local aggregations — no windows over
the corpus, no Python, no driver state. At 10^12 docs this is the same
shingle-table shape as the MinHash band build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import sf_table
from .curation import LINE_WIDTH_WORDS
from .textfns import words_col

#: Rae et al. (2021) Table A1 thresholds.
REP_MAX_DUP_LINE_FRAC = 0.30
REP_MAX_DUP_PARA_FRAC = 0.30
REP_MAX_DUP_LINE_CHAR_FRAC = 0.20
REP_MAX_DUP_PARA_CHAR_FRAC = 0.20
REP_MAX_TOP_CHAR_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
REP_MAX_DUP_CHAR_FRAC = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12,
                         9: 0.11, 10: 0.10}

#: paragraph = this many lines' worth of words.
PARA_LINES = 4


def repetition_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, did, w) with the two closed-form repetition decorations.

    * ``did % 7 == 3`` → the document becomes THREE copies of its first
      paragraph-width (PARA_LINES * LINE_WIDTH_WORDS) words: boundary-
      aligned duplicate paragraphs, duplicate lines, and long duplicated
      n-grams all fire;
    * ``did % 11 == 5`` → the first two words are appended 20 times
      (plants a dominant 2/3/4-gram and short duplicated n-grams).

    Formulas must stay in lockstep with the DuckDB twin
    (entry_queries ``gopher_repetition``).
    """
    pw = PARA_LINES * LINE_WIDTH_WORDS
    docs = (sf_table(spark, sf_dir, "documents")
            .select("doc_id",
                    F.col("doc_id").cast("long").alias("did"),
                    words_col().alias("w0"))
            .where(F.size("w0") >= 1))
    return docs.select(
        "doc_id", "did",
        F.expr(
            f"CASE WHEN did % 7 = 3 THEN "
            f"  flatten(transform(sequence(1, 3), "
            f"    i -> slice(w0, 1, {pw}))) "
            f"WHEN did % 11 = 5 THEN "
            f"  concat(w0, flatten(transform(sequence(1, 20), "
            f"    i -> slice(w0, 1, 2)))) "
            f"ELSE w0 END").alias("w"))


def _gram_expr(n: str) -> str:
    """SQL expr: positional word n-grams of array ``w`` as (i, g) structs
    (i = 0-based start; empty when the doc is shorter than n)."""
    return (f"CASE WHEN size(w) < {n} THEN array() "
            f"ELSE transform(sequence(0, size(w) - {n}), "
            f"i -> struct(i AS i, "
            f"concat_ws(' ', slice(w, i + 1, {n})) AS g)) END")


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = repetition_corpus(spark, sf_dir)
    base = corpus.select(
        "doc_id", "w",
        F.size("w").alias("n_words"),
        F.expr("aggregate(w, 0L, (a, x) -> a + length(x))").alias("n_chars"))

    # -- top n-gram char fraction, n = 2, 3, 4 ---------------------------
    topg = (base
            .select("doc_id", "n_chars", "w",
                    F.explode(F.array(F.lit(2), F.lit(3), F.lit(4)))
                    .alias("n"))
            .select("doc_id", "n_chars", "n",
                    F.explode(F.expr(_gram_expr("n"))).alias("p"))
            .select("doc_id", "n_chars", "n", F.col("p.g").alias("g")))
    topc = topg.groupBy("doc_id", "n", "g", "n_chars").agg(
        F.count("*").alias("c"))
    wtop = Window.partitionBy("doc_id", "n").orderBy(F.col("c").desc(), "g")
    # gram word chars = length(g) minus the (n-1) joining spaces
    top = (topc.withColumn("rn", F.row_number().over(wtop))
           .filter(F.col("rn") == 1)
           .withColumn("frac", F.when(F.col("c") <= 1, F.lit(0.0)).otherwise(
               (F.length("g") - (F.col("n") - 1)) * F.col("c")
               / F.col("n_chars")))
           .groupBy("doc_id")
           .pivot("n", [2, 3, 4])
           .agg(F.first("frac")))

    # -- duplicated n-gram coverage, n = 5..10 ---------------------------
    dupg = (base
            .select("doc_id", "w",
                    F.explode(F.array(*[F.lit(i) for i in range(5, 11)]))
                    .alias("n"))
            .select("doc_id", "n",
                    F.explode(F.expr(_gram_expr("n"))).alias("p"))
            .select("doc_id", "n", F.col("p.i").alias("i"),
                    F.col("p.g").alias("g")))
    wg = Window.partitionBy("doc_id", "n", "g")
    dup_occ = (dupg
               .withColumn("c", F.count("*").over(wg))
               .withColumn("i0", F.min("i").over(wg))
               .filter((F.col("c") >= 2) & (F.col("i") > F.col("i0"))))
    # union the covered word positions, then charge each position's chars
    cover = (dup_occ
             .select("doc_id", "n", F.explode(F.expr(
                 "sequence(i, i + n - 1)")).alias("pos"))
             .distinct()
             .groupBy("doc_id", "n")
             .agg(F.collect_list("pos").alias("ps")))
    dups = (cover.join(corpus.select("doc_id", "w"), "doc_id")
            .withColumn("cov", F.expr(
                "aggregate(ps, 0L, (a, p) -> "
                "a + length(element_at(w, p + 1)))"))
            .groupBy("doc_id")
            .pivot("n", list(range(5, 11)))
            .agg(F.first("cov")))

    # -- duplicate lines / paragraphs ------------------------------------
    def chunk_stats(width: int, prefix: str) -> DataFrame:
        ch = (base
              .where(F.col("n_words") >= width)
              .select("doc_id", F.explode(F.expr(
                  f"transform(sequence(1, size(w) DIV {width}), "
                  f"i -> concat_ws(' ', slice(w, (i - 1) * {width} + 1, "
                  f"{width})))")).alias("g")))
        per = (ch.groupBy("doc_id", "g")
               .agg(F.count("*").alias("c"))
               .groupBy("doc_id")
               .agg(F.sum("c").alias("n_ch"),
                    F.sum(F.col("c") - 1).alias("n_dup"),
                    F.sum((F.col("c") - 1)
                          * (F.length("g") - (width - 1)))
                    .alias("dup_chars")))
        return per.select(
            "doc_id",
            F.col("n_dup").alias(f"{prefix}_dup"),
            F.col("n_ch").alias(f"{prefix}_n"),
            F.col("dup_chars").alias(f"{prefix}_chars"))

    lines = chunk_stats(LINE_WIDTH_WORDS, "ln")
    paras = chunk_stats(PARA_LINES * LINE_WIDTH_WORDS, "pa")

    j = (base.select("doc_id", "n_words", "n_chars")
         .join(top, "doc_id", "left")
         .join(dups, "doc_id", "left")
         .join(lines, "doc_id", "left")
         .join(paras, "doc_id", "left"))

    def r4(c):
        return F.round(c, 4)

    z = F.lit(0.0)
    cols = [F.col("doc_id"),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_chars").cast("long").alias("n_chars")]
    frac_cols = {}
    frac_cols["dup_line_frac"] = F.coalesce(
        F.col("ln_dup") / F.col("ln_n"), z)
    frac_cols["dup_line_char_frac"] = F.coalesce(
        F.col("ln_chars") / F.col("n_chars"), z)
    frac_cols["dup_para_frac"] = F.coalesce(
        F.col("pa_dup") / F.col("pa_n"), z)
    frac_cols["dup_para_char_frac"] = F.coalesce(
        F.col("pa_chars") / F.col("n_chars"), z)
    for n in (2, 3, 4):
        frac_cols[f"top{n}_char_frac"] = F.coalesce(F.col(str(n)), z)
    for n in range(5, 11):
        frac_cols[f"dup{n}_char_frac"] = F.coalesce(
            F.col(str(n)) / F.col("n_chars"), z)
    cols += [r4(c).alias(name) for name, c in frac_cols.items()]

    limits = {
        "dup_line_frac": REP_MAX_DUP_LINE_FRAC,
        "dup_line_char_frac": REP_MAX_DUP_LINE_CHAR_FRAC,
        "dup_para_frac": REP_MAX_DUP_PARA_FRAC,
        "dup_para_char_frac": REP_MAX_DUP_PARA_CHAR_FRAC,
        **{f"top{n}_char_frac": t for n, t in REP_MAX_TOP_CHAR_FRAC.items()},
        **{f"dup{n}_char_frac": t for n, t in REP_MAX_DUP_CHAR_FRAC.items()},
    }
    ok = F.lit(True)
    for name, t in limits.items():
        ok = ok & (r4(frac_cols[name]) <= t)
    cols.append(ok.alias("repetition_pass"))
    return j.select(*cols)
