"""Text-analysis operators for large-scale corpus curation.

Language-ID (stopword-hit heuristic), quality scoring (length / punctuation /
stopword ratios), token counting (whitespace + BPE-ish regex), document
fingerprinting (min-hash over word shingles — a winnowing-lite rolling
fingerprint), and the reference's full-width fold (strQ2B,
tools/end2end/eval_end2end.py:26-35).

All pure JVM expressions (split / higher-order functions / regexp) — no
Python UDFs — so every op whole-stage-codegens and survives a 100× scale-up.
Each op's DuckDB oracle lives in paddleocr_spark/entry_queries.py; column
names and rounding are part of the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import sf_table

#: Stopword sets for the n-gram/stopword lang-ID heuristic. Order is the
#: tie-break precedence (en > de > fr > es).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "et", "les", "des", "une", "est", "pour"],
    "es": ["el", "los", "y", "las", "una", "es", "por", "como"],
}

#: English stopwords used by the quality score's stopword-ratio feature.
QUALITY_STOPWORDS = LANG_STOPWORDS["en"]

#: BPE-ish token pattern: letter runs | digit runs | single non-space symbol.
#: Kept RE2/Java-portable (no lookarounds, no unicode classes).
BPE_TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

#: Full-width → half-width fold: the COMPLETE strQ2B mapping
#: (eval_end2end.py:26-35) — U+3000 → space and the whole
#: U+FF01..U+FF5E run shifted by −0xFEE0 — as a translate() table
#: (exec-reference differential pins table == reference fold).
FW = "　" + "".join(chr(c) for c in range(0xFF01, 0xFF5F))
HW = " " + "".join(chr(c - 0xFEE0) for c in range(0xFF01, 0xFF5F))


def words_col(text_col: str = "text"):
    """Whitespace tokenization of lowercased text, empty tokens dropped."""
    return F.expr(
        f"filter(split(lower({text_col}), ' '), w -> w != '')")


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace words + BPE-ish regex tokens."""
    return sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(words_col()).cast("long").alias("n_words"),
        F.size(F.expr(
            f"regexp_extract_all(lower(text), '{BPE_TOKEN_PATTERN}', 0)"
        )).cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


#: Heavy-hitter cut for ngram_topk (fixed so the DuckDB twin matches).
NGRAM_TOPK_K = 20


def ngram_topk(spark: SparkSession, sf_dir: str,
               k: int = NGRAM_TOPK_K) -> DataFrame:
    """Corpus-level heavy hitters: the k most frequent word bigrams.

    The classic boilerplate-detection statistic (repeated navigation/
    footer bigrams dominate a crawl; Gopher-style filters consume the
    list). Shape at scale: one hash aggregation with map-side partial
    combine over the exploded bigrams, then a top-k that Spark plans as
    TakeOrderedAndProject (per-partition heap + driver merge of k rows —
    no global sort). Ties break on the bigram itself, so the cut at rank
    k is a total order and the result is deterministic.

    Guard: ``sequence(1, size-1)`` on a <2-word doc would step DOWN to
    [1, 0] (the documented Spark trap — see grapheme_compose_label), so
    short docs are filtered before the transform.
    """
    w = sf_table(spark, sf_dir, "documents").select(words_col().alias("w"))
    bi = (w.filter(F.expr("size(w) >= 2"))
          .select(F.explode(F.expr(
              "transform(sequence(1, size(w) - 1), "
              "i -> concat(w[i - 1], ' ', w[i]))")).alias("ngram")))
    return (bi.groupBy("ngram")
            .agg(F.count("*").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "ngram")
            .limit(k))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language identification.

    Counts (with repeats) how many tokens fall in each language's stopword
    set; predicted language = argmax with fixed precedence en>de>fr>es,
    'und' (undetermined) when all counts are zero.
    """
    df = sf_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", words_col().alias("w"))
    hits = {}
    for lg, sw in LANG_STOPWORDS.items():
        arr = ", ".join(f"'{s}'" for s in sw)
        hits[lg] = F.expr(
            f"size(filter(w, x -> array_contains(array({arr}), x)))"
        ).cast("long")
    df = df.select(
        "doc_id", "lang",
        *[hits[lg].alias(f"hits_{lg}") for lg in LANG_STOPWORDS])
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in LANG_STOPWORDS])
    pred = F.when(best <= 0, F.lit("und"))
    for lg in LANG_STOPWORDS:  # dict order == precedence
        pred = pred.when(F.col(f"hits_{lg}") == best, F.lit(lg))
    return df.select(
        "doc_id", "lang", pred.alias("pred_lang"),
        *[F.col(f"hits_{lg}") for lg in LANG_STOPWORDS])


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality score in [0,1].

    Features: word count (saturating at 100), mean word length (target 3-10),
    punctuation ratio (penalized above 20%), stopword ratio (reward presence).
    The exact formula is arbitrary but fixed — the contract is determinism and
    oracle parity, mirroring how curation pipelines bin documents by score.
    """
    arr = ", ".join(f"'{s}'" for s in QUALITY_STOPWORDS)
    df = sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(words_col()).cast("double").alias("n_words"),
        F.size(F.expr(
            f"filter(split(lower(text), ' '), "
            f"w -> array_contains(array({arr}), w))"
        )).cast("double").alias("n_stop"),
        (F.length("text") - F.length(
            F.regexp_replace("text", "[.,;:!?'\"()-]", ""))
         ).cast("double").alias("n_punct"),
    )
    mean_wl = F.when(F.col("n_words") > 0,
                     (F.col("n_chars") - F.col("n_words") + 1)
                     / F.col("n_words")).otherwise(F.lit(0.0))
    punct_ratio = F.when(F.col("n_chars") > 0,
                         F.col("n_punct") / F.col("n_chars")).otherwise(0.0)
    stop_ratio = F.when(F.col("n_words") > 0,
                        F.col("n_stop") / F.col("n_words")).otherwise(0.0)
    score = (
        0.4 * F.least(F.col("n_words") / 100.0, F.lit(1.0))
        + 0.2 * F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), 1.0).otherwise(0.0)
        + 0.2 * (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0)))
        + 0.2 * F.least(stop_ratio * 10.0, F.lit(1.0))
    )
    return df.select(
        "doc_id",
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality"),
    )


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: lexicographic-min MD5 over word 5-gram shingles
    (winnowing-lite); whole-text MD5 when the doc has fewer than 5 words."""
    df = sf_table(spark, sf_dir, "documents").select(
        "doc_id", "text", words_col().alias("w"))
    return df.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(w) < 5 THEN md5(coalesce(text, ''))"
            " ELSE array_min(transform(sequence(1, size(w) - 4),"
            "   i -> md5(concat_ws(' ', slice(w, i, 5))))) END"
        ).alias("fingerprint"),
    )


def strq2b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-width → half-width unicode fold (strQ2B, P14 analog):
    deterministically prefix full-width chars, then fold with translate()."""
    df = sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.expr("substring('ＡＢＣＤＥ', CAST(doc_id % 5 AS INT) + 1, 1)"),
            F.lit("　"),
            F.expr("substring('０１２３４', CAST(doc_id % 5 AS INT) + 1, 1)"),
            F.col("text"),
        ).alias("widened"))
    return df.select(
        "doc_id", F.translate("widened", FW, HW).alias("folded"))


#: Gopher-rule thresholds (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", table A1): documents
#: failing any repetition/shape bound are filtered before training.
GOPHER_MAX_DUP_WORD_FRAC = 0.30
GOPHER_MAX_TOP_BIGRAM_CHAR_FRAC = 0.20
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.10
GOPHER_MAX_NO_ALPHA_WORD_FRAC = 0.20


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/shape quality rules per document.

    The standard web-scale pre-training filter family (beyond-reference
    op, like dedup/ANN): per doc —

    * ``dup_word_frac`` = 1 − distinct words / words (word-level
      repetition);
    * ``top_bigram_char_frac`` = chars covered by the most frequent word
      2-gram / total word chars (the "top n-gram character fraction"
      rule; ties resolve to the lexicographically first 2-gram so both
      engines agree);
    * ``symbol_word_ratio`` = '#'/'…'-style symbol count / words;
    * ``no_alpha_word_frac`` = words with no [a-z] char / words;
    * ``gopher_pass`` = all four under their thresholds.

    The 2-gram mode is relational (explode → count → window max), not an
    O(n²) HOF; everything else is codegen expressions. All ratios 4dp.
    """
    from pyspark.sql.window import Window
    docs = sf_table(spark, sf_dir, "documents").select(
        "doc_id", words_col().alias("w"))
    base = docs.select(
        "doc_id", "w",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
        F.expr("aggregate(w, 0L, (a, x) -> a + length(x))").alias("n_chars"),
        F.expr("size(filter(w, x -> x rlike '^[^a-z]*$'))").alias("no_alpha"),
        F.expr("aggregate(w, 0L, (a, x) -> a + length(regexp_replace(x, "
               "'[^#…$%@*+=<>^|~]', '')))").alias("n_sym"))
    grams = docs.select(
        "doc_id",
        F.explode(F.expr(
            "CASE WHEN size(w) < 2 THEN array() "
            "ELSE transform(sequence(1, size(w) - 1), "
            "i -> concat_ws(' ', slice(w, i, 2))) END")).alias("g"))
    gc = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    wtop = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), "g")
    top = (gc.withColumn("rn", F.row_number().over(wtop))
           .filter(F.col("rn") == 1)
           .select("doc_id",
                   # chars covered by the top 2-gram's WORDS (gram length
                   # minus the joining space) times its count
                   ((F.length("g") - 1) * F.col("c")).alias("top_chars")))
    j = base.join(top, "doc_id", "left")
    nw = F.col("n_words").cast("double")
    dup = F.when(F.col("n_words") > 0,
                 1.0 - F.col("n_distinct") / nw).otherwise(0.0)
    tb = F.when(F.col("n_chars") > 0,
                F.coalesce(F.col("top_chars"), F.lit(0))
                / F.col("n_chars").cast("double")).otherwise(0.0)
    sym = F.when(F.col("n_words") > 0, F.col("n_sym") / nw).otherwise(0.0)
    noal = F.when(F.col("n_words") > 0,
                  F.col("no_alpha") / nw).otherwise(0.0)
    return j.select(
        "doc_id",
        F.round(dup, 4).alias("dup_word_frac"),
        F.round(tb, 4).alias("top_bigram_char_frac"),
        F.round(sym, 4).alias("symbol_word_ratio"),
        F.round(noal, 4).alias("no_alpha_word_frac"),
        ((dup <= GOPHER_MAX_DUP_WORD_FRAC)
         & (tb <= GOPHER_MAX_TOP_BIGRAM_CHAR_FRAC)
         & (sym <= GOPHER_MAX_SYMBOL_WORD_RATIO)
         & (noal <= GOPHER_MAX_NO_ALPHA_WORD_FRAC)).alias("gopher_pass"))
