"""Deterministic BPE merge training over the corpus.

The tokenizer-training step of a data pipeline (Sennrich et al. 2016):
collect word types with frequencies, start from character tokens, and
repeatedly merge the most frequent adjacent token pair. Everything is a
closed deterministic form so the DuckDB twin replays it exactly:

* word types: the corpus word-split convention (lowercase, space-split,
  empties dropped) with BIGINT frequencies;
* pair statistics: all adjacent token pairs per word (overlaps counted,
  as in the reference implementation's ``get_stats``), weighted by the
  word-type frequency — one explode + hash aggregation per round;
* merge choice: max count, ties → lexicographically smallest (left,
  right) pair — a deterministic total order both engines share;
* merge application: greedy left-to-right non-overlapping rewrite,
  expressed as a string left-fold — tokens joined on ``chr(1)``, the
  accumulator merges a trailing ``left`` with an incoming ``right``
  (suffix check against the separator, so a trailing token merely
  *ending* in ``left`` never false-positives), then split back. Spark's
  ``aggregate`` HOF and DuckDB's ``list_reduce`` run the identical
  lambda.

Simplifications vs a production tokenizer, stated: no end-of-word
marker, no byte fallback, merges over the raw word-split vocabulary.
The *dataflow* is the real thing: per round, one vocabulary-sized
aggregation, a 1-row argmax, and a broadcast of that row into the
rewrite — never a driver-side loop over words.

Scale shape: the working table is WORD TYPES (vocabulary-sized, not
corpus-sized — the one aggregation over the corpus happens once,
up front), so K merge rounds cost K tiny shuffles regardless of corpus
size; each round's result is ``localCheckpoint``-ed so the logical plan
stays constant-size (the neardup_components lesson). At 10^12 docs the
word-type table is the standard frequency-table artifact you'd persist
once and re-train tokenizers from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import sf_table
from .textfns import words_col


#: Number of BPE merge rounds the query trains.
BPE_MERGES = 8

#: The token-join separator inside the fold accumulator (never occurs in
#: corpus-derived tokens, which are built from word characters only).
_SEP = "chr(1)"

#: Greedy left-to-right merge of the (left, right) pair, as a string
#: left-fold over the token list. ``left``/``right`` are column
#: references supplied by the broadcast best-pair row.
_MERGE_FOLD = (
    "CASE WHEN left_tok IS NULL THEN t ELSE "
    "split(aggregate(t, '', (acc, x) -> CASE "
    f"WHEN x = right_tok AND (acc = left_tok OR endswith(acc, "
    f"concat({_SEP}, left_tok))) THEN concat(acc, x) "
    "WHEN acc = '' THEN x "
    f"ELSE concat(acc, {_SEP}, x) END), {_SEP}) END")


def word_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n, t): distinct corpus words, frequencies, char tokens."""
    w = sf_table(spark, sf_dir, "documents").select(F.explode(
        words_col())
        .alias("word"))
    return (w.groupBy("word")
            .agg(F.count("*").cast("long").alias("n"))
            .select("word", "n", F.expr(
                "transform(sequence(1, length(word)), "
                "i -> substring(word, i, 1))").alias("t")))


def _train(spark: SparkSession, sf_dir: str,
           k: int) -> tuple[list[DataFrame], DataFrame]:
    """(per-round 1-row merge frames, final tokenization) after ``k``
    rounds. A round whose pair table is empty contributes an empty frame
    and leaves the tokenization unchanged (the left-join-on-true
    guard)."""
    toks = word_types(spark, sf_dir).localCheckpoint(eager=False)
    rounds = []
    for r in range(1, k + 1):
        pairs = (toks.filter(F.expr("size(t) >= 2"))
                 .select("n", F.explode(F.expr(
                     "transform(sequence(1, size(t) - 1), "
                     "i -> struct(element_at(t, i) AS l, "
                     "element_at(t, i + 1) AS r))")).alias("p")))
        cnt = (pairs.groupBy(F.col("p.l").alias("left_tok"),
                             F.col("p.r").alias("right_tok"))
               .agg(F.sum("n").alias("pair_count")))
        best = (cnt.orderBy(F.desc("pair_count"), "left_tok", "right_tok")
                .limit(1))
        rounds.append(best.select(
            F.lit(r).cast("long").alias("merge_round"),
            "left_tok", "right_tok",
            F.concat("left_tok", "right_tok").alias("merged"),
            "pair_count"))
        toks = (toks.join(F.broadcast(best), F.lit(True), "left")
                .select("word", "n", F.expr(_MERGE_FOLD).alias("t"))
                .localCheckpoint(eager=False))
    return rounds, toks


def bpe_merges(spark: SparkSession, sf_dir: str,
               k: int = BPE_MERGES) -> DataFrame:
    """The learned merge table after ``k`` rounds.

    Output: (merge_round, left_tok, right_tok, merged, pair_count), one
    row per round that still had an adjacent pair to merge.
    """
    rounds, _ = _train(spark, sf_dir, k)
    out = rounds[0]
    for nxt in rounds[1:]:
        out = out.unionByName(nxt)
    return out.orderBy("merge_round")


def bpe_token_counts(spark: SparkSession, sf_dir: str,
                     k: int = BPE_MERGES) -> DataFrame:
    """Per-word tokenization after the ``k`` learned merges.

    Output: (word, n, n_tokens, tokens) with tokens joined by '|' (an
    engine-portable canon, like inverted_index's posting lists) — the
    applied artifact downstream shard packing would consume.
    """
    _, toks = _train(spark, sf_dir, k)
    return (toks.select("word", "n",
                        F.size("t").cast("long").alias("n_tokens"),
                        F.array_join("t", "|").alias("tokens"))
            .orderBy("word"))


def bpe_encode(spark: SparkSession, sf_dir: str,
               k: int = BPE_MERGES) -> DataFrame:
    """Per-document token counts under the trained tokenizer.

    The apply step: documents join the word→tokenization table learned
    by :func:`bpe_token_counts` (vocabulary-sized, broadcast — by
    construction it covers every corpus word), and per-doc totals are
    one hash aggregation. Emits (doc_id, n_words, n_tokens, fertility)
    — fertility = tokens/words 4dp (the metric a tokenizer-training
    pipeline actually monitors; 0.0 sentinel for empty docs).

    Scale shape: the score pass is the dsir pattern — the exploded
    token stream never shuffles on the word key (broadcast join), and
    the per-doc rollup is map-side combinable. Empty docs emit 0/0/0.
    """
    _, toks = _train(spark, sf_dir, k)
    vocab = toks.select("word", F.size("t").cast("long").alias("wt"))
    d = sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        words_col().alias("w"))
    per_doc = (d.select("doc_id", F.explode("w").alias("word"))
               .join(F.broadcast(vocab), "word")
               .groupBy("doc_id")
               .agg(F.count("*").cast("long").alias("n_words"),
                    F.sum("wt").alias("n_tokens")))
    out = (d.select("doc_id").join(per_doc, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("n_words", F.lit(0)).cast("long")
                   .alias("n_words"),
                   F.coalesce("n_tokens", F.lit(0)).cast("long")
                   .alias("n_tokens")))
    fert = F.when(F.col("n_words") > 0,
                  F.col("n_tokens").cast("double")
                  / F.col("n_words").cast("double")).otherwise(0.0)
    return out.select("doc_id", "n_words", "n_tokens",
                      F.round(fert, 4).alias("fertility"))


# ---------------------------------------------------------------------------
# WordPiece greedy longest-match encoding (Wu et al. 2016; BERT tokenizer)
# ---------------------------------------------------------------------------

#: Longest piece the matcher tries (BERT tries whole words; 4 keeps the
#: vocabulary non-trivial on this corpus's short words).
WP_MAX_PIECE = 4
#: A multi-char piece enters the vocabulary when its occurrence-weighted
#: frequency reaches this fraction of total word occurrences (relative,
#: so the vocabulary is stable across SFs); single chars always enter
#: (both head and continuation forms), so segmentation is total and the
#: [UNK] arm is unreachable by construction.
WP_REL_FREQ = 0.004
#: Unrolled matcher steps; each advances >= 1 char, corpus words are
#: <= 8 chars, so 12 leaves margin. A word the steps do not consume
#: raises (``wordpiece_encode``) rather than emit a truncated row.
WP_STEPS = 12


def _wp_step_exprs(contains: str, substr: str):
    """(step, toks) SQL templates shared by both engines — `contains`
    and `substr` are the engine spellings (array_contains/list_contains,
    substring/substr). Columns in scope: word, pos, toks, vh, vc."""
    def arms(flag_head: bool) -> str:
        vocab = "vh" if flag_head else "vc"
        out = []
        for ln in range(WP_MAX_PIECE, 1, -1):
            out.append(
                f"WHEN length(word) - pos >= {ln} AND "
                f"{contains}({vocab}, {substr}(word, pos + 1, {ln})) "
                f"THEN {ln}")
        out.append("ELSE 1")
        return " ".join(out)
    step = (f"CASE WHEN pos >= length(word) THEN 0 "
            f"WHEN pos = 0 THEN CASE {arms(True)} END "
            f"ELSE CASE {arms(False)} END END")
    toks = (f"CASE WHEN step = 0 THEN toks "
            f"WHEN pos = 0 THEN {substr}(word, 1, step) "
            f"ELSE concat(toks, ' ##', {substr}(word, pos + 1, step)) "
            f"END")
    return step, toks


def wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match-first WordPiece segmentation per word type.

    The published BERT WordPiece matcher (Wu et al. 2016; the
    tokenizers library's WordPiece model): scan each word left to
    right, at every position take the LONGEST vocabulary piece
    (continuation pieces carry the ``##`` prefix), never backtrack.
    The vocabulary is corpus-derived and deterministic: all single
    characters (head + continuation forms) plus every 2..WP_MAX_PIECE
    substring whose occurrence-weighted frequency clears
    WP_REL_FREQ * total word occurrences.

    Emits one row per word type: the segmentation, piece count, corpus
    frequency, and the fertility contribution — the table a tokenizer
    pipeline ships as its encode artifact (documents then join it
    broadcast, exactly like ``bpe_encode``). A word that WP_STEPS steps
    do not consume raises, naming the word, so ``consumed`` is always
    true.

    Scale shape: the matcher unrolls WP_STEPS projection steps over the
    VOCABULARY-SIZED word-type table with the two piece arrays riding a
    single-row broadcast cross join — one scan-shaped codegen pipeline,
    zero shuffles after the type/vocab aggregations; the same unrolled
    formulas run as chained CTEs on the DuckDB side.
    """
    wt = word_types(spark, sf_dir).select(
        "word", F.col("n").alias("freq"))
    total = wt.agg(F.sum("freq").alias("tot"))
    # candidate multi-char pieces, occurrence-weighted
    pieces = (wt.select("freq", F.explode(F.expr(
        f"flatten(transform(sequence(1, length(word)), "
        f"p -> transform(sequence(2, {WP_MAX_PIECE}), "
        f"l -> struct(substring(word, p, l) AS pc, "
        f"p = 1 AS head, p + l - 1 <= length(word) AS ok))))"))
        .alias("c"))
        .where(F.col("c.ok"))
        .groupBy(F.col("c.pc").alias("pc"), F.col("c.head").alias("head"))
        .agg(F.sum("freq").alias("pfreq")))
    kept = (pieces.crossJoin(F.broadcast(total))
            .where(F.col("pfreq") >= WP_REL_FREQ * F.col("tot"))
            .select("pc", "head"))
    chars = (wt.select(F.explode(F.expr(
        "transform(sequence(1, length(word)), "
        "p -> substring(word, p, 1))")).alias("pc"))
        .distinct())
    vh = kept.where("head").select("pc").unionByName(
        chars.select("pc")).distinct()
    vc = kept.where("NOT head").select("pc").unionByName(
        chars.select("pc")).distinct()
    voc = (vh.agg(F.sort_array(F.collect_list("pc")).alias("vh"))
           .crossJoin(vc.agg(F.sort_array(F.collect_list("pc"))
                             .alias("vc"))))
    df = (wt.crossJoin(F.broadcast(voc))
          .withColumn("pos", F.lit(0))
          .withColumn("toks", F.lit("")))
    step_sql, toks_sql = _wp_step_exprs("array_contains", "substring")
    for _ in range(WP_STEPS):
        df = (df.withColumn("step", F.expr(step_sql))
              .withColumn("toks", F.expr(toks_sql))
              .withColumn("pos", F.col("pos") + F.col("step"))
              .drop("step"))
    return (df.select(
        "word", F.col("freq").cast("long").alias("freq"),
        F.col("toks").alias("pieces"),
        F.size(F.split("toks", " ")).cast("long").alias("n_pieces"),
        F.when(F.col("pos") >= F.length("word"), F.lit(True))
        .otherwise(F.raise_error(F.concat(
            F.lit(f"wordpiece_encode: {WP_STEPS} matcher steps do not "
                  f"consume the word '"), F.col("word"), F.lit("'"))))
        .alias("consumed"))
        .orderBy("word"))
