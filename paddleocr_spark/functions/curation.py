"""Corpus-curation operators: decontamination, importance weighting,
and deterministic shard packing.

Three more moves a training-data pipeline makes between "raw corpus" and
"training shards":

* :func:`decontaminate` — benchmark n-gram decontamination (the
  GPT-3/PaLM-style 13-gram overlap check, here at the corpus's 8-gram
  shingle width): every training document is scored by the fraction of
  its word n-grams that also appear in a held-out evaluation split, and
  flagged when the overlap crosses a threshold. On this corpus the
  flagged set is exactly the planted near-duplicates that straddle the
  train/eval split — which is precisely the leak the op exists to catch.
* :func:`dsir_weights` — hashed-unigram importance weights in the style
  of DSIR (Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling"): per-document mean log-likelihood ratio
  between a target distribution (here the ``zh``-labeled subset) and
  the raw-corpus distribution, both add-one smoothed over the raw
  vocabulary. Downstream sampling keeps documents proportional to the
  exponentiated weight; we emit the per-doc log ratio.
* :func:`pack_shards` — deterministic token-budget shard packing: within
  each source, documents are laid out in doc_id order and cut into
  shards of ``SHARD_BUDGET_WORDS`` words by their starting offset (the
  "write the corpus as ~equal-token shards" step before tokenization).

All pure JVM expressions. Scale shapes:

* decontaminate: shingles travel as md5 digests (16-byte keys, never the
  raw gram text); the eval-gram table is the product of a distinct over
  the (small) eval split and joins the train grams on the digest — a
  plain equi-join that co-partitions, with map-side-combinable counts on
  both sides. At 10^12 docs the eval-gram digest set is a build-once
  artifact (like the dedup band table).
* dsir: the "model" is two unigram hash-aggregations over one exploded
  pass; the per-word log-ratio table is vocabulary-sized and rides a
  broadcast into the scoring join; the per-doc mean is one hash agg.
* pack_shards: one cumulative-sum window per source partition — the
  shuffle carries (source) keys only, and at web scale the source is
  the natural write-partition so the window never crosses machines.

DuckDB twins live in ``entry_queries.py``; column names and 4dp rounding
are part of the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import sf_table
from .retrieval import _doc_words

#: Decontamination shingle width (words), the deterministic eval-split
#: rate (md5-threshold, '40000000'/2^32 = exactly 25%), and the overlap
#: fraction at which a training document is flagged as contaminated.
DECON_N = 8
DECON_SPLIT_HEX = "40000000"
DECON_FLAG_FRAC = 0.5

#: DSIR target facet: documents whose lang equals this value form the
#: target distribution.
DSIR_TARGET_LANG = "zh"

#: Shard packing budget in whitespace words.
SHARD_BUDGET_WORDS = 256

#: Line-dedup "line" width in words (the corpus carries no newlines, so
#: non-overlapping word chunks stand in for lines), and the duplicated-
#: line fraction at which a document is dropped (RefinedWeb uses 0.3 on
#: duplicate-line character share; we use the position share).
LINE_WIDTH_WORDS = 8
LINE_DUP_DROP_FRAC = 0.3

#: Blocklist for the C4-style badword filter. ``dup`` is the corpus's
#: planted near-duplicate marker token; the other two never occur (the
#: realistic regime — a blocklist mostly doesn't fire).
BLOCKLIST = ("dup", "unsafe", "explicit")

#: Multilingual sampling temperature (XLM-R's alpha = 0.3).
SAMPLING_ALPHA = 0.3

#: PII masking patterns — kept Java-regex / RE2 portable (no
#: lookarounds, no \b, no unicode classes) so the Spark query and the
#: DuckDB oracle compile the same automaton.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"
PII_IP_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def _with_eval_split(d: DataFrame) -> DataFrame:
    """Tag each doc with its deterministic train/eval split membership."""
    return d.withColumn(
        "is_eval",
        F.expr(f"substr(md5(concat('decon|', cast(doc_id as string))), "
               f"1, 8) < '{DECON_SPLIT_HEX}'"))


def decontaminate(spark: SparkSession, sf_dir: str,
                  n: int = DECON_N) -> DataFrame:
    """Benchmark-overlap decontamination over the deterministic split.

    A training document's *contaminated* gram positions are those whose
    word n-gram also occurs anywhere in the eval split. Emits every
    train-split document with its gram count, contaminated count, 4dp
    contaminated fraction, and the drop flag at ``DECON_FLAG_FRAC``.
    Documents shorter than n words carry zero grams and are never
    flagged (nothing to leak at this shingle width).
    """
    d = _with_eval_split(_doc_words(spark, sf_dir))
    grams = (d.where(F.expr(f"size(w) >= {n}"))
             .select("doc_id", "is_eval", F.explode(F.expr(
                 f"transform(sequence(1, size(w) - {n - 1}), "
                 f"i -> md5(concat_ws(' ', slice(w, i, {n}))))"
             )).alias("gkey")))
    eval_grams = (grams.where("is_eval").select("gkey").distinct())
    contam = (grams.where(~F.col("is_eval"))
              .join(eval_grams, "gkey", "left_semi")
              .groupBy("doc_id")
              .agg(F.count("*").cast("long").alias("n_contam")))
    totals = (d.where(~F.col("is_eval")).select(
        "doc_id",
        F.greatest(F.expr(f"size(w) - {n - 1}"), F.lit(0))
        .cast("long").alias("n_grams")))
    out = (totals.join(contam, "doc_id", "left")
           .select("doc_id", "n_grams",
                   F.coalesce("n_contam", F.lit(0))
                   .cast("long").alias("n_contam")))
    frac = F.when(F.col("n_grams") > 0,
                  F.col("n_contam").cast("double")
                  / F.col("n_grams").cast("double")).otherwise(0.0)
    return out.select(
        "doc_id", "n_grams", "n_contam",
        F.round(frac, 4).alias("contam_frac"),
        (frac >= DECON_FLAG_FRAC).alias("flagged"))


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR-style importance log-ratio.

    With target counts c_t over the ``DSIR_TARGET_LANG`` subset and raw
    counts c_r over the whole corpus, both add-one smoothed over the raw
    vocabulary V:

        weight(d) = (1/|d|) Σ_{w∈d} ln( (c_t(w)+1)/(n_t+V)
                                      / ((c_r(w)+1)/(n_r+V)) )

    Every document is scored (target docs too — resampling draws from
    the whole corpus). Empty documents carry weight 0.0.
    """
    d = sf_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.expr("filter(split(lower(text), ' '), w -> w != '')").alias("w"))
    tok = d.select("doc_id", "lang", F.explode("w").alias("v"))
    raw = tok.groupBy("v").agg(F.count("*").cast("double").alias("cr"))
    tgt = (tok.where(F.col("lang") == DSIR_TARGET_LANG)
           .groupBy("v").agg(F.count("*").cast("double").alias("ct")))
    stats = raw.agg(
        F.count("*").cast("double").alias("vsize"),
        F.sum("cr").alias("nr"))
    tstats = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0.0)).alias("nt"))
    ratios = (raw.join(tgt, "v", "left")
              .join(F.broadcast(stats))
              .join(F.broadcast(tstats))
              .select("v", (
                  F.log((F.coalesce("ct", F.lit(0.0)) + 1.0)
                        / (F.col("nt") + F.col("vsize")))
                  - F.log((F.col("cr") + 1.0)
                          / (F.col("nr") + F.col("vsize"))))
                  .alias("lr")))
    per_doc = (tok.join(F.broadcast(ratios), "v")
               .groupBy("doc_id")
               .agg(F.round(F.avg("lr"), 4).alias("dsir_logratio"),
                    F.count("*").cast("long").alias("n_words")))
    return (d.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("dsir_logratio", F.lit(0.0))
                    .alias("dsir_logratio"),
                    F.coalesce("n_words", F.lit(0))
                    .cast("long").alias("n_words")))


def adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive quality filtering (decile-threshold form).

    A fixed global quality cutoff over-filters whichever language the
    heuristics are worst calibrated for, so curation pipelines set the
    cutoff PER FACET: here each language keeps documents scoring at or
    above its own 10th-percentile quality. The threshold is an exact
    order statistic — the value at integer rank ceil(n/10) under the
    total order (quality, doc_id) — computed with pure integer
    arithmetic (``(n + 9) DIV 10``), so there are no interpolation
    semantics to disagree about across engines.

    Emits every document with its language, 4dp quality, the language's
    threshold, and the keep decision.

    Scale shape: one row_number window partitioned by lang (the natural
    facet partition; an exact per-facet order statistic requires a
    per-facet sort — at 10^12 docs you'd swap in a mergeable quantile
    sketch and accept approximation, which this exact form degrades to
    gracefully since only the threshold row changes); the per-lang
    threshold table is facet-sized and broadcasts back into the
    per-doc decision join.
    """
    from .textfns import quality_score

    qs = quality_score(spark, sf_dir).select("doc_id", "quality")
    d = (sf_table(spark, sf_dir, "documents").select("doc_id", "lang")
         .join(qs, "doc_id"))
    win = Window.partitionBy("lang").orderBy("quality", "doc_id")
    ranked = (d.withColumn("rk", F.row_number().over(win))
              .withColumn("n_docs",
                          F.count("*").over(Window.partitionBy("lang"))))
    thr = (ranked.where(F.expr("rk = (n_docs + 9) DIV 10"))
           .select("lang", F.col("quality").alias("lang_p10")))
    return (d.join(F.broadcast(thr), "lang")
            .select("doc_id", "lang", "quality", "lang_p10",
                    (F.col("quality") >= F.col("lang_p10")).alias("kept")))


def pack_shards(spark: SparkSession, sf_dir: str,
                budget: int = SHARD_BUDGET_WORDS) -> DataFrame:
    """Deterministic per-source token-budget shard assignment.

    Documents are laid out in doc_id order within each source; a doc's
    shard is its starting word offset divided by the budget (so a shard
    may overhang its budget by at most one document — the standard
    sequential-packing contract). Emits the shard id, the doc's starting
    offset within its shard, and its word count.
    """
    d = sf_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.expr("size(filter(split(lower(text), ' '), w -> w != ''))")
        .cast("long").alias("n_words"))
    win = (Window.partitionBy("source").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = d.withColumn("cum", F.sum("n_words").over(win))
    start = F.col("cum") - F.col("n_words")
    return cum.select(
        "doc_id", "source", "n_words",
        F.floor(start / budget).cast("long").alias("shard_id"),
        (start % budget).cast("long").alias("shard_offset"))


#: Per-image token cost when packing interleaved documents (the
#: Flamingo/IDEFICS perceiver-resampler latent count — every image costs
#: a fixed 64 sequence positions regardless of resolution).
MEDIA_TOKENS = 64
#: Token budget of one packed training sequence.
SEQ_BUDGET_TOKENS = 2048


def interleaved_pack(spark: SparkSession, sf_dir: str,
                     budget: int = SEQ_BUDGET_TOKENS,
                     media_tokens: int = MEDIA_TOKENS) -> DataFrame:
    """Fixed-budget sequence packing of INTERLEAVED text+media documents.

    The multimodal analog of :func:`pack_shards` — the training-prep
    step of interleaved corpora (MMC4, OBELICS): documents are laid out
    in doc_id order within each source and cut into fixed-token-budget
    training sequences, where a document's cost charges each text-kind
    span its whitespace token count and each media span a FIXED
    ``media_tokens`` positions (the Flamingo-style perceiver-resampled
    image cost). A sequence may overhang its budget by at most one
    document — the standard sequential-packing contract.

    Emits per document: span/media/text-token counts, the total cost,
    and the (seq_id, seq_offset) assignment. Media-heavy skew docs
    (hundreds of media spans → 25k+ token cost) land as single-doc
    overhanging sequences, which is exactly how the published pipelines
    treat outliers — the salting story for the downstream shuffle is the
    flagship's (operators/spatial.py).

    Scale shape: the span-cost aggregation is one HOF over the spans
    array (no explode); the only exchange is the per-source running-sum
    window — the same documented seam as ``pack_shards`` (at 10^12 docs
    the running sum runs per source-shard with a broadcast base-offset
    join, a mechanical refinement recorded there).
    """
    from ..synth import synth_spans

    docs = sf_table(spark, sf_dir, "documents")
    inter = synth_spans(docs)
    per = inter.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.expr("CAST(size(filter(spans, s -> s.kind = 'media')) AS LONG)")
        .alias("n_media"),
        F.expr(
            "aggregate(spans, 0L, (a, s) -> a + CASE "
            "WHEN s.kind = 'media' THEN 0L "
            "ELSE CAST(size(filter(split(coalesce(s.text, ''), ' '), "
            "w -> w != '')) AS LONG) END)").alias("n_text_tokens"))
    per = per.withColumn(
        "cost",
        (F.col("n_text_tokens") + media_tokens * F.col("n_media"))
        .cast("long"))
    src = docs.select(
        F.format_string("doc_%07d", F.col("doc_id")).alias("doc_id"),
        "source")
    win = (Window.partitionBy("source").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = per.join(src, "doc_id").withColumn(
        "cum", F.sum("cost").over(win))
    start = F.col("cum") - F.col("cost")
    return cum.select(
        "doc_id", "source", "n_spans", "n_media", "n_text_tokens", "cost",
        F.floor(start / budget).cast("long").alias("seq_id"),
        (start % budget).cast("long").alias("seq_offset"))


def line_dedup(spark: SparkSession, sf_dir: str,
               width: int = LINE_WIDTH_WORDS) -> DataFrame:
    """Corpus-wide duplicated-line removal stats (RefinedWeb-style).

    Web curation pipelines drop documents dominated by lines that repeat
    across the corpus (navigation chrome, boilerplate footers). The
    corpus text carries no newlines, so a "line" is a non-overlapping
    ``width``-word chunk starting at word 1; a line is *duplicated* when
    its md5 digest occurs in >= 2 distinct documents. Every document is
    emitted with its full-chunk count, duplicated-chunk count, the
    duplicated fraction (4dp), and the keep decision
    (dup_frac < ``LINE_DUP_DROP_FRAC``). Docs shorter than one chunk
    carry 0/0/0.0/kept.

    On this corpus the dropped set is exactly the planted near-duplicate
    families (their shared runs are chunk-aligned), which is the leak
    class the filter exists for.

    Scale shape: chunks travel as 16-byte digests, never text; the
    line-frequency table is one map-side-combinable distinct-count
    aggregate on the digest, and the per-doc score joins chunk positions
    back on the same digest key (co-partitioning equi-join — the digest
    table is the build-once boilerplate index at 10^12 docs, same
    artifact pattern as the dedup band table). No windows, no Python,
    no driver actions.
    """
    d = _doc_words(spark, sf_dir)
    chunks = (d.where(F.expr(f"size(w) >= {width}"))
              .select("doc_id", F.explode(F.expr(
                  f"transform(sequence(1, size(w) DIV {width}), "
                  f"i -> md5(array_join(slice(w, (i - 1) * {width} + 1, "
                  f"{width}), ' ')))")).alias("ck")))
    freq = chunks.groupBy("ck").agg(
        F.count_distinct("doc_id").alias("ndocs"))
    per_doc = (chunks.join(freq, "ck")
               .groupBy("doc_id")
               .agg(F.count("*").cast("long").alias("n_lines"),
                    F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
                    .cast("long").alias("n_dup_lines")))
    frac = F.round(F.col("n_dup_lines") / F.col("n_lines"), 4)
    return (d.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_lines", F.lit(0)).cast("long")
                    .alias("n_lines"),
                    F.coalesce("n_dup_lines", F.lit(0)).cast("long")
                    .alias("n_dup_lines"),
                    F.coalesce(frac, F.lit(0.0)).alias("dup_frac"))
            .withColumn("kept", F.col("dup_frac") < LINE_DUP_DROP_FRAC))


#: C4 line-retention thresholds (Raffel et al. 2020 §2.2): a line
#: survives with ≥5 words and terminal punctuation; a page survives
#: with ≥3 surviving lines and no blocklisted word.
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3
#: md5 leading hex digits that mark a synthesized line as NOT ending in
#: terminal punctuation (4/16 — ~25% of lines fail the rule, enough to
#: exercise both arms at every SF).
C4_NO_PUNCT_NIBBLES = ("0", "4", "8", "c")


def c4_clean(spark: SparkSession, sf_dir: str,
             width: int = LINE_WIDTH_WORDS) -> DataFrame:
    """C4-style line-retention cleaning (Raffel et al. 2020 §2.2).

    The published filter keeps only lines that end in terminal
    punctuation AND have ≥ ``C4_MIN_LINE_WORDS`` words, then drops any
    page with fewer than ``C4_MIN_KEPT_LINES`` surviving lines or any
    blocklisted word. The corpus text carries no newlines or
    punctuation (TESTDATA is a word stream), so — the same synthesis
    move as :func:`line_dedup` and the LMDB fixture envs — a "line" is
    a ``width``-word chunk (the ragged tail chunk INCLUDED, so the
    ≥5-words arm is live) and its terminal punctuation is synthesized
    deterministically from the chunk text: a line fails the punctuation
    rule iff the first hex digit of ``md5(chunk)`` is in
    ``C4_NO_PUNCT_NIBBLES``. Both engines evaluate the identical md5 on
    the identical string, so the rule is engine-portable. Emits every
    document with line/survivor/word counts, the blocked-word count,
    and the page keep decision.

    Scale shape: a pure higher-order-function scan — no explode, no
    join, no shuffle; the per-line predicate and the page fold run
    inside whole-stage codegen over the words array. At 10^12 docs this
    is the canonical embarrassingly-parallel cleaning pass (the real C4
    ran it as a MapReduce map side); the blocklist compiles into the
    row predicate exactly as :func:`blocklist_filter` does.
    """
    lw = width
    chunks = (f"CASE WHEN size(w) = 0 THEN "
              f"array() "
              f"ELSE transform(sequence(1, (size(w) + {lw} - 1) DIV {lw}), "
              f"i -> slice(w, (i - 1) * {lw} + 1, {lw})) END")
    nibs = ", ".join(f"'{n}'" for n in C4_NO_PUNCT_NIBBLES)
    pred = " OR ".join(f"x = '{b}'" for b in BLOCKLIST)
    d = (_doc_words(spark, sf_dir)
         .select("doc_id", "w", F.expr(chunks).alias("cs"))
         .select(
             "doc_id",
             F.expr("transform(cs, c -> named_struct("
                    "'n', size(c), "
                    f"'k', size(c) >= {C4_MIN_LINE_WORDS} AND "
                    "substring(md5(array_join(c, ' ')), 1, 1) "
                    f"NOT IN ({nibs})))").alias("st"),
             F.expr(f"size(filter(w, x -> {pred}))")
             .cast("long").alias("n_blocked")))
    return (d.select(
        "doc_id",
        F.expr("size(st)").cast("long").alias("n_lines"),
        F.expr("size(filter(st, s -> s.k))").cast("long").alias("n_kept"),
        F.expr("aggregate(filter(st, s -> s.k), 0L, (a, s) -> a + s.n)")
        .alias("kept_words"),
        "n_blocked")
        .withColumn("kept",
                    (F.col("n_kept") >= C4_MIN_KEPT_LINES)
                    & (F.col("n_blocked") == 0)))


def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style word-blocklist filter.

    A document is dropped when any whitespace token equals a blocklist
    entry (C4's "bad words" pass; list in ``BLOCKLIST``). Emits every
    document with the blocked-position count and the keep decision.

    Scale shape: a pure higher-order-function scan predicate — no
    explode, no join, no shuffle beyond the scan itself; at 10^12 docs
    this is the canonical embarrassingly-parallel filter and the
    blocklist (real ones are ~10^3 entries) compiles into the row
    predicate or rides a broadcast.
    """
    pred = " OR ".join(f"x = '{b}'" for b in BLOCKLIST)
    return (sf_table(spark, sf_dir, "documents")
            .select("doc_id",
                    F.expr(
                        f"size(filter(filter(split(lower(text), ' '), "
                        f"w -> w != ''), x -> {pred}))")
                    .cast("long").alias("n_blocked"))
            .withColumn("kept", F.col("n_blocked") == 0))


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking pass (emails / phone numbers / IPv4 literals).

    The synthetic corpus carries no PII, so the op first plants a
    deterministic doc_id-derived contact line — all three kinds when
    doc_id % 3 == 0, email only when % 3 == 1, none when % 3 == 2 (the
    realistic regime: most documents are clean) — then counts and masks
    each kind with the portable patterns in ``PII_*_RE``, in the order
    email -> phone -> IPv4 (emails are masked before the IPv4 pass so a
    dotted domain can never be half-eaten by the address rule). Emits
    per-kind counts and the redacted text.

    Scale shape: stateless per-row regexp_replace chain — whole-stage
    codegen, no shuffle, no Python; the regexes are the C4/CCNet
    redaction shapes and RE2-safe (linear-time scan, no backtracking
    blowup on adversarial rows).
    """
    planted = F.expr(
        "CASE WHEN doc_id % 3 = 0 THEN concat(text, "
        "  ' contact doc', cast(doc_id AS string), '@example.com', "
        "  ' +1-555-', lpad(cast(doc_id % 10000 AS string), 4, '0'), "
        "  ' 10.', cast(doc_id % 256 AS string), '.0.', "
        "  cast((doc_id * 7) % 256 AS string)) "
        "WHEN doc_id % 3 = 1 THEN concat(text, "
        "  ' mail doc', cast(doc_id AS string), '@example.com') "
        "ELSE text END")
    d = sf_table(spark, sf_dir, "documents").select("doc_id",
                                         planted.alias("t0"))
    n = lambda c, p: F.size(F.regexp_extract_all(c, F.lit(p), F.lit(0))) \
        .cast("long")
    masked = (d
              .withColumn("n_emails", n(F.col("t0"), PII_EMAIL_RE))
              .withColumn("t1", F.regexp_replace(
                  "t0", PII_EMAIL_RE, "<EMAIL>"))
              .withColumn("n_phones", n(F.col("t1"), PII_PHONE_RE))
              .withColumn("t2", F.regexp_replace(
                  "t1", PII_PHONE_RE, "<PHONE>"))
              .withColumn("n_ips", n(F.col("t2"), PII_IP_RE))
              .withColumn("redacted", F.regexp_replace(
                  "t2", PII_IP_RE, "<IP>")))
    return masked.select("doc_id", "n_emails", "n_phones", "n_ips",
                         "redacted")


def sampling_temperature(spark: SparkSession, sf_dir: str,
                         alpha: float = SAMPLING_ALPHA) -> DataFrame:
    """Per-language temperature-resampled corpus shares (XLM-R alpha).

    Multilingual pretraining reweights languages by
    q_l = p_l^alpha / sum_m p_m^alpha over raw word shares p_l, which
    up-samples the tail languages (alpha = 0.3 in XLM-R / mBERT-style
    recipes). Emits one row per language: doc and word counts, the raw
    share, the resampled share, and the boost factor q/p a sampler
    applies to that language's documents (all 4dp).

    Scale shape: one map-side-combinable groupBy(lang) over the scan;
    the language table is facet-sized, so the normalization is a
    1-row-broadcast aggregate over it — nothing here grows with the
    corpus except the first aggregate's input.
    """
    per_lang = (sf_table(spark, sf_dir, "documents")
                .select("lang", F.expr(
                    "size(filter(split(lower(text), ' '), w -> w != ''))")
                    .cast("long").alias("nw"))
                .groupBy("lang")
                .agg(F.count("*").cast("long").alias("n_docs"),
                     F.sum("nw").cast("long").alias("n_words")))
    # The normalizers are whole-table aggregates over the FACET-sized
    # result, so they ride two unbounded windows on the (tiny) single
    # partition instead of separate agg branches — one corpus scan
    # total, not four (a re-used DataFrame re-executes its subtree).
    whole = Window.partitionBy()
    p = (per_lang
         .withColumn("p_raw", F.col("n_words")
                     / F.sum(F.col("n_words").cast("double")).over(whole))
         .withColumn("z", F.sum(F.pow("p_raw", F.lit(alpha))).over(whole)))
    return p.select(
        "lang", "n_docs", "n_words",
        F.round("p_raw", 4).alias("share_raw"),
        F.round(F.pow("p_raw", F.lit(alpha)) / F.col("z"), 4)
        .alias("share_alpha"),
        F.round(F.pow("p_raw", F.lit(alpha)) / F.col("z")
                / F.col("p_raw"), 4).alias("boost"))


def ccnet_buckets(spark: SparkSession, sf_dir: str,
                  approx: bool = False) -> DataFrame:
    """CCNet-style perplexity bucketing of the bigram LM score.

    CCNet splits each language's corpus into head / middle / tail
    terciles by LM perplexity and trains preferentially on the head.
    Buckets here come from two exact order statistics over the
    (lm_nll, doc_id) total order — the values at integer ranks
    ceil(n/3) and ceil(2n/3) — and a document's bucket is a plain
    comparison of its (4dp) score against those two thresholds, so ties
    at a threshold all land in the lower bucket and the cut is
    engine-portable (no ntile remainder semantics to match).

    Scale shape: the per-doc score is :func:`lm_score` (no windows);
    only the two threshold VALUES need a rank. The default (oracle)
    path computes them with one global row_number — exact, engine-
    portable, but a single-partition sort at the limit. Passing
    ``approx=True`` swaps the two cutpoints for Spark's mergeable
    Greenwald-Khanna sketch (``percentile_approx``, map-side partial
    agg, NO global sort or window anywhere in the plan — pinned by
    tests/test_curation.py::test_ccnet_buckets_approx_plan) and keeps
    everything else identical; the bucketing join is a 1-row broadcast.
    That is the 10^12-doc shape: rank error ≤ n/accuracy docs around
    each tercile cut, and the scored subtree is persisted so the LM
    pass still executes once.
    """
    from .retrieval import lm_score

    if approx:
        scores = lm_score(spark, sf_dir)
        # scores feeds BOTH the sketch agg and the bucketing select; an
        # unpersisted reuse would re-execute the whole LM-training
        # lineage. StorageLevel default (memory+disk) — at corpus scale
        # this is the standard cache-the-scored-table move.
        scores = scores.persist()
        th = scores.agg(F.percentile_approx(
            "lm_nll", [1.0 / 3.0, 2.0 / 3.0], 10000).alias("ts"))
        return (scores.crossJoin(F.broadcast(th))
                .select("doc_id", "lm_nll",
                        F.when(F.col("lm_nll") <= F.col("ts")[0], "head")
                        .when(F.col("lm_nll") <= F.col("ts")[1], "middle")
                        .otherwise("tail").alias("bucket")))

    # rk/n and the two threshold values all live on the same global
    # single-partition window, so deriving t1/t2 as window aggregates
    # (instead of a separate agg branch joined back) keeps lm_score's
    # subtree computed ONCE — a re-used DataFrame re-executes its whole
    # lineage, which at corpus scale would double the LM training pass.
    whole = Window.partitionBy()
    ranked = (lm_score(spark, sf_dir)
              .withColumn("rk", F.row_number().over(
                  Window.orderBy("lm_nll", "doc_id")))
              .withColumn("n", F.count("*").over(whole))
              .withColumn("t1", F.max(F.when(
                  F.expr("rk = (n + 2) DIV 3"), F.col("lm_nll")))
                  .over(whole))
              .withColumn("t2", F.max(F.when(
                  F.expr("rk = (2 * n + 2) DIV 3"), F.col("lm_nll")))
                  .over(whole)))
    return ranked.select(
        "doc_id", "lm_nll",
        F.when(F.col("lm_nll") <= F.col("t1"), "head")
        .when(F.col("lm_nll") <= F.col("t2"), "middle")
        .otherwise("tail").alias("bucket"))


#: GPT-3-style classifier filtering: Pareto shape for the stochastic
#: keep rule (Brown et al. 2020 use alpha = 9) and its exact exponent
#: literal, shared with the DuckDB twin so both engines pow() the same
#: double.
QC_PARETO_ALPHA = 9.0
QC_PARETO_EXP = -1.0 / QC_PARETO_ALPHA


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the GPT-3 classifier tier).

    The canon tier above heuristic rules and LM perplexity: train a
    classifier to recognize a curated subset, score every document, and
    keep stochastically in favor of high scores — GPT-3's rule is
    ``keep iff score > 1 - pareto_draw`` (Brown et al. 2020, App. A).
    Everything here is a deterministic closed form so the whole
    train+score+keep pipeline is oracle-checkable:

    * labels: positive = documents passing the Gopher heuristic rules
      (:func:`~.textfns.gopher_rules` — the curated stand-in), negative
      = the rest;
    * model: multinomial Naive Bayes over unigrams with add-one
      smoothing over the corpus vocabulary — training is ONE counting
      pass (no iterations), the closed-form stand-in for the logistic
      classifier;
    * score: mean per-token log-odds, squashed to a probability
      ``qc_prob = sigmoid(mean_logodds)`` (empty docs score 0 → 0.5);
    * keep: ``qc_prob > 1 - (u^(-1/alpha) - 1)`` with
      ``u = (uint32(md5(doc_id)[0:8]) + 1) / 2^32`` — the md5-uniform
      replay of ``np.random.pareto(9)``, the same deterministic-draw
      move as sample_stratified.

    Scale shape: the classic two-pass classifier — one TRAIN pass (the
    exploded tokens join the gopher labels, one map-side-combinable
    two-class count) and one SCORE pass (the label-free tokens join the
    broadcast log-odds table — scoring needs no labels, so the gopher
    subtree executes exactly once). The smoothing normalizers ride an
    unbounded window over the VOCABULARY-sized count table (the
    ccnet_buckets move: no second aggregation branch re-executing the
    training subtree); the keep rule is pure per-row codegen
    arithmetic. Plan audit: gopher's window runs once, corpus scans =
    train + score + the id frame.
    """
    from .textfns import gopher_rules

    labels = gopher_rules(spark, sf_dir).select("doc_id", "gopher_pass")
    d = sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), w -> w != '')").alias("w"))
    tok = d.select("doc_id", F.explode("w").alias("v"))
    whole = Window.partitionBy()
    counts = (tok.join(labels, "doc_id")
              .groupBy("v").agg(
                  F.sum(F.when(F.col("gopher_pass"), 1.0)
                        .otherwise(0.0)).alias("cp"),
                  F.sum(F.when(F.col("gopher_pass"), 0.0)
                        .otherwise(1.0)).alias("cn")))
    logodds = (counts
               .withColumn("vsize",
                           F.count("*").over(whole).cast("double"))
               .withColumn("np", F.sum("cp").over(whole))
               .withColumn("nn", F.sum("cn").over(whole))
               .select("v", (
                   F.log((F.col("cp") + 1.0) / (F.col("np") + F.col("vsize")))
                   - F.log((F.col("cn") + 1.0)
                           / (F.col("nn") + F.col("vsize")))).alias("lo")))
    per_doc = (tok.join(F.broadcast(logodds), "v")
               .groupBy("doc_id")
               .agg(F.avg("lo").alias("s"),
                    F.count("*").cast("long").alias("n_words")))
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                 16, 10).cast("double") + 1.0) / F.lit(4294967296.0))
    s = F.coalesce("s", F.lit(0.0))
    prob = 1.0 / (1.0 + F.exp(-s))
    cut = 2.0 - F.pow(u, F.lit(QC_PARETO_EXP))
    return (d.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_words", F.lit(0))
                    .cast("long").alias("n_words"),
                    F.round(s, 4).alias("qc_logodds"),
                    F.round(prob, 4).alias("qc_prob"),
                    F.round(cut, 4).alias("pareto_cut"),
                    (prob > cut).alias("kept")))


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-card reporting pass: one ROLLUP over (lang, source).

    Every curation pipeline publishes per-facet corpus statistics (the
    "datasheet" rollup: docs, tokens, chars per language, per source,
    and overall). Expressed as a single ``ROLLUP`` aggregation so
    Catalyst expands the grouping sets into ONE pass with map-side
    partial aggregation — never one job per facet level. Subtotal rows
    carry NULL in the rolled-up column (the corpus columns themselves
    are never NULL, so the marker is unambiguous).

    Output: (lang, source, n_docs, n_words, n_chars, avg_words 4dp),
    ordered by (lang, source) with NULLs first within each level.
    """
    d = sf_table(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars",
        F.size(F.expr("filter(split(lower(text), ' '), w -> w != '')"))
        .cast("long").alias("nw"))
    return (d.rollup("lang", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("nw").alias("n_words"),
                 F.sum("n_chars").alias("n_chars"),
                 F.round(F.avg("nw"), 4).alias("avg_words"))
            .orderBy(F.asc_nulls_first("lang"), F.asc_nulls_first("source")))
