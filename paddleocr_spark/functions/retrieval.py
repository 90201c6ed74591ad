"""Ranked retrieval + cross-document duplicated-span detection.

Three corpus-curation operators a training-data pipeline runs constantly:

* :func:`bm25_topk` — Okapi BM25 ranking of the corpus against a fixed
  query term set (the "find documents like this filter seed" primitive).
* :func:`tfidf_terms` — per-document top-k terms by tf-idf (document
  keywording; the feature side of cluster labeling / topic triage).
* :func:`dup_span_docs` — per-document duplicated word-n-gram statistics
  across the corpus (the groupBy-shingle form of substring-level dedup
  from Lee et al., "Deduplicating Training Data Makes Language Models
  Better" — a doc whose n-grams mostly occur in other docs is a
  boilerplate/near-copy candidate even when whole-doc MinHash misses it).

All pure JVM expressions (split / HOFs / hash aggregations) — no Python
UDFs — so every op whole-stage-codegens. Scale shapes:

* bm25: one exploded-token pass filtered to |Q| terms BEFORE the
  aggregation (the filter is sargable on the exploded value, so the
  shuffle carries only query-term hits), document-frequency side is ≤|Q|
  rows (broadcast), corpus stats ride a 1-row broadcast, and the final
  top-k plans as TakeOrderedAndProject (per-partition heap, no global
  sort).
* tfidf: token explode → (doc, term) hash agg with map-side combine →
  broadcast the vocabulary-sized df table → per-doc top-k window. The
  window shuffles by doc_id once; rank ties break on the term string so
  the cut is a total order.
* dup spans: shingle → md5 shingle key (at 100 TB the join key is the
  128-bit digest, never the raw gram text) → one hash agg for
  multi-document grams → left-semi join back → per-doc counts. Both
  aggregations are map-side-combinable; the semi join carries only the
  16-byte key.

DuckDB twins live in ``entry_queries.py``; column names and 4dp rounding
are part of the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import sf_table
from .textfns import words_col

#: BM25 free parameters (Robertson/Sparck Jones defaults) + the fixed
#: demo query. The terms are corpus-vocabulary words so the ranking is
#: non-degenerate at every SF.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ["table", "scan", "join"]
BM25_TOPK = 20

#: tf-idf: top terms kept per document.
TFIDF_TOPK = 3

#: Duplicated-span shingle width (words) and the flagging threshold on
#: the duplicated fraction.
DUP_SPAN_N = 8
DUP_SPAN_FLAG_FRAC = 0.2

#: Hash-threshold sampling rate: an 8-hex-digit prefix below this keeps
#: the row. '40000000' = 0x40000000 / 2^32 = exactly 25%.
SAMPLE_THRESHOLD_HEX = "40000000"

#: Inverted index: posting lists are capped at this many doc ids.
INDEX_POSTINGS_CAP = 20


def _doc_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sf_table(spark, sf_dir, "documents").select(
        "doc_id", words_col().alias("w"))


def bm25_topk(spark: SparkSession, sf_dir: str,
              k: int = BM25_TOPK) -> DataFrame:
    """Okapi BM25 top-k documents for the fixed query ``BM25_QUERY``.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)) (the non-negative
    Lucene variant); score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1 - b + b·dl/avgdl)). Scores round to 4dp BEFORE the
    ordering so the rank cut is engine-portable; ties break on doc_id.
    """
    d = _doc_words(spark, sf_dir).select(
        "doc_id", "w", F.size("w").cast("double").alias("dl"))
    stats = d.agg(F.count("*").cast("double").alias("n_docs"),
                  F.avg("dl").alias("avgdl"))
    tf = (d.select("doc_id", "dl", F.explode("w").alias("term"))
          .where(F.col("term").isin(BM25_QUERY))
          .groupBy("doc_id", "dl", "term")
          .agg(F.count("*").cast("double").alias("tf")))
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df"))
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = (F.col("tf")
             + BM25_K1 * (1.0 - BM25_B
                          + BM25_B * F.col("dl") / F.col("avgdl")))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(F.broadcast(stats))
              .select("doc_id",
                      (idf * F.col("tf") * (BM25_K1 + 1.0)
                       / denom).alias("s")))
    return (scored.groupBy("doc_id")
            .agg(F.round(F.sum("s"), 4).alias("bm25"))
            .orderBy(F.col("bm25").desc(), "doc_id")
            .limit(k))


def tfidf_terms(spark: SparkSession, sf_dir: str,
                k: int = TFIDF_TOPK) -> DataFrame:
    """Per-document top-k terms by tf-idf.

    tf = raw in-document count; idf = ln(N / df) (df ≥ 1 for every term
    that appears, so no smoothing constant is needed). The rank orders by
    the 4dp-rounded score then the term string — a total order, so the
    per-doc cut is deterministic and engine-portable.
    """
    t = (_doc_words(spark, sf_dir)
         .select("doc_id", F.explode("w").alias("term"))
         .groupBy("doc_id", "term")
         .agg(F.count("*").cast("double").alias("tf")))
    n_docs = (_doc_words(spark, sf_dir)
              .agg(F.count("*").cast("double").alias("n_docs")))
    dfreq = t.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df"))
    scored = (t.join(F.broadcast(dfreq), "term")
              .join(F.broadcast(n_docs))
              .select("doc_id", "term",
                      F.round(F.col("tf")
                              * F.log(F.col("n_docs") / F.col("df")),
                              4).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select("doc_id", "rank", "term", "tfidf"))


def lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram LM score per document — the
    perplexity-bucketing move of CCNet-style quality filtering, with the
    corpus itself as the training set (no external model, so the whole
    op is closed-form and engine-replayable).

    P(w|v) = (c(v w) + 1) / (c(v·) + V) with V = |vocabulary|;
    score = −mean ln P over the document's bigram positions (lower =
    more predictable = more fluent/boilerplate; the filter consumes the
    distribution's tails). Docs with <2 words carry score 0.0 and
    n_bigrams 0.

    Scale shape: the LM "model" is two aggregates over one exploded
    pass (map-side combinable); scoring joins each bigram position
    against the bigram-count table on its key — at web scale that table
    is its own artifact (like the dedup band table) bucketed by bigram,
    and the join co-locates; V and the unigram table ride broadcasts.
    No Python, no windows; the per-doc mean is one hash agg.
    """
    d = _doc_words(spark, sf_dir)
    uni = (d.select(F.explode("w").alias("v"))
           .groupBy("v").agg(F.count("*").cast("double").alias("cv")))
    vocab = uni.agg(F.count("*").cast("double").alias("vsize"))
    bi = (d.where(F.expr("size(w) >= 2"))
          .select("doc_id", F.explode(F.expr(
              "transform(sequence(1, size(w) - 1), "
              "i -> struct(w[i - 1] AS v, w[i] AS u))")).alias("p"))
          .select("doc_id", F.col("p.v").alias("v"),
                  F.col("p.u").alias("u")))
    big = bi.groupBy("v", "u").agg(
        F.count("*").cast("double").alias("cvu"))
    scored = (bi.join(big, ["v", "u"])
              .join(F.broadcast(uni), "v")
              .join(F.broadcast(vocab))
              .select("doc_id",
                      (-F.log((F.col("cvu") + 1.0)
                              / (F.col("cv") + F.col("vsize"))))
                      .alias("nll")))
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.avg("nll"), 4).alias("lm_nll"),
        F.count("*").cast("long").alias("n_bigrams"))
    all_docs = d.select("doc_id")
    return (all_docs.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("lm_nll", F.lit(0.0)).alias("lm_nll"),
                    F.coalesce("n_bigrams", F.lit(0))
                    .cast("long").alias("n_bigrams")))


#: Absolute discount for interpolated Kneser-Ney (the fixed-D variant
#: of Chen & Goodman 1998; KenLM estimates D from count-of-counts, the
#: fixed 0.75 is the standard textbook setting).
KN_DISCOUNT = 0.75


def kn_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score per document.

    The proper-LM upgrade of :func:`lm_score` — CCNet's actual filter
    is a KenLM model, whose smoothing is interpolated modified
    Kneser-Ney; this is the published bigram formulation (Chen &
    Goodman 1998, eq. 4.medium; fixed discount D):

        P(u|v) = (max(c(vu) - D, 0) + D * N1+(v.) * N1+(.u) / N1+(..))
                 / c(v.)

    where N1+(v.) = distinct continuations of v, N1+(.u) = distinct
    left-contexts of u (the continuation probability numerator), and
    N1+(..) = distinct bigram types. Both engines compute the single-
    division form above verbatim so the floats agree bit-for-bit.
    score = -mean ln P over the doc's bigram positions; docs with <2
    words carry 0.0.

    Scale shape: identical to ``lm_score`` — the model is three
    aggregates over one exploded bigram pass (map-side combinable);
    scoring joins positions against the bigram table on its key and the
    unigram-sized context tables ride broadcasts. No Python, no windows.
    """
    d = _doc_words(spark, sf_dir)
    bi = (d.where(F.expr("size(w) >= 2"))
          .select("doc_id", F.explode(F.expr(
              "transform(sequence(1, size(w) - 1), "
              "i -> struct(w[i - 1] AS v, w[i] AS u))")).alias("p"))
          .select("doc_id", F.col("p.v").alias("v"),
                  F.col("p.u").alias("u")))
    big = bi.groupBy("v", "u").agg(
        F.count("*").cast("double").alias("cvu"))
    left = big.groupBy("v").agg(
        F.sum("cvu").alias("cv_dot"),
        F.count("*").cast("double").alias("n1p_v"))
    right = big.groupBy("u").agg(
        F.count("*").cast("double").alias("n1p_u"))
    types = big.agg(F.count("*").cast("double").alias("btypes"))
    D = F.lit(KN_DISCOUNT)
    p = (F.greatest(F.col("cvu") - D, F.lit(0.0))
         + D * F.col("n1p_v") * F.col("n1p_u") / F.col("btypes")) \
        / F.col("cv_dot")
    scored = (bi.join(big, ["v", "u"])
              .join(F.broadcast(left), "v")
              .join(F.broadcast(right), "u")
              .join(F.broadcast(types))
              .select("doc_id", (-F.log(p)).alias("nll")))
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.avg("nll"), 4).alias("kn_nll"),
        F.count("*").cast("long").alias("n_bigrams"))
    return (d.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("kn_nll", F.lit(0.0)).alias("kn_nll"),
                    F.coalesce("n_bigrams", F.lit(0))
                    .cast("long").alias("n_bigrams")))


#: Draws kept per language stratum by the weighted sampler.
WS_K = 20


def weighted_sample(spark: SparkSession, sf_dir: str,
                    k: int = WS_K) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement, per
    language stratum.

    The published A-ES algorithm (Efraimidis & Spirakis 2006): each item
    draws u ~ U(0,1) and takes key u^(1/w); the k largest keys are a
    weighted sample without replacement. One distributed top-k per
    stratum — THE way to draw weighted corpus samples at 10^12 docs
    (e.g. temperature-weighted source mixing) without a sequential
    reservoir. Determinism: u derives from the md5 60-bit fold
    (``u = (h + 1) / 2^60`` — never 0), and ranking uses the monotone
    transform ``ln(u)/w`` (identical ordering, avoids cross-engine
    ``pow`` ulp differences); weight = the doc's word count.

    Scale shape: scan → per-row key → TakeOrderedAndProject per stratum
    (rank window over lang — one exchange); no RNG state, no driver
    loop, reproducible at any parallelism.
    """
    from pyspark.sql.window import Window as W

    d = _doc_words(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), "
               "16, 10) AS LONG)").alias("h"),
        F.size("w").cast("long").alias("weight"))
    langs = sf_table(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = (d.join(langs, "doc_id")
             .where(F.col("weight") > 0)
             .withColumn("u", (F.col("h") + 1.0) / float(1 << 60))
             .withColumn("lnkey", F.log("u") / F.col("weight")))
    win = W.partitionBy("lang").orderBy(F.col("lnkey").desc(), "doc_id")
    return (keyed.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("lang", F.col("rank").cast("long").alias("rank"),
                    "doc_id", "weight",
                    F.round("lnkey", 6).alias("lnkey")))


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold sample, stratified by language.

    Keeps a document iff the first 8 hex digits of md5('<lang>:<doc_id>')
    fall below ``SAMPLE_THRESHOLD_HEX`` — the standard web-scale sampling
    move: no shuffle, no window, no RNG state; embarrassingly parallel,
    replayable on any engine, and per-stratum because the stratum is part
    of the hash key (changing one language's corpus never disturbs
    another's sample). Fixed-width lowercase hex compares lexicographically
    == numerically, so the predicate is a plain string comparison that
    whole-stage-codegens and pushes into the scan. Expected rate is exactly
    0x40000000/2^32 = 25% per stratum; the realized count is binomial
    (that's the contract — quota-exact sampling needs a global rank, which
    at 10^12 rows is a sort you don't want).
    """
    d = sf_table(spark, sf_dir, "documents")
    hkey = F.substring(
        F.md5(F.concat_ws(":", "lang", F.col("doc_id").cast("string"))),
        1, 8)
    return (d.select("doc_id", "lang", hkey.alias("hkey"))
            .where(F.col("hkey") < SAMPLE_THRESHOLD_HEX))


def inverted_index(spark: SparkSession, sf_dir: str,
                   cap: int = INDEX_POSTINGS_CAP) -> DataFrame:
    """Term → document-frequency + capped posting list.

    The retrieval-side inverse of tokenization. df is one map-side-
    combinable hash aggregation over distinct (term, doc) pairs — the
    FULL count, never distorted by the cap. Postings are the first
    ``cap`` doc ids per term (champion-list truncation; at corpus scale
    full postings live in their own term-bucketed table): the rank≤cap
    window filter runs BEFORE any collect_list, so no aggregation ever
    holds more than ``cap`` ids for a term in memory — a stopword with
    10^11 postings costs the window sort, not an OOM. Lists emit as a
    comma-joined string (engine-portable canon).
    """
    t = (_doc_words(spark, sf_dir)
         .select(F.explode("w").alias("term"), "doc_id")
         .distinct())
    dfreq = t.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    w = Window.partitionBy("term").orderBy("doc_id")
    heads = (t.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") <= cap))
    postings = (heads.groupBy("term")
                .agg(F.expr(
                    "array_join(transform(array_sort(collect_list(doc_id)),"
                    " x -> CAST(x AS STRING)), ',')").alias("postings")))
    return dfreq.join(postings, "term")


def dup_span_docs(spark: SparkSession, sf_dir: str,
                  n: int = DUP_SPAN_N) -> DataFrame:
    """Cross-document duplicated word-n-gram statistics per document.

    A gram position is *duplicated* when its n-gram occurs in ≥2 distinct
    documents. Emits every document with its gram count, duplicated-gram
    count, 4dp duplicated fraction, and a boolean flag at
    ``DUP_SPAN_FLAG_FRAC`` — the decision column a span-level dedup pass
    (or a boilerplate filter) consumes downstream.

    Shingles travel as md5 digests of the gram text: at corpus scale the
    multi-doc-gram aggregation and the semi join back never carry the
    raw 8-word strings, only 16-byte keys (collision odds at 2^-128 are
    the standard content-addressing bet). The ``sequence`` is guarded for
    docs shorter than n words (sequence(1, size-n+1) would step DOWN —
    the documented Spark trap, see textfns.ngram_topk).
    """
    d = _doc_words(spark, sf_dir)
    grams = (d.where(F.expr(f"size(w) >= {n}"))
             .select("doc_id", F.explode(F.expr(
                 f"transform(sequence(1, size(w) - {n - 1}), "
                 f"i -> md5(concat_ws(' ', slice(w, i, {n}))))"
             )).alias("gkey")))
    multi = (grams.groupBy("gkey")
             .agg(F.countDistinct("doc_id").alias("nd"))
             .where(F.col("nd") >= 2)
             .select("gkey"))
    dup_counts = (grams.join(multi, "gkey", "left_semi")
                  .groupBy("doc_id")
                  .agg(F.count("*").cast("long").alias("n_dup_grams")))
    totals = (d.select(
        "doc_id",
        F.greatest(F.expr(f"size(w) - {n - 1}"), F.lit(0))
        .cast("long").alias("n_grams")))
    out = (totals.join(dup_counts, "doc_id", "left")
           .select("doc_id", "n_grams",
                   F.coalesce("n_dup_grams", F.lit(0))
                   .cast("long").alias("n_dup_grams")))
    frac = F.when(F.col("n_grams") > 0,
                  F.col("n_dup_grams").cast("double")
                  / F.col("n_grams").cast("double")).otherwise(0.0)
    return out.select(
        "doc_id", "n_grams", "n_dup_grams",
        F.round(frac, 4).alias("dup_frac"),
        (frac >= DUP_SPAN_FLAG_FRAC).alias("flagged"))
