"""Deterministic mergeable sketches: HyperLogLog (distinct counts),
Count-Min (frequencies, heavy hitters) and q-digest (quantiles).

At 10^12 documents, exact ``count_distinct``, per-item counts and order
statistics over high-cardinality keys (vocabulary, shingles, media
refs) are each their own shuffle-heavy job; the production answer is a
mergeable sketch. Spark ships HLL++ inside ``approx_count_distinct``,
but its register layout is engine-internal — useless for a cross-engine
oracle. This module implements the published estimators from scratch
with DETERMINISTIC, engine-neutral constructions, so each DuckDB twin
computes the IDENTICAL sketch and the gate hashes the sketch itself.
The Count-Min and q-digest sections below document their own rules;
for HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007):

* item hash = the top 15 hex digits of md5 (a 60-bit integer both
  engines derive with the same string ops — the bloom-filter trick);
* bucket = top ``HLL_P`` bits, rho = leading-zero count of the low
  ``60 - HLL_P`` bits + 1, computed with an integer-only bit-length
  CASE ladder (no float log2 — its ulp behavior near powers of two is
  not portable across engines);
* registers = ``max(rho)`` per (group, bucket) — one map-side-combinable
  aggregate; merging shards is register-wise max, the property that
  makes the sketch an artifact like the dedup band table;
* estimate = alpha_m * m^2 / sum(2^-M_j) with the small-range
  linear-counting correction (E <= 2.5m and V > 0 -> m * ln(m/V));
  the 64-bit-hash convention drops the large-range correction.

The gate query sketches the per-language distinct 3-shingle count and
emits the exact count next to it, so the oracle pins BOTH the register
pipeline and the published estimator's accuracy (rel_err column).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import sf_table


#: Register-index bits: m = 2^p registers per group.
HLL_P = 12
HLL_M = 1 << HLL_P
#: Bits in the md5-derived item hash (15 hex digits).
HLL_HASH_BITS = 60
#: alpha_m for m >= 128 (the published constant).
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)

_LOW_BITS = HLL_HASH_BITS - HLL_P


def _hash60_sql(expr: str) -> str:
    """60-bit integer from md5's top 15 hex digits (engine-neutral:
    ``conv`` on Spark, the same digit-by-digit fold on DuckDB — here the
    Spark spelling)."""
    return f"conv(substring(md5({expr}), 1, 15), 16, 10)"


def _bitlen_case(expr: str, bits: int) -> str:
    """Integer-only bit_length ladder: largest k with 2^(k-1) <= x,
    0 for x = 0. Pure comparisons — bit-identical on any engine."""
    arms = " ".join(
        f"WHEN {expr} >= {1 << (k - 1)} THEN {k}"
        for k in range(bits, 0, -1))
    return f"CASE {arms} ELSE 0 END"


def hll_register_exprs() -> tuple[str, str]:
    """(bucket, rho) SQL expressions over a 60-bit hash column ``h``."""
    bucket = f"CAST(h DIV {1 << _LOW_BITS} AS INT)"
    low = f"(h % {1 << _LOW_BITS})"
    rho = f"({_LOW_BITS} + 1 - {_bitlen_case(low, _LOW_BITS)})"
    return bucket, rho


def hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct 3-shingle cardinality: HLL estimate next to
    the exact count (rel_err pins the published estimator's accuracy).

    Scale shape: ONE exploded shingle pass; the sketch is a (lang,
    bucket) max-aggregate (map-side combinable, 4096 rows per group —
    mergeable register-wise, the artifact shape); the estimate folds the
    registers with one more tiny aggregate. The exact branch (for the
    oracle's rel_err) is the expensive count_distinct the sketch
    replaces at 10^12 — at production scale you ship ONLY the register
    table.
    """
    d = sf_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.expr("filter(split(lower(text), ' '), w -> w != '')").alias("w"))
    sh = (d.where(F.expr("size(w) >= 3"))
          .select("lang", F.explode(F.expr(
              "transform(sequence(1, size(w) - 2), "
              "i -> concat_ws(' ', slice(w, i, 3)))")).alias("g")))
    hashed = sh.select(
        "lang", "g", F.expr(f"CAST({_hash60_sql('g')} AS LONG)").alias("h"))
    bucket, rho = hll_register_exprs()
    regs = (hashed
            .select("lang", F.expr(bucket).alias("b"),
                    F.expr(rho).alias("r"))
            .groupBy("lang", "b").agg(F.max("r").alias("m_j")))
    # 2^-m_j summed as INTEGER multiples of 2^-(LOW_BITS+1): exact and
    # aggregation-order-independent, so both engines fold the registers
    # to the identical double regardless of row order (a float power()
    # sum would round once magnitudes spread past 53 bits).
    top = _LOW_BITS + 1                                # max rho
    folded = (regs.groupBy("lang").agg(
        F.count("*").alias("nonzero"),
        F.sum(F.expr(f"shiftleft(1L, {top} - m_j)")).alias("s_int")))
    m = float(HLL_M)
    s = (F.col("s_int") / F.lit(float(1 << top))
         + (F.lit(m) - F.col("nonzero")))              # empty regs add 2^0
    raw = F.lit(HLL_ALPHA * m * m) / s
    v = F.lit(m) - F.col("nonzero")                    # zero registers
    est = F.when((raw <= 2.5 * m) & (v > 0),
                 F.lit(m) * F.log(F.lit(m) / v)).otherwise(raw)
    exact = (sh.groupBy("lang")
             .agg(F.count_distinct("g").cast("long").alias("exact")))
    return (folded.join(exact, "lang")
            .select("lang",
                    F.col("exact"),
                    F.round(est, 4).alias("hll_estimate"),
                    F.round(F.abs(est - F.col("exact"))
                            / F.col("exact"), 4).alias("rel_err"))
            .orderBy("lang"))


def hll_error_bound() -> float:
    """The published standard error for m registers: 1.04 / sqrt(m)."""
    return 1.04 / math.sqrt(HLL_M)


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------

#: Sketch width (buckets per row) and depth (independent hash rows).
#: eps = e/W (~1.1% of stream mass), delta = e^-D (~1.8%).
CMS_W = 256
CMS_D = 4
#: Heavy-hitter threshold as a fraction of the stream length. NOTE: the
#: width is deliberately UNDER-provisioned for this threshold (the
#: published sizing rule wants W >= e/eps with eps <= phi, i.e. W ~ 1000
#: here) so that collisions — and therefore the sketch's one-sided
#: overestimate and its false-positive heavy decisions — are actually
#: VISIBLE in the gate output and hash-pinned, rather than vanishing
#: behind an exact-sized table at toy scale. phi sits at the median of
#: the estimate distribution so the heavy split is informative at every
#: SF (counts and N scale together).
CMS_PHI = 0.003


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over the corpus word-bigram stream.

    The published CM sketch (Cormode & Muthukrishnan 2005): D
    independent hash rows of W counters; point estimate = min over rows
    of the hashed counter; heavy hitters = items whose ESTIMATE clears
    phi*N (the sketch's one-sided decision — no false negatives, only
    false positives bounded by eps*N mass). Hashing is the same
    engine-neutral md5 60-bit fold as the HLL sketch, row-salted with
    ``j || '|' || item``, bucket = low bits.

    The gate query emits, per distinct bigram: the exact count, the CMS
    estimate, the overestimate (always >= 0 — the deterministic
    one-sided property the oracle hash-pins), and the heavy decision.

    Scale shape: ONE exploded bigram pass fans out D sketch rows
    (D*stream rows, map-side-combinable count into D*W counters — the
    mergeable artifact); estimates join candidates to the counter table
    on (row, bucket) and fold with one min-aggregate. At 10^12 docs you
    ship only the D*W counter table; the exact branch exists for the
    oracle's error columns.
    """
    d = sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), w -> w != '')").alias("w"))
    stream = (d.where(F.expr("size(w) >= 2"))
              .select(F.explode(F.expr(
                  "transform(sequence(1, size(w) - 1), "
                  "i -> concat(w[i - 1], ' ', w[i]))")).alias("g")))
    n_total = stream.agg(F.count("*").cast("double").alias("n"))
    rows = stream.select(
        "g", F.explode(F.array(*[F.lit(j) for j in range(CMS_D)]))
        .alias("j"))
    salted = "concat(CAST(j AS STRING), '|', g)"
    bucket = (f"CAST(CAST({_hash60_sql(salted)} AS LONG)"
              f" % {CMS_W} AS INT)")
    sketch = (rows.select("j", F.expr(bucket).alias("b"))
              .groupBy("j", "b").agg(F.count("*").alias("c")))
    cand = (stream.groupBy("g")
            .agg(F.count("*").cast("long").alias("exact")))
    est = (cand.select("g", "exact", F.explode(F.array(
               *[F.lit(j) for j in range(CMS_D)])).alias("j"))
           .withColumn("b", F.expr(bucket))
           .join(sketch, ["j", "b"])
           .groupBy("g", "exact")
           .agg(F.min("c").cast("long").alias("cms_est")))
    return (est.join(F.broadcast(n_total))
            .select(F.col("g").alias("bigram"), "exact", "cms_est",
                    (F.col("cms_est") - F.col("exact")).cast("long")
                    .alias("over"),
                    (F.col("cms_est") >= CMS_PHI * F.col("n"))
                    .alias("heavy")))


# ---------------------------------------------------------------------------
# q-digest quantile sketch (Shrivastava, Buragohain, Agrawal, Suri 2004)
# ---------------------------------------------------------------------------

#: Universe bits: values clamped to [0, 2^QD_L). The build holds a dense
#: array of 2^QD_L leaf counts per group, so the depth must stay small.
QD_L = 7
assert 1 <= QD_L <= 16, "q-digest universe depth outside 1..16"
#: Compression parameter: digest keeps O(k) nodes, rank error <= L*n/k.
QD_K = 64
#: Quantiles the gate query reports.
QD_QS = (0.5, 0.9, 0.99)

# Bottom-up compression over levels QD_L..1 as one fold. State: ``cur``,
# the dense counts of the level being processed (2^lvl entries), and
# ``kept``, the nodes fixed so far. A sibling pair whose sum s is in
# (0, thr) becomes one parent count at the next level up; otherwise its
# non-zero children are kept at this level. What is left at level 0 is
# the root. Each level reads only the previous level's counts.
_QD_FOLD = f"""aggregate(
  sequence({QD_L}, 1, -1),
  named_struct('cur', leaves, 'kept',
               CAST(array() AS array<struct<lvl:int,idx:int,cnt:bigint>>)),
  (st, l) -> named_struct(
    'cur', transform(sequence(0, size(st.cur) div 2 - 1),
      j -> IF(st.cur[2 * j] + st.cur[2 * j + 1] < thr,
              st.cur[2 * j] + st.cur[2 * j + 1], 0L)),
    'kept', concat(st.kept, filter(
      transform(st.cur, (c, i) -> named_struct('lvl', l, 'idx', i, 'cnt', c)),
      e -> e.cnt > 0 AND e.cnt + st.cur[e.idx ^ 1] >= thr))),
  st -> concat(st.kept, filter(
    array(named_struct('lvl', 0, 'idx', 0, 'cnt', st.cur[0])),
    e -> e.cnt > 0)))"""


def _first_at_rank(arr: str, cnt: str, val: str) -> str:
    """SQL: ``val`` of the first element of ``arr`` at which the running
    sum of ``cnt`` reaches the rank column ``rk`` (lambda var ``e``)."""
    return (f"aggregate({arr}, named_struct('cum', 0L, 'at', "
            f"CAST(NULL AS BIGINT)), (st, e) -> named_struct("
            f"'cum', st.cum + {cnt}, 'at', coalesce(st.at, "
            f"IF(st.cum + {cnt} >= rk, CAST({val} AS BIGINT), NULL))), "
            f"st -> st.at)")


def qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc-length quantiles from a q-digest sketch, next to
    the exact order statistics.

    The published q-digest (Shrivastava et al. 2004): counts live on the
    dyadic tree over the value universe; compress bottom-up, merging a
    sibling pair into its parent while the combined count stays under
    ceil(n/k). The result is an O(k)-node mergeable summary whose
    quantile walk (nodes ordered by interval upper bound, smaller ranges
    first; cumulative counts) answers any rank query with error at most
    L*n/k ranks. Values here are per-doc word counts clamped to
    [0, 2^QD_L); the quantile estimate is compared against the exact
    type-1 (inverted-CDF) order statistic per language.

    Determinism: the compression rule and level order are fixed, every
    aggregate is over integers, and the walk's ordering key
    (hi, range, idx) is total — both engines build the IDENTICAL digest,
    so the oracle hash-pins the sketch itself, not just its accuracy.

    Scale shape: one map-side-combinable (lang, value) count, then one
    per-language aggregate that collects the leaf counts into a dense
    array of 2^QD_L counts (bounded by the universe, not the data).
    The compression is local to each level, so the whole build is one
    ``aggregate`` fold over that array (``_QD_FOLD``); the walk sorts
    the kept nodes and scans their running sum, and the exact statistic
    scans the same leaf array. Two shards merge by adding leaf counts
    then re-compressing — the mergeable-artifact property the paper
    proves.
    """
    n_top = 1 << QD_L
    d = sf_table(spark, sf_dir, "documents").select(
        "lang",
        F.least(F.expr(
            "CAST(size(filter(split(lower(text), ' '), w -> w != '')) "
            "AS INT)"), F.lit(n_top - 1)).alias("v"))
    per_lang = (
        d.groupBy("lang", "v").agg(F.count("*").alias("c"))
        .groupBy("lang").agg(
            F.sum("c").cast("long").alias("n"),
            F.map_from_entries(F.collect_list(F.struct("v", "c")))
            .alias("m"))
        .select("lang", "n",
                F.ceil(F.col("n") / QD_K).cast("long").alias("thr"),
                F.expr(f"transform(sequence(0, {n_top - 1}), "
                       f"i -> coalesce(try_element_at(m, i), 0L))")
                .alias("leaves")))
    walk = (f"array_sort(transform({_QD_FOLD}, e -> named_struct("
            f"'hi', shiftleft(e.idx + 1, {QD_L} - e.lvl) - 1, "
            f"'rng', shiftleft(1, {QD_L} - e.lvl) - 1, "
            f"'idx', e.idx, 'cnt', e.cnt)))")
    ranked = (per_lang.withColumn("walk", F.expr(walk))
              .withColumn("q", F.explode(F.array(
                  *[F.lit(float(q)) for q in QD_QS])))
              .withColumn("rk", F.ceil(F.col("q") * F.col("n"))
                          .cast("long")))
    return (ranked.select(
        "lang", "q", "n",
        F.expr(_first_at_rank("walk", "e.cnt", "e.hi")).alias("qd_est"),
        F.expr(_first_at_rank(f"sequence(0, {n_top - 1})", "leaves[e]",
                              "e")).alias("exact"))
        .withColumn("err", (F.col("qd_est") - F.col("exact")).cast("long")))
