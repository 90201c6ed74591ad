"""Driver-contract query registry: Spark callables + DuckDB oracle twins.

``__spark_entry__.queries()`` / ``oracle_sql()`` delegate here. Every
SQL-expressible operator from SURVEY.md §2 (and the training-data ops in
``paddleocr_spark.functions``) gets a pair:

* a Spark callable ``(spark, sf_dir) -> DataFrame``
* an ANSI-SQL string DuckDB runs on the same parquet views

The driver compares row-count + schema + order-insensitive value hash, so
both sides cast numerics to BIGINT/DOUBLE explicitly, round every float to
4dp, and alias columns identically.

Signed-zero contract: every rounded DOUBLE in the DuckDB SQL gets a ``+ 0``
appended. DuckDB ``round()`` preserves IEEE -0.0 (a mean that rounds to
negative zero prints '-0.0000') while Spark ``round()`` goes through
BigDecimal and always emits +0.0; ``-0.0 + 0 = +0.0`` and is a no-op for
every other value, so the append makes the two engines hash-equal on all
rounded outputs.

The flagship pipeline's synth corpus (paddleocr_spark/synth.py) is mirrored
here as a DuckDB CTE (:data:`SYNTH_CTE`) built from the same constants —
that lets the explode/geometry/filter/strip stages be hash-checked against
an independent SQL restatement.

Iterative operators (the O1/O2 reading-order kernels, greedy NMS,
Hirschberg LCS, greedy IoU matching, tree edit distance) are not
SQL-restatable, but their outputs on the FIXED sf0.01 gate input are just
tables: tools/make_fixtures.py computes them single-node (DuckDB input
synthesis + pandas/NumPy computation, never Spark) into committed parquet
under fixtures/, and their oracle SQL is a plain ``read_parquet`` of the
fixture (``_fixture_sql``). Those oracles are therefore valid ONLY at the
driver's correctness scale factor (sf0.01) — running tools/parity_check.py
at another sf fails exactly the fixture-backed entries, by construction.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import geometry as G
from . import synth as S
from .augments import EAST_CROP_CANVAS_MARGIN
from .functions import clustering as CL
from .functions import content as MC
from .functions import grapheme as GR
from .functions import pq as PQ
from .functions import curation as CU
from .functions import dedup as D
from .functions import repetition as REP
from .functions import retrieval as R
from .functions import similarity as SIM
from .functions import sketches as SK
from .functions import textfns as T
from .functions import tokenizer as TK
from .operators import kie as KIE
from .operators.grouped import grouped_map_rows, map_rows
from .operators.recognize import (abinet_decode, attn_decode, can_decode,
                                  nrtr_decode, orient4, pren_decode,
                                  rfl_decode, sar_decode, satrn_decode,
                                  seed_decode, spin_decode, srn_decode,
                                  vitstr_decode, vl_decode)
from .operators import table as TBL
from .pipeline import (det_filter, det_keep_predicate, drop_score_filter,
                       explode_spans, extract, score_keep_predicate,
                       strip_styles, with_geometry)
from .sources.readers import sf_table
from .synth import synth_spans

# ---------------------------------------------------------------------------
# DuckDB mirror of the synthetic interleaved corpus (synth.py twin #3)
# ---------------------------------------------------------------------------

SYNTH_CTE = f"""
synth_base AS (
    SELECT doc_id AS did, coalesce(text, '') AS src FROM documents
),
synth_n AS (
    SELECT did, src,
           least({S.MAX_CHUNKS}, greatest(1,
               CAST(ceil(length(src) / {S.CHUNK}.0) AS BIGINT))) AS n,
           CASE WHEN did % 997 = 13 THEN 400
                WHEN did % 211 = 13 THEN 40 + did % 23
                ELSE 0 END AS extra
    FROM synth_base
),
synth_i AS (
    SELECT did, src, n,
           unnest(generate_series(0, n + extra - 1)) AS i
    FROM synth_n
),
synth_kind AS (
    SELECT did, src, n, i,
           CASE WHEN i >= n THEN 'media'
                WHEN (did * 7 + i * 13) % 23 = 5 THEN 'media'
                WHEN i = 0 AND did % 3 = 0 THEN 'title'
                WHEN (did + i) % 29 = 11 THEN 'table'
                ELSE 'text' END AS kind,
           substring(src, CAST(i * {S.CHUNK} + 1 AS INT), {S.CHUNK}) AS chunk,
           (did + 31 * i) % 12 AS m
    FROM synth_i
),
synth_spans AS (
    SELECT printf('doc_%07d', did) AS doc_id,
           did, i AS span_idx, kind,
           CASE WHEN kind = 'media' THEN NULL
                WHEN kind = 'text' THEN
                    CASE WHEN (did * 3 + i) % 41 = 17 THEN ''
                         ELSE CASE m
                             WHEN 0 THEN '<b>' || chunk || '</b>'
                             WHEN 1 THEN '<i>' || chunk || '</i>'
                             WHEN 2 THEN '<sup>' || chunk || '</sup>'
                             WHEN 3 THEN chunk || '</strike>'
                             WHEN 4 THEN '<strike>' || chunk || '<strike>'
                             ELSE chunk END END
                ELSE chunk END AS text,
           CASE WHEN kind = 'media' THEN 'img://h/' || printf('%X',
                ((did % {S.MEDIA_HASH_P}) * {S.MEDIA_HASH_A}
                 + i * 97) % {S.MEDIA_HASH_M})
                ELSE NULL END AS media_ref,
           CASE WHEN did % 50 = 7 THEN
                    ({S.Y0} + (i // 2) * {S.ROW_STEP}
                     + ((i // 2) // {S.ROW_BLOCK}) * {S.BLOCK_GAP})
                    * {G.PAGE_WIDTH} + 10 + (i % 2) * 510
                WHEN (did + i) % 19 = 3 AND i > 0 AND kind = 'text' THEN
                    ({S.Y0} + (i - 1) * {S.ROW_STEP}
                     + ((i - 1) // {S.ROW_BLOCK}) * {S.BLOCK_GAP}
                     + {S.TIE_DY}) * {G.PAGE_WIDTH} + 60
                ELSE ({S.Y0} + i * {S.ROW_STEP}
                      + (i // {S.ROW_BLOCK}) * {S.BLOCK_GAP})
                     * {G.PAGE_WIDTH} + 120
           END AS "offset"
    FROM synth_kind
)"""

#: Geometry columns on top of synth_spans (with_geometry twin).
GEOM_CTE = f"""
synth_geom AS (
    SELECT *,
           "offset" % {G.PAGE_WIDTH} AS x1,
           "offset" // {G.PAGE_WIDTH} AS y1,
           CASE kind WHEN 'media' THEN {G.KIND_WIDTH_FIXED['media']}
                     WHEN 'table' THEN {G.KIND_WIDTH_FIXED['table']}
                     WHEN 'title' THEN {G.KIND_WIDTH_FIXED['title']}
                     ELSE CASE WHEN length(coalesce(text, '')) = 0
                               THEN {G.EMPTY_TEXT_WIDTH}
                               ELSE {G.TEXT_WIDTH_BASE}
                                    + length(text) % {G.TEXT_WIDTH_MOD} END
           END AS w,
           CASE kind WHEN 'text' THEN {G.KIND_HEIGHT['text']}
                     WHEN 'title' THEN {G.KIND_HEIGHT['title']}
                     WHEN 'table' THEN {G.KIND_HEIGHT['table']}
                     ELSE {G.KIND_HEIGHT['media']} END AS h
    FROM synth_spans
)"""

#: Survivors of det filter (P9) + drop_score (P10) — the pre-order pipeline.
KEPT_CTE = f"""
synth_kept AS (
    SELECT *,
           {G.SCORE_BASE_MILLI}
           + ((did * 7 + span_idx * 173) % {G.SCORE_MOD})
             * {G.SCORE_SPREAD_NUM} // {G.SCORE_SPREAD_DEN} AS score_milli
    FROM synth_geom
    WHERE w > {G.MIN_SIDE} AND h > {G.MIN_SIDE}
),
synth_final AS (
    SELECT * FROM synth_kept
    WHERE kind != 'text'
       OR score_milli >= {int(round(G.DROP_SCORE * G.SCORE_MOD))}
)"""

#: Committed expected-output fixtures for the non-SQL-expressible queries
#: (generated by tools/make_fixtures.py at sf0.01 — the driver's gate SF).
FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def _fixture_sql(name: str, select: str) -> str:
    path = os.path.join(FIXTURE_DIR, f"{name}.sf0_01.parquet")
    return f"SELECT {select} FROM read_parquet('{path}')"


def _spans_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return explode_spans(synth_spans(sf_table(spark, sf_dir, "documents")))


def _spans_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = with_geometry(_spans_exploded(spark, sf_dir))
    return drop_score_filter(det_filter(s))


def _span_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every span with its geometry; the P9/P10 drop decision becomes the
    ``ignored`` tag the augments and target generators consume."""
    return with_geometry(_spans_exploded(spark, sf_dir)).withColumn(
        "ignored", ~(det_keep_predicate() & score_keep_predicate()))


def _gt_rows(spark: SparkSession, sf_dir: str, per_doc: Callable,
             schema: str, *extra: str) -> DataFrame:
    """``per_doc`` over each doc's spans of :func:`_span_boxes` (doc_id,
    span_idx, x1..y2, ignored and the ``extra`` columns), in span
    order."""
    return grouped_map_rows(
        _span_boxes(spark, sf_dir).select(
            "doc_id", "span_idx", *extra, "x1", "y1", "x2", "y2",
            "ignored"),
        ["doc_id"], ["span_idx"], per_doc, schema)


def _doc_canvas(g: dict, y_scale: int = 1, y_cap: int | None = None):
    """One doc's (n, 4) x1/y1/x2/y2 span boxes with y spread by
    ``y_scale`` (clipped to [0, y_cap]), and its canvas height: the
    lowest box edge plus the crop margin."""
    b = np.stack([g[c] for c in ("x1", "y1", "x2", "y2")], axis=1)
    b[:, [1, 3]] *= y_scale
    if y_cap is not None:
        b[:, [1, 3]] = np.clip(b[:, [1, 3]], 0, y_cap)
    return b, int(b[:, 3].max()) + EAST_CROP_CANVAS_MARGIN


def _doc_rects(g: dict) -> np.ndarray:
    """One doc's (n, 4) x0/y0/x1/y1 rects of _shrink_boxes/_border_boxes."""
    return np.stack([g[c] for c in ("x0", "y0", "x1", "y1")], axis=1)


# ---------------------------------------------------------------------------
# Flagship pipeline stage queries (S/P-ops over the synth corpus)
# ---------------------------------------------------------------------------

def q_explode_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S3 + posexplode: the corpus scan, one row per span."""
    return _spans_exploded(spark, sf_dir).select(
        "doc_id", F.col("span_idx").cast("long").alias("span_idx"),
        "kind", "text", "media_ref",
        F.col("offset").cast("long").alias("offset"))


def q_span_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry derivation (detector-box analog) as JVM expressions."""
    s = with_geometry(_spans_exploded(spark, sf_dir))
    return s.select(
        "doc_id", F.col("span_idx").cast("long").alias("span_idx"), "kind",
        F.col("x1").cast("long").alias("x1"),
        F.col("y1").cast("long").alias("y1"),
        F.col("x2").cast("long").alias("x2"),
        F.col("y2").cast("long").alias("y2"))


def q_east_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 random-family seeded crop (EastRandomCropData,
    random_crop_data.py:29-180): per-doc RandomState(doc number) replays
    the reference's global np.random stream; ignore tags are the P9/P10
    drop flags. Committed-fixture oracle (the RNG walk is iterative)."""
    from .augments import east_random_crop
    return east_random_crop(_span_boxes(spark, sf_dir))


def q_copy_paste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 random-family seeded CopyPaste (copy_paste.py:26-128): each doc
    pastes rotated crops of its XOR-1 partner doc's non-ignored spans;
    random.Random(doc)/RandomState(doc) replay the reference's global
    streams (exec-ref differential #43). Committed-fixture oracle (the
    RNG walk is iterative)."""
    from .augments import copy_paste
    return copy_paste(_span_boxes(spark, sf_dir))


def q_east_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 EASTProcessTrain (east_process.py:28-436): the full seeded
    EAST target generator per doc — right-angle rotate, validate (flip +
    force-ignore quirk), random scale, bg/fg branch, padded text-free
    crop, 1/max resize, generate_quad on the padded 512^2 canvas,
    ::4-subsampled score/geo/mask observables (geo sums are float64-
    exact sums of the float32 maps). RandomState(doc) replays the
    reference's global stream (exec-ref differential #45). Committed-
    fixture oracle (the RNG + raster walk is iterative)."""
    from .augments import east_process_doc, rect_quads

    def per_doc(g):
        b, h = _doc_canvas(g)
        doc_id = g["doc_id"][0]
        o = east_process_doc(int(doc_id[4:]), rect_quads(b),
                             g["ignored"].astype(bool), h, G.PAGE_WIDTH)
        yield (doc_id, o["status"], o["rot_cnt"], o["rd_scale"],
               *(o["crop"] or [None] * 4), o["n_out"], o["new_h"],
               o["new_w"], o["score_px"], o["mask_px"],
               *(o["geo_sums"] or [None] * 9))

    return _gt_rows(spark, sf_dir, per_doc,
                    "doc_id string, status string, rot_cnt long, "
                    "rd_scale double, cx0 long, cy0 long, cx1 long, "
                    "cy1 long, n_out long, new_h long, new_w long, "
                    "score_px long, mask_px long, "
                    + ", ".join(f"g{c} double" for c in range(9)))


def q_fce_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 FCENetTargets (fce_targets.py:25-686): the deterministic FCE
    target generator per doc — head/tail edges, resampled sidelines,
    shrunk center regions, Fourier-contour signatures (numpy fft), the
    three FPN level stacks; per-(doc, level) rows carry pixel counts and
    the 22 float64-exact Fourier channel sums (exec-ref differential
    #47 compares full maps). Span y-coords are spread x2 so the
    open-interval level gates (max(bw,bh)/h) split across all three
    levels (143/49/143-ish docs at x2; nearly all spans exceed
    proportion 1.0 at x1 on short docs). Committed-fixture oracle (the
    fft is not SQL-expressible)."""
    from .augments import rect_quads
    from .fce_gt import fce_targets_doc

    def per_doc(g):
        b, h = _doc_canvas(g, y_scale=2)
        tags = [bool(v) for v in g["ignored"]]   # `is True` quirk
        out = fce_targets_doc(rect_quads(b), tags, h, G.PAGE_WIDTH)
        for lv, (t_px, c_px, e_px, reals, imags) in enumerate(out):
            yield (g["doc_id"][0], lv, t_px, c_px, e_px, *reals, *imags)

    return _gt_rows(spark, sf_dir, per_doc,
                    "doc_id string, level long, text_px long, "
                    "center_px long, eff_px long, "
                    + ", ".join(f"r{c} double" for c in range(11)) + ", "
                    + ", ".join(f"i{c} double" for c in range(11)))


def q_sast_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 SASTProcessTrain (sast_process.py:28-777): the full seeded
    SAST target generator per doc — aspect jitter, 2048 cap, random
    crop, random downscale, draw-consuming pixel gates, random pad,
    TCL/TBO labels + TVO/TCO head targets on the 128^2 canvas (channel
    sums float64-exact). RandomState(doc) replays the reference's
    global stream (exec-ref differential #46). Committed-fixture
    oracle (the RNG + raster walk is iterative).

    Span y-coords are spread x4 before the walk: the corpus' line grid
    is much wider than tall, and SAST's pad gate wants near-square
    crops (min side >= input_size/2 after the 1/max resize) — at x1
    only 2/500 docs reach the label pass; at x4, ~82 do, so the
    ok / pad_small / all_ignored arms are all distribution-exercised."""
    from .augments import rect_quads
    from .sast_gt import sast_process_doc

    def per_doc(g):
        b, h = _doc_canvas(g, y_scale=4)
        doc_id = g["doc_id"][0]
        o = sast_process_doc(int(doc_id[4:]), rect_quads(b),
                             g["ignored"].astype(bool), h, G.PAGE_WIDTH)
        yield (doc_id, o["status"], o["asp_scale"],
               *(o["crop"] or [None] * 4), o["rz_scale"], o["sh"],
               o["sw"], o["n_out"], o["score_px"], o["mask_sum"],
               *(o["tbo_sums"] or [None] * 5),
               *(o["tvo_sums"] or [None] * 9),
               *(o["tco_sums"] or [None] * 3))

    return _gt_rows(spark, sf_dir, per_doc,
                    "doc_id string, status string, asp_scale double, "
                    "cx0 long, cy0 long, cx1 long, cy1 long, "
                    "rz_scale double, sh long, sw long, n_out long, "
                    "score_px long, mask_sum double, "
                    + ", ".join([f"b{c} double" for c in range(5)]
                                + [f"v{c} double" for c in range(9)]
                                + [f"c{c} double" for c in range(3)]))


def q_det_drop_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 min-side filter + P10 drop_score filter, fused."""
    return _spans_kept(spark, sf_dir).select(
        "doc_id", F.col("span_idx").cast("long").alias("span_idx"), "kind")


#: q_det_clip_filter's synthetic image shape (h, w).
DET_CLIP_SHAPE = (600, 800)


def q_det_clip_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4+P9 ``filter_tag_det_res`` (predict_det.py:192-223) as pure JVM
    expressions over axis-aligned detector quads: clockwise ordering is
    the identity for axis-aligned boxes (the general-quad kernel
    ``kernels.filter_tag_det_res`` is pinned by an exec-the-reference
    differential + pytest equivalence to this query), clipping is the
    int-truncated clamp to [0, dim-1], and the int-truncated edge norms
    reduce to the clamped side lengths. Boxes synthesized with negative /
    out-of-bounds / fractional coords and sub-4px slivers so every branch
    filters something."""
    h_img, w_img = DET_CLIP_SHAPE
    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 4)
    x1 = ((F.col("l_partkey") % 50) * 20 - 60).cast("double") + 0.5
    y1 = ((F.col("l_suppkey") % 40) * 18 - 40).cast("double") + 0.25
    w = ((F.col("l_orderkey") % 15) * 3).cast("double")
    h = (F.col("l_linenumber") * 5 + (F.col("l_orderkey") % 7)).cast("double")
    boxes = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("box_id"),
        x1.alias("x1"), y1.alias("y1"),
        (x1 + w).alias("x2"), (y1 + h).alias("y2"))

    def clip_x(c):
        return F.floor(F.least(F.greatest(c, F.lit(0.0)),
                               F.lit(float(w_img - 1)))).cast("long")

    def clip_y(c):
        return F.floor(F.least(F.greatest(c, F.lit(0.0)),
                               F.lit(float(h_img - 1)))).cast("long")

    clipped = boxes.select(
        "box_id", clip_x(F.col("x1")).alias("cx1"),
        clip_y(F.col("y1")).alias("cy1"),
        clip_x(F.col("x2")).alias("cx2"), clip_y(F.col("y2")).alias("cy2"))
    return clipped.filter(
        ((F.col("cx2") - F.col("cx1")) > 3)
        & ((F.col("cy2") - F.col("cy1")) > 3))


def q_style_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 style-token strip (single-pass JVM regexp) on surviving spans."""
    return strip_styles(_spans_kept(spark, sf_dir)).select(
        "doc_id", F.col("span_idx").cast("long").alias("span_idx"), "text")


def q_flagship_span_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end invariant: per-doc span count of the REAL pipeline output
    (kernels included) == SQL-derivable survivor count."""
    out = extract(synth_spans(sf_table(spark, sf_dir, "documents")))
    return out.select(
        "doc_id", F.size("spans").cast("long").alias("n_spans"))


def q_flagship_kind_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end invariant #2: per-doc kind histogram of the pipeline output."""
    out = extract(synth_spans(sf_table(spark, sf_dir, "documents")))
    return (out.select("doc_id", F.explode("spans").alias("s"))
            .groupBy("doc_id", F.col("s.kind").alias("kind"))
            .agg(F.count("*").cast("long").alias("n")))


def q_flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship itself, exploded to rows. The O1/O2 reading-order
    kernels are iterative (no SQL restatement), so the oracle is a committed
    expected-output fixture computed single-node by tools/make_fixtures.py;
    pytest additionally checks span-sequence equality vs the pandas oracle
    (tests/test_pipeline.py)."""
    out = extract(synth_spans(sf_table(spark, sf_dir, "documents")))
    return out.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id", F.col("s.offset").cast("long").alias("order"),
        F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"))


# ---------------------------------------------------------------------------
# Relational operator demos (S4, O4, J1, A4, A5, P14)
# ---------------------------------------------------------------------------

def q_union_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 SimpleDataSet analog: multi-source union + deterministic
    ratio-sampling (mod-based stand-in for seeded sample)."""
    docs = sf_table(spark, sf_dir, "documents")
    a = (docs.filter(F.col("source") == "src0")
         .select("doc_id", "source", F.lit("fileA").alias("file_tag")))
    b = (docs.filter(F.col("doc_id") % 10 < 3)
         .select("doc_id", "source", F.lit("fileB").alias("file_tag")))
    return a.unionByName(b).filter(F.col("doc_id") % 100 < 37)


def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 NMS top-k analog: per-class rank ≤ 5 by score (window rank)."""
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id"))
    return (sf_table(spark, sf_dir, "events")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("event_type", F.col("rank").cast("long").alias("rank"),
                    "event_id", F.round("value", 4).alias("value")))


#: Sessionization inactivity gap: 30 minutes, the standard
#: web-analytics default.
SESSION_GAP_MIN = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events table.

    The canonical event-analytics rollup a training-data pipeline's
    telemetry side runs: per user, events more than ``SESSION_GAP_US``
    apart start a new session (lag + conditional flag + running sum —
    all timestamp/interval arithmetic, so the session ids are
    bit-deterministic), then one hash aggregation per (user, session).
    Ties on ts break by event_id; the gap compares TIMESTAMP_NTZ
    differences against an interval literal at full microsecond
    precision (an epoch-seconds cast would truncate; `unix_micros`
    rejects NTZ outright).

    Scale shape: ONE exchange on user_id feeds both the lag window and
    the running sum (same partition-and-order spec), and the final
    group-by is co-partitioned with it — the plan is scan → one hash
    repartition → in-partition sort → window → partial+final agg.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = (sf_table(spark, sf_dir, "events")
         .select("user_id", "ts", "event_id", "value")
         .withColumn("prev_ts", F.lag("ts").over(w))
         .withColumn("ns", F.when(
             F.col("prev_ts").isNull()
             | F.expr(f"ts - prev_ts > INTERVAL '{SESSION_GAP_MIN}' "
                      "MINUTE"), 1).otherwise(0)))
    t = e.withColumn(
        "session_idx",
        F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"))
    return (t.groupBy("user_id", "session_idx")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").cast("long").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value")))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: each purchase ↔ the same user's most
    recent click at or before it.

    The canonical operator Spark lacks natively, composed the standard
    way: union the two tagged sides, sort per user by (ts, side) with
    the build side first at equal timestamps (so a same-instant click
    qualifies as "at or before"), and carry the last click forward with
    ``last(..., ignorenulls=True)`` over a running frame. ONE shuffle on
    user_id and linear per-row state — never the range-join's quadratic
    candidate blow-up (and the same dataflow as Flink's temporal join).
    Purchases before any click carry NULLs (left semantics).

    The DuckDB twin runs the engine's NATIVE ``ASOF LEFT JOIN`` — our
    composition is checked against a first-class implementation of the
    operator, not a restatement of our own window trick. (The events
    table has no (user_id, ts) duplicates at any SF, so tie-order
    between engines cannot differ.)
    """
    e = (sf_table(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("click", "purchase"))
         .select("event_id", "user_id", "ts", "value",
                 F.when(F.col("event_type") == "click", 0)
                 .otherwise(1).alias("side")))
    w = (Window.partitionBy("user_id").orderBy("ts", "side", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = e.withColumn(
        "last_click",
        F.last(F.when(F.col("side") == 0, F.struct("ts", "value")),
               ignorenulls=True).over(w))
    return (carried.filter(F.col("side") == 1)
            .select("event_id", "user_id", "ts",
                    F.round("value", 4).alias("value"),
                    F.col("last_click.ts").alias("click_ts"),
                    F.round(F.col("last_click.value"), 4)
                    .alias("click_value")))


#: Z-order layout: bits per coordinate (span coords fit 13 bits at every
#: SF) and the key shift that groups ~2^(26-18)=256 max file buckets.
ZORDER_BITS = 13
ZORDER_BUCKET_SHIFT = 18

#: Morton interleave of (cx, cy), bit-exact integer arithmetic.
_ZORDER_KEY = (
    f"aggregate(sequence(0, {ZORDER_BITS - 1}), 0L, (acc, i) -> "
    "acc + shiftleft((cx DIV shiftleft(1L, i)) % 2, 2 * i) "
    "+ shiftleft((cy DIV shiftleft(1L, i)) % 2, 2 * i + 1))")


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) data-layout buckets with per-bucket min/max stats.

    The table-layout move a 100 TB Iceberg deployment makes so that
    min/max column statistics actually PRUNE files: interleave the bits
    of the span centroid (cx, cy) into a Morton key and cut the key
    space into file buckets — spatially close spans land in the same
    file, so each file's (cx, cy) range is tight and a range predicate
    skips most files (hash layout gives every file the full value range
    and skips nothing; the pytest quantifies the gap). Emits exactly
    the stats an Iceberg manifest would carry per file: row count and
    the min/max of both clustering columns.

    All integer arithmetic (shiftleft / DIV / %), so the keys are
    bit-identical on every engine — no float rounding anywhere.
    """
    g = with_geometry(_spans_exploded(spark, sf_dir)).select(
        F.expr("CAST((x1 + x2) DIV 2 AS BIGINT)").alias("cx"),
        F.expr("CAST((y1 + y2) DIV 2 AS BIGINT)").alias("cy"))
    keyed = g.select("cx", "cy", F.expr(_ZORDER_KEY).alias("zkey"))
    return (keyed.groupBy(
        F.expr(f"zkey DIV shiftleft(1L, {ZORDER_BUCKET_SHIFT})")
        .cast("long").alias("bucket"))
        .agg(F.count("*").cast("long").alias("n_spans"),
             F.min("cx").alias("min_cx"), F.max("cx").alias("max_cx"),
             F.min("cy").alias("min_cy"), F.max("cy").alias("max_cy")))


#: Spatial-hash tile edge for the cell_match candidate join (px). Chosen
#: near the synthetic cell size (199x249); any positive value is CORRECT —
#: tiling only prunes candidates, and tables it cannot serve (a box wider
#: or taller than one tile, or a box overlapping no cell) are detected and
#: routed to the exact full-join fallback (see cell_match_bucketed).
CELL_MATCH_TILE = 128.0


def _cm_halo_tiles(x1, y1, x2, y2, tile: float | None = None):
    """Array of (tx, ty) structs: every ``tile``-sized grid tile the rect
    [x1,x2]x[y1,y2] overlaps, EXPANDED by one tile in each direction (the
    halo). Registering one join side with a halo lets the other side
    probe with its single anchor tile (floor of its top-left corner) and
    still see every overlapping partner, provided the probe box spans
    <= 1 tile per dimension: any point p of the probe box lies within one
    tile of the anchor, and p's tile is one of the registered core tiles,
    so the anchor is inside the halo. Pure HOF — no UDF; only ONE side of
    the join is ever exploded."""
    t = F.lit(CELL_MATCH_TILE if tile is None else tile)
    xs = F.sequence(F.floor(F.col(x1) / t).cast("int") - 1,
                    F.floor(F.col(x2) / t).cast("int") + 1)
    ys = F.sequence(F.floor(F.col(y1) / t).cast("int") - 1,
                    F.floor(F.col(y2) / t).cast("int") + 1)
    return F.flatten(F.transform(
        xs, lambda tx: F.transform(
            ys, lambda ty: F.struct(tx.alias("tx"), ty.alias("ty")))))


#: Tile edge for the e2e-eval IoU candidate joins: must be >= the probe
#: box extent per dimension (boxes are 30x20 / 25x18 by construction).
E2E_TILE = 32.0


def _halo_anchor_join(reg: DataFrame, probe: DataFrame,
                      reg_rect, probe_origin, tile: float) -> DataFrame:
    """Equi-join on (t_id, tx, ty) yielding every (reg, probe) pair whose
    rects OVERLAP (plus some non-overlapping extras the caller filters):
    ``reg`` registers all halo-expanded tiles of rect ``reg_rect``
    (x1, y1, x2, y2 column names); ``probe`` probes with the single
    anchor tile of ``probe_origin`` (x1, y1 column names). Exact for
    overlap candidates iff every probe box spans <= 1 tile per dimension
    — caller must guarantee that. Each qualifying pair appears exactly
    once (one anchor per probe row, distinct registered tiles)."""
    rx1, ry1, rx2, ry2 = reg_rect
    px, py = probe_origin
    t = F.lit(tile)
    reg_t = (reg.withColumn("_t", F.explode(
        _cm_halo_tiles(rx1, ry1, rx2, ry2, tile)))
        .withColumn("tx", F.col("_t.tx")).withColumn("ty", F.col("_t.ty"))
        .drop("_t"))
    probe_t = (probe
               .withColumn("tx", F.floor(F.col(px) / t).cast("int"))
               .withColumn("ty", F.floor(F.col(py) / t).cast("int")))
    return reg_t.join(probe_t, ["t_id", "tx", "ty"]).drop("tx", "ty")


def _cm_scores():
    """(one_minus_iou, dis, inter) column expressions over a joined
    box(bx*/by*) x cell(cx*/cy*) row — shared by the bucketed candidate
    pass and the rare full-join fallback so both argmins are identical."""
    d1 = F.abs(F.col("cx1") - F.col("bx1")) + F.abs(F.col("cy1") - F.col("by1"))
    d2 = F.abs(F.col("cx2") - F.col("bx2")) + F.abs(F.col("cy2") - F.col("by2"))
    dis = d1 + d2 + F.least(d1, d2)
    ix = F.greatest(F.lit(0.0), F.least("bx2", "cx2") - F.greatest("bx1", "cx1"))
    iy = F.greatest(F.lit(0.0), F.least("by2", "cy2") - F.greatest("by1", "cy1"))
    inter = ix * iy
    sa = (F.col("bx2") - F.col("bx1")) * (F.col("by2") - F.col("by1"))
    sb = (F.col("cx2") - F.col("cx1")) * (F.col("cy2") - F.col("cy1"))
    one_minus_iou = 1.0 - inter / (sa + sb - inter)
    return one_minus_iou, dis, inter


def _cm_argmin(j: DataFrame, extra_aggs=()) -> DataFrame:
    """Per-(t_id, box_id) argmin cell by (1-IoU, dis, cell_id).

    A hash/sort aggregate, NOT a window: row_number over (t_id, box_id)
    partitions means millions of tiny sort partitions at scale — min_by
    with the (1-IoU, dis, cell_id) struct keeps the exact tie order
    (lexicographic struct comparison) with map-side partial aggregation
    and one exchange."""
    one_minus_iou, dis, _ = _cm_scores()
    return j.groupBy("t_id", "box_id").agg(
        F.min_by("cell_id", F.struct(
            one_minus_iou.alias("a"), dis.alias("b"),
            F.col("cell_id").alias("c"))).alias("cell_id"),
        *extra_aggs)


def _cm_boxes_cells(spark: SparkSession, sf_dir: str):
    """The shared synthetic box/cell universe for the J1 family."""
    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 4)
    boxes = li.select(
        (F.col("l_orderkey") % 50).alias("t_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("box_id"),
        ((F.col("l_partkey") % 40) * 20).cast("double").alias("bx1"),
        ((F.col("l_suppkey") % 30) * 25).cast("double").alias("by1"),
    ).select("t_id", "box_id", "bx1", "by1",
             (F.col("bx1") + 30).alias("bx2"), (F.col("by1") + 20).alias("by2"))
    cells = (boxes.select("t_id").distinct()
             .crossJoin(spark.range(12).select(F.col("id").alias("cell_id")))
             .select("t_id", "cell_id",
                     ((F.col("cell_id") % 4) * 200).cast("double").alias("cx1"),
                     ((F.col("cell_id") / 4).cast("long") * 250)
                     .cast("double").alias("cy1"))
             .select("t_id", "cell_id", "cx1", "cy1",
                     (F.col("cx1") + 199).alias("cx2"),
                     (F.col("cy1") + 249).alias("cy2")))
    return boxes, cells


def q_cell_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 TableMatch.match_result: spatial theta-join, each OCR box to the
    argmin cell by (1-IoU, L1-corner distance), ties to first cell
    (matcher.py:76-97). Boxes/cells synthesized from lineitem; the join is
    co-partitioned by table id (never a global crossJoin), and with the
    cell side tiny per table it plans as a broadcast join + one SortAgg —
    per-box work is a bounded cells-per-table constant of codegen
    arithmetic. For the large-cells-per-table regime, the tile-bucketed
    variant (cell_match_bucketed, gate-checked as its own query against
    the SAME oracle) cuts the candidate constant; measured here at 12
    cells/table the simple plan wins (one scan, no guard stages), so it
    stays the default — see PERF.md round 4.

    The explicit repartition on the GROUP keys is the measured 10x of
    round 4 (9.7 s -> 0.9 s materialized at sf0.1): the lineitem scan
    yields 3 input partitions, and without it the partial SortAggregate
    under the broadcast join runs 3-wide (AQE coalesces by bytes, and a
    round-robin repartition got coalesced right back). Hashing by
    (t_id, box_id) is exempt from coalescing, spreads the struct-compare
    argmin across every core, and pre-satisfies the aggregate's
    distribution so no second exchange is needed."""
    boxes, cells = _cm_boxes_cells(spark, sf_dir)
    n = spark.sparkContext.defaultParallelism * 2
    j = boxes.repartition(n, "t_id", "box_id").join(cells, "t_id")
    return _cm_argmin(j).select("t_id", "box_id", "cell_id")


def q_cell_match_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cell_match via the tile-bucketed candidate join — same output (and
    same DuckDB oracle) as q_cell_match, different physical plan."""
    boxes, cells = _cm_boxes_cells(spark, sf_dir)
    return cell_match_bucketed(boxes, cells)


def cell_match_bucketed(boxes: DataFrame, cells: DataFrame) -> DataFrame:
    """Tile-bucketed argmin cell assignment with exact full-join fallback.

    ``boxes``: (t_id, box_id, bx1, by1, bx2, by2);
    ``cells``: (t_id, cell_id, cx1, cy1, cx2, cy2). Returns
    (t_id, box_id, cell_id) identical to the unbucketed theta-join argmin.

    Scale design: cells are spatially hashed into halo-expanded
    CELL_MATCH_TILE tiles (small side, broadcast) and each box probes
    with its single anchor tile — the big side is never exploded.
    Correctness argument: an overlapping cell (1-IoU < 1.0) always beats
    every non-overlapping cell (1-IoU = 1.0) under the lexicographic
    argmin, and the halo guarantees every overlapping cell shares the
    anchor tile key whenever the box spans <= 1 tile per dimension — so
    the tile-local argmin IS the global argmin for any box overlapping
    >= 1 cell. The remaining cases (a box wider/taller than one tile, or
    overlapping no cell — where the reference falls back to pure distance
    over ALL cells) are detected per table (max box extent; candidate
    argmin with inter = 0; count parity for boxes with no candidates at
    all) and routed to an exact full per-table join. On grid-covering
    inputs the bad-table set is empty and AQE collapses the fallback
    branch to an empty relation at runtime. The candidate aggregate is
    referenced by both the validity check and the output; its repartition
    exchange is shared via AQE stage reuse, only the cheap post-exchange
    final aggregate runs twice."""
    t = F.lit(CELL_MATCH_TILE)
    n = boxes.sparkSession.sparkContext.defaultParallelism * 2
    boxes_t = boxes.repartition(n, "t_id", "box_id").withColumn(
        "tx", F.floor(F.col("bx1") / t).cast("int")).withColumn(
        "ty", F.floor(F.col("by1") / t).cast("int"))
    cells_t = (cells
               .withColumn("_t", F.explode(
                   _cm_halo_tiles("cx1", "cy1", "cx2", "cy2")))
               .select("t_id", "cell_id", "cx1", "cy1", "cx2", "cy2",
                       F.col("_t.tx").alias("tx"), F.col("_t.ty").alias("ty")))
    # Candidate pairs: each (box, cell) pair appears at most once (one
    # anchor tile per box; a cell registers a tile at most once).
    cand = boxes_t.join(F.broadcast(cells_t), ["t_id", "tx", "ty"])
    _, _, inter = _cm_scores()
    agg = _cm_argmin(cand, extra_aggs=(F.max(inter).alias("best_inter"),))

    # Per-table validity: every box matched with a strict overlap, and no
    # box wider/taller than one tile (the halo proof's precondition)?
    n_boxes = boxes.groupBy("t_id").agg(
        F.count("*").alias("nb"),
        F.max(F.col("bx2") - F.col("bx1")).alias("max_w"),
        F.max(F.col("by2") - F.col("by1")).alias("max_h"))
    n_ok = (agg.filter(F.col("best_inter") > 0)
            .groupBy("t_id").agg(F.count("*").alias("nm")))
    bad = (n_boxes.join(n_ok, "t_id", "left")
           .filter(F.col("nm").isNull() | (F.col("nm") < F.col("nb"))
                   | (F.col("max_w") > t) | (F.col("max_h") > t))
           .select("t_id"))

    good = (agg.join(F.broadcast(bad), "t_id", "left_anti")
            .select("t_id", "box_id", "cell_id"))
    fallback = _cm_argmin(
        boxes.join(F.broadcast(bad), "t_id").join(cells, "t_id")
    ).select("t_id", "box_id", "cell_id")
    return good.unionByName(fallback)


def q_cell_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 get_pred_html splice core: per-cell text assembly — matched boxes'
    texts joined space-separated in box order (matcher.py:99-138's
    ``' '.join`` per </td>)."""
    assigned = q_cell_match(spark, sf_dir)
    withtext = assigned.withColumn(
        "txt", F.concat(F.lit("w"), (F.col("box_id") % 100).cast("string")))
    return (withtext.groupBy("t_id", "cell_id")
            .agg(F.array_join(
                F.expr("transform(sort_array(collect_list("
                       "struct(box_id, txt))), s -> s.txt)"), " ")
                .alias("cell_text"),
                F.count("*").cast("long").alias("n_boxes")))


def q_e2e_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 end2end eval core (eval_end2end.py:71-180): gt×pred box join on
    IoU>0.5 + per-pair edit distance. Gt/pred synthesized from lineitem;
    preds for l_linenumber ≤ 2 are the gt box jittered by 2px (match), the
    rest shifted far away (no match)."""
    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 4)
    base = li.select(
        (F.col("l_orderkey") % 50).alias("t_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("gid"),
        ((F.col("l_partkey") % 40) * 20).cast("double").alias("x1"),
        ((F.col("l_suppkey") % 30) * 25).cast("double").alias("y1"),
        F.col("l_linenumber").alias("ln"))
    gt = base.select(
        "t_id", F.col("gid").alias("gt_id"), "x1", "y1",
        (F.col("x1") + 30).alias("x2"), (F.col("y1") + 20).alias("y2"),
        F.concat(F.lit("text"), (F.col("gid") % 97).cast("string"))
        .alias("gt_text"))
    shift = F.when(F.col("ln") <= 2, F.lit(2.0)).otherwise(F.lit(5000.0))
    pred = base.select(
        "t_id", F.col("gid").alias("pred_id"),
        (F.col("x1") + shift).alias("px1"), (F.col("y1") + shift).alias("py1"),
        (F.col("x1") + shift + 30).alias("px2"),
        (F.col("y1") + shift + 20).alias("py2"),
        F.concat(F.lit("text"), ((F.col("gid") + 1) % 97).cast("string"))
        .alias("pred_text"))
    # IoU > 0.5 requires overlap, so candidates come from the halo/anchor
    # tile join (same proof as cell_match_bucketed) instead of the full
    # per-table gt x pred fan-out (~1.2k^2 rows per table at sf0.01). The
    # precondition — probe box spans <= 1 tile per dim — holds BY
    # CONSTRUCTION here: boxes are 30x20, tile 32.
    j = _halo_anchor_join(
        gt, pred, ("x1", "y1", "x2", "y2"), ("px1", "py1"), E2E_TILE)
    ix = F.greatest(F.lit(0.0), F.least("x2", "px2") - F.greatest("x1", "px1"))
    iy = F.greatest(F.lit(0.0), F.least("y2", "py2") - F.greatest("y1", "py1"))
    inter = ix * iy
    union = ((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
             + (F.col("px2") - F.col("px1")) * (F.col("py2") - F.col("py1"))
             - inter)
    matched = j.filter(inter / union > 0.5)
    return matched.agg(
        F.count("*").cast("long").alias("n_matched"),
        F.round(F.avg(F.levenshtein("gt_text", "pred_text")), 4)
        .alias("avg_edit"),
        F.round(F.avg(F.when(F.col("gt_text") == F.col("pred_text"), 1.0)
                      .otherwise(0.0)), 4).alias("exact_rate"))


def q_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 mean-over-list analog via the aggregate() higher-order fn: ordered
    fold over the embedding array (predict_system.py:202's np.mean)."""
    vecs = sf_table(spark, sf_dir, "embeddings")
    return vecs.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.expr(
            "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE))"
        ) / F.size("embedding"), 4).alias("mean_val"),
        F.round(F.expr(
            "aggregate(embedding, CAST(-1e30 AS DOUBLE), "
            "(a, x) -> greatest(a, CAST(x AS DOUBLE)))"), 4)
        .alias("max_val"))


def q_page_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+P13: page explode + first-N-pages limit (paddleocr.py:692-697).
    Pages derive from span geometry (y DIV page height 1100); keep page<2."""
    s = with_geometry(_spans_exploded(spark, sf_dir))
    pages = s.select(
        "doc_id", F.col("span_idx").cast("long").alias("span_idx"),
        F.floor(F.col("y1") / 1100).cast("long").alias("page_idx"))
    return pages.filter(F.col("page_idx") < 2)


def q_dim_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference scale demo: fact (lineitem) ⋈ broadcast small dim
    (part). The reference never needs broadcast (its joins are per-page,
    SURVEY §2.7); at 100 TB a small-dim enrichment join is routine, and the
    broadcast hint keeps the fact side shuffle-free (BroadcastHashJoin in
    the plan). revenue is rounded to 2dp, not the module's usual 4dp:
    at ~1e8 sums a 4dp boundary would sit inside double-summation-order
    noise and make the parity compare flaky."""
    li = sf_table(spark, sf_dir, "lineitem")
    part = sf_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand")
    j = li.join(F.broadcast(part),
                li.l_partkey == part.p_partkey)
    return (j.groupBy("p_brand")
            .agg(F.count("*").cast("long").alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


def q_rec_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 RecMetric: exact-match acc (space-stripped) + avg normalized edit
    distance (rec_metric.py:61-160) over deterministic pred/target pairs."""
    d = sf_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("tgt"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.translate("text", "ae", "ea")).alias("pred"))
    return d.agg(
        F.round(F.avg(
            F.when(F.replace("pred", F.lit(" "), F.lit("")) ==
                   F.replace("tgt", F.lit(" "), F.lit("")), 1.0)
            .otherwise(0.0)), 4).alias("exact_acc"),
        F.round(F.avg(
            1.0 - F.levenshtein("pred", "tgt")
            / F.greatest(F.length("pred"), F.length("tgt"), F.lit(1))
            .cast("double")), 4).alias("norm_edit_sim"),
        F.count("*").cast("long").alias("n"))


def q_distillation_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistillationMetric (distillation_metric.py:26-75), the one metric
    file that had no gate pin: a per-model-key dispatcher that runs one
    base metric per key in ``preds`` and merges names in get_metric —
    the MAIN key's results land unprefixed, every other key's as
    ``{key}_{sub_key}``. Pinned over RecMetric with keys Student (main)
    + Teacher on divergent deterministic pred streams; output is the
    merged long-format (metric, value) table, one grouped agg per key
    (a union of two map-side-combinable aggregations — no extra
    exchange vs running the metrics separately at 100 TB)."""
    docs = sf_table(spark, sf_dir, "documents")

    def _pairs(key: str):
        if key == "Student":
            pred = (F.when(F.col("doc_id") % 3 == 0, F.col("text"))
                    .otherwise(F.translate("text", "ae", "ea")))
        else:
            pred = (F.when(F.col("doc_id") % 2 == 0, F.col("text"))
                    .otherwise(F.translate("text", "o", "0")))
        return docs.select(F.col("text").alias("tgt"), pred.alias("pred"))

    def _rec_metric_rows(key: str, prefix: str):
        agg = _pairs(key).agg(
            F.round(F.avg(
                F.when(F.replace("pred", F.lit(" "), F.lit("")) ==
                       F.replace("tgt", F.lit(" "), F.lit("")), 1.0)
                .otherwise(0.0)), 4).alias("exact_acc"),
            F.round(F.avg(
                1.0 - F.levenshtein("pred", "tgt")
                / F.greatest(F.length("pred"), F.length("tgt"), F.lit(1))
                .cast("double")), 4).alias("norm_edit_sim"),
            F.count("*").cast("double").alias("n"))
        return agg.select(F.explode(F.create_map(
            F.lit(prefix + "exact_acc"), F.col("exact_acc"),
            F.lit(prefix + "norm_edit_sim"), F.col("norm_edit_sim"),
            F.lit(prefix + "n"), F.col("n"))).alias("metric", "value"))

    # main key Student unprefixed; Teacher prefixed "{key}_{sub_key}"
    return (_rec_metric_rows("Student", "")
            .unionAll(_rec_metric_rows("Teacher", "Teacher_")))


def q_det_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 DetMetric.combine_results: global precision/recall/hmean from
    per-image matched counts (det_metric.py:24-79)."""
    d = sf_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") % 7 + 1).alias("gt"),
        ((F.col("n_chars") * 3) % 8).alias("det"),
    ).select("gt", "det",
             F.least("gt", "det", (F.col("gt") * F.col("det")) % 5)
             .alias("matched"))
    agg = d.agg(F.sum("matched").cast("double").alias("m"),
                F.sum("det").cast("double").alias("d"),
                F.sum("gt").cast("double").alias("g"))
    p = F.col("m") / F.col("d")
    r = F.col("m") / F.col("g")
    return agg.select(
        F.round(p, 4).alias("precision"), F.round(r, 4).alias("recall"),
        F.round(2 * p * r / (p + r), 4).alias("hmean"))


def q_ctc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1+R2+R3: CTC encode (JVM) → sort-to-batch Arrow decode →
    conditional 180° flip. Round-trip invariant: decoded text == input text
    filtered to the charset; score 1.0 (0.0 for empty)."""
    from .operators.recognize import classify_rotate, recognize
    spans = sf_table(spark, sf_dir, "documents").select(
        F.format_string("doc_%07d", F.col("doc_id")).alias("doc_id"),
        F.lit(0).cast("long").alias("span_idx"),
        "text",
        F.lit(0).alias("x1"), F.lit(100).alias("x2"),
        F.lit(0).alias("y1"), F.lit(10).alias("y2"))
    out = classify_rotate(recognize(spans))
    return out.select("doc_id", "span_idx", "rec_text",
                      F.round("rec_score", 4).alias("rec_score"),
                      "cls_label")


def q_char_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fork A4 addition: char-level P/R/F1 via Hirschberg LCS over
    deterministic (pred, target) pairs. LCS is not SQL-expressible: the
    oracle is a committed fixture (tools/make_fixtures.py); pytest verifies
    the distributed counts against a single-node run (tests/test_metrics.py)."""
    from .functions.metrics import char_prf
    pairs = sf_table(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 4 == 0, F.col("text"))
        .otherwise(F.translate("text", "aeo", "eoa")).alias("pred"),
        F.col("text").alias("target"))
    return char_prf(pairs)


def q_det_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 DetectionIoUEvaluator: greedy one-to-one IoU matching with
    don't-care exclusion, per doc, combined globally. The greedy loop is
    iterative: the oracle is a committed fixture (tools/make_fixtures.py);
    pytest covers the kernel on hand-built cases."""
    from .functions.metrics import det_eval
    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 4)
    base = li.select(
        F.format_string("doc_%04d", F.col("l_orderkey") % 200)
        .alias("doc_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("oid"),
        ((F.col("l_partkey") % 40) * 30).cast("double").alias("x1"),
        ((F.col("l_suppkey") % 30) * 30).cast("double").alias("y1"),
        F.col("l_linenumber").alias("ln"))
    gt = base.select(
        "doc_id", F.col("oid").alias("gt_id"), "x1", "y1",
        (F.col("x1") + 25).alias("x2"), (F.col("y1") + 18).alias("y2"),
        (F.col("oid") % 11 == 0).alias("ignore"))
    shift = F.when(F.col("ln") <= 3, F.lit(3.0)).otherwise(F.lit(7000.0))
    det = base.select(
        "doc_id", F.col("oid").alias("det_id"),
        (F.col("x1") + shift).alias("x1"), (F.col("y1") + shift).alias("y1"),
        (F.col("x1") + shift + 25).alias("x2"),
        (F.col("y1") + shift + 18).alias("y2"))
    return det_eval(gt, det)


def q_det_fce_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DetFCEMetric (ppocr/metrics/det_metric.py:81-178; round 5,
    previously only the plain DetMetric was covered): the same
    DetectionIoUEvaluator greedy matching swept over the 10 score
    thresholds 0.0..0.9 (reset(), :168) — dets below the threshold are
    dropped BEFORE matching, so each threshold gets its own greedy
    assignment — plus get_metric's two folds (:135-165): hmean_max =
    max over thresholds, and AP = Σ max_precision_so_far · (pre_recall
    − recall) walked in threshold order with pre_recall = 1,
    max_precision = 0 (the reference's literal fold, including that
    max_precision lags by one step).

    Distributed shape: each (doc, threshold) pair becomes a PSEUDO-DOC
    key for the same grouped-Arrow greedy kernel J4 uses — 10× the
    groups, zero new kernel code — then one agg per threshold and a
    10-row window for the folds. Same gt/det universe as q_det_eval;
    det score = ((det_id * 7) % 10) / 10 + 0.05, never equal to a
    threshold. Greedy matching is iterative → committed fixture oracle.
    Emits (thr, precision, recall, hmean, hmean_max, ap), folds
    repeated per row so the hash pins the curve AND both folds."""
    from .functions.metrics import det_eval_per_doc

    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 4)
    base = li.select(
        F.format_string("doc_%04d", F.col("l_orderkey") % 200)
        .alias("doc_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("oid"),
        ((F.col("l_partkey") % 40) * 30).cast("double").alias("x1"),
        ((F.col("l_suppkey") % 30) * 30).cast("double").alias("y1"),
        F.col("l_linenumber").alias("ln"))
    thrs = spark.range(10).select((F.col("id") * 0.1).alias("thr"))
    gt = (base.crossJoin(F.broadcast(thrs))
          .select(F.concat("doc_id", F.lit("#"),
                           F.format_number("thr", 1)).alias("doc_id"),
                  F.col("thr").alias("g_thr"),
                  F.col("oid").alias("gt_id"), "x1", "y1",
                  (F.col("x1") + 25).alias("x2"),
                  (F.col("y1") + 18).alias("y2"),
                  (F.col("oid") % 11 == 0).alias("ignore")))
    shift = F.when(F.col("ln") <= 3, F.lit(3.0)).otherwise(F.lit(7000.0))
    score = ((F.col("oid") * 7) % 10) / 10.0 + 0.05
    det = (base.withColumn("score", score)
           .crossJoin(F.broadcast(thrs))
           .filter(F.col("score") >= F.col("thr"))
           .select(F.concat("doc_id", F.lit("#"),
                            F.format_number("thr", 1)).alias("doc_id"),
                   F.col("oid").alias("det_id"),
                   (F.col("x1") + shift).alias("x1"),
                   (F.col("y1") + shift).alias("y1"),
                   (F.col("x1") + shift + 25).alias("x2"),
                   (F.col("y1") + shift + 18).alias("y2")))
    per = det_eval_per_doc(gt.drop("g_thr"), det)
    # NOTE: pseudo-docs whose det set is empty at a high threshold still
    # exist (every doc appears in gt for every threshold), so per-doc
    # rows cover the full (doc, thr) grid and the per-threshold sums
    # match the reference's append-per-image accounting.
    by_thr = (per.withColumn(
        "thr", F.expr("CAST(substring_index(doc_id, '#', -1) AS DOUBLE)"))
        .groupBy("thr")
        .agg(F.sum("matched").cast("double").alias("m"),
             F.sum("det_care").cast("double").alias("d"),
             F.sum("gt_care").cast("double").alias("g")))
    p = F.when(F.col("d") == 0, 0.0).otherwise(F.col("m") / F.col("d"))
    r = F.when(F.col("g") == 0, 0.0).otherwise(F.col("m") / F.col("g"))
    curve = by_thr.select(
        "thr", p.alias("precision"), r.alias("recall"),
        F.when(p + r == 0, 0.0).otherwise(2 * p * r / (p + r))
        .alias("hmean"))
    w = Window.orderBy("thr")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    folded = curve.select(
        "thr", "precision", "recall", "hmean",
        (F.coalesce(F.max("precision").over(wprev), F.lit(0.0))
         * (F.lag("recall", 1, 1.0).over(w) - F.col("recall")))
        .alias("ap_term"))
    tot = folded.agg(F.max("hmean").alias("hmean_max"),
                     F.sum("ap_term").alias("ap"))
    return (folded.crossJoin(F.broadcast(tot))
            .select(F.round("thr", 1).alias("thr"),
                    F.round("precision", 4).alias("precision"),
                    F.round("recall", 4).alias("recall"),
                    F.round("hmean", 4).alias("hmean"),
                    F.round("hmean_max", 4).alias("hmean_max"),
                    F.round("ap", 4).alias("ap")))


def q_table_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableMetric with compute_bbox_metric=True
    (ppocr/metrics/table_metric.py:70-160; round 5 — previously only
    its TableStructureMetric half was covered as A7): the structure
    accuracy composed with a full DetMetric pass over the per-table
    cell boxes. gt = the J1 grid cells with ignore all-false
    (prepare_bbox_metric_input:110-116 hardcodes ignore_tags 0); det =
    the predicted cell boxes — the gt grid jittered 3 px for the
    table's first (t%5)+6 cells (IoU ≈ 0.95, matches) and displaced
    7000 px for the rest (misses), so per-table counts differ and
    precision/recall land strictly inside (0, 1) with the greedy
    matching exercised, not bypassed. Matched per TABLE by
    the J4 greedy evaluator and combined globally. Output keys follow
    get_metric's prefix rule (:129-138, main_indicator 'acc' != the
    bbox metric's 'hmean' → bbox keys get the bbox_metric_ prefix).
    The greedy half is iterative → committed fixture oracle (the
    structure half's value equals the table_token_acc gate, re-derived
    in the fixture from its own SQL twin)."""
    from .functions.metrics import det_eval
    from .operators.table import table_token_acc

    struct_ = table_token_acc(spark, sf_dir).select(
        F.col("token_acc").alias("acc"),
        F.col("n_tables"))
    boxes, cells = _cm_boxes_cells(spark, sf_dir)
    gt = cells.select(
        F.format_string("t_%04d", F.col("t_id").cast("int"))
        .alias("doc_id"),
        F.col("cell_id").alias("gt_id"),
        F.col("cx1").alias("x1"), F.col("cy1").alias("y1"),
        F.col("cx2").alias("x2"), F.col("cy2").alias("y2"),
        F.lit(False).alias("ignore"))
    # per-table varying hit count: table t matches its first (t%5)+6
    # cells, so the combine sums genuinely different per-image counts
    shift = F.when(F.col("cell_id") <= (F.col("t_id") % 5) + 5,
                   F.lit(3.0)).otherwise(F.lit(7000.0))
    det = cells.select(
        F.format_string("t_%04d", F.col("t_id").cast("int"))
        .alias("doc_id"),
        F.col("cell_id").alias("det_id"),
        (F.col("cx1") + shift).alias("x1"),
        (F.col("cy1") + shift).alias("y1"),
        (F.col("cx2") + shift).alias("x2"),
        (F.col("cy2") + shift).alias("y2"))
    bbox = det_eval(gt, det).select(
        F.col("precision").alias("bbox_metric_precision"),
        F.col("recall").alias("bbox_metric_recall"),
        F.col("hmean").alias("bbox_metric_hmean"),
        F.col("n_images").alias("n_bbox_images"))
    return struct_.crossJoin(F.broadcast(bbox))


def _ct_universe(spark: SparkSession, sf_dir: str):
    """Shared CT gt/det synthesis: each lineitem row is a SITE whose
    l_linenumber picks the match regime the Deteval walk must classify —
    ln=1 a jittered one-to-one pair, ln=2 one gt split into two half
    dets (one-to-many, the fsc_k fractional credit), ln=3 two half gts
    under one wide det (many-to-one), ln=4 a displaced miss whose gt is
    '###' don't-care for oid%3=0 (exercises detection_filtering). Sites
    are spread on a 300x200 grid; occasional collisions just make
    harder inputs — both engines see identical geometry."""
    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 4)
    base = li.select(
        F.format_string("doc_%04d", F.col("l_orderkey") % 200)
        .alias("doc_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("oid"),
        (F.col("l_linenumber")).alias("ln"),
        ((F.col("l_partkey") % 37) * 300).cast("double").alias("x"),
        ((F.col("l_suppkey") % 23) * 200).cast("double").alias("y"))
    gt = base.select(
        "doc_id", "oid", "ln", "x", "y",
        F.expr("""
            CASE ln
              WHEN 3 THEN array(array(x, y, x + 50, y + 40),
                               array(x + 50, y, x + 100, y + 40))
              ELSE array(array(x, y, x + 100, y + 40))
            END""").alias("boxes"),
        F.expr("ln = 4 AND oid % 3 = 0").alias("dc"))
    gt = gt.select(
        "doc_id", F.posexplode("boxes").alias("k", "b"), "oid", "dc"
    ).select("doc_id", (F.col("oid") * 10 + F.col("k")).alias("gt_id"),
             F.col("b")[0].alias("x1"), F.col("b")[1].alias("y1"),
             F.col("b")[2].alias("x2"), F.col("b")[3].alias("y2"), "dc")
    det = base.select(
        "doc_id", "oid", "ln", "x", "y",
        F.expr("""
            CASE ln
              WHEN 1 THEN array(array(x + 3, y + 3, x + 103, y + 43))
              WHEN 2 THEN array(array(x, y, x + 50, y + 40),
                               array(x + 50, y, x + 100, y + 40))
              WHEN 3 THEN array(array(x, y, x + 100, y + 40))
              ELSE array(array(x + 7000, y + 7000, x + 7100, y + 7040))
            END""").alias("boxes"))
    det = det.select(
        "doc_id", F.posexplode("boxes").alias("k", "b"), "oid"
    ).select("doc_id", (F.col("oid") * 10 + F.col("k")).alias("det_id"),
             F.col("b")[0].alias("x1"), F.col("b")[1].alias("y1"),
             F.col("b")[2].alias("x2"), F.col("b")[3].alias("y2"))
    return gt, det


def q_ct_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTMetric (ppocr/metrics/ct_metric.py:26-52 → Deteval.py
    get_score_C :276-394 + combine_results :395-705, rec_flag=False;
    round 5 — the last previously-uncovered metric class): per-doc
    sigma/tau tables over axis-aligned rects (the documented bbox
    axiom — the reference's Polygon3 intersections are exact closed
    forms on axis-aligned inputs), don't-care detection filtering, then
    the one-to-one / one-to-many / many-to-one matching walk with
    tr=0.7 tp=0.6 fsc_k=0.8 k=2 and the global ratio combine. The
    synthetic universe plants all three regimes per doc plus misses and
    '###' gts (_ct_universe). Iterative matching → committed fixture
    oracle; kernel quirks pinned in tests/test_metrics.py."""
    from .functions.metrics import ct_eval

    gt, det = _ct_universe(spark, sf_dir)
    return ct_eval(gt, det)


def q_e2e_deteval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2EMetric mode-A, the path the reference ACTUALLY wires
    (ppocr/metrics/e2e_metric.py:39-69 → Deteval.py get_socre_A
    :24-160 + combine_results rec_flag=True :395-705; round 5 —
    q_e2e_metric covers the sibling eval_end2end.py report): per-doc
    2dp HALF-EVEN-rounded sigma/tau tables, the three-regime matching
    walk WITH per-match string hits (exact, then case-folded — the
    asymmetric break quirks transcribed in metrics.ct_match_counts),
    and the full final report including seqerr and the e2e P/R/F over
    hit counts. Same site geometry as ct_metric; gt text 'w<oid>' ('' =
    don't-care where ct used the dc flag); det text exact for oid%3=0,
    case-swapped for %3=1 (the lower() fallback fires), else wrong.
    Iterative matching → committed fixture oracle."""
    from .functions.metrics import e2e_deteval

    gt, det = _ct_universe(spark, sf_dir)
    gt = gt.withColumn(
        "txt", F.expr("IF(dc, '', concat('w', CAST(gt_id AS STRING)))")
    ).drop("dc")
    det = det.withColumn(
        "txt", F.expr(
            "CASE det_id % 3 WHEN 0 THEN concat('w', CAST(det_id AS "
            "STRING)) WHEN 1 THEN concat('W', CAST(det_id AS STRING)) "
            "ELSE concat('x', CAST(det_id AS STRING)) END"))
    return e2e_deteval(gt, det)


def q_teds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 TEDS: tree-edit-distance similarity over deterministic table-html
    pairs built from documents (pred mutates one header cell and drops the
    last body cell for every third doc). Tree edit distance is iterative:
    the oracle is a committed fixture (tools/make_fixtures.py); pytest pins
    hand-computed scores (tests/test_teds.py)."""
    from .functions.teds import teds
    docs = sf_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("pair_id"),
        F.expr("slice(filter(split(lower(text), ' '), x -> x != ''), 1, 6)")
        .alias("w"))
    # full-document wrapper: teds_score mirrors the reference's
    # body/table xpath requirement, so bare <table> fragments score 0.0
    cell = ("concat('<html><body><table><thead><tr><td>', "
            "element_at(w, 1), "
            "'</td><td>', {h2}, '</td></tr></thead><tbody><tr><td>', "
            "element_at(w, 3), '</td><td>', element_at(w, 4), "
            "'</td></tr>{tail}</tbody></table></body></html>')")
    true_html = cell.format(h2="element_at(w, 2)",
                            tail="<tr><td>x</td><td>y</td></tr>")
    pred_html = ("CASE WHEN pair_id % 3 = 0 THEN "
                 + cell.format(h2="'MUT'", tail="")
                 + " ELSE " + cell.format(
                     h2="element_at(w, 2)",
                     tail="<tr><td>x</td><td>y</td></tr>") + " END")
    pairs = docs.filter(F.size("w") >= 4).select(
        "pair_id", F.expr(pred_html).alias("pred_html"),
        F.expr(true_html).alias("true_html"))
    return teds(pairs)


def q_nms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 per-class hard_nms over (doc, label) groups — greedy IoU
    suppression is iterative, so the oracle is a committed fixture
    (tools/make_fixtures.py); pytest verifies the distributed result equals
    the kernel run single-node (tests/test_operators.py)."""
    from .operators.spatial import nms_per_class
    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 3)
    boxes = li.select(
        F.format_string("doc_%03d", F.col("l_orderkey") % 20).alias("doc_id"),
        F.when(F.col("l_partkey") % 2 == 0, "text").otherwise("table")
        .alias("label"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("box_id"),
        ((F.col("l_partkey") % 25) * 8).cast("double").alias("x1"),
        ((F.col("l_suppkey") % 20) * 10).cast("double").alias("y1"),
    ).select("doc_id", "label", "box_id", "x1", "y1",
             (F.col("x1") + 40).alias("x2"), (F.col("y1") + 30).alias("y2"),
             ((F.col("box_id") % 100) / 100.0).alias("score"))
    return nms_per_class(boxes)


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 DetResizeForTest.resize_image_type0 over decoded media dims
    (limit_side_len=960, limit_type='max' — predict_det.py:66-74)."""
    from .multimodal import media_features, media_resize
    feats = media_features(synth_spans(sf_table(spark, sf_dir, "documents")))
    return media_resize(feats)


def q_grapheme_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fork grapheme layer: decompose→compose roundtrip with the
    prob-carrying dialect (korean_grapheme_label.py:35-104): >=2 unknown
    jamo → max-prob verbatim passthrough, <=1 → (11,0,0) defaults,
    empty → a single space.

    The conf array<double> is serialized to a canonical comma-joined
    4-decimal string: the driver's canonicalizer sorts result columns
    with pandas (list cells are unhashable → r4 gate err), so gate
    outputs must be atomic-typed (pinned by
    tests/test_plans.py::test_registry_outputs_are_atomic)."""
    from .functions.grapheme import grapheme_compose
    d = grapheme_compose(
        sf_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return d.select(
        "doc_id", "composed",
        F.expr("concat_ws(',', transform(conf, x -> "
               "cast(cast(x as decimal(6,4)) as string)))").alias("conf"))


def q_rec_metric_grapheme(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fork RecMetric_GraphemeLabel_All (rec_metric.py:532-600): the
    recursive dict dispatcher that runs one RecMetric per grapheme
    channel — character / initial / medial / final — and flattens
    get_metric results to '|{key}|{metric}' entries. Channels come from
    the D-jamo decomposition (grapheme_decompose); pairs per channel
    follow the grapheme_ned universe (tgt emptied %13; pred = '' %11,
    = tgt %3, else tgt minus its FIRST char — edit distance exactly 1,
    which keeps the norm-edit term engine-portable without a
    levenshtein call). Per channel: RecMetric's exact-match acc and
    norm_edit_dis = 1 − Σned/(n + 1e-5), ignore_space=True. Emits 4
    rows (channel, acc, norm_edit_dis, n) ordered by channel."""
    from .functions.grapheme import grapheme_decompose

    dec = grapheme_decompose(
        sf_table(spark, sf_dir, "documents").select("doc_id", "text"))
    chan = dec.select("doc_id", F.expr(
        "stack(4, 'character', ktext, 'initial', initial, "
        "'medial', medial, 'final', final) AS (channel, raw)"))
    pairs = chan.select(
        "doc_id", "channel",
        F.expr("CASE WHEN doc_id % 13 = 0 THEN '' ELSE raw END")
        .alias("tgt0"))
    pairs = pairs.select(
        "channel",
        F.expr("replace(CASE WHEN doc_id % 11 = 0 THEN '' "
               "WHEN doc_id % 3 = 0 THEN tgt0 "
               "ELSE substring(tgt0, 2) END, ' ', '')").alias("pred"),
        F.expr("replace(tgt0, ' ', '')").alias("tgt"))
    ned = (F.when(F.col("pred") == F.col("tgt"), F.lit(0.0))
           .when((F.length("pred") == 0) | (F.length("tgt") == 0),
                 F.lit(1.0))
           .otherwise(1.0 / F.greatest(F.length("pred"),
                                       F.length("tgt"))))
    eps = 1e-5
    agg = pairs.groupBy("channel").agg(
        F.sum(F.when(F.col("pred") == F.col("tgt"), 1).otherwise(0))
        .cast("double").alias("correct"),
        F.sum(ned).alias("ned_sum"),
        F.count("*").cast("double").alias("n"))
    return (agg.select(
        "channel",
        F.round(F.col("correct") / (F.col("n") + eps), 4).alias("acc"),
        F.round(1.0 - F.col("ned_sum") / (F.col("n") + eps), 4)
        .alias("norm_edit_dis"),
        F.col("n").cast("long").alias("n"))
        .orderBy("channel"))


def q_utf8_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fork utf8string dialect: greedy jamo re-composition with probs
    (korean_compose_by_utf8.py:60-94) — cho+jung starts a syllable and
    CONSUMES an optional JONGSUNG-member final (including '@'). The
    sequential scan runs as an Arrow-batched row kernel (the HOF-fold
    form measured O(n²); see PERF.md).

    The ps array<double> is serialized to a canonical comma-joined
    4-decimal string — gate outputs must be atomic-typed for the
    driver's pandas canonicalizer (same trap as grapheme_compose)."""
    from .functions.grapheme import utf8_compose
    d = utf8_compose(
        sf_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return d.select(
        "doc_id", "composed",
        F.expr("concat_ws(',', transform(ps, x -> "
               "cast(cast(x as decimal(6,4)) as string)))").alias("ps"))


def q_e2e_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 E2EMetric mode-A full report (eval_end2end.py:71-180 +
    combine: precision/recall/fmeasure on hits, character_acc and
    avg-edit-distances from matched + unmatched contributions, eps=1e-9).

    Same gt/pred universe as q_e2e_eval but positions are made injective
    per table (row_number grid) so IoU>=0.5 matching is one-to-one by
    construction and the reference's greedy IoU-descending tie-break
    never fires — keeping the metric SQL-expressible. gid%13==0 gts are
    don't-care (ignore), gid%3==0 preds carry the exact gt text (hits).
    """
    from .functions.dedup import _cached

    def build_base() -> DataFrame:
        li = sf_table(spark, sf_dir, "lineitem").filter(
            F.col("l_linenumber") <= 4)
        b = li.select(
            (F.col("l_orderkey") % 50).alias("t_id"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("gid"),
            F.col("l_linenumber").alias("ln"))
        w = Window.partitionBy("t_id").orderBy("gid")
        return b.withColumn("r", F.row_number().over(w) - 1).select(
            "t_id", "gid", "ln",
            ((F.col("r") % 37) * 40).cast("double").alias("x1"),
            (F.floor(F.col("r") / 37) * 35).cast("double").alias("y1"))

    # The metric fans this windowed table into gt, pred, the halo match
    # join, two anti-joins and four aggregates — without a persist each
    # branch recomputes the scan + window (~8 full passes; measured 21 s
    # at sf0.1 for ONE output row). Session-keyed persist, same pattern
    # (and release hook) as the dedup band tables.
    base = _cached(spark, sf_dir, "e2e_metric_base", build_base)
    gtxt = F.concat(F.lit("text"), (F.col("gid") % 97).cast("string"))
    ptxt = F.when(F.col("gid") % 3 == 0, gtxt).otherwise(
        F.concat(F.lit("text"), ((F.col("gid") + 1) % 97).cast("string")))
    gt = base.select("t_id", F.col("gid").alias("gt_id"), "x1", "y1",
                     (F.col("x1") + 25).alias("x2"),
                     (F.col("y1") + 18).alias("y2"),
                     gtxt.alias("gt_text"),
                     (F.col("gid") % 13 == 0).alias("ignore"))
    shift = F.when(F.col("ln") <= 3, F.lit(2.0)).otherwise(F.lit(9000.0))
    pred = base.select("t_id", F.col("gid").alias("pred_id"),
                       (F.col("x1") + shift).alias("px1"),
                       (F.col("y1") + shift).alias("py1"),
                       (F.col("x1") + shift + 25).alias("px2"),
                       (F.col("y1") + shift + 18).alias("py2"),
                       ptxt.alias("pred_text"))
    # halo/anchor candidate join — see q_e2e_eval; boxes 25x18 <= tile 32
    j = _halo_anchor_join(
        gt, pred, ("x1", "y1", "x2", "y2"), ("px1", "py1"), E2E_TILE)
    ix = F.greatest(F.lit(0.0), F.least("x2", "px2") - F.greatest("x1", "px1"))
    iy = F.greatest(F.lit(0.0), F.least("y2", "py2") - F.greatest("y1", "py1"))
    inter = ix * iy
    union = ((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
             + (F.col("px2") - F.col("px1")) * (F.col("py2") - F.col("py1"))
             - inter)
    matched = _cached(
        spark, sf_dir, "e2e_metric_matched",
        lambda: j.filter(inter / union >= 0.5)
                 .select("t_id", "gt_id", "pred_id", "gt_text",
                         "pred_text", "ignore"))
    un_gt = gt.join(matched.select("gt_id"), "gt_id", "left_anti")
    un_dt = pred.join(matched.select("pred_id"), "pred_id", "left_anti")
    mstats = matched.filter(~F.col("ignore")).agg(
        F.count("*").alias("m_cnt"),
        F.sum(F.when(F.col("gt_text") == F.col("pred_text"), 1)
              .otherwise(0)).alias("hit"),
        F.sum(F.levenshtein("gt_text", "pred_text")).alias("m_ed"),
        F.sum(F.length("gt_text")).alias("m_chars"))
    gstats = un_gt.filter(~F.col("ignore")).agg(
        F.count("*").alias("g_cnt"),
        F.sum(F.length("gt_text")).alias("g_chars"))
    dstats = un_dt.agg(F.count("*").alias("d_cnt"),
                       F.sum(F.length("pred_text")).alias("d_ed"))
    # countDistinct as a 1-row crossJoin input, NOT a driver-side
    # .count() action — the old form ran a full extra job per invocation
    nimg = gt.agg(F.countDistinct("t_id").alias("n_img"))
    row = mstats.crossJoin(gstats).crossJoin(dstats).crossJoin(nimg)
    eps = F.lit(1e-9)
    gt_count = F.col("m_cnt") + F.col("g_cnt")
    dt_count = F.col("m_cnt") + F.col("d_cnt")
    ed_sum = (F.col("m_ed") + F.col("g_chars") + F.col("d_ed")).cast("double")
    chars = F.col("m_chars") + F.col("g_chars")
    p = F.col("hit") / (dt_count + eps)
    r = F.col("hit") / (gt_count + eps)
    return row.select(
        F.round(p, 4).alias("precision"),
        F.round(r, 4).alias("recall"),
        F.round(2.0 * p * r / (p + r + eps), 4).alias("fmeasure"),
        F.round(1.0 - ed_sum / (chars + eps), 4).alias("character_acc"),
        F.round(ed_sum / (gt_count + eps), 4).alias("avg_edit_dist_field"),
        F.round(ed_sum / F.col("n_img").cast("double"), 4)
        .alias("avg_edit_dist_img"),
        F.col("hit").cast("long").alias("hit"),
        gt_count.cast("long").alias("gt_count"),
        dt_count.cast("long").alias("dt_count"))


def q_pse_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 PSE progressive-scale-expansion detector over deterministic
    per-doc kernel pyramids (first 200 docs); committed-fixture oracle
    (BFS expansion is iterative)."""
    from .operators.spatial import pse_detect
    docs = sf_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200)
    return pse_detect(docs)


def q_drrg_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 fifth family: DRRGPostprocess (drrg_postprocess.py:259-326)
    over deterministic per-doc GCN-head graphs (first 200 docs);
    committed-fixture oracle (graph clustering + greedy path are
    iterative). Output order is the deterministic smallest-member
    cluster order (the reference's own set-pop order is random —
    kernels.drrg_boundaries docstring)."""
    from .operators.spatial import drrg_detect
    docs = sf_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200)
    return drrg_detect(docs)


def q_fce_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 fourth family: FCEPostProcess (fce_postprocess.py:64-239,
    box_type='poly') over deterministic per-doc cls/reg Fourier maps
    (first 120 docs — the ifft reconstruction is per-pixel heavy);
    committed-fixture oracle (hole fill, CC, and the three-level poly
    NMS are iterative)."""
    from .operators.spatial import fce_detect
    docs = sf_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 120)
    return fce_detect(docs)


def q_sast_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 third family: SASTPostProcess (sast_postprocess.py:207-320)
    over deterministic per-doc TCL/TVO/TBO/TCO maps (first 200 docs);
    committed-fixture oracle (quad NMS + TCO clustering are
    iterative)."""
    from .operators.spatial import sast_detect
    docs = sf_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200)
    return sast_detect(docs)


def q_ct_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 second family: CTPostProcess (Centripetal Text,
    ct_postprocess.py:60-152, box_type='rect') over deterministic
    per-doc kernel/offset/score maps (first 200 docs); committed-fixture
    oracle (4-CC + centripetal propagation are iterative)."""
    from .operators.spatial import ct_detect
    docs = sf_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200)
    return ct_detect(docs)


def q_db_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 DBPostProcess box pipeline (binarize → CC → box_score_fast →
    unclip → rescale, db_postprocess.py:104-263) over deterministic
    per-doc probability maps (first 200 docs); committed-fixture oracle
    (connected-component labeling is iterative)."""
    from .operators.spatial import db_detect
    docs = sf_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200)
    return db_detect(docs)


def q_east_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 full EAST path: score/geo quad restore (axis-aligned) +
    locality-aware NMS + cover-score re-read over deterministic per-doc
    maps (first 200 docs); committed-fixture oracle (sequential merge
    scan is iterative)."""
    from .operators.spatial import east_detect
    docs = sf_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200)
    return east_detect(docs)


def q_east_nms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 EAST locality-aware NMS (sequential weighted-merge scan +
    standard NMS) per doc; committed-fixture oracle (iterative kernel)."""
    from .operators.spatial import east_nms_locality
    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 3)
    boxes = li.select(
        F.format_string("doc_%03d", F.col("l_orderkey") % 25).alias("doc_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("box_id"),
        ((F.col("l_partkey") % 15) * 20).cast("double").alias("x1"),
        ((F.col("l_suppkey") % 12) * 25).cast("double").alias("y1"),
    ).select("doc_id", "box_id", "x1", "y1",
             (F.col("x1") + 50).alias("x2"), (F.col("y1") + 35).alias("y2"),
             (0.3 + (F.col("box_id") % 70) / 100.0).alias("score"))
    return east_nms_locality(boxes)


def q_preprocess_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 preprocess_image: alpha_to_color uint8 truncation, invert, and a
    real Otsu threshold (relational cumulative-window argmax) on
    deterministic fake pixels (multimodal.preprocess_image_stats)."""
    from .multimodal import preprocess_image_stats
    refs = (synth_spans(sf_table(spark, sf_dir, "documents"))
            .select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select(F.col("s.media_ref").alias("media_ref")).distinct())
    out = preprocess_image_stats(refs)
    return out.select(
        "media_ref",
        *[F.col(c).cast("long").alias(c)
          for c in ("r_flat", "g_flat", "b_flat", "r_inv", "otsu_bin")])


def q_cls_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 ClsMetric (ppocr/metrics/cls_metric.py:20-42): orientation-
    classification accuracy = correct / (n + eps). Ground truth is the
    orient4 angle; the noisy classifier stand-in mispredicts when the
    SECOND md5 hex digit is '0' (~1/16 of docs), rotating the label one
    class forward — so acc lands near 15/16, not a degenerate 1.0."""
    angle_true = F.expr(
        "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)),"
        " 1, 1)) - 1) % 4")
    noisy = F.expr(
        "substring(md5(CAST(doc_id AS STRING)), 2, 1) = '0'")
    angle_pred = F.when(noisy, (angle_true + 1) % 4).otherwise(angle_true)
    d = sf_table(spark, sf_dir, "documents").select(
        angle_true.alias("t"), angle_pred.alias("p"))
    return d.agg(
        F.round(F.sum(F.when(F.col("p") == F.col("t"), 1).otherwise(0))
                / (F.count("*") + F.lit(1e-5)), 4).alias("acc"),
        F.sum(F.when(F.col("p") == F.col("t"), 1).otherwise(0))
        .cast("long").alias("n_correct"),
        F.count("*").cast("long").alias("n"))


def q_cnt_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 CNTMetric (ppocr/metrics/rec_metric.py:603-634): counting-task
    exact-match accuracy with the same 1e-5-regularized denominator as
    ClsMetric. Target = n_chars % 50 (the count label); the noisy
    counter stand-in over-counts by one when the THIRD md5 hex digit is
    '0' (~1/16 of docs)."""
    d = sf_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") % 50).alias("t"),
        ((F.col("n_chars") % 50) + F.when(F.expr(
            "substring(md5(CAST(doc_id AS STRING)), 3, 1) = '0'"),
            1).otherwise(0)).alias("p"))
    return d.agg(
        F.round(F.sum(F.when(F.col("p") == F.col("t"), 1).otherwise(0))
                / (F.count("*") + F.lit(1e-5)), 4).alias("acc"),
        F.sum(F.when(F.col("p") == F.col("t"), 1).otherwise(0))
        .cast("long").alias("n_correct"),
        F.count("*").cast("long").alias("n"))


#: KIEMetric ignore list (ppocr/metrics/kie_metric.py:44) — the even
#: class ids plus 25; scored classes are the 12 odd ids 1..23.
KIE_F1_C = 26
KIE_F1_CLASSES = [c for c in range(KIE_F1_C)
                  if c not in {0, 2, 4, 6, 8, 10, 12, 14, 16, 18, 20, 22,
                               24, 25}]


def q_kie_f1_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 KIEMetric.compute_f1_score (ppocr/metrics/kie_metric.py:43-66):
    per-class F1 from the node-classification confusion matrix — recalls
    = diag / rowsum.clip(min=1), precisions = diag / colsum.clip(min=1),
    f1 = 2pr / (p + r).clip(min=1e-8) — averaged over the non-ignored
    classes (combine_results, :55-60). One doc = one node. The gt class
    is the first two md5 hex digits mod 26; the node-score matrix is the
    deterministic stand-in score(node, c) = uint32(md5(doc_id ':' c))
    and the prediction is its argmax (first index on ties), so the
    argmax-over-C path of the metric is exercised, not bypassed. The gt
    class's score gets a +2^33 logit boost unless the THIRD md5 hex
    digit is '0' (~1/16 of nodes), so the classifier stand-in is right
    ~15/16 of the time and the confusion matrix is non-degenerate.
    Emits one row per scored class (cls, f1, hmean) with hmean repeated
    — the hash pins every per-class F1 AND the mean."""
    d = sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "((instr('0123456789abcdef', substring(md5(CAST(doc_id AS "
            "STRING)), 1, 1)) - 1) * 16 + instr('0123456789abcdef', "
            "substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1) % 26"
        ).alias("gt"),
        F.expr(
            "substring(md5(CAST(doc_id AS STRING)), 3, 1) = '0'"
        ).alias("noisy"))
    d = d.select(
        "gt", "noisy",
        F.expr(
            "transform(sequence(0, 25), c -> CAST(conv(substring(md5("
            "concat(CAST(doc_id AS STRING), ':', CAST(c AS STRING))), "
            "1, 8), 16, 10) AS BIGINT) "
            "+ IF(c = gt AND NOT noisy, 8589934592L, 0L))")
        .alias("scores"))
    d = d.select(
        "gt", (F.expr("array_position(scores, array_max(scores))") - 1)
        .cast("int").alias("pred"))
    conf = d.groupBy("gt", "pred").count()
    cls = spark.range(KIE_F1_C).select(F.col("id").cast("int").alias("c"))
    rows_ = conf.groupBy("gt").agg(F.sum("count").alias("rs"))
    cols_ = conf.groupBy("pred").agg(F.sum("count").alias("cs"))
    diag_ = (conf.filter(F.col("gt") == F.col("pred"))
             .select(F.col("gt").alias("c"), F.col("count").alias("dg")))
    full = (cls.join(rows_, cls.c == rows_.gt, "left")
            .join(cols_, cls.c == cols_.pred, "left")
            .join(diag_, "c", "left")
            .select("c",
                    F.coalesce("dg", F.lit(0)).cast("double").alias("dg"),
                    F.coalesce("rs", F.lit(0)).cast("double").alias("rs"),
                    F.coalesce("cs", F.lit(0)).cast("double").alias("cs")))
    rec = F.col("dg") / F.greatest(F.col("rs"), F.lit(1.0))
    prec = F.col("dg") / F.greatest(F.col("cs"), F.lit(1.0))
    f1 = 2 * rec * prec / F.greatest(rec + prec, F.lit(1e-8))
    scored = (full.withColumn("f1", f1)
              .filter(F.col("c").isin(KIE_F1_CLASSES)))
    hm = scored.agg(F.avg("f1").alias("hmean"))
    return (scored.crossJoin(F.broadcast(hm))
            .select(F.col("c").cast("long").alias("cls"),
                    F.round("f1", 4).alias("f1"),
                    F.round("hmean", 4).alias("hmean")))


#: SER tag synthesis constants, shared by the Spark query and the DuckDB
#: twin builder: positions per doc capped at SER_MAX_POS; an ANCHOR
#: (B- tag) where hex1 >= 12 (p = 1/4), an extension flag where
#: hex2 >= 8 (p = 1/2); entity length <= 3.
SER_MAX_POS = 40


def q_ser_token_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 VQASerTokenMetric (ppocr/metrics/vqa_token_ser_metric.py:25-47):
    entity-level precision / recall / F1 of BIO tag sequences, the
    seqeval semantics the reference calls into. The synthesized tag
    sequences are VALID IOB2 (every I- continues the type of the B-
    opening it), where seqeval's default conlleval chunking and its
    strict IOB2 scheme provably agree — an entity is exactly a maximal
    B,I...I run — so the metric reduces to exact (doc, type, start, end)
    set intersection, which is what this computes distributed.

    Tag synthesis is a closed form per (doc, position) — anchor where
    hex1(md5(doc '#g' pos)) >= 12, type = hex1 % 3, extended while the
    next positions' hex2 >= 8, capped at length 3 — so entity spans are
    derived WITHOUT sequential scans or windows: each anchor recomputes
    its two successors' flags inline. The prediction flips anchors where
    hex1(md5(doc '#n' pos)) = 0 (~1/16 of positions)."""
    def hx(salt: str, pos, idx: int) -> str:
        return (f"instr('0123456789abcdef', substring(md5(concat(CAST("
                f"doc_id AS STRING), '{salt}', CAST({pos} AS STRING))), "
                f"{idx}, 1)) - 1")

    def anchor(which: str, pos) -> str:
        a = f"({hx('#g', pos, 1)}) >= 12"
        if which == "g":
            return a
        return f"(({a}) != (({hx('#n', pos, 1)}) = 0))"

    def ext(pos) -> str:
        return f"({hx('#g', pos, 2)}) >= 8"

    def entities(which: str):
        base = sf_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.least(F.greatest((F.col("n_chars") % SER_MAX_POS) + 2,
                               F.lit(3)),
                    F.lit(SER_MAX_POS)).alias("n_pos"))
        pos = base.select(
            "doc_id", "n_pos", F.explode(
                F.sequence(F.lit(1), F.col("n_pos"))).alias("p"))
        a0 = anchor(which, "p")
        i1 = (f"p + 1 <= n_pos AND NOT ({anchor(which, '(p + 1)')}) "
              f"AND ({ext('(p + 1)')})")
        i2 = (f"p + 2 <= n_pos AND NOT ({anchor(which, '(p + 2)')}) "
              f"AND ({ext('(p + 2)')})")
        return (pos.filter(F.expr(a0))
                .select("doc_id",
                        F.expr(f"({hx('#g', 'p', 1)}) % 3").alias("typ"),
                        F.col("p").alias("start"),
                        (F.col("p")
                         + F.expr(f"IF({i1}, 1, 0)")
                         + F.expr(f"IF(({i1}) AND ({i2}), 1, 0)"))
                        .alias("end")))

    gt = entities("g")
    pred = entities("p")
    tp = gt.join(pred, ["doc_id", "typ", "start", "end"], "inner")
    agg = (gt.agg(F.count("*").alias("n_true"))
           .crossJoin(pred.agg(F.count("*").alias("n_pred")))
           .crossJoin(tp.agg(F.count("*").alias("n_match"))))
    p = F.col("n_match") / F.col("n_pred")
    r = F.col("n_match") / F.col("n_true")
    return agg.select(
        F.round(p, 4).alias("precision"), F.round(r, 4).alias("recall"),
        F.round(2 * p * r / (p + r), 4).alias("hmean"),
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_pred").cast("long").alias("n_pred"),
        F.col("n_match").cast("long").alias("n_match"))


def q_re_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 VQAReTokenMetric.re_score, mode='boundaries'
    (ppocr/metrics/vqa_token_re_metric.py:79-181): relation-extraction
    precision / recall / F1 where a relation is identified by its head
    and tail entity SPANS (boundaries mode ignores entity types,
    :121-129). Ground-truth relations link each doc's consecutive SER
    gt entities (1st→2nd, 3rd→4th, ... — the question→answer pairing of
    predict_kie_token_ser_re); the predicted set drops a pair when
    hex1(md5(doc '#r' k)) = 0 (a miss) and retargets the tail to the
    head's own span when it is 1 (a spurious relation), so tp, fp and
    fn are all exercised."""
    def hx(salt: str, pos, idx: int) -> str:
        return (f"instr('0123456789abcdef', substring(md5(concat(CAST("
                f"doc_id AS STRING), '{salt}', CAST({pos} AS STRING))), "
                f"{idx}, 1)) - 1")

    base = sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.least(F.greatest((F.col("n_chars") % SER_MAX_POS) + 2, F.lit(3)),
                F.lit(SER_MAX_POS)).alias("n_pos"))
    pos = base.select("doc_id", "n_pos", F.explode(
        F.sequence(F.lit(1), F.col("n_pos"))).alias("p"))
    a0 = f"({hx('#g', 'p', 1)}) >= 12"
    i1 = (f"p + 1 <= n_pos AND NOT (({hx('#g', '(p + 1)', 1)}) >= 12) "
          f"AND (({hx('#g', '(p + 1)', 2)}) >= 8)")
    i2 = (f"p + 2 <= n_pos AND NOT (({hx('#g', '(p + 2)', 1)}) >= 12) "
          f"AND (({hx('#g', '(p + 2)', 2)}) >= 8)")
    ents = (pos.filter(F.expr(a0))
            .select("doc_id", F.col("p").alias("start"),
                    (F.col("p") + F.expr(f"IF({i1}, 1, 0)")
                     + F.expr(f"IF(({i1}) AND ({i2}), 1, 0)"))
                    .alias("end")))
    w = Window.partitionBy("doc_id").orderBy("start")
    idx = ents.withColumn("k", F.row_number().over(w))
    heads = idx.filter(F.col("k") % 2 == 1).select(
        "doc_id", ((F.col("k") + 1) / 2).cast("long").alias("j"),
        F.col("start").alias("hs"), F.col("end").alias("he"))
    tails = idx.filter(F.col("k") % 2 == 0).select(
        "doc_id", (F.col("k") / 2).cast("long").alias("j"),
        F.col("start").alias("ts"), F.col("end").alias("te"))
    gt = heads.join(tails, ["doc_id", "j"], "inner")
    noise = F.expr(f"{hx('#r', 'j', 1)}")
    pred = (gt.withColumn("nz", noise)
            .filter(F.col("nz") != 0)
            .select("doc_id", "hs", "he",
                    F.when(F.col("nz") == 1, F.col("hs"))
                    .otherwise(F.col("ts")).alias("ts"),
                    F.when(F.col("nz") == 1, F.col("he"))
                    .otherwise(F.col("te")).alias("te")))
    gtk = gt.select("doc_id", "hs", "he", "ts", "te")
    tp = gtk.join(pred, ["doc_id", "hs", "he", "ts", "te"], "inner")
    agg = (gtk.agg(F.count("*").alias("n_rels"))
           .crossJoin(pred.agg(F.count("*").alias("n_found")))
           .crossJoin(tp.agg(F.count("*").alias("n_match"))))
    p = F.col("n_match") / F.col("n_found")
    r = F.col("n_match") / F.col("n_rels")
    return agg.select(
        F.round(p, 4).alias("precision"), F.round(r, 4).alias("recall"),
        F.round(2 * p * r / (p + r), 4).alias("hmean"),
        F.col("n_rels").cast("long").alias("n_rels"),
        F.col("n_found").cast("long").alias("n_found"),
        F.col("n_match").cast("long").alias("n_match"))


#: CANMetric batching rule shared with the fixture replay: docs are
#: grouped into batches of 64 consecutive doc_ids; labels capped at
#: CAN_MAX_WORDS tokens (the padded-sequence stand-in).
CAN_BATCH = 64
CAN_MAX_WORDS = 24


def q_can_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 CANMetric (ppocr/metrics/rec_metric.py:637-702): handwritten-
    expression word_rate / exp_rate. Per batch (doc_id DIV 64), each
    line's score is the Ratcliff/Obershelp SequenceMatcher ratio
    rescaled to matched/len(label) (:660-668, the reference's literal
    float chain — functions/metrics.can_word_score); the batch
    accumulates word_rate·word_length and line_right exactly as
    __call__ does (:672-679), and get_metric's ratios (:681-692) become
    the final agg: word_rate = Σ(rate_b·padlen_b)/Σ padlen_b, exp_rate
    = Σ line_right / Σ batch_size. Labels are the docs' first 24 words;
    the noisy decoder stand-in appends '~' to token i where
    hex1(md5(doc '@' i)) = 0 (~1/16 of tokens). Oracle: committed
    fixture (tools/make_fixtures.fx_can_metric imports the same scorer
    — the kernels-imported-twice rule)."""
    from .functions.metrics import can_batch_stats

    d = (sf_table(spark, sf_dir, "documents")
         .select("doc_id", F.expr(
             f"slice(filter(split(lower(coalesce(text, '')), ' '), "
             f"w -> w != ''), 1, {CAN_MAX_WORDS})").alias("label"))
         .filter(F.size("label") >= 1)
         .withColumn("pred", F.expr(
             "transform(label, (w, i) -> IF(substring(md5(concat("
             "CAST(doc_id AS STRING), '@', CAST(i + 1 AS STRING))), "
             "1, 1) = '0', concat(w, '~'), w))"))
         .withColumn("batch_id", F.expr(f"doc_id DIV {CAN_BATCH}")))

    def per_batch(g):  # rows in doc_id order: a deterministic np.mean
        return [(g["batch_id"][0], *can_batch_stats(
            [list(x) for x in g["label"]], [list(x) for x in g["pred"]]))]

    per = grouped_map_rows(d, ["batch_id"], ["doc_id"], per_batch,
                           "batch_id long, word_rate double, "
                           "line_right long, word_length long, "
                           "batch_size long")
    return per.agg(
        F.round(F.sum(F.col("word_rate") * F.col("word_length"))
                / F.sum("word_length"), 4).alias("word_rate"),
        F.round(F.sum("line_right") / F.sum("batch_size"), 4)
        .alias("exp_rate"),
        F.count("*").cast("long").alias("n_batches"),
        F.sum("batch_size").cast("long").alias("n_lines"))


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media spans → distinct refs → Arrow-batched
    (stubbed) decode → exploded per-dim features. The decode itself is a
    deterministic md5-derived fake (container lacks cv2), but the schema,
    dedup-by-ref, Arrow batch shape, and feature explode are the real
    production plumbing (paddleocr_spark/multimodal.py)."""
    from .multimodal import media_features
    feats = media_features(synth_spans(sf_table(spark, sf_dir, "documents")))
    return feats.select(
        "media_ref", F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.posexplode("feature").alias("dim", "v"),
    ).select("media_ref", "width", "height", "n_frames",
             F.col("dim").cast("long").alias("dim"),
             F.round(F.col("v").cast("double"), 4).alias("value"))


def _media_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct media refs of the synthetic corpus (content-addressed
    dedup — each blob decodes once; multimodal.media_features shape).

    The trailing hash repartition keeps the downstream CPU-bound
    decode/tensor Python stages WIDE: AQE coalesces the distinct's tiny
    exchange by bytes to ONE task (the measured byte-based-coalesce trap
    — layout_preprocess ran 33 s single-threaded, ~5 s wide). Two
    subtleties, both measured here: a ``repartition(n, media_ref)`` is
    COLLAPSED into the distinct's own ENSURE_REQUIREMENTS exchange (same
    partitioning expression) and loses its AQE exemption with it, so the
    partitioning key must be a DIFFERENT expression (xxhash64 of the
    ref); and plain round-robin gets coalesced right back (the cell_match
    lesson).

    Session-cached (round 5): EIGHT decode-family gate queries
    (media_decode_real, gif_frames, pdf_pages, tensor_ops, rotate_crop,
    layout_preprocess, rec_resize, sr_metric) each start from this same
    distinct-ref table; persisting it per (session, sf_dir) computes the
    span-explode + distinct exchange once per gate run (~2 s each at
    sf0.1) instead of once per query. The production analog is the
    content-addressed media table materialized once per corpus snapshot.
    The persisted table keeps its hash partitioning into one partition
    per core, so downstream per-row Python stages run as one wide wave
    (each Python task pays a fixed set-up toll; see grouped.cluster)."""
    from .functions.dedup import _cached

    def build() -> DataFrame:
        return (synth_spans(sf_table(spark, sf_dir, "documents"))
                .select(F.explode("spans").alias("s"))
                .filter(F.col("s.kind") == "media")
                .select(F.col("s.media_ref").alias("media_ref"))
                .distinct()
                .repartition(spark.sparkContext.defaultParallelism,
                             F.xxhash64("media_ref")))

    return _cached(spark, sf_dir, "media_refs", build)


def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 made real (round 4): media refs → deterministically RENDERED
    image bytes (PPM / BMP / PNG / gray-PNG rotation, PNG cycling all five
    scanline filters) → pure-numpy container decode
    (paddleocr_spark/imagecodecs.py, the cv2.imdecode seam of
    paddleocr.py:529-547) → integer-exact pixel statistics.

    The DuckDB twin predicts every statistic from the closed-form pixel
    formula ((md5_byte[c] + 7x + 13y) % 256) WITHOUT decoding images, so a
    single wrong byte anywhere in the encode→decode path hash-fails the
    gate. All sums are exact in float64 (uint8 pixels, ≤289 per image) —
    no float tolerance anywhere."""
    from .imagecodecs import RENDER_FORMATS, decode_image, render_ref_image
    from .multimodal import pixel_stats

    schema = ("media_ref string, width long, height long, channels long, "
              "mean_r double, mean_g double, mean_b double, "
              "mean_gray double, min_gray long, max_gray long, "
              "frac_bright double")

    def render_decode(ref):
        arr = decode_image(render_ref_image(ref)[1])
        s = pixel_stats(arr)
        return [(ref, s["width"], s["height"], arr.shape[2], s["mean_r"],
                 s["mean_g"], s["mean_b"], s["mean_gray"], s["min_gray"],
                 s["max_gray"], s["frac_bright"])]

    fmts = ", ".join(f"'{f}'" for f in RENDER_FORMATS)
    fmt = F.expr(
        "element_at(array({}), CAST(((instr('0123456789abcdef', "
        "substring(md5(media_ref), 13, 1)) - 1) * 16 + "
        "instr('0123456789abcdef', substring(md5(media_ref), 14, 1)) - 1) "
        "% 4 + 1 AS INT))".format(fmts))
    return (map_rows(_media_refs(spark, sf_dir), render_decode, schema)
            .select("media_ref", fmt.alias("fmt"), "width", "height",
                    "channels",
                    F.round("mean_r", 4).alias("mean_r"),
                    F.round("mean_g", 4).alias("mean_g"),
                    F.round("mean_b", 4).alias("mean_b"),
                    F.round("mean_gray", 4).alias("mean_gray"),
                    "min_gray", "max_gray",
                    F.round("frac_bright", 4).alias("frac_bright")))


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 made real (round 4 tail): media refs → deterministically
    rendered MULTI-FRAME GIF bytes → pure-python LZW decode of every
    frame (imagecodecs.decode_gif — the check_and_read GIF/PDF
    container→frames seam, ppocr/utils/utility.py:97-126) →
    frame_sample's stride-2 sampling shape over the REAL frame count →
    integer-exact per-frame statistics.

    The DuckDB twin predicts every statistic from the closed-form frame
    formula ((md5_byte[0] + 7x + 13y + 17k) % 256) WITHOUT touching GIF
    bytes, so one wrong bit anywhere in the LZW encode→decode path
    hash-fails the gate."""
    from .imagecodecs import decode_frames, render_ref_gif
    from .multimodal import pixel_stats

    def render_decode(ref):
        frames = decode_frames(render_ref_gif(ref))
        for k, arr in enumerate(frames):
            s = pixel_stats(arr)
            yield (ref, len(frames), k, s["width"], s["height"],
                   s["mean_gray"], s["min_gray"], s["max_gray"])

    return (map_rows(_media_refs(spark, sf_dir), render_decode,
                     "media_ref string, n_frames long, frame_idx long, "
                     "width long, height long, mean_gray double, "
                     "min_gray long, max_gray long")
            .filter(F.col("frame_idx") % 2 == 0)  # frame_sample stride 2
            .select("media_ref", "n_frames", "frame_idx", "width",
                    "height",
                    F.round("mean_gray", 4).alias("mean_gray"),
                    "min_gray", "max_gray"))


def q_tensor_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1→P6→P2→P5→P3 tensor preprocessing over real decoded pixels
    (round 4; previously enumerate-only "no pixel buffers"): DecodeImage
    RGB → fixed Resize 16×24 (cv2 center-aligned bilinear semantics) →
    NormalizeImage float32 ImageNet chain → Pad /32 → ToCHW; per-channel
    plane stats. Fixture oracle (float32 chain is not SQL-restatable;
    tools/make_fixtures.py re-assembles it single-node, sf0.01 only)."""
    from .pixelops import tensor_ops_for_ref

    return map_rows(_media_refs(spark, sf_dir), tensor_ops_for_ref,
                    "media_ref string, channel long, res_h long, "
                    "res_w long, pad_h long, pad_w long, mean double, "
                    "vmin double, vmax double, ratio_h double, "
                    "ratio_w double")


def q_table_xlsx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 xlsx sink (round 4; previously scoped out): recognized table
    HTML → grid placement honoring colspan/rowspan (tablepyxl's merged-
    cell semantics) → DETERMINISTIC minimal .xlsx bytes (stdlib zip,
    fixed timestamps) — byte-determinism is what lets the gate hash the
    sink (size + md5 of every blob). Source rows are the J2 table_html
    output; fixture oracle rebuilds the html via table_html's own DuckDB
    SQL restatement and applies the shared xlsx kernel
    (tools/make_fixtures.fx_table_xlsx)."""
    from .operators.table import table_html
    from .xlsx import xlsx_tables

    # The gate corpus has ~50 tables; feeding the sink kernel 64 walk
    # partitions costs ~30 ms of Python-batch roundtrip EACH for rows it
    # mostly doesn't have (measured: 2.3 s -> 0.5 s warm). coalesce, do
    # not repartition: no shuffle, and the sizing is per-call (a real
    # corpus with millions of tables would keep the walk's width).
    n = max(2, min(8, spark.sparkContext.defaultParallelism // 4))
    return xlsx_tables(table_html(spark, sf_dir).coalesce(n)).select(
        "t_id", "n_rows", "n_cols", "n_merges", "xlsx_size", "xlsx_md5")


def q_layout_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 LayoutPredictor preprocess (round 4; previously
    enumerate-only): the exact Resize[800,608] → NormalizeImage(hwc
    ImageNet) → ToCHW op list the reference wires for PicoDet layout
    inference (ppstructure/layout/predict_layout.py:38-57), over real
    decoded pixels. Fixture oracle (float32 chain), sf0.01 only."""
    from .pixelops import layout_preprocess_for_ref

    return map_rows(_media_refs(spark, sf_dir), layout_preprocess_for_ref,
                    "media_ref string, channel long, out_h long, "
                    "out_w long, mean double, vmin double, vmax double")


def q_sr_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/SR SRMetric PSNR + SSIM (ppocr/metrics/sr_metric.py:26-155;
    round 5, previously scoped out with the SR model plumbing): the full
    gaussian-window SSIM (11-tap sigma-1.5 separable conv, C1/C2
    stabilizers, map mean) and 255-domain PSNR over a deterministic
    super-resolution pair per rendered blob — hr = gray 32x64 resize,
    sr = the same target re-upscaled from a 16x32 downscale (the model
    forward is the only nondeterministic reference piece). Per-ref rows
    pin every pair; SRMetric.get_metric's 6dp rounding is applied
    per-pair. Fixture oracle, sf0.01 only."""
    from .pixelops import sr_pair_for_ref

    return map_rows(_media_refs(spark, sf_dir),
                    lambda ref: [sr_pair_for_ref(ref)],
                    "media_ref string, psnr double, ssim double")


#: The det eval transform list of a REAL reference config
#: (test_tipc/configs/det_r50_vd_pse_v2_0/det_r50_vd_pse.yml Eval
#: section, DetLabelEncode removed — it is column-level here; see
#: config.UNSUPPORTED_REASONS). Inlined so the gate does not depend on
#: the reference checkout at run time; test_config.py verifies the
#: same list loads from the actual YAML.
CONFIG_GATE_TRANSFORMS: list[dict] = [
    {"DecodeImage": {"img_mode": "BGR", "channel_first": False}},
    {"DetResizeForTest": {"limit_side_len": 736, "limit_type": "min"}},
    {"NormalizeImage": {"scale": "1./255.",
                        "mean": [0.485, 0.456, 0.406],
                        "std": [0.229, 0.224, 0.225], "order": "hwc"}},
    {"ToCHWImage": None},
    {"KeepKeys": {"keep_keys": ["image", "shape"]}},
]


def q_config_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-config bridge end-to-end (round 5): a REAL det
    config's Eval transform list (det_r50_vd_pse.yml) compiled by
    config.build_transforms onto this repo's kernels and run
    distributed (config.spark_transform, one per-row Arrow stage
    over the shared media-refs table) — pinning that a user's YAML
    wires to the same pixels the direct kernels produce. Fixture
    oracle: tools/make_fixtures.fx_config_transforms replays the same
    compiled chain single-node."""
    from .config import build_transforms, spark_transform

    ops, report = build_transforms(CONFIG_GATE_TRANSFORMS)
    assert all(s == "ok" for _, s in report)
    return spark_transform(_media_refs(spark, sf_dir), ops)


def q_rec_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 deterministic rec-resize subset (round 5; previously enum):
    the 12 deterministic ``*ResizeImg`` operator variants of
    ppocr/data/imaug/rec_img_aug.py:255-721 — CTC pad/nopad, chinese
    grow-width, SAR divisor-snap (Python banker's round pinned), SRN
    width ladder + post-resize BGR2GRAY, ABINet float64 ImageNet norm,
    gray /128−1 arms, PREN/VL hard resizes, SPIN bicubic, RFL gray —
    over real decoded pixels (paddleocr_spark/recresize.py). Fixture
    oracle (float32 chains are not SQL-restatable; tools/
    make_fixtures.py re-assembles them single-node, sf0.01 only)."""
    from .recresize import rec_resize_for_ref

    return map_rows(_media_refs(spark, sf_dir), rec_resize_for_ref,
                    "media_ref string, variant string, out_c long, "
                    "out_h long, out_w long, valid_ratio double, "
                    "resize_w long, mean double, vmin double, vmax double")


#: One row per (blob, augment variant): rec_aug and cvaug.
_AUG_SCHEMA = ("media_ref string, variant string, seed long, out_h long, "
               "out_w long, mean double, vmin long, vmax long, crc long")


def q_rec_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 seeded train-time augment chain (round 5; previously enum with
    a half-wrong reason — the tia warp family is PURE NUMPY in the
    reference): RecAug = tia_distort/stretch/perspective moving-least-
    squares warps + the six-gate BaseDataAugmentation jitter chain
    (crop/blur/hsv/jitter/noise/reverse), ppocr/data/imaug/
    rec_img_aug.py:26-121 + text_image_aug/*, as a pure (image, seed)
    kernel (paddleocr_spark/recaug.py) — replayable and shardable, which
    is what augmentation must be at 10^12 documents. Three variants per
    blob (tia-only, bda-only, full chain), seeds crc32(ref:variant).
    Fixture oracle (float32 MLS warps are not SQL-restatable;
    tools/make_fixtures.py re-assembles single-node, sf0.01 only)."""
    from .recaug import rec_aug_for_ref

    return map_rows(_media_refs(spark, sf_dir), rec_aug_for_ref,
                    _AUG_SCHEMA)


def q_ct_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 CentripetalText train chain (round 5 — closes the ct_process
    enum row): CTLabelEncode → RandomScale → MakeShrink (7-image stack,
    Clipper-inset kernels, double-erosion inner ring) → group flip /
    rotate / crop-pad → MakeCentripetalShift (jaccard-argmin offset
    field), ppocr/data/imaug/ct_process.py:30-330 +
    label_ops.py:1787-1810, as a pure (image, polys, words, seed)
    kernel (paddleocr_spark/ctgt.py) seeded crc32(doc_id) — the
    exec-ref differential runs the reference chain verbatim
    (tests/test_ctgt.py). Ignored spans carry the '###' transcription
    MakeShrink keys on. Committed-fixture oracle (the seeded raster
    walk is iterative)."""
    from .ctgt import ct_gt_rows_for_doc

    def per_doc(g):
        b, h = _doc_canvas(g, y_scale=2)
        yield ct_gt_rows_for_doc(g["doc_id"][0], b,
                                 g["ignored"].astype(bool), h,
                                 G.PAGE_WIDTH)

    return _gt_rows(spark, sf_dir, per_doc,
                    "doc_id string, gi_sum long, tm_sum long, "
                    "gki_sum long, gk_sum long, tmd_sum long, "
                    "dist_px long, dist_x double, dist_y double, "
                    "img_crc long")


def q_pg_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 PGNet target generator (round 5 — the LAST target-generation
    enum row): 16-point poly validation with the direction-reversal
    quirk, aspect/scale jitters, blur/brightness gates, random 512-pad
    placement, TCL shrink-along-width geometry, per-quad TBO offset
    fields, direction maps, CTC labels over the 36-char lexicon, and
    the v2 projection point-gather, ppocr/data/imaug/
    pg_process.py:24-1034 + ppocr/utils/e2e_utils/
    extract_textpoint_fast.py:157-296, as a pure (image, polys, tags,
    texts, seed) kernel (paddleocr_spark/pg_gt.py) seeded
    crc32(doc_id); the exec-ref differential runs both reference files
    verbatim, both gather modes (tests/test_pg_gt.py). Span y-coords
    are spread x6 (capped 940) so the near-square 512-pad gate keeps a
    healthy live fraction while the drop arms stay exercised; per-span
    texts are derived deterministically from (kind, span_idx).
    Committed-fixture oracle (the seeded raster walk is iterative)."""
    from .pg_gt import pg_gt_rows_for_doc

    def per_doc(g):
        b, h = _doc_canvas(g, y_scale=6, y_cap=940)
        texts = [f"{k.upper()}#{int(i)}"
                 for k, i in zip(g["kind"], g["span_idx"])]
        yield pg_gt_rows_for_doc(g["doc_id"][0], b,
                                 g["ignored"].astype(bool), texts, h,
                                 G.PAGE_WIDTH)

    return _gt_rows(spark, sf_dir, per_doc,
                    "doc_id string, live long, img_sum double, "
                    "tcl_sum double, tcl_label_sum double, "
                    "border_sum double, direction_sum double, "
                    "mask_sum double, pos_px long, pos_sum double, "
                    "label_sum double", "kind")


def q_randaug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 RandAugment (round 5 — the last in-repo augment enum row):
    the 14-op ImageNet policy over PIL ops (shear/translate/rotate +
    the ImageEnhance/ImageOps families),
    ppocr/data/imaug/randaugment.py:26-143, as a pure (image, seed)
    kernel (paddleocr_spark/randaug.py) with the PIL rasters re-derived
    from public semantics; the exec-ref differential executes the
    reference module verbatim (tests/test_randaug.py). Four seeds per
    blob so the prob gate and an op spread are live. Fixture oracle
    (the raster chains are not SQL-restatable)."""
    from .randaug import randaug_for_ref

    return map_rows(_media_refs(spark, sf_dir), randaug_for_ref,
                    "media_ref string, seed long, out_h long, out_w long, "
                    "mean double, vmin long, vmax long, crc long")


def q_drrg_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 DRRG target generator (round 5 — closes the drrg_targets enum
    row): head/tail edge scoring, sideline resampling, shrunk center-
    region raster maps + top/bot height + sin/cos fields, center-line
    text components, locality-aware NMS, attribute jitter and the
    random-component fallback, ppocr/data/imaug/drrg_targets.py:25-699,
    as a pure (polys, tags, size, seed) kernel
    (paddleocr_spark/drrg_gt.py) seeded crc32(doc_id) — the exec-ref
    differential runs the reference source verbatim
    (tests/test_drrg_gt.py). Committed-fixture oracle (seeded raster +
    NMS walk is iterative)."""
    from .drrg_gt import drrg_gt_rows_for_doc

    def per_doc(g):
        # cap the canvas: long docs would blow up the 7 maps
        b, h = _doc_canvas(g, y_scale=2, y_cap=940)
        yield drrg_gt_rows_for_doc(g["doc_id"][0], b,
                                   g["ignored"].astype(bool), h,
                                   G.PAGE_WIDTH)

    return _gt_rows(spark, sf_dir, per_doc,
                    "doc_id string, text_px long, eff_px long, "
                    "center_px long, top_sum double, bot_sum double, "
                    "sin_sum double, cos_sum double, n_comps long, "
                    "ax_sum double, ay_sum double, ah_sum double, "
                    "aw_sum double, acos_sum double, asin_sum double, "
                    "albl_sum double")


def q_cvaug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 ABINet/SVTR augment chain (round 5 — closes the abinet_aug
    enum row): CVGeometry/SVTRGeometry random rotation-affine-
    perspective warps + CVDeterioration/SVTRDeterioration noise/motion-
    blur/gaussian-pyramid-rescale pipelines, ppocr/data/imaug/
    abinet_aug.py:60-459 + rec_img_aug.py:102-130,223-253, as a pure
    (image, seed) kernel (paddleocr_spark/cvaug.py) — replayable and
    shardable. Three variants per blob (abinet, svtr aug_type 0/1),
    seeds crc32(ref:variant); the wrapper differential executes the
    reference's own ABINetRecAug/SVTRRecAug (tests/test_cvaug.py).
    Fixture oracle (random-warp raster chains are not SQL-restatable;
    tools/make_fixtures.py re-assembles single-node, sf0.01 only)."""
    from .cvaug import cvaug_for_ref

    return map_rows(_media_refs(spark, sf_dir), cvaug_for_ref, _AUG_SCHEMA)


def q_pdf_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2's PDF branch, text-side (round 4): media refs → deterministic
    REAL PDF bytes (xref table, pages tree, FlateDecode content streams
    of scrambled BT/Td/Tj|TJ text objects) → pure-Python container parse
    (paddleocr_spark/pdfcodec.py) → per-page positioned spans in reading
    order. The reference rasterizes PDF pages via fitz
    (ppocr/utils/utility.py:108-127 check_and_read) and detects on
    pixels; the north star maps PDFs to TEXT spans, so the container
    work here is the text-extraction path — and, like the PNG/GIF/LMDB
    codecs, the DuckDB twin predicts every span from the closed-form
    plan WITHOUT touching PDF bytes, so the encode→inflate→parse
    roundtrip is what the gate hashes."""
    from .pdfcodec import decode_pdf, render_ref_pdf

    def spans_of(ref):
        return [(ref, k, j, x, y, t)
                for k, spans in enumerate(decode_pdf(render_ref_pdf(ref)))
                for j, (x, y, t) in enumerate(spans)]

    return map_rows(_media_refs(spark, sf_dir), spans_of,
                    "media_ref string, page_idx long, span_idx long, "
                    "x double, y double, text string")


def q_rotate_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 get_rotate_crop_image + C2 get_minarea_rect_crop over real
    decoded pixels (round 4): md5-derived rotated quad → homography →
    replicate-border bicubic warp (+ the ≥1.5 rot90 quirk), and scatter
    points → rotating-calipers minAreaRect → reorder → C1. Fixture
    oracle (tools/make_fixtures.py, sf0.01 only)."""
    from .pixelops import crops_for_ref

    return map_rows(_media_refs(spark, sf_dir), crops_for_ref,
                    "media_ref string, crop_id string, out_h long, "
                    "out_w long, pix_sum long, first_val long")


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def q_rec_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 train-side label encoders (CTC / Attn / SAR), pure JVM.

    Deterministic sample texts: ``substring(text, 1 + doc_id % 7,
    doc_id % 30)`` (raw lengths 0..29 hit every reject branch), upper-cased
    for every third doc to exercise the forced lower-folding of the
    dict_path=None roster.  NULL columns render the reference's
    return-None sample drop (label_ops.py:152-170); the Attn length-24
    26-element-label quirk is preserved (label_ops.py:519-521).
    """
    from .functions import labelenc as LE

    base = _encode_sample_texts(spark, sf_dir)
    out = LE.with_sar_label(LE.with_attn_label(LE.with_ctc_label(base)))
    return out.select(
        "doc_id", "ctc_label", F.col("ctc_length").cast("long"), "ctc_ace",
        "attn_label", F.col("attn_length").cast("long"),
        "sar_label", F.col("sar_length").cast("long"))


def _encode_sample_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared deterministic sample texts for the encoder queries: raw
    lengths 0..29 (every reject branch), upper-cased every third doc
    (forced lower-fold)."""
    return sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.upper(F.expr("substring(text, 1 + doc_id % 7, doc_id % 30)")))
        .otherwise(F.expr("substring(text, 1 + doc_id % 7, doc_id % 30)"))
        .alias("text"))


def q_rec_label_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 closing wave: the REST of the deterministic rec-encoder roster
    — SEED / SRN / NRTR / ViTSTR / ABINet / SPIN / RFL (generic
    prefix/shift/suffix/pad builder), PREN (its own unknown→2 encode),
    CAN (word tokens; the vanishing-'<EOS>' and label=None-without-drop
    quirks), ClsLabelEncode — pure JVM, NULL = the reference's sample
    drop.  VLLabelEncode has its own seeded-contract query
    (q_vl_label_encode — the occlusion sample is one replayable draw).
    MultiLabelEncode = the CTC+SAR columns of rec_label_encode composed.
    """
    from .functions import labelenc as LE

    base = _encode_sample_texts(spark, sf_dir).withColumn(
        "ori", F.when(F.col("doc_id") % 3 == 0, F.lit("0"))
        .when(F.col("doc_id") % 3 == 1, F.lit("180")).otherwise(F.lit("90")))
    out = LE.with_cls_label(
        LE.with_can_label(LE.with_pren_label(LE.with_roster_labels(base))),
        "ori")
    keep = ["doc_id"]
    for fam in LE._ROSTER:
        keep += [f"{fam}_label", f"{fam}_length"]
    keep += ["rfl_cnt", "pren_label", "can_label", "cls_idx"]
    return out.select(*keep)


def q_vl_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 closing (round 5): VLLabelEncode (label_ops.py:1726-1784)
    under the seeded contract — the 'random.sample, no deterministic
    contract' exclusion was wrong; a 1-element sample is one replayable
    draw (labelenc.vl_encode_py, seed = doc_id). Raw-string occlusion
    index, full/remaining/occluded encodes, +1 shift, 0-pad, None drop.
    Fixture oracle (the draw is not SQL-restatable); arrays serialized
    csv (driver-canonicalizer rule)."""
    from .functions.labelenc import vl_encode_py

    def encode(did, text):
        r = vl_encode_py(text, int(did))
        if r is None:
            return []
        *lengths, lab, res, sub = r
        return [(int(did), *lengths, *(",".join(map(str, a))
                                       for a in (lab, res, sub)))]

    return map_rows(_encode_sample_texts(spark, sf_dir), encode,
                    "doc_id long, change_id long, length long, "
                    "length_res long, length_sub long, label string, "
                    "label_res string, label_sub string")


def _table_grammar(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """(t_id, structure, cells) for the 50 tables ``t_id < 50``: table
    ``t_id`` has ``2 + t_id % mod`` cells drawn from the five td token
    variants, and per-cell bbox/ntokens flags (the grammar both
    TableLabelEncode gate queries and their DuckDB twins share)."""
    t = sf_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("t_id")).filter("t_id < 50")
    cellv = (f"""transform(sequence(0, 1 + cast(t_id % {mod} as int)), c ->
        CASE cast((t_id + c) % 5 as int)
          WHEN 0 THEN array('<td></td>')
          WHEN 1 THEN array('<td>', '</td>')
          WHEN 2 THEN array('<td', ' colspan="2"', '>', '</td>')
          WHEN 3 THEN array('<td', 'colspan="2"', '>', '</td>')
          ELSE array('', '<td></td>') END)""")
    structure = (f"concat(array('<thead>', '<tr>'), flatten({cellv}), "
                 f"array('</tr>', '</thead>', '<tbody>', '</tbody>'))")
    cells = (f"""transform(sequence(0, 1 + cast(t_id % {mod} as int)), c ->
        named_struct(
          'has_bbox', (t_id * 7 + c) % 4 != 0,
          'ntokens', IF((t_id + c) % 6 = 0, 0, 1),
          'x1', cast(c * 10 as int), 'y1', cast(t_id as int),
          'x2', cast(c * 10 + 8 as int), 'y2', cast(t_id + 6 as int)))""")
    return t.select("t_id", F.expr(structure).alias("structure"),
                    F.expr(cells).alias("cells"))


def q_table_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: TableLabelEncode (label_ops.py:674-788) over deterministic
    per-table structure grammars exercising the merge_no_span skip, the
    span ' '-prefix, empty-token removal, and the td→cell bbox walk.
    The DuckDB twin CONSTRUCTS the expected ids/positions closed-form
    from the variant grammar (it never restates merge/encode), so any
    divergence in the sequential fold hash-fails.  Out-of-dict tokens
    are excluded from the synthesis: the fork CRASHES on them
    (never-set use_unkown — labelenc.table_label_encode_py pins it)."""
    from .functions.labelenc import table_label_encode

    return table_label_encode(_table_grammar(spark, sf_dir, 4))


def q_table_label_encode_master(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """R5: TableMasterLabelEncode dialect — appended specials (0-based
    token ids), <PAD> fill, and the LIVE post-pad length reject (dead
    in the base class): the grammar goes up to 9 cells so the largest
    tables exceed 38 ids and must drop, hash-verified by the twin."""
    from .functions.labelenc import table_master_label_encode

    return table_master_label_encode(_table_grammar(spark, sf_dir, 8))


def q_e2e_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: E2ELabelEncodeTest (label_ops.py:244-283) over per-doc JSON
    labels (rect-only — the reference's np.float32 on ragged point
    counts would crash).  Transcription mix exercises the whole-sample
    drop: any '*'/'###' (all chars out-of-dict) or >25-char text nukes
    its doc.  Oracle computes everything closed-form from lineitem."""
    from .functions.labelenc import e2e_label_encode_test

    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 4)
    px = ((F.col("l_partkey") % 50) * 20).cast("int")
    py = ((F.col("l_suppkey") % 40) * 15).cast("int")
    rect = F.array(F.array(px, py), F.array(px + 30, py),
                   F.array(px + 30, py + 12), F.array(px, py + 12))
    boxes = li.select(
        F.format_string("doc_%07d", F.col("l_orderkey"))
        .alias("doc_id"),
        F.col("l_linenumber").alias("ln"),
        F.when(F.col("l_orderkey") % 13 == 0, F.lit("*"))
        .when(F.col("l_orderkey") % 17 == 0, F.lit("###"))
        .when(F.col("l_orderkey") % 19 == 0, F.lit("x" * 26))
        .otherwise(F.format_string("w%d", F.col("l_linenumber")))
        .alias("transcription"),
        rect.alias("points"))
    labels = boxes.groupBy("doc_id").agg(
        F.to_json(F.expr(
            "transform(array_sort(collect_list(struct(ln, transcription, "
            "points))), b -> struct(b.transcription as transcription, "
            "b.points as points))")).alias("label"))
    return e2e_label_encode_test(labels).select(
        "doc_id", F.col("box_no").cast("long").alias("box_no"),
        "txt", "ignore_tag", "poly", "text_ids")


def q_det_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 DetLabelEncode: json label → per-box (poly, txt, ignore_tag).

    Labels are synthesized per doc from lineitem geometry as REAL JSON
    strings (to_json), then parsed back by the op — so the oracle (which
    computes the expected rows closed-form, never touching JSON) fails on
    any parse/expand divergence.  Mixed 4- and 6-point boxes exercise
    ``expand_points_num``'s repeat-last-point padding; '*'/'###'
    transcriptions set ignore_tags; a sprinkling of '[]' labels exercises
    the nBox==0 → None sample drop (label_ops.py:49-72).
    """
    from .functions.labelenc import det_label_encode

    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 5)
    px = ((F.col("l_partkey") % 50) * 20).cast("int")
    py = ((F.col("l_suppkey") % 40) * 15).cast("int")
    rect = F.array(F.array(px, py), F.array(px + 30, py),
                   F.array(px + 30, py + 12), F.array(px, py + 12))
    hexpts = F.array(
        F.array(px, py), F.array(px + 15, py), F.array(px + 30, py),
        F.array(px + 30, py + 12), F.array(px + 15, py + 12),
        F.array(px, py + 12))
    boxes = li.select(
        F.format_string("doc_%04d", F.col("l_orderkey") % 300)
        .alias("doc_id"),
        F.col("l_linenumber").alias("ln"),
        F.when(F.col("l_orderkey") % 13 == 0, F.lit("*"))
        .when(F.col("l_orderkey") % 17 == 0, F.lit("###"))
        .otherwise(F.format_string("w%d", F.col("l_linenumber")))
        .alias("transcription"),
        F.when(F.col("l_linenumber") % 2 == 0, hexpts).otherwise(rect)
        .alias("points"))
    labels = boxes.groupBy("doc_id").agg(
        F.to_json(F.expr(
            "transform(array_sort(collect_list(struct(ln, transcription, "
            "points))), b -> struct(b.transcription as transcription, "
            "b.points as points))")).alias("label"))
    empties = (sf_table(spark, sf_dir, "documents")
               .filter(F.col("doc_id") % 97 == 0)
               .select(F.format_string("empty_%07d", F.col("doc_id"))
                       .alias("doc_id"), F.lit("[]").alias("label")))
    return det_label_encode(labels.unionByName(empties)).select(
        "doc_id", F.col("box_no").cast("long").alias("box_no"),
        "txt", "ignore_tag", "poly")


_SHRINK_W, _SHRINK_H = 120, 68


def _shrink_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-doc rect layouts shared by q_shrink_map and
    q_pse_crop (lineitem-derived; may underflow left/top by up to 5 px —
    exercises validate_polygons clipping)."""
    li = sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_linenumber") <= 4) & (F.col("l_orderkey") % 11 == 0))
    return li.select(
        F.format_string("doc_%04d", F.col("l_orderkey") % 200)
        .alias("doc_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("box_id"),
        ((F.col("l_partkey") % 12) * 10 - 5).cast("double").alias("x0"),
        ((F.col("l_suppkey") % 8) * 9 - 4).cast("double").alias("y0"),
        (F.col("l_orderkey") % 30).cast("double").alias("bw"),
        ((F.col("l_suppkey") + F.col("l_linenumber")) % 24)
        .cast("double").alias("bh"),
        (F.col("l_orderkey") % 23 == 0).alias("tag"),
    ).select("doc_id", "box_id", "x0", "y0",
             (F.col("x0") + F.col("bw")).alias("x1"),
             (F.col("y0") + F.col("bh")).alias("y1"), "tag")


def q_docx_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 recovery sink made LITERAL (round 4): each document's ordered
    spans → a spec-valid .docx container (docxcodec.build_docx — the
    convert_info_docx walk, ppstructure/recovery/recovery_to_doc.py:
    31-80: title→heading, figure→picture, table→w:tbl via
    table_process.py's HtmlToDocx, else paragraph) → parsed BACK from
    the container bytes (pure zipfile + ElementTree) to the ordered
    (kind, payload) stream. The twin computes the same stream straight
    from the synth SQL, so a writer/parser defect that loses, reorders,
    or corrupts any span breaks hash parity; the XML-escape adversarial
    arm (payloads full of <b>/&/quotes) is pinned in tests/test_docx.py.
    One wide Arrow pass, one container per doc, no shuffle."""
    from .docxcodec import build_docx, parse_docx
    from .pipeline import ensure_input_parallelism

    def roundtrip(doc_id, spans):
        stream = [(s["kind"], s["media_ref"] if s["kind"] == "media"
                   else (s["text"] or "")) for s in spans]
        return [(doc_id, i, k, p) for i, (k, p)
                in enumerate(parse_docx(build_docx(stream)))]

    return map_rows(
        synth_spans(ensure_input_parallelism(
            sf_table(spark, sf_dir, "documents"))),
        roundtrip, "doc_id string, ord long, kind string, payload string")


def q_pse_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 RandomCropImgMask (random_crop_data.py:183-234) — the stdlib-
    ``random`` RNG dialect — chained over the MakeShrinkMap rasters:
    per doc, build (gt, mask) on the 68×120 canvas, then the seeded crop
    to 32×56 with main_key gt. Emits the crop origin, branch flag, and
    cropped-raster pixel counts; committed-fixture oracle (RNG + raster
    fills are iterative)."""
    from .augments import PSE_CROP_SIZE, random_crop_img_mask
    from .kernels import make_shrink_map

    h, w = _SHRINK_H, _SHRINK_W

    def per_doc(g):
        _, gt, mask = make_shrink_map(_doc_rects(g), g["tag"].astype(bool),
                                      h, w)
        data = {"image": np.zeros((h, w, 3), np.uint8),
                "gt_text": gt, "mask": mask}
        doc_id = g["doc_id"][0]
        i, j, forced, out = random_crop_img_mask(
            int(doc_id[4:]), data, "gt_text",
            {"image", "gt_text", "mask"}, PSE_CROP_SIZE)
        yield (doc_id, int(i), int(j), forced, int(out["gt_text"].sum()),
               int(out["mask"].sum()))

    return grouped_map_rows(
        _shrink_boxes(spark, sf_dir), ["doc_id"], ["box_id"], per_doc,
        "doc_id string, crop_i long, crop_j long, forced boolean, "
        "gt_sum long, mask_sum long")


#: q_pse_gt's MakePseGt size parameter: small enough to keep demo rasters
#: cheap, and the 60..99 per-doc canvas-height domain splits 20/20 across
#: the < size (upscale) and >= size branches. On that FIXED finite domain
#: no dim·scale value lands on an exact .5, so cvRound (half-even), the
#: twin's floor(x+0.5), and half-away all agree — verified exhaustively,
#: a property of the query's own layout generator, not of the corpus.
_PSE_GT_SIZE = 80


def q_pse_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 MakePseGt (make_pse_gt.py:28-119): the PSENet multi-scale
    kernel ladder over the MakeShrinkMap rect layouts, with a per-doc
    canvas height so the short-edge upscale branch (fractional poly
    coords -> live Clipper input rounding) runs on half the docs.
    Per (doc, scale) rows carry the verbatim-float rate, painted count,
    and the binarized union fill's REAL raster pixel count; doc-level
    columns carry the resize decision, final-tag count, and mask pixels.
    The DuckDB twin recomputes everything closed-form (inset-rect union
    sweeps). Tag escalation is monotone in scale (distance grows as rate
    falls), which the twin exploits; the escalation arm itself is pinned
    by exec-ref differential #44."""
    from .kernels import make_pse_gt

    def per_doc(g):
        doc_id = g["doc_id"][0]
        scaled, nh, nw, per_scale, ftags, mask_px = make_pse_gt(
            _doc_rects(g), g["tag"].astype(bool), 60 + int(doc_id[4:]) % 40,
            _SHRINK_W, size=_PSE_GT_SIZE)
        n_ign = int(sum(ftags))
        for k, (rate, painted, px) in enumerate(per_scale, start=1):
            yield (doc_id, k, float(rate), painted, px, bool(scaled), nh,
                   nw, n_ign, mask_px)

    return grouped_map_rows(
        _shrink_boxes(spark, sf_dir), ["doc_id"], ["box_id"], per_doc,
        "doc_id string, k long, rate double, n_painted long, "
        "kernel_px long, scaled boolean, new_h long, new_w long, "
        "n_ignored long, mask_px long")


def q_shrink_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 MakeShrinkMap (make_shrink_map.py:32-124): DBNet training gt
    generation over deterministic per-doc rect layouts.  Per-box rows
    carry the decision (masked vs gt + Clipper-grid shrunk coords) and
    every row also carries its doc's REAL raster pixel counts (the
    kernel fills actual float32 gt/mask canvases); the DuckDB twin
    recomputes the counts as closed-form unions of integer rectangles
    (DISTINCT pixel sweep), so a one-pixel fill divergence hash-fails.
    Rect inset never escalates the shrink ratio (proof in
    kernels.make_shrink_map); the escalation branch is pinned by the
    exec-reference differential instead."""
    from .kernels import make_shrink_map

    def per_doc(g):
        recs, gt, mask = make_shrink_map(
            _doc_rects(g), g["tag"].astype(bool), _SHRINK_H, _SHRINK_W)
        gt_n, mask_n = int(gt.sum()), int(mask.sum())
        for box_id, (status, ratio, *shrunk) in zip(g["box_id"], recs):
            yield (g["doc_id"][0], int(box_id), status, float(ratio),
                   *shrunk, gt_n, mask_n)

    return grouped_map_rows(
        _shrink_boxes(spark, sf_dir), ["doc_id"], ["box_id"], per_doc,
        "doc_id string, box_id long, status string, ratio double, "
        "sx0 int, sy0 int, sx1 int, sy1 int, gt_count long, "
        "mask_count long")


def _border_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-doc rect layouts for q_border_map — on-canvas
    top-left, may overflow right/bottom (exercises the valid-window
    slicing) but never fully off-canvas (the reference CRASHES there —
    kernels.make_border_map docstring)."""
    li = sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_linenumber") <= 4) & (F.col("l_orderkey") % 11 == 0))
    return li.select(
        F.format_string("doc_%04d", F.col("l_orderkey") % 200)
        .alias("doc_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("box_id"),
        ((F.col("l_partkey") % 11) * 10).cast("double").alias("x0"),
        ((F.col("l_suppkey") % 7) * 9).cast("double").alias("y0"),
        (F.col("l_orderkey") % 29).cast("double").alias("bw"),
        ((F.col("l_suppkey") + F.col("l_linenumber")) % 24)
        .cast("double").alias("bh"),
        (F.col("l_orderkey") % 23 == 0).alias("tag"),
    ).select("doc_id", "box_id", "x0", "y0",
             (F.col("x0") + F.col("bw")).alias("x1"),
             (F.col("y0") + F.col("bh")).alias("y1"), "tag")


def q_border_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 MakeBorderMap (make_border_map.py:38-124): per-doc threshold
    map + mask over deterministic rect layouts; committed-fixture oracle
    (the per-pixel float32 law-of-cosines raster is not SQL-restatable
    at hash precision).  Emits exact float32-raster aggregates per doc;
    the exec-reference differential pins the kernel to the reference
    source."""
    from .kernels import BORDER_THRESH_MIN, make_border_map

    def per_doc(g):
        canvas, mask = make_border_map(
            _doc_rects(g), g["tag"].astype(bool), _SHRINK_H, _SHRINK_W)
        yield (g["doc_id"][0], float(canvas.sum(dtype=np.float64)),
               float(canvas.max()), int((canvas > BORDER_THRESH_MIN).sum()),
               int(mask.sum()))

    # thr_sum/thr_max stay UNROUNDED: the fixture runs the identical
    # kernel single-node, so the doubles are bit-equal by construction
    # and the gate's 4dp canon formats them identically.
    return grouped_map_rows(
        _border_boxes(spark, sf_dir), ["doc_id"], ["box_id"], per_doc,
        "doc_id string, thr_sum double, thr_max double, thr_px long, "
        "mask_px long")


_LMDB_FIXTURE_ROOT = "/tmp/paddleocr_spark_lmdb"
_LMDB_W, _LMDB_H = 40, 26
# Driver-memory bound on fixture synthesis: only the LOWEST doc_ids per
# parity are collected and written (lowest-first makes the 1-based
# file_idx enumeration identical to row_number over the capped set, so
# the closed-form twin just adds `file_idx <= cap`).  4096/env covers
# every gate SF's behavior arms while keeping the collect O(1) in
# corpus size — the fixture is test scaffolding, never a 10^12 path.
_LMDB_MAX_DOCS_PER_ENV = 4096


def _lmdb_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf corpus) two hierarchical LMDB envs from the
    documents table: even doc_ids → env_a, odd → env_b; label-%09d =
    'doc_%07d:<first 20 chars>'; image-%09d = a 40×26 P6 PPM whose gray
    value at (x, y) is (7·doc_id + 3x + 11y) % 256 (3133 bytes — every
    image rides the F_BIGDATA overflow path); every 31st doc_id omits
    its label key to exercise the reference's missing-label skip.
    Fixture synthesis scaffolding, like render_ref_gif — the operator
    under test is the reader.  The collect is bounded to the lowest
    _LMDB_MAX_DOCS_PER_ENV doc_ids per parity (computed distributed,
    ONE window exchange) so synthesis stays driver-safe at any SF."""
    import numpy as np
    from pyspark.sql.window import Window

    from .imagecodecs import encode_pnm
    from .sources.lmdbfile import write_mdb

    tag = os.path.basename(os.path.normpath(sf_dir))
    dest = os.path.join(
        _LMDB_FIXTURE_ROOT, f"{tag}-cap{_LMDB_MAX_DOCS_PER_ENV}")
    if all(os.path.exists(os.path.join(dest, e, "data.mdb"))
           for e in ("env_a", "env_b")):
        return dest
    w = Window.partitionBy(F.col("doc_id") % 2).orderBy("doc_id")
    rows = (sf_table(spark, sf_dir, "documents")
            .select("doc_id", F.substring("text", 1, 20).alias("t"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _LMDB_MAX_DOCS_PER_ENV)
            .select("doc_id", "t").collect())
    xs = np.arange(_LMDB_W)[None, :, None]
    ys = np.arange(_LMDB_H)[:, None, None]
    tmp = f"{dest}.tmp-{os.getpid()}"
    for parity, env in ((0, "env_a"), (1, "env_b")):
        docs = sorted((r["doc_id"], r["t"]) for r in rows
                      if r["doc_id"] % 2 == parity)
        items = {b"num-samples": str(len(docs)).encode()}
        for fidx, (doc_id, t) in enumerate(docs, start=1):
            g = ((7 * doc_id + 3 * xs + 11 * ys) % 256).astype(np.uint8)
            items[b"image-%09d" % fidx] = encode_pnm(
                np.broadcast_to(g, (_LMDB_H, _LMDB_W, 3)))
            if doc_id % 31 != 0:
                items[b"label-%09d" % fidx] = (
                    f"doc_{doc_id:07d}:{t}").encode()
        write_mdb(os.path.join(tmp, env), items)
    try:
        os.rename(tmp, dest)
    except OSError:                       # concurrent builder won the race
        import shutil
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


def q_lmdb_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 LMDBDataSet source: hierarchical env discovery + 1-based idx
    traversal + label/image key fetch (lmdb_dataset.py:50-140) over a
    pure-Python data.mdb B+tree reader, then a real PPM decode of every
    image.  The DuckDB twin predicts every output — env/file_idx
    assignment, the missing-label drops, the exact 3133-byte length,
    and per-image integer gray statistics — closed-form from the
    documents parquet WITHOUT touching LMDB or PPM bytes, so one wrong
    bit anywhere in mdb write→B+tree read→PPM decode hash-fails."""
    from .imagecodecs import decode_pnm
    from .sources.lmdbfile import read_lmdb_dataset

    def stats(lmdb_idx, file_idx, label, img):
        gray = decode_pnm(bytes(img))[:, :, 0].astype("int64")
        return [(int(lmdb_idx), int(file_idx), label, len(img),
                 int(gray.sum()), int(gray.min()), int(gray.max()))]

    return map_rows(
        read_lmdb_dataset(spark, _lmdb_fixture_dir(spark, sf_dir)), stats,
        "lmdb_idx int, file_idx int, label string, img_len long, "
        "sum_gray long, min_gray long, max_gray long")


def _over_texts(op: Callable[[DataFrame], DataFrame]) \
        -> Callable[[SparkSession, str], DataFrame]:
    """Gate query applying ``op`` to the documents' ``(doc_id, text)``."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return op(
            sf_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order is the gate order; keep it stable.
    return {
        "explode_spans": q_explode_spans,
        "span_geometry": q_span_geometry,
        "det_drop_filters": q_det_drop_filters,
        "style_strip": q_style_strip,
        "flagship_span_counts": q_flagship_span_counts,
        "flagship_kind_counts": q_flagship_kind_counts,
        "flagship_extract": q_flagship_extract,
        "ser_token_metric": q_ser_token_metric,
        "sr_metric": q_sr_metric,
        "det_fce_metric": q_det_fce_metric,
        "table_metric": q_table_metric,
        "rec_metric_grapheme": q_rec_metric_grapheme,
        "ct_metric": q_ct_metric,
        "e2e_deteval": q_e2e_deteval,
        "config_transforms": q_config_transforms,
        "re_metric": q_re_metric,
        "kie_f1_metric": q_kie_f1_metric,
        "can_metric": q_can_metric,
        "cnt_metric": q_cnt_metric,
        "east_crop": q_east_crop,
        "copy_paste": q_copy_paste,
        "pse_gt": q_pse_gt,
        "east_gt": q_east_gt,
        "sast_gt": q_sast_gt,
        "fce_gt": q_fce_gt,
        "pse_crop": q_pse_crop,
        "docx_recovery": q_docx_recovery,
        "main_content": MC.main_content,
        "readability_extract": MC.readability_extract,
        "boilerpipe_extract": MC.boilerpipe_extract,
        "gopher_repetition": REP.gopher_repetition,
        "interleaved_pack": CU.interleaved_pack,
        "pq_codes": PQ.pq_codes,
        "pq_adc_topk": PQ.pq_adc_topk,
        "ivfpq_topk": PQ.ivfpq_topk,
        "kmeans_assign": CL.kmeans_assign,
        "semdedup": CL.semdedup,
        "dup_span_docs": R.dup_span_docs,
        "bm25_topk": R.bm25_topk,
        "tfidf_terms": R.tfidf_terms,
        "inverted_index": R.inverted_index,
        "lm_score": R.lm_score,
        "kn_lm_score": R.kn_lm_score,
        "hll_cardinality": SK.hll_cardinality,
        "cms_heavy_hitters": SK.cms_heavy_hitters,
        "weighted_sample": R.weighted_sample,
        "qdigest_quantiles": SK.qdigest_quantiles,
        "wordpiece_encode": TK.wordpiece_encode,
        "sample_stratified": R.sample_stratified,
        "decontaminate": CU.decontaminate,
        "dsir_weights": CU.dsir_weights,
        "pack_shards": CU.pack_shards,
        "adaptive_quality_filter": CU.adaptive_quality_filter,
        "quality_classifier": CU.quality_classifier,
        "line_dedup": CU.line_dedup,
        "c4_clean": CU.c4_clean,
        "dedup_trim": D.dedup_trim,
        "bloom_dedup": D.bloom_dedup,
        "minhash_survivors": D.minhash_survivors,
        "bpe_merges": TK.bpe_merges,
        "bpe_token_counts": TK.bpe_token_counts,
        "corpus_stats": CU.corpus_stats,
        "bpe_encode": TK.bpe_encode,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "zorder_layout": q_zorder_layout,
        "blocklist_filter": CU.blocklist_filter,
        "pii_redact": CU.pii_redact,
        "sampling_temperature": CU.sampling_temperature,
        "ccnet_buckets": CU.ccnet_buckets,
        "layout_preprocess": q_layout_preprocess,
        "grapheme_compose_label": _over_texts(GR.grapheme_compose_label),
        "grapheme_compose": q_grapheme_compose,
        "cell_match_bucketed": q_cell_match_bucketed,
        "table_xlsx": q_table_xlsx,
        "utf8_compose": q_utf8_compose,
        "det_label_encode": q_det_label_encode,
        "lmdb_scan": q_lmdb_scan,
        "rotate_crop": q_rotate_crop,
        "e2e_label_encode": q_e2e_label_encode,
        "gif_frames": q_gif_frames,
        "tensor_ops": q_tensor_ops,
        "rec_resize": q_rec_resize,
        "rec_aug": q_rec_aug,
        "cvaug": q_cvaug,
        "ct_gt": q_ct_gt,
        "drrg_gt": q_drrg_gt,
        "vl_label_encode": q_vl_label_encode,
        "randaug": q_randaug,
        "pg_gt": q_pg_gt,
        "media_decode_real": q_media_decode_real,
        "utf8_decompose": _over_texts(GR.utf8_decompose),
        "grapheme_decompose": _over_texts(GR.grapheme_decompose),
        "media_decode": q_media_decode,
        "gopher_rules": T.gopher_rules,
        "shrink_map": q_shrink_map,
        "grapheme_ned": _over_texts(GR.grapheme_ned),
        "fce_detect": q_fce_detect,
        "rec_label_roster": q_rec_label_roster,
        "rec_ensemble": _over_texts(GR.rec_ensemble),
        "det_clip_filter": q_det_clip_filter,
        "rec_label_encode": q_rec_label_encode,
        "border_map": q_border_map,
        "quality_score": T.quality_score,
        "table_label_encode": q_table_label_encode,
        "lang_id": T.lang_id,
        "table_label_encode_master": q_table_label_encode_master,
        "satrn_decode": _over_texts(satrn_decode),
        "rfl_decode": _over_texts(rfl_decode),
        "sast_detect": q_sast_detect,
        "pren_decode": _over_texts(pren_decode),
        "drrg_detect": q_drrg_detect,
        "vitstr_decode": _over_texts(vitstr_decode),
        "srn_decode": _over_texts(srn_decode),
        "seed_decode": _over_texts(seed_decode),
        "nrtr_decode": _over_texts(nrtr_decode),
        "fingerprint": T.fingerprint,
        "ct_detect": q_ct_detect,
        "abinet_decode": _over_texts(abinet_decode),
        "vl_decode": _over_texts(vl_decode),
        "token_count": T.token_count,
        "spin_decode": _over_texts(spin_decode),
        "can_decode": _over_texts(can_decode),
        "neardup_survivors": SIM.neardup_survivors,
        "pdf_pages": q_pdf_pages,
        "ann_ivf2_assign": SIM.ivf2_assign,
        "ngram_topk": T.ngram_topk,
        "neardup_components": SIM.neardup_components,
        "e2e_metric": q_e2e_metric,
        "embedding_neardup": SIM.neardup_pairs_cached,
        "simhash_pairs": D.simhash_pairs,
        "teds_metric": q_teds,
        "table_html": TBL.table_html,
        "det_eval_greedy": q_det_eval,
        "e2e_eval": q_e2e_eval,
        "dedup_minhash_pairs": D.dedup_minhash_pairs,
        "preprocess_image": q_preprocess_image,
        "cell_match": q_cell_match,
        "table_html_master": TBL.table_html_master,
        "cell_texts": q_cell_texts,
        "char_prf_metric": q_char_prf,
        "pse_detect": q_pse_detect,
        "east_nms": q_east_nms,
        "dedup_ngram_jaccard": D.dedup_ngram_jaccard,
        "ann_ivf_topk": SIM.ann_ivf_topk,
        "rec_metric": q_rec_metric,
        "distillation_metric": q_distillation_metric,
        "dedup_simhash": D.dedup_simhash,
        "ann_lsh_buckets": SIM.ann_lsh_buckets,
        "media_resize": q_media_resize,
        "ctc_roundtrip": q_ctc_roundtrip,
        "page_limit": q_page_limit,
        "nms_per_class": q_nms,
        "ann_ivf_assign": SIM.ivf_assign,
        "ann_cosine_topk": SIM.ann_cosine_topk,
        "east_detect": q_east_detect,
        "db_detect": q_db_detect,
        "topk_window": q_topk_window,
        "table_token_acc": TBL.table_token_acc,
        "table_structure": TBL.table_structure,
        "sar_decode": _over_texts(sar_decode),
        "kie_pairs": KIE.kie_pairs,
        "dim_join_broadcast": q_dim_join_broadcast,
        "det_metric": q_det_metric,
        "dedup_exact": D.dedup_exact,
        "attn_decode": _over_texts(attn_decode),
        "union_sample": q_union_sample,
        "strq2b": T.strq2b,
        "orientation4": _over_texts(orient4),
        "cls_metric": q_cls_metric,
        "embed_stats": q_embed_stats,
    }


_WORDS = ("list_filter(string_split(lower(text), ' '), w -> w != '')")
_WORDS_CO = ("list_filter(string_split(lower(coalesce(text, '')), ' '), "
             "x -> x != '')")

_CORPUS_CTE = f"""
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {D.DUP_OFFSET}, text FROM documents
    WHERE doc_id % {D.DUP_EVERY} = 0
    UNION ALL
    SELECT doc_id + {2 * D.DUP_OFFSET},
           'dup ' || array_to_string(string_split(text, ' ')[2:], ' ')
    FROM documents WHERE doc_id % {D.NEAR_EVERY} = 0
)"""

_SHINGLE_CTE = f"""
shing AS (
    SELECT doc_id,
           list_sort(list_distinct(CASE WHEN len(w) < 3
               THEN [array_to_string(w, ' ')]
               ELSE list_transform(generate_series(1, len(w) - 2),
                    i -> array_to_string(w[i:i+2], ' ')) END)) AS sh
    FROM (SELECT doc_id, {_WORDS_CO} AS w FROM corpus)
)"""

_BANDS_CTE = f"""
mh AS (
    SELECT doc_id,
           list_transform(generate_series(0, {D.MINHASH_K - 1}), k ->
               list_aggregate(list_transform(sh,
                   s -> md5(CAST(k AS VARCHAR) || ':' || s)), 'min')) AS mh
    FROM shing
),
bands AS (
    SELECT doc_id, b AS band,
           md5(array_to_string(
               mh[b * {D.MINHASH_ROWS} + 1 : b * {D.MINHASH_ROWS}
                  + {D.MINHASH_ROWS}], '')) AS band_hash
    FROM mh CROSS JOIN (SELECT unnest(generate_series(0,
        {D.MINHASH_BANDS - 1})) AS b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
)"""

def _lsh_band_code_sql(vtbl: str, btbl: str) -> str:
    """Correlated scalar subquery: banded LSH code of {vtbl}.embedding for
    band {btbl}.band, with R planes from the ``params`` CTE (twin of
    similarity._band_code_expr / lsh_planes_for)."""
    return f"""(
    SELECT CAST(sum(CASE WHEN dot > 0
                THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT)
    FROM (
        SELECT p.p,
               list_sum(list_transform(generate_series(1,
                   len({vtbl}.embedding)),
                   d -> ((strpos('0123456789abcdef', substring(
                           md5(CAST({btbl}.band AS VARCHAR) || ':'
                               || CAST(p.p AS VARCHAR) || ':'
                               || CAST(d - 1 AS VARCHAR)), 1, 1)) - 1)
                         / 7.5 - 1.0)
                        * CAST({vtbl}.embedding[d] AS DOUBLE))) AS dot
        FROM (SELECT unnest(generate_series(0,
                  (SELECT r FROM params) - 1)) AS p) p
    ) code
)"""


def _lsh_params_cte(corpus: str) -> str:
    """R = max(4, ceil(log2(n / target))) — twin of similarity.lsh_planes_for."""
    return (f"params AS (SELECT greatest(4, CAST(ceil(log2(count(*) "
            f"/ {SIM.LSH_TARGET_BUCKET}.0)) AS BIGINT)) AS r FROM {corpus})")

_COS_RAW = ("""(
    list_sum(list_transform(generate_series(1, len({a})),
        i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""")

_COS = "(round(" + _COS_RAW + ", 4) + 0)"


def _stopword_hits(lang: str) -> str:
    arr = ", ".join(f"'{s}'" for s in T.LANG_STOPWORDS[lang])
    return (f"CAST(len(list_filter(w, x -> list_contains([{arr}], x))) "
            f"AS BIGINT) AS hits_{lang}")


#: Shared J1 synthesis CTE chain (boxes/cells/scored/assigned).
CELL_BASE_CTE = """boxes AS (
    SELECT l_orderkey % 50 AS t_id,
           l_orderkey * 10 + l_linenumber AS box_id,
           CAST((l_partkey % 40) * 20 AS DOUBLE) AS bx1,
           CAST((l_suppkey % 30) * 25 AS DOUBLE) AS by1,
           CAST((l_partkey % 40) * 20 + 30 AS DOUBLE) AS bx2,
           CAST((l_suppkey % 30) * 25 + 20 AS DOUBLE) AS by2
    FROM lineitem WHERE l_linenumber <= 4
),
cells AS (
    SELECT t.t_id, c.cell_id,
           CAST((c.cell_id % 4) * 200 AS DOUBLE) AS cx1,
           CAST((c.cell_id // 4) * 250 AS DOUBLE) AS cy1,
           CAST((c.cell_id % 4) * 200 + 199 AS DOUBLE) AS cx2,
           CAST((c.cell_id // 4) * 250 + 249 AS DOUBLE) AS cy2
    FROM (SELECT DISTINCT t_id FROM boxes) t
    CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS cell_id) c
),
scored AS (
    SELECT b.t_id, b.box_id, c.cell_id,
           1.0 - greatest(0.0, least(bx2, cx2) - greatest(bx1, cx1))
                 * greatest(0.0, least(by2, cy2) - greatest(by1, cy1))
                 / ((bx2-bx1)*(by2-by1) + (cx2-cx1)*(cy2-cy1)
                    - greatest(0.0, least(bx2, cx2) - greatest(bx1, cx1))
                      * greatest(0.0, least(by2, cy2) - greatest(by1, cy1)))
               AS omi,
           abs(cx1-bx1) + abs(cy1-by1) + abs(cx2-bx2) + abs(cy2-by2)
           + least(abs(cx1-bx1) + abs(cy1-by1),
                   abs(cx2-bx2) + abs(cy2-by2)) AS dis
    FROM boxes b JOIN cells c ON b.t_id = c.t_id
),
assigned AS (
    SELECT t_id, box_id, cell_id FROM (
        SELECT t_id, box_id, cell_id,
               row_number() OVER (PARTITION BY t_id, box_id
                                  ORDER BY omi, dis, cell_id) AS rn
        FROM scored
    ) WHERE rn = 1
)"""


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    sqls["explode_spans"] = f"""
WITH {SYNTH_CTE.lstrip()}
SELECT doc_id, span_idx, kind, text, media_ref, CAST("offset" AS BIGINT) AS "offset"
FROM synth_spans"""

    # the docx container roundtrip must reproduce the ordered stream the
    # synth SQL computes directly (payload = media_ref for media spans,
    # the span text otherwise; ord = array position = span_idx)
    sqls["docx_recovery"] = f"""
WITH {SYNTH_CTE.lstrip()}
SELECT doc_id, CAST(span_idx AS BIGINT) AS ord, kind,
       CASE WHEN kind = 'media' THEN media_ref
            ELSE coalesce(text, '') END AS payload
FROM synth_spans"""

    sqls["span_geometry"] = f"""
WITH {SYNTH_CTE.lstrip()}, {GEOM_CTE.lstrip()}
SELECT doc_id, span_idx, kind,
       CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
       CAST(x1 + w AS BIGINT) AS x2, CAST(y1 + h AS BIGINT) AS y2
FROM synth_geom"""

    sqls["det_drop_filters"] = f"""
WITH {SYNTH_CTE.lstrip()}, {GEOM_CTE.lstrip()}, {KEPT_CTE.lstrip()}
SELECT doc_id, span_idx, kind FROM synth_final"""

    # chained literal replaces in reference token order (the sequential
    # loop, not a single-pass alternation — see pipeline.strip_styles)
    from .kernels import STYLE_TOKENS as _ST
    _strip = "text"
    for _tok in _ST:
        _strip = f"replace({_strip}, '{_tok}', '')"
    sqls["style_strip"] = f"""
WITH {SYNTH_CTE.lstrip()}, {GEOM_CTE.lstrip()}, {KEPT_CTE.lstrip()}
SELECT doc_id, span_idx,
       {_strip} AS text
FROM synth_final"""

    sqls["flagship_span_counts"] = f"""
WITH {SYNTH_CTE.lstrip()}, {GEOM_CTE.lstrip()}, {KEPT_CTE.lstrip()}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
FROM synth_final GROUP BY doc_id"""

    sqls["flagship_kind_counts"] = f"""
WITH {SYNTH_CTE.lstrip()}, {GEOM_CTE.lstrip()}, {KEPT_CTE.lstrip()}
SELECT doc_id, kind, CAST(count(*) AS BIGINT) AS n
FROM synth_final GROUP BY doc_id, kind"""

    # Committed-fixture oracles (tools/make_fixtures.py; sf0.01 only): the
    # five iterative operators whose expected outputs are pinned as parquet.
    sqls["flagship_extract"] = _fixture_sql(
        "flagship_extract",
        'doc_id, CAST("order" AS BIGINT) AS "order", kind, text, media_ref')
    sqls["nms_per_class"] = _fixture_sql(
        "nms_per_class",
        "doc_id, label, CAST(box_id AS BIGINT) AS box_id, x1, y1, x2, y2, "
        "score, CAST(keep_order AS BIGINT) AS keep_order")
    sqls["char_prf_metric"] = _fixture_sql(
        "char_prf_metric",
        "mean_precision, mean_recall, mean_f1, overall_precision, "
        "overall_recall, overall_f1")
    sqls["det_eval_greedy"] = _fixture_sql(
        "det_eval_greedy",
        "precision, recall, hmean, CAST(n_images AS BIGINT) AS n_images")
    sqls["teds_metric"] = _fixture_sql(
        "teds_metric", "CAST(pair_id AS BIGINT) AS pair_id, teds")
    sqls["pse_crop"] = _fixture_sql(
        "pse_crop",
        "doc_id, CAST(crop_i AS BIGINT) AS crop_i, "
        "CAST(crop_j AS BIGINT) AS crop_j, forced, "
        "CAST(gt_sum AS BIGINT) AS gt_sum, "
        "CAST(mask_sum AS BIGINT) AS mask_sum")
    sqls["east_crop"] = _fixture_sql(
        "east_crop",
        "doc_id, CAST(span_idx AS BIGINT) AS span_idx, ignored, "
        "CAST(crop_x AS BIGINT) AS crop_x, CAST(crop_y AS BIGINT) AS crop_y, "
        "CAST(crop_w AS BIGINT) AS crop_w, CAST(crop_h AS BIGINT) AS crop_h, "
        "scale, nx1, ny1, nx2, ny2")
    sqls["east_gt"] = _fixture_sql(
        "east_gt",
        "doc_id, status, CAST(rot_cnt AS BIGINT) AS rot_cnt, rd_scale, "
        "CAST(cx0 AS BIGINT) AS cx0, CAST(cy0 AS BIGINT) AS cy0, "
        "CAST(cx1 AS BIGINT) AS cx1, CAST(cy1 AS BIGINT) AS cy1, "
        "CAST(n_out AS BIGINT) AS n_out, "
        "CAST(new_h AS BIGINT) AS new_h, CAST(new_w AS BIGINT) AS new_w, "
        "CAST(score_px AS BIGINT) AS score_px, "
        "CAST(mask_px AS BIGINT) AS mask_px, "
        "g0, g1, g2, g3, g4, g5, g6, g7, g8")
    sqls["fce_gt"] = _fixture_sql(
        "fce_gt",
        "doc_id, CAST(level AS BIGINT) AS level, "
        "CAST(text_px AS BIGINT) AS text_px, "
        "CAST(center_px AS BIGINT) AS center_px, "
        "CAST(eff_px AS BIGINT) AS eff_px, "
        + ", ".join(f"r{c}" for c in range(11)) + ", "
        + ", ".join(f"i{c}" for c in range(11)))
    sqls["sast_gt"] = _fixture_sql(
        "sast_gt",
        "doc_id, status, asp_scale, "
        "CAST(cx0 AS BIGINT) AS cx0, CAST(cy0 AS BIGINT) AS cy0, "
        "CAST(cx1 AS BIGINT) AS cx1, CAST(cy1 AS BIGINT) AS cy1, "
        "rz_scale, CAST(sh AS BIGINT) AS sh, CAST(sw AS BIGINT) AS sw, "
        "CAST(n_out AS BIGINT) AS n_out, "
        "CAST(score_px AS BIGINT) AS score_px, mask_sum, "
        "b0, b1, b2, b3, b4, v0, v1, v2, v3, v4, v5, v6, v7, v8, "
        "c0, c1, c2")
    sqls["copy_paste"] = _fixture_sql(
        "copy_paste",
        "doc_id, CAST(pos AS BIGINT) AS pos, pasted, "
        "CAST(src_span AS BIGINT) AS src_span, text, ignored, "
        "x1, y1, x2, y2, x3, y3, x4, y4")
    sqls["pse_detect"] = _fixture_sql(
        "pse_detect",
        "CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(box_idx AS BIGINT) AS box_idx, "
        "CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1, "
        "CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2, score")
    sqls["drrg_detect"] = _fixture_sql(
        "drrg_detect",
        "CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(boundary_idx AS BIGINT) AS boundary_idx, "
        "CAST(pt_idx AS BIGINT) AS pt_idx, x, y, score")
    sqls["fce_detect"] = _fixture_sql(
        "fce_detect",
        "CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(poly_idx AS BIGINT) AS poly_idx, "
        "CAST(pt_idx AS BIGINT) AS pt_idx, x, y, score")
    sqls["sast_detect"] = _fixture_sql(
        "sast_detect",
        "CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(poly_idx AS BIGINT) AS poly_idx, "
        "CAST(pt_idx AS BIGINT) AS pt_idx, x, y")
    sqls["ct_detect"] = _fixture_sql(
        "ct_detect",
        "CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(box_idx AS BIGINT) AS box_idx, "
        "CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1, "
        "CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2, score")
    sqls["db_detect"] = _fixture_sql(
        "db_detect",
        "CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(box_idx AS BIGINT) AS box_idx, "
        "CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1, "
        "CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2, score")
    sqls["table_html_master"] = _fixture_sql(
        "table_html_master", "CAST(t_id AS BIGINT) AS t_id, html")
    sqls["east_detect"] = _fixture_sql(
        "east_detect",
        "CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(box_idx AS BIGINT) AS box_idx, "
        "CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1, "
        "CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2, score")
    sqls["tensor_ops"] = _fixture_sql(
        "tensor_ops",
        "media_ref, CAST(channel AS BIGINT) AS channel, "
        "CAST(res_h AS BIGINT) AS res_h, CAST(res_w AS BIGINT) AS res_w, "
        "CAST(pad_h AS BIGINT) AS pad_h, CAST(pad_w AS BIGINT) AS pad_w, "
        "mean, vmin, vmax, ratio_h, ratio_w")
    sqls["rec_resize"] = _fixture_sql(
        "rec_resize",
        "media_ref, variant, CAST(out_c AS BIGINT) AS out_c, "
        "CAST(out_h AS BIGINT) AS out_h, CAST(out_w AS BIGINT) AS out_w, "
        "valid_ratio, CAST(resize_w AS BIGINT) AS resize_w, "
        "mean, vmin, vmax")
    sqls["rec_aug"] = _fixture_sql(
        "rec_aug",
        "media_ref, variant, CAST(seed AS BIGINT) AS seed, "
        "CAST(out_h AS BIGINT) AS out_h, CAST(out_w AS BIGINT) AS out_w, "
        "mean, CAST(vmin AS BIGINT) AS vmin, "
        "CAST(vmax AS BIGINT) AS vmax, CAST(crc AS BIGINT) AS crc")
    sqls["pg_gt"] = _fixture_sql(
        "pg_gt",
        "doc_id, CAST(live AS BIGINT) AS live, img_sum, tcl_sum, "
        "tcl_label_sum, border_sum, direction_sum, mask_sum, "
        "CAST(pos_px AS BIGINT) AS pos_px, pos_sum, label_sum")
    sqls["randaug"] = _fixture_sql(
        "randaug",
        "media_ref, CAST(seed AS BIGINT) AS seed, "
        "CAST(out_h AS BIGINT) AS out_h, CAST(out_w AS BIGINT) AS out_w, "
        "mean, CAST(vmin AS BIGINT) AS vmin, "
        "CAST(vmax AS BIGINT) AS vmax, CAST(crc AS BIGINT) AS crc")
    sqls["vl_label_encode"] = _fixture_sql(
        "vl_label_encode",
        "CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(change_id AS BIGINT) AS change_id, "
        "CAST(length AS BIGINT) AS length, "
        "CAST(length_res AS BIGINT) AS length_res, "
        "CAST(length_sub AS BIGINT) AS length_sub, "
        "label, label_res, label_sub")
    sqls["drrg_gt"] = _fixture_sql(
        "drrg_gt",
        "doc_id, CAST(text_px AS BIGINT) AS text_px, "
        "CAST(eff_px AS BIGINT) AS eff_px, "
        "CAST(center_px AS BIGINT) AS center_px, top_sum, bot_sum, "
        "sin_sum, cos_sum, CAST(n_comps AS BIGINT) AS n_comps, "
        "ax_sum, ay_sum, ah_sum, aw_sum, acos_sum, asin_sum, albl_sum")
    sqls["ct_gt"] = _fixture_sql(
        "ct_gt",
        "doc_id, CAST(gi_sum AS BIGINT) AS gi_sum, "
        "CAST(tm_sum AS BIGINT) AS tm_sum, "
        "CAST(gki_sum AS BIGINT) AS gki_sum, "
        "CAST(gk_sum AS BIGINT) AS gk_sum, "
        "CAST(tmd_sum AS BIGINT) AS tmd_sum, "
        "CAST(dist_px AS BIGINT) AS dist_px, dist_x, dist_y, "
        "CAST(img_crc AS BIGINT) AS img_crc")
    sqls["cvaug"] = _fixture_sql(
        "cvaug",
        "media_ref, variant, CAST(seed AS BIGINT) AS seed, "
        "CAST(out_h AS BIGINT) AS out_h, CAST(out_w AS BIGINT) AS out_w, "
        "mean, CAST(vmin AS BIGINT) AS vmin, "
        "CAST(vmax AS BIGINT) AS vmax, CAST(crc AS BIGINT) AS crc")
    sqls["table_xlsx"] = _fixture_sql(
        "table_xlsx",
        "CAST(t_id AS BIGINT) AS t_id, CAST(n_rows AS BIGINT) AS n_rows, "
        "CAST(n_cols AS BIGINT) AS n_cols, CAST(n_merges AS BIGINT) AS "
        "n_merges, CAST(xlsx_size AS BIGINT) AS xlsx_size, xlsx_md5")
    sqls["sr_metric"] = _fixture_sql(
        "sr_metric", "media_ref, psnr, ssim")
    sqls["det_fce_metric"] = _fixture_sql(
        "det_fce_metric",
        "thr, precision, recall, hmean, hmean_max, ap")
    sqls["config_transforms"] = _fixture_sql(
        "config_transforms",
        "media_ref, CAST(ndim AS BIGINT) AS ndim, "
        "CAST(dim0 AS BIGINT) AS dim0, CAST(dim1 AS BIGINT) AS dim1, "
        "CAST(numel AS BIGINT) AS numel, mean")
    sqls["e2e_deteval"] = _fixture_sql(
        "e2e_deteval",
        "precision, recall, f_score, seqerr, recall_e2e, precision_e2e, "
        "f_score_e2e, CAST(total_num_gt AS BIGINT) AS total_num_gt, "
        "CAST(total_num_det AS BIGINT) AS total_num_det, "
        "CAST(hit_str_count AS BIGINT) AS hit_str_count")
    sqls["ct_metric"] = _fixture_sql(
        "ct_metric",
        "precision, recall, f_score, "
        "CAST(total_num_gt AS BIGINT) AS total_num_gt, "
        "CAST(total_num_det AS BIGINT) AS total_num_det")
    sqls["table_metric"] = _fixture_sql(
        "table_metric",
        "acc, CAST(n_tables AS BIGINT) AS n_tables, "
        "bbox_metric_precision, bbox_metric_recall, bbox_metric_hmean, "
        "CAST(n_bbox_images AS BIGINT) AS n_bbox_images")
    sqls["can_metric"] = _fixture_sql(
        "can_metric",
        "word_rate, exp_rate, CAST(n_batches AS BIGINT) AS n_batches, "
        "CAST(n_lines AS BIGINT) AS n_lines")
    sqls["layout_preprocess"] = _fixture_sql(
        "layout_preprocess",
        "media_ref, CAST(channel AS BIGINT) AS channel, "
        "CAST(out_h AS BIGINT) AS out_h, CAST(out_w AS BIGINT) AS out_w, "
        "mean, vmin, vmax")
    sqls["rotate_crop"] = _fixture_sql(
        "rotate_crop",
        "media_ref, crop_id, CAST(out_h AS BIGINT) AS out_h, "
        "CAST(out_w AS BIGINT) AS out_w, CAST(pix_sum AS BIGINT) AS "
        "pix_sum, CAST(first_val AS BIGINT) AS first_val")
    sqls["east_nms"] = _fixture_sql(
        "east_nms",
        "doc_id, CAST(keep_order AS BIGINT) AS keep_order, "
        "x1, y1, x2, y2, score")

    sqls["media_decode"] = f"""
WITH {SYNTH_CTE.lstrip()},
refs AS (SELECT DISTINCT media_ref FROM synth_spans WHERE kind = 'media'),
h AS (SELECT media_ref, md5(media_ref) AS hx FROM refs),
b AS (
    SELECT media_ref, d.d AS dim,
           (strpos('0123456789abcdef', substring(hx, CAST(2*d.d + 1 AS INT),
                1)) - 1) * 16
           + (strpos('0123456789abcdef', substring(hx, CAST(2*d.d + 2 AS INT),
                1)) - 1) AS byte
    FROM h CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS d) d
),
meta AS (
    SELECT media_ref,
           max(CASE WHEN dim = 0 THEN 64 + byte * 4 END) AS width,
           max(CASE WHEN dim = 1 THEN 64 + byte * 4 END) AS height,
           max(CASE WHEN dim = 2 THEN 1 + byte % 8 END) AS n_frames
    FROM b GROUP BY media_ref
)
SELECT b.media_ref, CAST(meta.width AS BIGINT) AS width,
       CAST(meta.height AS BIGINT) AS height,
       CAST(meta.n_frames AS BIGINT) AS n_frames,
       CAST(b.dim AS BIGINT) AS dim,
       round(CAST(b.byte AS DOUBLE) / 255.0, 4) + 0 AS value
FROM b JOIN meta USING (media_ref)"""

    # --- S3 real decode: closed-form pixel prediction of the decoded
    #     statistics (imagecodecs render→encode→decode is what's checked) ---
    def _hxbyte(i: int) -> str:
        return (f"((strpos('0123456789abcdef', substring(hx, {2*i+1}, 1)) "
                f"- 1) * 16 + strpos('0123456789abcdef', substring(hx, "
                f"{2*i+2}, 1)) - 1)")

    sqls["media_decode_real"] = f"""
WITH {SYNTH_CTE.lstrip()},
refs AS (SELECT DISTINCT media_ref FROM synth_spans WHERE kind = 'media'),
h AS (SELECT media_ref, md5(media_ref) AS hx FROM refs),
meta AS (
    SELECT media_ref,
           {_hxbyte(0)} AS b0, {_hxbyte(1)} AS b1, {_hxbyte(2)} AS b2,
           8 + {_hxbyte(4)} % 9 AS height,
           8 + {_hxbyte(5)} % 9 AS width,
           {_hxbyte(6)} % 4 AS fmtidx
    FROM h
),
px AS (
    SELECT media_ref, fmtidx, width, height,
           (b0 + 7 * xs.x + 13 * ys.y) % 256 AS r,
           CASE WHEN fmtidx = 3 THEN (b0 + 7 * xs.x + 13 * ys.y) % 256
                ELSE (b1 + 7 * xs.x + 13 * ys.y) % 256 END AS g,
           CASE WHEN fmtidx = 3 THEN (b0 + 7 * xs.x + 13 * ys.y) % 256
                ELSE (b2 + 7 * xs.x + 13 * ys.y) % 256 END AS bl
    FROM meta
    CROSS JOIN (SELECT unnest(generate_series(0, 16)) AS x) xs
    CROSS JOIN (SELECT unnest(generate_series(0, 16)) AS y) ys
    WHERE xs.x < width AND ys.y < height
)
SELECT media_ref,
       CASE fmtidx WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
            WHEN 2 THEN 'png' ELSE 'png_gray' END AS fmt,
       CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
       CAST(CASE WHEN fmtidx = 3 THEN 1 ELSE 3 END AS BIGINT) AS channels,
       round(avg(CAST(r AS DOUBLE)), 4) + 0 AS mean_r,
       round(avg(CAST(g AS DOUBLE)), 4) + 0 AS mean_g,
       round(avg(CAST(bl AS DOUBLE)), 4) + 0 AS mean_b,
       round(avg(CAST((r + g + bl) // 3 AS DOUBLE)), 4) + 0 AS mean_gray,
       CAST(min((r + g + bl) // 3) AS BIGINT) AS min_gray,
       CAST(max((r + g + bl) // 3) AS BIGINT) AS max_gray,
       round(sum(CASE WHEN (r + g + bl) // 3 > 127 THEN 1.0 ELSE 0.0 END)
             / count(*), 4) + 0 AS frac_bright
FROM px GROUP BY media_ref, fmtidx, width, height"""

    # --- S2 real frames: closed-form per-frame prediction of the
    #     multi-frame GIF LZW encode→decode path + stride-2 sampling ---
    sqls["gif_frames"] = f"""
WITH {SYNTH_CTE.lstrip()},
refs AS (SELECT DISTINCT media_ref FROM synth_spans WHERE kind = 'media'),
h AS (SELECT media_ref, md5(media_ref) AS hx FROM refs),
meta AS (
    SELECT media_ref,
           {_hxbyte(0)} AS b0,
           1 + {_hxbyte(3)} % 4 AS n_frames,
           8 + {_hxbyte(4)} % 9 AS height,
           8 + {_hxbyte(5)} % 9 AS width
    FROM h
),
px AS (
    SELECT media_ref, n_frames, ks.k AS frame_idx, width, height,
           (b0 + 7 * xs.x + 13 * ys.y + 17 * ks.k) % 256 AS v
    FROM meta
    CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) ks
    CROSS JOIN (SELECT unnest(generate_series(0, 16)) AS x) xs
    CROSS JOIN (SELECT unnest(generate_series(0, 16)) AS y) ys
    WHERE ks.k < n_frames AND ks.k % 2 = 0
      AND xs.x < width AND ys.y < height
)
SELECT media_ref, CAST(n_frames AS BIGINT) AS n_frames,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
       round(avg(CAST(v AS DOUBLE)), 4) + 0 AS mean_gray,
       CAST(min(v) AS BIGINT) AS min_gray,
       CAST(max(v) AS BIGINT) AS max_gray
FROM px GROUP BY media_ref, n_frames, frame_idx, width, height"""

    sqls["union_sample"] = """
SELECT doc_id, source, 'fileA' AS file_tag FROM documents
WHERE source = 'src0' AND doc_id % 100 < 37
UNION ALL
SELECT doc_id, source, 'fileB' AS file_tag FROM documents
WHERE doc_id % 10 < 3 AND doc_id % 100 < 37"""

    sqls["topk_window"] = """
SELECT event_type, CAST(rank AS BIGINT) AS rank, event_id,
       round(value, 4) + 0 AS value
FROM (
    SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value DESC, event_id) AS rank
    FROM events
) WHERE rank <= 5"""

    cell_base = CELL_BASE_CTE

    sqls["cell_match"] = f"""
WITH {cell_base}
SELECT t_id, box_id, cell_id FROM assigned"""

    # same oracle, different physical plan (tile-bucketed candidates)
    sqls["cell_match_bucketed"] = sqls["cell_match"]

    sqls["cell_texts"] = f"""
WITH {cell_base}
SELECT t_id, cell_id,
       string_agg('w' || CAST(box_id % 100 AS VARCHAR), ' '
                  ORDER BY box_id) AS cell_text,
       CAST(count(*) AS BIGINT) AS n_boxes
FROM assigned GROUP BY t_id, cell_id"""

    sqls["e2e_eval"] = """
WITH base AS (
    SELECT l_orderkey % 50 AS t_id,
           l_orderkey * 10 + l_linenumber AS gid,
           CAST((l_partkey % 40) * 20 AS DOUBLE) AS x1,
           CAST((l_suppkey % 30) * 25 AS DOUBLE) AS y1,
           l_linenumber AS ln
    FROM lineitem WHERE l_linenumber <= 4
),
gt AS (
    SELECT t_id, gid AS gt_id, x1, y1, x1 + 30 AS x2, y1 + 20 AS y2,
           'text' || CAST(gid % 97 AS VARCHAR) AS gt_text
    FROM base
),
pred AS (
    SELECT t_id, gid AS pred_id,
           x1 + CASE WHEN ln <= 2 THEN 2.0 ELSE 5000.0 END AS px1,
           y1 + CASE WHEN ln <= 2 THEN 2.0 ELSE 5000.0 END AS py1,
           x1 + CASE WHEN ln <= 2 THEN 2.0 ELSE 5000.0 END + 30 AS px2,
           y1 + CASE WHEN ln <= 2 THEN 2.0 ELSE 5000.0 END + 20 AS py2,
           'text' || CAST((gid + 1) % 97 AS VARCHAR) AS pred_text
    FROM base
),
m AS (
    SELECT gt_text, pred_text,
           greatest(0.0, least(x2, px2) - greatest(x1, px1))
           * greatest(0.0, least(y2, py2) - greatest(y1, py1)) AS inter,
           (x2-x1)*(y2-y1) + (px2-px1)*(py2-py1)
           - greatest(0.0, least(x2, px2) - greatest(x1, px1))
             * greatest(0.0, least(y2, py2) - greatest(y1, py1)) AS u
    FROM gt JOIN pred USING (t_id)
    -- implied by inter/u > 0.5 (strict overlap of equal-size 30x20
    -- boxes); lets DuckDB IEJoin skip the full per-table fan-out
    WHERE abs(x1 - px1) < 30 AND abs(y1 - py1) < 20
)
SELECT CAST(count(*) AS BIGINT) AS n_matched,
       round(avg(levenshtein(gt_text, pred_text)), 4) + 0 AS avg_edit,
       round(avg(CASE WHEN gt_text = pred_text THEN 1.0 ELSE 0.0 END), 4)
           + 0 AS exact_rate
FROM m WHERE inter / u > 0.5"""

    sqls["embed_stats"] = """
SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             / len(embedding), 4) + 0 AS mean_val,
       round(list_aggregate(list_transform(embedding,
             x -> CAST(x AS DOUBLE)), 'max'), 4) + 0 AS max_val
FROM embeddings"""

    sqls["page_limit"] = f"""
WITH {SYNTH_CTE.lstrip()}, {GEOM_CTE.lstrip()}
SELECT doc_id, span_idx, CAST(y1 // 1100 AS BIGINT) AS page_idx
FROM synth_geom WHERE y1 // 1100 < 2"""

    sqls["dim_join_broadcast"] = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) + 0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand"""

    sqls["rec_metric"] = """
WITH pairs AS (
    SELECT text AS tgt,
           CASE WHEN doc_id % 3 = 0 THEN text
                ELSE translate(text, 'ae', 'ea') END AS pred
    FROM documents
)
SELECT round(avg(CASE WHEN replace(pred, ' ', '') = replace(tgt, ' ', '')
                 THEN 1.0 ELSE 0.0 END), 4) + 0 AS exact_acc,
       round(avg(1.0 - levenshtein(pred, tgt)
                 / CAST(greatest(length(pred), length(tgt), 1) AS DOUBLE)),
             4) + 0 AS norm_edit_sim,
       CAST(count(*) AS BIGINT) AS n
FROM pairs"""

    sqls["distillation_metric"] = """
WITH student AS (
    SELECT text AS tgt,
           CASE WHEN doc_id % 3 = 0 THEN text
                ELSE translate(text, 'ae', 'ea') END AS pred
    FROM documents
), teacher AS (
    SELECT text AS tgt,
           CASE WHEN doc_id % 2 = 0 THEN text
                ELSE translate(text, 'o', '0') END AS pred
    FROM documents
), s_agg AS (
    SELECT round(avg(CASE WHEN replace(pred, ' ', '') =
                               replace(tgt, ' ', '')
                     THEN 1.0 ELSE 0.0 END), 4) + 0 AS exact_acc,
           round(avg(1.0 - levenshtein(pred, tgt)
                     / CAST(greatest(length(pred), length(tgt), 1)
                            AS DOUBLE)), 4) + 0 AS norm_edit_sim,
           CAST(count(*) AS DOUBLE) AS n
    FROM student
), t_agg AS (
    SELECT round(avg(CASE WHEN replace(pred, ' ', '') =
                               replace(tgt, ' ', '')
                     THEN 1.0 ELSE 0.0 END), 4) + 0 AS exact_acc,
           round(avg(1.0 - levenshtein(pred, tgt)
                     / CAST(greatest(length(pred), length(tgt), 1)
                            AS DOUBLE)), 4) + 0 AS norm_edit_sim,
           CAST(count(*) AS DOUBLE) AS n
    FROM teacher
)
SELECT 'exact_acc' AS metric, exact_acc AS value FROM s_agg
UNION ALL SELECT 'norm_edit_sim', norm_edit_sim FROM s_agg
UNION ALL SELECT 'n', n FROM s_agg
UNION ALL SELECT 'Teacher_exact_acc', exact_acc FROM t_agg
UNION ALL SELECT 'Teacher_norm_edit_sim', norm_edit_sim FROM t_agg
UNION ALL SELECT 'Teacher_n', n FROM t_agg"""

    sqls["det_metric"] = """
WITH d AS (
    SELECT n_chars % 7 + 1 AS gt, (n_chars * 3) % 8 AS det
    FROM documents
), m AS (
    SELECT gt, det, least(gt, det, (gt * det) % 5) AS matched FROM d
), agg AS (
    SELECT CAST(sum(matched) AS DOUBLE) AS m, CAST(sum(det) AS DOUBLE) AS d,
           CAST(sum(gt) AS DOUBLE) AS g
    FROM m
)
SELECT round(m / d, 4) + 0 AS precision, round(m / g, 4) + 0 AS recall,
       round(2 * (m/d) * (m/g) / (m/d + m/g), 4) + 0 AS hmean
FROM agg"""

    sqls["strq2b"] = f"""
SELECT doc_id,
       translate(substring('ＡＢＣＤＥ', CAST(doc_id % 5 AS INT) + 1, 1)
                 || '　'
                 || substring('０１２３４', CAST(doc_id % 5 AS INT) + 1, 1)
                 || text, '{T.FW}', '{T.HW.replace("'", "''")}') AS folded
FROM documents"""

    from .operators.recognize import CHARSET
    cs_sql = CHARSET.replace("'", "''")
    sqls["ctc_roundtrip"] = f"""
WITH base AS (
    SELECT printf('doc_%07d', doc_id) AS doc_id,
           CAST(0 AS BIGINT) AS span_idx, coalesce(text, '') AS text
    FROM documents
),
dec AS (
    SELECT doc_id, span_idx,
           array_to_string(list_filter(
               list_transform(generate_series(1, length(text)),
                              i -> substring(text, CAST(i AS INT), 1)),
               c -> strpos('{cs_sql}', c) > 0), '') AS rec_text0
    FROM base
)
SELECT doc_id, span_idx,
       CASE WHEN substring(md5(doc_id || ':0'), 1, 1) = '0'
            THEN reverse(rec_text0) ELSE rec_text0 END AS rec_text,
       CAST(CASE WHEN length(rec_text0) > 0 THEN 1.0 ELSE 0.0 END
            AS DOUBLE) AS rec_score,
       CASE WHEN substring(md5(doc_id || ':0'), 1, 1) = '0'
            THEN '180' ELSE '0' END AS cls_label
FROM dec"""

    sqls["ngram_topk"] = f"""
WITH w AS (
    SELECT list_filter(string_split(lower(text), ' '), x -> x != '') AS w
    FROM documents
),
bi AS (
    SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i + 1])) AS ngram
    FROM w WHERE len(w) >= 2
)
SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
FROM bi GROUP BY ngram
ORDER BY cnt DESC, ngram
LIMIT {T.NGRAM_TOPK_K}"""

    sqls["token_count"] = f"""
SELECT doc_id,
       CAST(len({_WORDS}) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(lower(text),
            '{T.BPE_TOKEN_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents"""

    hit_cols = ",\n       ".join(
        _stopword_hits(lg) for lg in T.LANG_STOPWORDS)
    first = next(iter(T.LANG_STOPWORDS))
    best = "greatest(" + ", ".join(
        f"hits_{lg}" for lg in T.LANG_STOPWORDS) + ")"
    pred = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lg} = {best} THEN '{lg}'"
        for lg in T.LANG_STOPWORDS) + " END"
    sqls["lang_id"] = f"""
WITH w AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
h AS (SELECT doc_id, lang,
       {hit_cols}
      FROM w)
SELECT doc_id, lang, {pred} AS pred_lang,
       hits_{", hits_".join(T.LANG_STOPWORDS)}
FROM h"""
    assert first == "en"

    arr = ", ".join(f"'{s}'" for s in T.QUALITY_STOPWORDS)
    sqls["quality_score"] = f"""
WITH f AS (
    SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(len({_WORDS}) AS DOUBLE) AS n_words,
           CAST(len(list_filter(string_split(lower(text), ' '),
                w -> list_contains([{arr}], w))) AS DOUBLE) AS n_stop,
           CAST(length(text) - length(regexp_replace(text,
                '[.,;:!?''"()-]', '', 'g')) AS DOUBLE) AS n_punct
    FROM documents
), r AS (
    SELECT doc_id,
           CASE WHEN n_words > 0 THEN (n_chars - n_words + 1) / n_words
                ELSE 0.0 END AS mean_wl,
           CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS pr,
           CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END AS sr,
           n_words
    FROM f
)
SELECT doc_id, round(mean_wl, 4) + 0 AS mean_word_len,
       round(pr, 4) + 0 AS punct_ratio, round(sr, 4) + 0 AS stopword_ratio,
       round(0.4 * least(n_words / 100.0, 1.0)
             + 0.2 * (CASE WHEN mean_wl >= 3.0 AND mean_wl <= 10.0
                      THEN 1.0 ELSE 0.0 END)
             + 0.2 * (1.0 - least(pr * 5.0, 1.0))
             + 0.2 * least(sr * 10.0, 1.0), 4) + 0 AS quality
FROM r"""

    sqls["adaptive_quality_filter"] = f"""
WITH q AS ({sqls["quality_score"]}
), j AS (
    SELECT d.doc_id, d.lang, q.quality
    FROM documents d JOIN q USING (doc_id)
), rk AS (
    SELECT *, row_number() OVER (PARTITION BY lang
                                 ORDER BY quality, doc_id) AS rk,
           count(*) OVER (PARTITION BY lang) AS n_docs
    FROM j
), thr AS (
    SELECT lang, quality AS lang_p10 FROM rk
    WHERE rk = (n_docs + 9) // 10
)
SELECT j.doc_id, j.lang, j.quality, thr.lang_p10,
       j.quality >= thr.lang_p10 AS kept
FROM j JOIN thr USING (lang)"""

    _lw = CU.LINE_WIDTH_WORDS
    sqls["line_dedup"] = f"""
WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents
), c AS (
    SELECT doc_id,
           md5(array_to_string(w[(i - 1) * {_lw} + 1:i * {_lw}], ' ')) AS ck
    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) // {_lw})) AS i
          FROM d WHERE len(w) >= {_lw})
), fr AS (
    SELECT ck, count(DISTINCT doc_id) AS ndocs FROM c GROUP BY ck
), pd AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_lines
    FROM c JOIN fr USING (ck) GROUP BY doc_id
), j AS (
    SELECT d.doc_id,
           CAST(coalesce(pd.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(pd.n_dup_lines, 0) AS BIGINT) AS n_dup_lines,
           coalesce(round(pd.n_dup_lines / CAST(pd.n_lines AS DOUBLE), 4),
                    0.0) + 0 AS dup_frac
    FROM d LEFT JOIN pd USING (doc_id)
)
SELECT doc_id, n_lines, n_dup_lines, dup_frac,
       dup_frac < {CU.LINE_DUP_DROP_FRAC} AS kept
FROM j"""

    _nibs = ", ".join(f"'{n}'" for n in CU.C4_NO_PUNCT_NIBBLES)
    _bl = " OR ".join(f"x = '{b}'" for b in CU.BLOCKLIST)
    sqls["c4_clean"] = f"""
WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents
), c AS (
    SELECT doc_id,
           w[(i - 1) * {_lw} + 1 : least(i * {_lw}, len(w))] AS lwd
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, (len(w) + {_lw} - 1) // {_lw}))
                     AS i
          FROM d)
), s AS (
    SELECT doc_id, len(lwd) AS n,
           len(lwd) >= {CU.C4_MIN_LINE_WORDS}
               AND substring(md5(array_to_string(lwd, ' ')), 1, 1)
                   NOT IN ({_nibs}) AS k
    FROM c
), pd AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(coalesce(sum(CASE WHEN k THEN 1 END), 0) AS BIGINT)
               AS n_kept,
           CAST(coalesce(sum(CASE WHEN k THEN n END), 0) AS BIGINT)
               AS kept_words
    FROM s GROUP BY doc_id
), bl AS (
    SELECT doc_id,
           CAST(len(list_filter(w, x -> {_bl})) AS BIGINT) AS n_blocked
    FROM d
)
SELECT d.doc_id,
       CAST(coalesce(pd.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(coalesce(pd.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(pd.kept_words, 0) AS BIGINT) AS kept_words,
       bl.n_blocked,
       coalesce(pd.n_kept, 0) >= {CU.C4_MIN_KEPT_LINES}
           AND bl.n_blocked = 0 AS kept
FROM d LEFT JOIN pd USING (doc_id) JOIN bl USING (doc_id)"""

    sqls["blocklist_filter"] = f"""
WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents)
SELECT doc_id,
       CAST(len(list_filter(w, x -> {_bl})) AS BIGINT) AS n_blocked,
       len(list_filter(w, x -> {_bl})) = 0 AS kept
FROM d"""

    sqls["pii_redact"] = f"""
WITH p0 AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text
                    || ' contact doc' || CAST(doc_id AS VARCHAR)
                    || '@example.com'
                    || ' +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' 10.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                WHEN doc_id % 3 = 1 THEN text
                    || ' mail doc' || CAST(doc_id AS VARCHAR)
                    || '@example.com'
                ELSE text END AS t0
    FROM documents
), p1 AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(t0, '{CU.PII_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           regexp_replace(t0, '{CU.PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
    FROM p0
), p2 AS (
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t1, '{CU.PII_PHONE_RE}')) AS BIGINT)
               AS n_phones,
           regexp_replace(t1, '{CU.PII_PHONE_RE}', '<PHONE>', 'g') AS t2
    FROM p1
)
SELECT doc_id, n_emails, n_phones,
       CAST(len(regexp_extract_all(t2, '{CU.PII_IP_RE}')) AS BIGINT) AS n_ips,
       regexp_replace(t2, '{CU.PII_IP_RE}', '<IP>', 'g') AS redacted
FROM p2"""

    sqls["sampling_temperature"] = f"""
WITH pl AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_WORDS})) AS BIGINT) AS n_words
    FROM documents GROUP BY lang
), t AS (SELECT CAST(sum(n_words) AS DOUBLE) AS tw FROM pl
), p AS (SELECT pl.*, n_words / tw AS p_raw FROM pl CROSS JOIN t
), z AS (SELECT sum(power(p_raw, {CU.SAMPLING_ALPHA})) AS z FROM p)
SELECT lang, n_docs, n_words,
       round(p_raw, 4) + 0 AS share_raw,
       round(power(p_raw, {CU.SAMPLING_ALPHA}) / z, 4) + 0 AS share_alpha,
       round(power(p_raw, {CU.SAMPLING_ALPHA}) / z / p_raw, 4) + 0 AS boost
FROM p CROSS JOIN z"""

    sqls["fingerprint"] = f"""
WITH w AS (SELECT doc_id, text, {_WORDS} AS w FROM documents)
SELECT doc_id,
       CASE WHEN len(w) < 5 THEN md5(coalesce(text, ''))
            ELSE list_aggregate(list_transform(generate_series(1, len(w) - 4),
                 i -> md5(array_to_string(w[i:i+4], ' '))), 'min')
       END AS fingerprint
FROM w"""

    sqls["gopher_rules"] = f"""
WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
gbase AS (
    SELECT doc_id,
           len(w) AS n_words,
           len(list_distinct(w)) AS n_distinct,
           coalesce(list_sum(list_transform(w, x -> length(x))), 0)
               AS n_chars,
           len(list_filter(w, x -> regexp_matches(x, '^[^a-z]*$')))
               AS no_alpha,
           coalesce(list_sum(list_transform(w, x -> length(
               regexp_replace(x, '[^#…$%@*+=<>^|~]', '', 'g')))), 0)
               AS n_sym
    FROM w
),
ggrams AS (
    SELECT doc_id,
           unnest(CASE WHEN len(w) < 2 THEN []
                  ELSE list_transform(generate_series(1, len(w) - 1),
                       i -> array_to_string(w[i:i+1], ' ')) END) AS g
    FROM w
),
ggc AS (SELECT doc_id, g, count(*) AS c FROM ggrams GROUP BY doc_id, g),
gtop AS (
    SELECT doc_id, (length(g) - 1) * c AS top_chars FROM (
        SELECT doc_id, g, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, g) AS rn
        FROM ggc
    ) WHERE rn = 1
),
gj AS (
    SELECT gbase.*, coalesce(gtop.top_chars, 0) AS top_chars
    FROM gbase LEFT JOIN gtop USING (doc_id)
),
gr AS (
    SELECT doc_id,
           CASE WHEN n_words > 0
                THEN 1.0 - n_distinct / CAST(n_words AS DOUBLE)
                ELSE 0.0 END AS dup,
           CASE WHEN n_chars > 0
                THEN top_chars / CAST(n_chars AS DOUBLE)
                ELSE 0.0 END AS tb,
           CASE WHEN n_words > 0 THEN n_sym / CAST(n_words AS DOUBLE)
                ELSE 0.0 END AS sym,
           CASE WHEN n_words > 0 THEN no_alpha / CAST(n_words AS DOUBLE)
                ELSE 0.0 END AS noal
    FROM gj
)
SELECT doc_id,
       round(dup, 4) + 0 AS dup_word_frac,
       round(tb, 4) + 0 AS top_bigram_char_frac,
       round(sym, 4) + 0 AS symbol_word_ratio,
       round(noal, 4) + 0 AS no_alpha_word_frac,
       (dup <= {T.GOPHER_MAX_DUP_WORD_FRAC}
        AND tb <= {T.GOPHER_MAX_TOP_BIGRAM_CHAR_FRAC}
        AND sym <= {T.GOPHER_MAX_SYMBOL_WORD_RATIO}
        AND noal <= {T.GOPHER_MAX_NO_ALPHA_WORD_FRAC}) AS gopher_pass
FROM gr"""

    def _page_blocks(p: str) -> str:
        """The ``{p}0`` … ``{p}n`` CTEs: one row per block of each page,
        (doc_id, did, wl, W, nb, b, role, nw), in closed form. Keep in
        lockstep with content.py's _ROLE and _WN."""
        return f"""WITH {p}0 AS (
  SELECT doc_id, CAST(doc_id AS BIGINT) AS did, {_WORDS} AS wl
  FROM documents
), {p}1 AS (
  SELECT doc_id, did, wl, len(wl) AS W, 6 + did % 7 AS nb
  FROM {p}0 WHERE len(wl) >= 1
), {p}b AS (
  SELECT doc_id, did, wl, W, nb, unnest(range(0, nb)) AS b FROM {p}1
), {p}r AS (
  SELECT *, CASE WHEN b = 0 THEN 'nav'
                 WHEN b = nb - 1 THEN 'footer'
                 WHEN (did + b) % 5 = 2 THEN 'h'
                 WHEN (did * 3 + b) % 11 = 7 THEN 'aside'
                 ELSE 'p' END AS role
  FROM {p}b
), {p}n AS (
  SELECT *, CASE role WHEN 'nav' THEN 6 WHEN 'footer' THEN 5
                 WHEN 'h' THEN 2 + (did + b) % 3
                 WHEN 'aside' THEN 4 + (did + b) % 4
                 ELSE 8 + (did * 7 + b * 5) % 56 END AS nw
  FROM {p}r
)"""

    # the html tag each block role serializes as (content._OPEN)
    _BLOCK_TAG = """         CASE WHEN role IN ('nav', 'aside') THEN 'div'
              WHEN role = 'footer' THEN 'footer'
              WHEN role = 'h' THEN CASE WHEN b = 1 THEN 'h1' ELSE 'h2' END
              ELSE 'p' END AS tag,"""

    # main_content twin: predicts every block feature CLOSED-FORM from the
    # HTML-generator formulas in functions/content.py (it never parses the
    # serialized page, so Spark's serialize->regex-parse path is itself
    # hash-gated), then replays jusText classify+revise with DuckDB window
    # functions. Keep the (did, b, k) formulas in lockstep with
    # content.synth_html_expr.
    _mc_stop = "[" + ", ".join(f"'{w}'" for w in MC.STOPLIST) + "]"
    _mc_tok = f"""
      CASE WHEN role = 'p' AND did % 17 = 9 AND b = 2 AND k = 0 THEN '©2026'
           WHEN role = 'p' AND (did + b) % 2 = 0 AND (k + b) % 3 = 0
             THEN list_extract({_mc_stop}, (did + k) % 8 + 1)
           WHEN role = 'p' AND (did + b) % 2 = 1 AND (k + b) % 5 = 0
             THEN list_extract({_mc_stop}, (did + k) % 8 + 1)
           ELSE list_extract(wl, (did * 13 + b * 29 + k) % W + 1) END"""
    _mc_linked = """
      CASE WHEN role IN ('nav', 'footer') THEN k % 2 = 0
           WHEN role = 'aside' THEN k % 3 = 0
           WHEN role = 'p' THEN (did + 17 * b + 3 * k) % 37 = 3
           ELSE false END"""
    sqls["main_content"] = f"""
{_page_blocks("mc")}, mct AS (
  SELECT doc_id, did, b, role, nw,
         list_transform(range(0, nw), k -> {_mc_tok}) AS toks,
         list_transform(range(0, nw), k ->
             CASE WHEN ({_mc_linked}) THEN 1 ELSE 0 END) AS lks
  FROM mcn
), mcf AS (
  SELECT doc_id, CAST(b AS BIGINT) AS block_idx,
{_BLOCK_TAG}
         array_to_string(toks, ' ') AS text,
         role = 'h' AS heading,
         length(array_to_string(toks, ' ')) AS len_text,
         nw AS n_words,
         coalesce(list_sum(list_transform(range(0, nw), k ->
             list_extract(lks, k + 1) * length(list_extract(toks, k + 1)))),
             0) AS link_chars,
         len(list_filter(toks, x -> list_contains({_mc_stop}, x))) AS stop_n
  FROM mct
), mcd AS (
  SELECT *, CAST(link_chars AS DOUBLE) / len_text AS link_d,
         CAST(stop_n AS DOUBLE) / n_words AS stop_d
  FROM mcf
), mccf AS (
  SELECT *, CASE
      WHEN link_d > {MC.MAX_LINK_DENSITY} THEN 'bad'
      WHEN contains(text, '©') OR contains(text, '&copy') THEN 'bad'
      WHEN len_text < {MC.LENGTH_LOW} THEN
          CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
      WHEN stop_d >= {MC.STOPWORDS_HIGH} THEN
          CASE WHEN len_text > {MC.LENGTH_HIGH} THEN 'good' ELSE 'neargood' END
      WHEN stop_d >= {MC.STOPWORDS_LOW} THEN 'neargood'
      ELSE 'bad' END AS cf
  FROM mcd
), mcs1 AS (
  SELECT *, sum(len_text) OVER (PARTITION BY doc_id ORDER BY block_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM mccf
), mcs2 AS (
  SELECT *, cum - len_text AS cum_prev
  FROM mcs1
), mcs3 AS (
  SELECT *,
      min(CASE WHEN cf = 'good' THEN cum_prev END) OVER
          (PARTITION BY doc_id ORDER BY block_idx
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ng_cum0
  FROM mcs2
), mcs4 AS (
  SELECT *, CASE WHEN heading AND cf = 'short'
                  AND ng_cum0 - cum <= {MC.MAX_HEADING_DISTANCE}
             THEN 'neargood' ELSE cf END AS cls1
  FROM mcs3
), mcs5 AS (
  SELECT *,
      coalesce(last_value(CASE WHEN cls1 IN ('good', 'bad') THEN cls1 END
          IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY block_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad') AS p_ign,
      coalesce(first_value(CASE WHEN cls1 IN ('good', 'bad') THEN cls1 END
          IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY block_idx
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 'bad') AS n_ign,
      coalesce(last_value(CASE WHEN cls1 IN ('good', 'bad', 'neargood')
          THEN cls1 END IGNORE NULLS) OVER (PARTITION BY doc_id
          ORDER BY block_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad') AS p_ng,
      coalesce(first_value(CASE WHEN cls1 IN ('good', 'bad', 'neargood')
          THEN cls1 END IGNORE NULLS) OVER (PARTITION BY doc_id
          ORDER BY block_idx
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 'bad') AS n_ng
  FROM mcs4
), mcs6 AS (
  SELECT *, CASE WHEN cls1 != 'short' THEN cls1
      WHEN p_ign = 'good' AND n_ign = 'good' THEN 'good'
      WHEN p_ign = 'bad' AND n_ign = 'bad' THEN 'bad'
      WHEN (p_ign = 'bad' AND p_ng = 'neargood')
        OR (n_ign = 'bad' AND n_ng = 'neargood') THEN 'good'
      ELSE 'bad' END AS cls2
  FROM mcs5
), mcs7 AS (
  SELECT *,
      coalesce(last_value(CASE WHEN cls2 IN ('good', 'bad') THEN cls2 END
          IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY block_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad') AS p2,
      coalesce(first_value(CASE WHEN cls2 IN ('good', 'bad') THEN cls2 END
          IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY block_idx
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 'bad') AS n2
  FROM mcs6
), mcs8 AS (
  SELECT *, CASE WHEN cls2 = 'neargood' THEN
          CASE WHEN p2 = 'bad' AND n2 = 'bad' THEN 'bad' ELSE 'good' END
      ELSE cls2 END AS cls3
  FROM mcs7
), mcs9 AS (
  SELECT *, min(CASE WHEN cls3 = 'good' THEN cum_prev END) OVER
          (PARTITION BY doc_id ORDER BY block_idx
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ng_cum3
  FROM mcs8
), mcs10 AS (
  SELECT *, CASE WHEN heading AND cls3 = 'bad' AND cf != 'bad'
                  AND ng_cum3 - cum <= {MC.MAX_HEADING_DISTANCE}
             THEN 'good' ELSE cls3 END AS final
  FROM mcs9
)
SELECT doc_id, block_idx, tag, text,
       cf AS cf_class, final AS final_class,
       final = 'good' AS kept,
       CAST(len_text AS BIGINT) AS len_text,
       CAST(n_words AS BIGINT) AS n_words,
       round(link_d, 4) + 0 AS link_density,
       round(stop_d, 4) + 0 AS stop_density
FROM mcs10"""

    # readability_extract twin: same closed-form discipline as main_content
    # (never parses the serialized page); the comma-decoration formula and
    # the arc90 weight tables MUST stay in lockstep with
    # content.synth_html_expr(comma=True) / content.readability_extract.
    _rd_comma = "(role = 'p' AND (did * 11 + b * 7 + k * 5) % 13 = 4)"
    sqls["readability_extract"] = f"""
{_page_blocks("rd")}, rdt AS (
  SELECT doc_id, did, b, role, nw,
         list_transform(range(0, nw), k -> {_mc_tok}
             || CASE WHEN {_rd_comma} THEN ',' ELSE '' END) AS toks2,
         list_transform(range(0, nw), k ->
             CASE WHEN ({_mc_linked})
                  THEN length({_mc_tok}) ELSE 0 END) AS lkch,
         len(list_filter(range(0, nw), k -> {_rd_comma})) AS commas
  FROM rdn
), rdf AS (
  SELECT doc_id, CAST(b AS BIGINT) AS block_idx,
{_BLOCK_TAG}
         CASE WHEN role IN ('nav', 'aside') THEN role ELSE '' END AS klass,
         array_to_string(toks2, ' ') AS text,
         length(array_to_string(toks2, ' ')) AS len_text,
         CAST(commas AS BIGINT) AS commas,
         coalesce(list_sum(lkch), 0) AS link_chars
  FROM rdt
), rdw AS (
  SELECT *,
         CASE tag WHEN 'div' THEN 5 WHEN 'footer' THEN -3
              WHEN 'h1' THEN -5 WHEN 'h2' THEN -5 ELSE 0 END
         + CASE WHEN klass IN ('nav', 'aside', 'footer', 'sidebar',
                               'comment') OR tag = 'footer'
                THEN -25 ELSE 0 END
         + 1 + commas
         + least(CAST(floor(len_text / 100) AS BIGINT), 3) AS raw_score,
         CAST(link_chars AS DOUBLE) / len_text AS link_d
  FROM rdf
)
SELECT doc_id, block_idx, tag, klass, text, commas,
       CAST(len_text AS BIGINT) AS len_text,
       CAST(link_chars AS BIGINT) AS link_chars,
       CAST(raw_score AS BIGINT) AS raw_score,
       round(link_d, 4) + 0 AS link_density,
       round(raw_score * (1.0 - link_d), 4) + 0 AS score,
       round(raw_score * (1.0 - link_d), 4) >= {MC.READ_MIN_SCORE} AS kept
FROM rdw"""

    # boilerpipe_extract twin: closed-form features (word counts are the
    # generator's nw; linked-word counts replay the _LINKED_BP rule), then
    # the published NumWordsRulesClassifier tree over lag/lead. Keep in
    # lockstep with content.synth_html_expr(_LINKED_BP) /
    # content.boilerpipe_extract.
    _bp_linked = """
      CASE WHEN role IN ('nav', 'footer') THEN k % 2 = 0
           WHEN role = 'aside' THEN k % 3 != 2
           WHEN role = 'p' THEN (did + 17 * b + 3 * k) % 37 = 3
           ELSE false END"""
    sqls["boilerpipe_extract"] = f"""
{_page_blocks("bp")}, bpf AS (
  SELECT doc_id, CAST(b AS BIGINT) AS block_idx,
{_BLOCK_TAG}
         CASE WHEN role IN ('nav', 'aside') THEN role ELSE '' END AS klass,
         array_to_string(list_transform(range(0, nw), k -> {_mc_tok}),
                         ' ') AS text,
         CAST(nw AS BIGINT) AS n_words,
         CAST(len(list_filter(range(0, nw), k -> {_bp_linked}))
              AS BIGINT) AS linked_words
  FROM bpn
), bpw AS (
  SELECT *,
         CAST(linked_words AS DOUBLE) / n_words AS ld,
         coalesce(lag(n_words) OVER
             (PARTITION BY doc_id ORDER BY block_idx), 0) AS prev_nw,
         coalesce(lead(n_words) OVER
             (PARTITION BY doc_id ORDER BY block_idx), 0) AS next_nw,
         coalesce(lag(CAST(linked_words AS DOUBLE) / n_words) OVER
             (PARTITION BY doc_id ORDER BY block_idx), 0.0) AS prev_ld
  FROM bpf
)
SELECT doc_id, block_idx, tag, klass, text, n_words, linked_words,
       CAST(prev_nw AS BIGINT) AS prev_nw,
       CAST(next_nw AS BIGINT) AS next_nw,
       round(ld, 4) + 0 AS link_density_words,
       round(prev_ld, 4) + 0 AS prev_link_density,
       CASE WHEN ld <= {MC.BP_CURR_LD} THEN
           CASE WHEN prev_ld <= {MC.BP_PREV_LD} THEN
               CASE WHEN n_words <= 16 THEN
                   CASE WHEN next_nw <= 15 THEN prev_nw > 4
                        ELSE true END
                    ELSE true END
                ELSE
               CASE WHEN n_words <= 40 THEN next_nw > 17 ELSE true END
           END
           ELSE false END AS content
FROM bpw"""

    # gopher_repetition twin: decoration formulas + every signal mirrored
    # from functions/repetition.py (word-granular chars, first-occurrence
    # exemption, overlap-aware position union). Keep in lockstep.
    _rp_w = CU.LINE_WIDTH_WORDS                    # line width (8)
    _rp_p = REP.PARA_LINES * _rp_w                 # paragraph width (32)
    _rp_tops = " ".join(
        f"max(CASE WHEN n = {n} THEN frac END) AS top{n}," for n in (2, 3, 4))
    _rp_dups = " ".join(
        f"sum(CASE WHEN n = {n} THEN cov END) AS d{n}," for n in range(5, 11))
    _rp_fracs = {
        "dup_line_frac": ("coalesce(ln_dup / ln_n, 0.0)",
                          REP.REP_MAX_DUP_LINE_FRAC),
        "dup_line_char_frac": ("coalesce(ln_chars / n_chars, 0.0)",
                               REP.REP_MAX_DUP_LINE_CHAR_FRAC),
        "dup_para_frac": ("coalesce(pa_dup / pa_n, 0.0)",
                          REP.REP_MAX_DUP_PARA_FRAC),
        "dup_para_char_frac": ("coalesce(pa_chars / n_chars, 0.0)",
                               REP.REP_MAX_DUP_PARA_CHAR_FRAC),
        **{f"top{n}_char_frac": (f"coalesce(top{n}, 0.0)", t)
           for n, t in REP.REP_MAX_TOP_CHAR_FRAC.items()},
        **{f"dup{n}_char_frac": (f"coalesce(d{n} / n_chars, 0.0)", t)
           for n, t in REP.REP_MAX_DUP_CHAR_FRAC.items()},
    }
    _rp_sel = " ".join(f"round({e}, 4) + 0 AS {name},"
                       for name, (e, _) in _rp_fracs.items())
    _rp_pass = " AND ".join(f"round({e}, 4) <= {t}"
                            for e, t in _rp_fracs.values())
    sqls["gopher_repetition"] = f"""
WITH gp0 AS (
  SELECT doc_id, CAST(doc_id AS BIGINT) AS did, {_WORDS} AS w0
  FROM documents
), gpc AS (
  SELECT doc_id,
         CASE WHEN did % 7 = 3 THEN
                flatten(list_transform(range(1, 4), i -> w0[1:{_rp_p}]))
              WHEN did % 11 = 5 THEN
                list_concat(w0, flatten(list_transform(range(1, 21),
                    i -> w0[1:2])))
              ELSE w0 END AS w
  FROM gp0 WHERE len(w0) >= 1
), gpb AS (
  SELECT doc_id, w, len(w) AS n_words,
         coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS n_chars
  FROM gpc
), gpt AS (
  SELECT doc_id, n_chars, n, g, count(*) AS c
  FROM (
    SELECT doc_id, n_chars, n,
           unnest(list_transform(range(0, len(w) - n + 1),
               i -> array_to_string(w[i + 1 : i + n], ' '))) AS g
    FROM gpb, (SELECT unnest([2, 3, 4]) AS n)
  ) GROUP BY ALL
), gptop AS (
  SELECT doc_id, n,
         CASE WHEN c <= 1 THEN 0.0
              ELSE (length(g) - (n - 1)) * c / n_chars END AS frac,
         row_number() OVER (PARTITION BY doc_id, n
                            ORDER BY c DESC, g) AS rn
  FROM gpt
), gptp AS (
  SELECT doc_id, {_rp_tops.rstrip(',')}
  FROM gptop WHERE rn = 1 GROUP BY doc_id
), gpo AS (
  SELECT doc_id, n, (p).i AS i, (p).g AS g
  FROM (
    SELECT doc_id, n,
           unnest(list_transform(range(0, len(w) - n + 1),
               i -> {{'i': i,
                     'g': array_to_string(w[i + 1 : i + n], ' ')}})) AS p
    FROM gpb, (SELECT unnest([5, 6, 7, 8, 9, 10]) AS n)
  )
), gpocc AS (
  SELECT doc_id, n, i,
         count(*) OVER (PARTITION BY doc_id, n, g) AS c,
         min(i) OVER (PARTITION BY doc_id, n, g) AS i0
  FROM gpo
), gpcov AS (
  SELECT DISTINCT doc_id, n, pos
  FROM (SELECT doc_id, n, unnest(range(i, i + n)) AS pos
        FROM gpocc WHERE c >= 2 AND i > i0)
), gpcv AS (
  SELECT doc_id, n, sum(length(w[pos + 1])) AS cov
  FROM gpcov JOIN gpc USING (doc_id)
  GROUP BY doc_id, n
), gpdp AS (
  SELECT doc_id, {_rp_dups.rstrip(',')}
  FROM gpcv GROUP BY doc_id
), gpl AS (
  SELECT doc_id, sum(c) AS ln_n, sum(c - 1) AS ln_dup,
         sum((c - 1) * (length(g) - {_rp_w - 1})) AS ln_chars
  FROM (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(w) // {_rp_w} + 1),
                         i -> array_to_string(
                             w[(i - 1) * {_rp_w} + 1 : i * {_rp_w}],
                             ' '))) AS g
              FROM gpb WHERE n_words >= {_rp_w})
        GROUP BY ALL)
  GROUP BY doc_id
), gpp AS (
  SELECT doc_id, sum(c) AS pa_n, sum(c - 1) AS pa_dup,
         sum((c - 1) * (length(g) - {_rp_p - 1})) AS pa_chars
  FROM (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(w) // {_rp_p} + 1),
                         i -> array_to_string(
                             w[(i - 1) * {_rp_p} + 1 : i * {_rp_p}],
                             ' '))) AS g
              FROM gpb WHERE n_words >= {_rp_p})
        GROUP BY ALL)
  GROUP BY doc_id
)
SELECT gpb.doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_chars AS BIGINT) AS n_chars,
       {_rp_sel.rstrip(',')},
       ({_rp_pass}) AS repetition_pass
FROM gpb
LEFT JOIN gptp ON gpb.doc_id = gptp.doc_id
LEFT JOIN gpdp ON gpb.doc_id = gpdp.doc_id
LEFT JOIN gpl ON gpb.doc_id = gpl.doc_id
LEFT JOIN gpp ON gpb.doc_id = gpp.doc_id"""

    sqls["dedup_exact"] = f"""
WITH {_CORPUS_CTE.lstrip()}
SELECT md5(coalesce(text, '')) AS content_hash,
       CAST(count(*) AS BIGINT) AS copies,
       min(doc_id) AS keeper_doc_id
FROM corpus GROUP BY 1 HAVING count(*) > 1"""

    def _bloom_bit_sql(i: int) -> str:
        terms = " + ".join(
            f"(strpos('0123456789abcdef', "
            f"substring(dg, {i * 6 + 1 + p}, 1)) - 1) * {16 ** (5 - p)}"
            for p in range(6))
        return f"CAST(({terms}) % {D.BLOOM_M} AS BIGINT)"

    _bloom_arr = "[" + ", ".join(_bloom_bit_sql(i)
                                 for i in range(D.BLOOM_K)) + "]"
    sqls["bloom_dedup"] = f"""
WITH {_CORPUS_CTE.lstrip()},
seen AS (
    SELECT DISTINCT unnest({_bloom_arr}) AS bit
    FROM (SELECT md5(text) AS dg FROM documents)
), probe AS (
    SELECT doc_id, md5(text) AS dg FROM corpus
    WHERE doc_id >= {D.DUP_OFFSET}
), pb AS (
    SELECT doc_id, unnest({_bloom_arr}) AS bit FROM probe
), h AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM pb WHERE bit IN (SELECT bit FROM seen) GROUP BY doc_id
)
SELECT probe.doc_id,
       CASE WHEN probe.doc_id < {2 * D.DUP_OFFSET} THEN 'exact'
            ELSE 'near' END AS kind,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) = {D.BLOOM_K} AS maybe_dup
FROM probe LEFT JOIN h USING (doc_id)"""

    _tn = D.TRIM_N
    sqls["dedup_trim"] = f"""
WITH {_CORPUS_CTE.lstrip()},
d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), w -> w != '') AS w
    FROM corpus
), g AS (
    SELECT doc_id, s,
           md5(array_to_string(w[s:s + {_tn - 1}], ' ')) AS gkey,
           doc_id * {D.TRIM_OKEY_STRIDE} + s AS okey
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, len(w) - {_tn - 1})) AS s
          FROM d WHERE len(w) >= {_tn})
), st AS (
    SELECT gkey, min(okey) AS mokey, count(*) AS cnt FROM g GROUP BY gkey
), du AS (
    SELECT doc_id, s FROM g JOIN st USING (gkey)
    WHERE cnt >= 2 AND okey <> mokey
), cv AS (
    SELECT DISTINCT doc_id, pos
    FROM (SELECT doc_id, unnest(generate_series(s, s + {_tn - 1})) AS pos
          FROM du)
), pp AS (
    SELECT doc_id, i AS pos, w[i] AS word
    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM d)
), mk AS (
    SELECT pp.doc_id, pp.pos, pp.word, cv.pos IS NOT NULL AS cut
    FROM pp LEFT JOIN cv ON pp.doc_id = cv.doc_id AND pp.pos = cv.pos
), r AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT)
               AS n_trimmed,
           coalesce(array_to_string(
               list(word ORDER BY pos) FILTER (WHERE NOT cut), ' '), '')
               AS trimmed
    FROM mk GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(r.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(r.n_trimmed, 0) AS BIGINT) AS n_trimmed,
       coalesce(r.trimmed, '') AS trimmed,
       CASE WHEN coalesce(r.n_words, 0) = 0 THEN 1.0
            ELSE round((r.n_words - r.n_trimmed)
                       / CAST(r.n_words AS DOUBLE), 4) + 0
       END AS kept_frac
FROM d LEFT JOIN r USING (doc_id)"""

    sqls["dedup_minhash_pairs"] = f"""
WITH {_CORPUS_CTE.lstrip()}, {_SHINGLE_CTE.lstrip()}, {_BANDS_CTE.lstrip()}
SELECT doc_a, doc_b FROM cand"""

    sqls["dedup_ngram_jaccard"] = f"""
WITH {_CORPUS_CTE.lstrip()}, {_SHINGLE_CTE.lstrip()}, {_BANDS_CTE.lstrip()},
j AS (
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / (len(sa.sh) + len(sb.sh)
                    - len(list_intersect(sa.sh, sb.sh))), 4) + 0 AS jaccard
    FROM cand c
    JOIN shing sa ON sa.doc_id = c.doc_a
    JOIN shing sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5"""

    # Lexical fuzzy-dedup action: min-label closure over the verified-
    # Jaccard pair graph (the neardup_survivors pattern on the MinHash
    # tier), survivors = never-duplicated ids + component keepers.
    sqls["minhash_survivors"] = f"""
WITH RECURSIVE vp AS ({sqls['dedup_ngram_jaccard']}),
cedges AS (
    SELECT doc_a AS s, doc_b AS d FROM vp
    UNION ALL
    SELECT doc_b AS s, doc_a AS d FROM vp
),
reach(v, u) AS (
    SELECT s AS v, s AS u FROM cedges
    UNION
    SELECT r.v, e.d FROM reach r JOIN cedges e ON r.u = e.s
),
comp AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
{_CORPUS_CTE.lstrip()}
SELECT c0.doc_id,
       (cm.doc_id IS NOT NULL) AS kept_group_representative
FROM corpus c0 LEFT JOIN comp cm ON c0.doc_id = cm.doc_id
WHERE cm.doc_id IS NULL OR cm.component = c0.doc_id"""

    simhash_cte = f"""
w AS (
    SELECT doc_id, list_distinct({_WORDS_CO}) AS w FROM corpus
),
wx AS (SELECT doc_id, unnest(w) AS word FROM w),
bits AS (
    SELECT wx.doc_id, j.j,
           CASE WHEN CAST(floor((strpos('0123456789abcdef',
                substring(md5(word), (j.j // 4) + 1, 1)) - 1)
                / power(2, j.j % 4)) AS BIGINT) % 2 = 1
                THEN 1 ELSE -1 END AS vote
    FROM wx CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) j
),
sb AS (
    SELECT doc_id, j,
           CASE WHEN sum(vote) > 0 THEN CAST(power(2, j) AS BIGINT)
                ELSE 0 END AS bit
    FROM bits GROUP BY doc_id, j
),
sim AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
        FROM sb GROUP BY doc_id),
sig AS (SELECT w.doc_id, coalesce(sim.simhash, 0) AS simhash
        FROM w LEFT JOIN sim ON w.doc_id = sim.doc_id)"""

    sqls["dedup_simhash"] = f"""
WITH {_CORPUS_CTE.lstrip()}, {simhash_cte.lstrip()}
SELECT doc_id, simhash,
       CAST(simhash // 1 % 256 AS BIGINT) AS band0,
       CAST(simhash // 256 % 256 AS BIGINT) AS band1,
       CAST(simhash // 65536 % 256 AS BIGINT) AS band2,
       CAST(simhash // 16777216 % 256 AS BIGINT) AS band3
FROM sig"""

    sqls["simhash_pairs"] = f"""
WITH {_CORPUS_CTE.lstrip()}, {simhash_cte.lstrip()},
sbands AS (
    SELECT doc_id, simhash, b.b AS band_idx,
           CAST(floor(simhash / power(256, b.b)) AS BIGINT) % 256 AS band_val
    FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) b
),
scand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sig_a, b.simhash AS sig_b
    FROM sbands a JOIN sbands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(list_sum(list_transform(generate_series(0, 31), j ->
           CASE WHEN CAST(floor(sig_a / power(2, j)) AS BIGINT) % 2
                 != CAST(floor(sig_b / power(2, j)) AS BIGINT) % 2
           THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
FROM scand
WHERE hamming <= {D.SIMHASH_HAMMING_MAX}"""

    cos_qe = _COS.format(a="q.q", b="e.embedding")
    sqls["ann_cosine_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings
           WHERE vec_id < {SIM.TOPK_QUERIES}),
scored AS (
    SELECT q.query_id, e.vec_id,
           {cos_qe} AS cosine,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
               list_sum(list_transform(generate_series(1, len(q.q)),
                   i -> CAST(q.q[i] AS DOUBLE)
                        * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.q,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               DESC, e.vec_id) AS rank
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id != q.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cosine
FROM scored WHERE rank <= {SIM.TOPK_K}"""

    sqls["ann_lsh_buckets"] = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
{_lsh_params_cte('v')},
coded AS (
    SELECT v.vec_id, b.band, {_lsh_band_code_sql('v', 'b')} AS code
    FROM v CROSS JOIN (SELECT unnest(generate_series(0,
        {SIM.LSH_BANDS - 1})) AS band) b
)
SELECT CAST(band AS BIGINT) AS band, code AS bucket,
       CAST(count(*) AS BIGINT) AS n_vecs,
       min(vec_id) AS min_vec_id
FROM coded GROUP BY band, code"""

    # IVF centroid stride: twin of similarity.ivf_centroid_every (~√n cells).
    every_sql = ("(SELECT CASE WHEN count(*) <= 1 THEN 1 ELSE greatest(1, "
                 "count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) END "
                 "FROM embeddings)")
    cents_cte = (f"c AS (SELECT vec_id AS centroid_id, embedding AS c "
                 f"FROM embeddings WHERE vec_id % {every_sql}"
                 f" = 1)")
    assign_cte = f"""
scored AS (
    SELECT v.vec_id, c.centroid_id,
           {_COS_RAW.format(a='v.embedding', b='c.c')} AS cos
    FROM v CROSS JOIN c
),
assign AS (
    SELECT vec_id, centroid_id, cos FROM (
        SELECT vec_id, centroid_id, cos,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, centroid_id) AS rn
        FROM scored
    ) WHERE rn = 1
)"""
    sqls["ann_ivf_assign"] = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
{cents_cte},
{assign_cte.lstrip()}
SELECT vec_id, centroid_id, round(cos, 4) + 0 AS cosine FROM assign"""

    sqls["ann_ivf_topk"] = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
{cents_cte},
{assign_cte.lstrip()},
q AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings
      WHERE vec_id < {SIM.IVF_QUERIES}),
probes AS (
    SELECT query_id, q, centroid_id FROM (
        SELECT q.query_id, q.q, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   {_COS_RAW.format(a='q.q', b='c.c')} DESC,
                   c.centroid_id) AS rn
        FROM q CROSS JOIN c
    ) WHERE rn <= {SIM.IVF_NPROBE}
),
cand AS (
    SELECT p.query_id, a.vec_id,
           {_COS_RAW.format(a='p.q', b='v.embedding')} AS cos
    FROM probes p JOIN assign a USING (centroid_id)
    JOIN v ON v.vec_id = a.vec_id
    WHERE a.vec_id != p.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
       round(cos, 4) + 0 AS cosine
FROM (
    SELECT query_id, vec_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id) AS rank
    FROM cand
) WHERE rank <= {SIM.IVF_K}"""

    # Two-level IVF twin (similarity.ivf2_assign): coarse = every
    # fstride-th FINE centroid by rank; fine -> nearest coarse; vector ->
    # top-IVF2_COARSE_PROBE coarse cells -> argmin over their fine sets.
    sqls["ann_ivf2_assign"] = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
{cents_cte},
franked AS (
    SELECT centroid_id, c,
           row_number() OVER (ORDER BY centroid_id) AS rn
    FROM c
),
fstride AS (
    SELECT CASE WHEN count(*) <= 1 THEN 1 ELSE greatest(1,
        count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) END AS s
    FROM c
),
coarse AS (
    SELECT centroid_id AS coarse_id, c AS cc FROM franked
    WHERE rn % (SELECT s FROM fstride) = 1
),
fassign AS (
    SELECT centroid_id, c, coarse_id FROM (
        SELECT f.centroid_id, f.c, co.coarse_id,
               row_number() OVER (PARTITION BY f.centroid_id ORDER BY
                   {_COS_RAW.format(a='f.c', b='co.cc')} DESC,
                   co.coarse_id) AS crn
        FROM franked f CROSS JOIN coarse co
    ) WHERE crn = 1
),
probes AS (
    SELECT vec_id, embedding, coarse_id FROM (
        SELECT v.vec_id, v.embedding, co.coarse_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   {_COS_RAW.format(a='v.embedding', b='co.cc')} DESC,
                   co.coarse_id) AS rn
        FROM v CROSS JOIN coarse co
    ) WHERE rn <= {SIM.IVF2_COARSE_PROBE}
),
cand AS (
    SELECT p.vec_id, f.coarse_id, f.centroid_id,
           {_COS_RAW.format(a='p.embedding', b='f.c')} AS cos
    FROM probes p JOIN fassign f USING (coarse_id)
)
SELECT vec_id, coarse_id, centroid_id, round(cos, 4) + 0 AS cosine
FROM (
    SELECT vec_id, coarse_id, centroid_id, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, centroid_id) AS frn
    FROM cand
) WHERE frn = 1"""

    cos_ab = _COS.format(a="ea.embedding", b="eb.embedding")
    sqls["embedding_neardup"] = f"""
WITH base AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + {SIM.VEC_DUP_OFFSET}, embedding FROM embeddings
    WHERE vec_id % {SIM.VEC_DUP_EVERY} = 0
),
{_lsh_params_cte('base')},
coded AS (
    SELECT base.vec_id, b.band, {_lsh_band_code_sql('base', 'b')} AS code
    FROM base CROSS JOIN (SELECT unnest(generate_series(0,
        {SIM.LSH_BANDS - 1})) AS band) b
),
sub AS (
    SELECT vec_id, band, code,
           (row_number() OVER (PARTITION BY band, code ORDER BY vec_id) - 1)
           // {SIM.LSH_BUCKET_CAP} AS sub
    FROM coded
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM sub a JOIN sub b
      ON a.band = b.band AND a.code = b.code AND a.sub = b.sub
     AND a.vec_id < b.vec_id
)
SELECT cand.vec_a, cand.vec_b, {cos_ab} AS cosine
FROM cand
JOIN base ea ON ea.vec_id = cand.vec_a
JOIN base eb ON eb.vec_id = cand.vec_b
WHERE {cos_ab} >= 0.9"""

    # --- J6 KIE pairing + 4-way orientation ---
    sqls["kie_pairs"] = f"""
WITH ents0 AS (
    SELECT doc_id, unnest(generate_series(0, 2 + n_chars % 5)) AS entity_id
    FROM documents
),
ents AS (
    SELECT doc_id, CAST(entity_id AS BIGINT) AS entity_id,
           {KIE.LABEL_CASE} AS label
    FROM ents0
),
qe AS (SELECT doc_id, entity_id AS head_id FROM ents
       WHERE label = 'QUESTION'),
ae AS (SELECT doc_id, entity_id AS tail_id FROM ents
       WHERE label = 'ANSWER'),
kcand AS (
    SELECT qe.doc_id, head_id, tail_id
    FROM qe JOIN ae USING (doc_id)
    WHERE {KIE.CONFIRM}
)
SELECT doc_id, head_id, tail_id FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, tail_id
                                 ORDER BY head_id) AS rn
    FROM kcand
) WHERE rn = 1"""

    sqls["cnt_metric"] = """
WITH c AS (
    SELECT n_chars % 50 AS t,
           n_chars % 50 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),
                                            3, 1) = '0'
                               THEN 1 ELSE 0 END AS p
    FROM documents)
SELECT round(sum(CASE WHEN p = t THEN 1 ELSE 0 END)
             / (count(*) + 1e-5), 4) + 0 AS acc,
       CAST(sum(CASE WHEN p = t THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(count(*) AS BIGINT) AS n
FROM c"""

    _KIE_CLS = ", ".join(str(c) for c in KIE_F1_CLASSES)
    sqls["kie_f1_metric"] = f"""
WITH d AS (
    SELECT doc_id,
           ((strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
            + strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 26
               AS gt,
           substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) = '0' AS noisy
    FROM documents),
s AS (
    SELECT gt, list_transform(generate_series(0, 25), c ->
        CAST(list_sum(list_transform(generate_series(1, 8), i ->
            CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR) || ':'
                            || CAST(c AS VARCHAR)), i, 1)) - 1 AS DOUBLE)
            * power(16.0, 8 - i))) AS BIGINT)
        + CASE WHEN c = gt AND NOT noisy THEN 8589934592 ELSE 0 END)
        AS scores
    FROM d),
p AS (SELECT gt, list_position(scores, list_max(scores)) - 1 AS pred
      FROM s),
conf AS (SELECT gt, pred, count(*) AS cnt FROM p GROUP BY gt, pred),
cls AS (SELECT unnest(generate_series(0, 25)) AS c),
m AS (
    SELECT cls.c,
           COALESCE((SELECT sum(cnt) FROM conf
                     WHERE gt = cls.c AND pred = cls.c), 0)::DOUBLE AS dg,
           COALESCE((SELECT sum(cnt) FROM conf WHERE gt = cls.c),
                    0)::DOUBLE AS rs,
           COALESCE((SELECT sum(cnt) FROM conf WHERE pred = cls.c),
                    0)::DOUBLE AS cs
    FROM cls),
f AS (
    SELECT c, 2 * (dg / greatest(rs, 1.0)) * (dg / greatest(cs, 1.0))
              / greatest(dg / greatest(rs, 1.0) + dg / greatest(cs, 1.0),
                         1e-8) AS f1
    FROM m WHERE c IN ({_KIE_CLS})),
hm AS (SELECT avg(f1) AS hmean FROM f)
SELECT CAST(c AS BIGINT) AS cls, round(f1, 4) + 0 AS f1,
       round(hmean, 4) + 0 AS hmean
FROM f, hm"""

    def _dk_hx(salt: str, pos: str, idx: int) -> str:
        return (f"strpos('0123456789abcdef', substr(md5(CAST(doc_id AS "
                f"VARCHAR) || '{salt}' || CAST({pos} AS VARCHAR)), "
                f"{idx}, 1)) - 1")

    def _dk_anchor(which: str, pos: str) -> str:
        a = f"({_dk_hx('#g', pos, 1)}) >= 12"
        if which == "g":
            return a
        return f"(({a}) != (({_dk_hx('#n', pos, 1)}) = 0))"

    def _dk_ents(which: str) -> str:
        a0 = _dk_anchor(which, "p")
        i1 = (f"p + 1 <= n_pos AND NOT ({_dk_anchor(which, '(p + 1)')}) "
              f"AND ({_dk_hx('#g', '(p + 1)', 2)}) >= 8")
        i2 = (f"p + 2 <= n_pos AND NOT ({_dk_anchor(which, '(p + 2)')}) "
              f"AND ({_dk_hx('#g', '(p + 2)', 2)}) >= 8")
        return (f"SELECT doc_id, ({_dk_hx('#g', 'p', 1)}) % 3 AS typ, "
                f"p AS strt, "
                f"p + CASE WHEN {i1} THEN 1 ELSE 0 END "
                f"+ CASE WHEN ({i1}) AND ({i2}) THEN 1 ELSE 0 END AS fin "
                f"FROM pos WHERE {a0}")

    _SER_POS = f"""
base AS (
    SELECT doc_id, least(greatest(n_chars % {SER_MAX_POS} + 2, 3),
                         {SER_MAX_POS}) AS n_pos
    FROM documents),
pos AS (
    SELECT doc_id, n_pos, unnest(generate_series(1, n_pos)) AS p
    FROM base)"""

    sqls["ser_token_metric"] = f"""
WITH {_SER_POS},
gt AS ({_dk_ents('g')}),
pr AS ({_dk_ents('p')}),
tp AS (SELECT count(*) AS n_match FROM gt
       JOIN pr USING (doc_id, typ, strt, fin)),
agg AS (SELECT (SELECT count(*) FROM gt) AS n_true,
               (SELECT count(*) FROM pr) AS n_pred,
               (SELECT n_match FROM tp) AS n_match)
SELECT round(n_match / (1.0 * n_pred), 4) + 0 AS precision,
       round(n_match / (1.0 * n_true), 4) + 0 AS recall,
       round(2.0 * (n_match / (1.0 * n_pred)) * (n_match / (1.0 * n_true))
             / ((n_match / (1.0 * n_pred)) + (n_match / (1.0 * n_true))),
             4) + 0 AS hmean,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_match AS BIGINT) AS n_match
FROM agg"""

    sqls["re_metric"] = f"""
WITH {_SER_POS},
ents AS ({_dk_ents('g')}),
idx AS (SELECT doc_id, strt, fin, row_number() OVER
            (PARTITION BY doc_id ORDER BY strt) AS k FROM ents),
heads AS (SELECT doc_id, CAST((k + 1) / 2 AS BIGINT) AS j,
                 strt AS hs, fin AS he FROM idx WHERE k % 2 = 1),
tails AS (SELECT doc_id, CAST(k / 2 AS BIGINT) AS j,
                 strt AS ts, fin AS te FROM idx WHERE k % 2 = 0),
gt AS (SELECT heads.doc_id, j, hs, he, ts, te
       FROM heads JOIN tails USING (doc_id, j)),
pred AS (
    SELECT doc_id, hs, he,
           CASE WHEN nz = 1 THEN hs ELSE ts END AS ts,
           CASE WHEN nz = 1 THEN he ELSE te END AS te
    FROM (SELECT *, ({_dk_hx('#r', 'j', 1)}) AS nz FROM gt)
    WHERE nz != 0),
tp AS (SELECT count(*) AS n_match
       FROM (SELECT doc_id, hs, he, ts, te FROM gt) g
       JOIN pred USING (doc_id, hs, he, ts, te)),
agg AS (SELECT (SELECT count(*) FROM gt) AS n_rels,
               (SELECT count(*) FROM pred) AS n_found,
               (SELECT n_match FROM tp) AS n_match)
SELECT round(n_match / (1.0 * n_found), 4) + 0 AS precision,
       round(n_match / (1.0 * n_rels), 4) + 0 AS recall,
       round(2.0 * (n_match / (1.0 * n_found)) * (n_match / (1.0 * n_rels))
             / ((n_match / (1.0 * n_found)) + (n_match / (1.0 * n_rels))),
             4) + 0 AS hmean,
       CAST(n_rels AS BIGINT) AS n_rels,
       CAST(n_found AS BIGINT) AS n_found,
       CAST(n_match AS BIGINT) AS n_match
FROM agg"""

    sqls["cls_metric"] = """
WITH c AS (
    SELECT (strpos('0123456789abcdef',
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 4
               AS t,
           substring(md5(CAST(doc_id AS VARCHAR)), 2, 1) = '0' AS noisy
    FROM documents
), p AS (
    SELECT t, CASE WHEN noisy THEN (t + 1) % 4 ELSE t END AS p FROM c
)
SELECT round(sum(CASE WHEN p = t THEN 1 ELSE 0 END)
             / (count(*) + 1e-5), 4) + 0 AS acc,
       CAST(sum(CASE WHEN p = t THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(count(*) AS BIGINT) AS n
FROM p"""

    sqls["orientation4"] = """
WITH base AS (
    SELECT doc_id, coalesce(text, '') AS t,
           (strpos('0123456789abcdef',
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 4
               AS cls
    FROM documents
),
o AS (
    SELECT doc_id, cls,
           CASE WHEN length(t) <= 1 THEN t
                WHEN cls = 1 THEN substring(t, length(t), 1)
                                  || substring(t, 1, length(t) - 1)
                WHEN cls = 2 THEN reverse(t)
                WHEN cls = 3 THEN substring(t, 2) || substring(t, 1, 1)
                ELSE t END AS otext
    FROM base
)
SELECT doc_id, (['0', '90', '180', '270'])[cls + 1] AS angle,
       CASE WHEN length(otext) <= 1 THEN otext
            WHEN cls = 1 THEN substring(otext, 2)
                              || substring(otext, 1, 1)
            WHEN cls = 2 THEN reverse(otext)
            WHEN cls = 3 THEN substring(otext, length(otext), 1)
                              || substring(otext, 1, length(otext) - 1)
            ELSE otext END AS corrected
FROM o"""

    # --- P7 media resize (DetResizeForTest type0, limit max/960) ---
    sqls["media_resize"] = f"""
WITH {SYNTH_CTE.lstrip()},
refs AS (SELECT DISTINCT media_ref FROM synth_spans WHERE kind = 'media'),
hx AS (SELECT media_ref, md5(media_ref) AS hx FROM refs),
dims AS (
    SELECT media_ref,
           64 + ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
                 + strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 4
               AS w,
           64 + ((strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
                 + strpos('0123456789abcdef', substring(hx, 4, 1)) - 1) * 4
               AS h
    FROM hx
),
sc AS (
    SELECT media_ref, w, h,
           CASE WHEN greatest(h, w) > 960
                THEN 960.0 / greatest(h, w) ELSE 1.0 END AS ratio
    FROM dims
),
r0 AS (
    SELECT media_ref, w, h,
           CAST(floor(w * ratio) AS BIGINT) AS rw0,
           CAST(floor(h * ratio) AS BIGINT) AS rh0
    FROM sc
)
SELECT media_ref,
       CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h,
       greatest(32 * (rw0 // 32 + CASE WHEN rw0 % 32 > 16
                OR (rw0 % 32 = 16 AND (rw0 // 32) % 2 = 1)
                THEN 1 ELSE 0 END), 32) AS resize_w,
       greatest(32 * (rh0 // 32 + CASE WHEN rh0 % 32 > 16
                OR (rh0 % 32 = 16 AND (rh0 // 32) % 2 = 1)
                THEN 1 ELSE 0 END), 32) AS resize_h,
       round(greatest(32 * (rh0 // 32 + CASE WHEN rh0 % 32 > 16
                OR (rh0 % 32 = 16 AND (rh0 // 32) % 2 = 1)
                THEN 1 ELSE 0 END), 32) / CAST(h AS DOUBLE), 4) + 0
           AS ratio_h,
       round(greatest(32 * (rw0 // 32 + CASE WHEN rw0 % 32 > 16
                OR (rw0 % 32 = 16 AND (rw0 // 32) % 2 = 1)
                THEN 1 ELSE 0 END), 32) / CAST(w AS DOUBLE), 4) + 0
           AS ratio_w
FROM r0"""

    # --- R4 AttnLabelDecode (dead break-at-eos quirk) ---
    from .operators.recognize import CHARSET as _CS
    cs2 = _CS.replace("'", "''")
    eos_id = len(_CS) + 1
    sqls["attn_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           ([0]
            || list_transform(generate_series(1, length(t)),
                 i -> strpos('{cs2}', substring(t, CAST(i AS INT), 1)))
            || [{eos_id}]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> strpos('{cs2}', substring(t, CAST(i AS INT), 1)))
           ) AS ids
    FROM base
)
SELECT doc_id,
       array_to_string(list_transform(
           list_filter(ids, i -> i != 0 AND i != {eos_id}),
           i -> substring('{cs2}', CAST(i AS INT), 1)), '') AS attn_text
FROM ids"""


    # --- R4b SARLabelDecode (live break-at-eos; <UKN> is a dict entry) ---
    n_cs = len(_CS)
    ukn, s_eos, s_pad = n_cs, n_cs + 1, n_cs + 2
    sqls["sar_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           ((CASE WHEN doc_id % 5 = 0 THEN [{s_eos}] ELSE [] END)
            || list_transform(generate_series(1, length(t)),
                 i -> CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT),
                          1)) = 0 THEN {ukn}
                      ELSE strpos('{cs2}', substring(t, CAST(i AS INT),
                          1)) - 1 END)
            || [{s_pad}, {s_eos}]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT),
                          1)) = 0 THEN {ukn}
                      ELSE strpos('{cs2}', substring(t, CAST(i AS INT),
                          1)) - 1 END)
           ) AS ids
    FROM base
),
cuts AS (
    SELECT doc_id, ids,
           list_position(ids[2:], {s_eos}) AS p
    FROM ids
)
SELECT doc_id,
       array_to_string(list_transform(
           list_filter(ids[1:(CASE WHEN p > 0 THEN p ELSE len(ids) END)],
                       v -> v != {s_pad} AND v != {s_eos}),
           v -> CASE WHEN v = {ukn} THEN '<UKN>'
                ELSE substring('{cs2}', CAST(v + 1 AS INT), 1) END), '')
           AS sar_text
FROM cuts"""

    # --- D4+P9 filter_tag_det_res (axis-aligned JVM form) ---
    ch, cw = DET_CLIP_SHAPE
    sqls["det_clip_filter"] = f"""
WITH boxes AS (
    SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS box_id,
           CAST((l_partkey % 50) * 20 - 60 AS DOUBLE) + 0.5 AS x1,
           CAST((l_suppkey % 40) * 18 - 40 AS DOUBLE) + 0.25 AS y1,
           CAST((l_orderkey % 15) * 3 AS DOUBLE) AS w,
           CAST(l_linenumber * 5 + (l_orderkey % 7) AS DOUBLE) AS h
    FROM lineitem WHERE l_linenumber <= 4
),
c AS (
    SELECT box_id,
           CAST(floor(least(greatest(x1, 0), {cw - 1})) AS BIGINT) AS cx1,
           CAST(floor(least(greatest(y1, 0), {ch - 1})) AS BIGINT) AS cy1,
           CAST(floor(least(greatest(x1 + w, 0), {cw - 1})) AS BIGINT)
               AS cx2,
           CAST(floor(least(greatest(y1 + h, 0), {ch - 1})) AS BIGINT)
               AS cy2
    FROM boxes
)
SELECT box_id, cx1, cy1, cx2, cy2
FROM c WHERE cx2 - cx1 > 3 AND cy2 - cy1 > 3"""

    # --- R4c NRTRLabelDecode (no ignored tokens; live break; bare-except
    #     lookup: out-of-range skipped, negatives wrap Python-style) ---
    big = n_cs + 4
    nrtr_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
                f"1)) = 0 THEN 1 ELSE strpos('{cs2}', substring(t, "
                f"CAST(i AS INT), 1)) + 3 END")
    sqls["nrtr_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           ((CASE WHEN doc_id % 4 = 0 THEN [2] ELSE [] END)
            || list_transform(generate_series(1, length(t)), i -> {nrtr_enc})
            || (CASE WHEN doc_id % 2 = 0 THEN [0] ELSE [] END)
            || (CASE WHEN doc_id % 7 = 0 THEN [-1] ELSE [] END)
            || [{big + 20}, 3]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {nrtr_enc})
           ) AS ids
    FROM base
),
cuts AS (SELECT doc_id, ids, list_position(ids, 3) AS p FROM ids)
SELECT doc_id,
       array_to_string(list_transform(
           list_filter(list_transform(
               ids[1:(CASE WHEN p > 0 THEN p - 1 ELSE len(ids) END)],
               v -> CASE WHEN v < 0 THEN v + {big} ELSE v END),
               v -> v >= 0 AND v < {big}),
           v -> CASE WHEN v = 0 THEN 'blank' WHEN v = 1 THEN '<unk>'
                WHEN v = 2 THEN '<s>'
                ELSE substring('{cs2}', CAST(v - 3 AS INT), 1) END), '')
           AS nrtr_text
FROM cuts"""

    # --- R4d ViTSTRLabelDecode (NRTR walk, 2-special dict, time-step-0
    #     column drop; eos = id 1 breaks anywhere) ---
    vit_big = n_cs + 2
    vit_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
               f"1)) = 0 THEN {vit_big + 20} ELSE strpos('{cs2}', "
               f"substring(t, CAST(i AS INT), 1)) + 1 END")
    sqls["vitstr_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           ([2]
            || (CASE WHEN doc_id % 4 = 0 THEN [0] ELSE [] END)
            || list_transform(generate_series(1, length(t)), i -> {vit_enc})
            || (CASE WHEN doc_id % 7 = 0 THEN [-1] ELSE [] END)
            || [1]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {vit_enc})
           ) AS ids
    FROM base
),
drop0 AS (SELECT doc_id, ids[2:] AS ids FROM ids),
cuts AS (SELECT doc_id, ids, list_position(ids, 1) AS p FROM drop0)
SELECT doc_id,
       array_to_string(list_transform(
           list_filter(list_transform(
               ids[1:(CASE WHEN p > 0 THEN p - 1 ELSE len(ids) END)],
               v -> CASE WHEN v < 0 THEN v + {vit_big} ELSE v END),
               v -> v >= 0 AND v < {vit_big}),
           v -> CASE WHEN v = 0 THEN '<s>'
                ELSE substring('{cs2}', CAST(v - 1 AS INT), 1) END), '')
           AS vitstr_text
FROM cuts"""

    # --- R4e SRNLabelDecode (specials at the dict END, both ignored
    #     anywhere, NO break; -1 wraps to the literal '<EOS>') ---
    srn_beg, srn_end = n_cs, n_cs + 1
    srn_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
               f"1)) = 0 THEN {srn_beg} ELSE strpos('{cs2}', "
               f"substring(t, CAST(i AS INT), 1)) - 1 END")
    sqls["srn_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           ((CASE WHEN doc_id % 5 = 0 THEN [{srn_end}] ELSE [] END)
            || list_transform(generate_series(1, length(t)), i -> {srn_enc})
            || (CASE WHEN doc_id % 3 = 0 THEN [{srn_beg}] ELSE [] END)
            || [{srn_end}]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {srn_enc})
            || (CASE WHEN doc_id % 7 = 0 THEN [-1] ELSE [] END)
           ) AS ids
    FROM base
)
SELECT doc_id,
       array_to_string(list_transform(
           list_filter(ids, v -> v != {srn_beg} AND v != {srn_end}),
           v -> CASE WHEN v = -1 THEN '<EOS>'
                ELSE substring('{cs2}', CAST(v + 1 AS INT), 1) END), '')
           AS srn_text
FROM ids"""

    # --- R4f RFLLabelDecode (Attn's walk over ['sos']+cs+['eos'] plus
    #     the counting branch: length = BANKER'S round of sum(lens)) ---
    rfl_end = n_cs + 1
    rfl_enc = f"strpos('{cs2}', substring(t, CAST(i AS INT), 1))"
    sqls["rfl_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           ((CASE WHEN doc_id % 5 = 0 THEN [{rfl_end}] ELSE [] END)
            || list_transform(generate_series(1, length(t)), i -> {rfl_enc})
            || (CASE WHEN doc_id % 3 = 0 THEN [0] ELSE [] END)
            || [{rfl_end}]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {rfl_enc})
            || (CASE WHEN doc_id % 7 = 0 THEN [-1] ELSE [] END)
           ) AS ids,
           coalesce(list_sum(list_transform(
               generate_series(1, length(t)),
               k -> ((doc_id + k) % 5) * 0.25)), 0.0) AS s
    FROM base
)
SELECT doc_id,
       array_to_string(list_transform(
           list_filter(ids, v -> v != 0 AND v != {rfl_end}),
           v -> CASE WHEN v = -1 THEN 'eos'
                ELSE substring('{cs2}', CAST(v AS INT), 1) END), '')
           AS rfl_text,
       CAST((CASE WHEN s - floor(s) < 0.5 THEN floor(s)
             WHEN s - floor(s) > 0.5 THEN floor(s) + 1
             WHEN CAST(floor(s) AS BIGINT) % 2 = 0 THEN floor(s)
             ELSE floor(s) + 1 END) AS BIGINT) AS rfl_cnt_len
FROM ids"""

    # --- R4g SEEDLabelDecode (live break at eos; NO ignored-token skip:
    #     'padding'/'unknown' decode as literal dictionary strings) ---
    sd_eos, sd_pad, sd_unk = n_cs, n_cs + 1, n_cs + 2
    seed_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
                f"1)) = 0 THEN {sd_unk} ELSE strpos('{cs2}', "
                f"substring(t, CAST(i AS INT), 1)) - 1 END")
    sqls["seed_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           (list_transform(generate_series(1, length(t)), i -> {seed_enc})
            || (CASE WHEN doc_id % 3 = 0 THEN [{sd_pad}] ELSE [] END)
            || (CASE WHEN doc_id % 7 = 0 THEN [-1] ELSE [] END)
            || [{sd_eos}]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {seed_enc})
           ) AS ids
    FROM base
),
cuts AS (SELECT doc_id, ids, list_position(ids, {sd_eos}) AS p FROM ids)
SELECT doc_id,
       array_to_string(list_transform(
           ids[1:(CASE WHEN p > 0 THEN p - 1 ELSE len(ids) END)],
           v -> CASE WHEN v = {sd_pad} THEN 'padding'
                WHEN v = {sd_unk} OR v = -1 THEN 'unknown'
                ELSE substring('{cs2}', CAST(v + 1 AS INT), 1) END), '')
           AS seed_text
FROM cuts"""

    # --- R4h SATRNLabelDecode rm_symbol=True (SAR's walk + lowercase +
    #     strip with LITERAL in-class '^' quirk) ---
    st_unk, st_end, st_pad = n_cs, n_cs + 1, n_cs + 2
    satrn_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
                 f"1)) = 0 THEN {st_unk} ELSE strpos('{cs2}', "
                 f"substring(t, CAST(i AS INT), 1)) - 1 END")
    sqls["satrn_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           ((CASE WHEN doc_id % 5 = 0 THEN [{st_end}] ELSE [] END)
            || list_transform(generate_series(1, length(t)), i -> {satrn_enc})
            || (CASE WHEN doc_id % 7 = 0 THEN [-1] ELSE [] END)
            || [{st_end}]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {satrn_enc})
           ) AS ids
    FROM base
),
work AS (
    SELECT doc_id,
           CASE WHEN len(ids) > 0 AND ids[1] = {st_end}
                THEN ids[2:] ELSE ids END AS ids
    FROM ids
),
cuts AS (SELECT doc_id, ids, list_position(ids, {st_end}) AS p FROM work)
SELECT doc_id,
       regexp_replace(lower(array_to_string(list_transform(
           list_filter(ids[1:(CASE WHEN p > 0 THEN p - 1
                               ELSE len(ids) END)],
                       v -> v != {st_pad}),
           v -> CASE WHEN v = -1 THEN '<PAD>'
                WHEN v = {st_unk} THEN '<UKN>'
                ELSE substring('{cs2}', CAST(v + 1 AS INT), 1) END), '')),
           '[^A-Z^a-z0-9一-龥]', '', 'g') AS satrn_text
FROM cuts"""

    # --- R4i PRENLabelDecode (all three specials PREPENDED:
    #     pad=0/eos=1/unk=2; eos breaks, pad/unk skip) ---
    pren_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
                f"1)) = 0 THEN 2 ELSE strpos('{cs2}', "
                f"substring(t, CAST(i AS INT), 1)) + 2 END")
    sqls["pren_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           ((CASE WHEN doc_id % 3 = 0 THEN [0] ELSE [] END)
            || list_transform(generate_series(1, length(t)), i -> {pren_enc})
            || (CASE WHEN doc_id % 7 = 0 THEN [-1] ELSE [] END)
            || [1]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {pren_enc})
           ) AS ids
    FROM base
),
cuts AS (SELECT doc_id, ids, list_position(ids, 1) AS p FROM ids)
SELECT doc_id,
       array_to_string(list_transform(
           list_filter(ids[1:(CASE WHEN p > 0 THEN p - 1
                              ELSE len(ids) END)],
                       v -> v != 0 AND v != 2),
           v -> CASE WHEN v = -1 THEN substring('{cs2}', {n_cs}, 1)
                ELSE substring('{cs2}', CAST(v - 2 AS INT), 1) END), '')
           AS pren_text
FROM cuts"""

    # --- R4j ABINetLabelDecode (NRTR's bare-except walk over the
    #     1-special dict ['</s>'] + cs: eos is id ZERO) ---
    ab_big = n_cs + 1
    ab_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
              f"1)) = 0 THEN {ab_big + 20} ELSE strpos('{cs2}', "
              f"substring(t, CAST(i AS INT), 1)) END")
    sqls["abinet_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           (list_transform(generate_series(1, length(t)), i -> {ab_enc})
            || (CASE WHEN doc_id % 7 = 0 THEN [-1] ELSE [] END)
            || [0]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {ab_enc})
           ) AS ids
    FROM base
),
kept AS (
    SELECT doc_id,
           list_filter(list_transform(ids,
               v -> CASE WHEN v < 0 THEN v + {ab_big} ELSE v END),
               v -> v >= 0 AND v < {ab_big}) AS ids
    FROM ids
),
cuts AS (SELECT doc_id, ids, list_position(ids, 0) AS p FROM kept)
SELECT doc_id,
       array_to_string(list_transform(
           ids[1:(CASE WHEN p > 0 THEN p - 1 ELSE len(ids) END)],
           v -> substring('{cs2}', CAST(v AS INT), 1)), '') AS abinet_text
FROM cuts"""

    # --- R4k SPINLabelDecode (Attn's decode over the FRONT-loaded dict
    #     ['sos','eos'] + cs; -1 wraps to the LAST charset char) ---
    spin_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
                f"1)) = 0 THEN 0 ELSE strpos('{cs2}', "
                f"substring(t, CAST(i AS INT), 1)) + 1 END")
    sqls["spin_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           ((CASE WHEN doc_id % 5 = 0 THEN [1] ELSE [] END)
            || list_transform(generate_series(1, length(t)), i -> {spin_enc})
            || (CASE WHEN doc_id % 3 = 0 THEN [0] ELSE [] END)
            || [1]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {spin_enc})
            || (CASE WHEN doc_id % 7 = 0 THEN [-1] ELSE [] END)
           ) AS ids
    FROM base
)
SELECT doc_id,
       array_to_string(list_transform(
           list_filter(ids, v -> v != 0 AND v != 1),
           v -> CASE WHEN v = -1 THEN substring('{cs2}', {n_cs}, 1)
                ELSE substring('{cs2}', CAST(v - 1 AS INT), 1) END), '')
           AS spin_text
FROM ids"""

    # --- R4l VLLabelDecode eval path (fixed nsteps; length = first-0
    #     index INCLUSIVE; out-of-range ids decode to '' but count) ---
    vl_pad, vl_n = n_cs + 30, n_cs
    vl_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
              f"1)) = 0 THEN {vl_pad} ELSE strpos('{cs2}', "
              f"substring(t, CAST(i AS INT), 1)) END")
    sqls["vl_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           list_slice(
               list_transform(generate_series(1, length(t)), i -> {vl_enc})
               || [0]
               || list_transform(generate_series(1, least(length(t), 2)),
                    i -> {vl_enc})
               || list_transform(generate_series(1, 25), i -> {vl_pad}),
               1, 25) AS ids
    FROM base
),
cuts AS (
    SELECT doc_id, ids,
           (CASE WHEN list_position(ids, 0) > 0
                 THEN list_position(ids, 0) ELSE 25 END) AS ln
    FROM ids
)
SELECT doc_id,
       array_to_string(list_transform(ids[1:ln],
           v -> CASE WHEN v >= 1 AND v <= {vl_n}
                THEN substring('{cs2}', CAST(v AS INT), 1)
                ELSE '' END), '') AS vl_text,
       CAST(ln AS BIGINT) AS vl_len
FROM cuts"""

    # --- R4m CANLabelDecode (seq_end = argmin, not an eos search;
    #     SPACE-joined latex symbols) ---
    can_enc = (f"CASE WHEN strpos('{cs2}', substring(t, CAST(i AS INT), "
               f"1)) = 0 THEN {n_cs - 1} ELSE strpos('{cs2}', "
               f"substring(t, CAST(i AS INT), 1)) - 1 END")
    sqls["can_decode"] = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
ids AS (
    SELECT doc_id,
           (list_transform(generate_series(1, length(t)), i -> {can_enc})
            || [0]
            || list_transform(generate_series(1, least(length(t), 2)),
                 i -> {can_enc})
           ) AS ids
    FROM base
),
cuts AS (SELECT doc_id, ids,
                list_position(ids, list_min(ids)) AS p FROM ids)
SELECT doc_id,
       coalesce(array_to_string(list_transform(ids[1:(p - 1)],
           v -> substring('{cs2}', CAST(v + 1 AS INT), 1)), ' '), '')
           AS can_text
FROM cuts"""

    # --- Fork grapheme layer (korean_grapheme_label.py / korean_compose
    #     .py): Korean synth + decompose/compose/metric twins. DuckDB
    #     side uses unicode()/chr(); Spark uses ascii() + the UTF-8 byte
    #     trick. The Hangul test bound is the reference's 55199 quirk. ---
    from .functions.grapheme import (HANGUL_FINALS as _GF,
                                     HANGUL_INITIALS as _GI,
                                     HANGUL_MEDIALS as _GM)
    g_kchar = ("CASE WHEN k % 4 = 0 THEN substring(t, CAST(k AS INT), 1) "
               "ELSE chr(CAST(44032 + (unicode(substring(t, CAST(k AS INT)"
               ", 1)) * 31 + k * 7 + doc_id) % 11174 AS INT)) END")
    g_base = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
kt AS (
    SELECT doc_id,
           coalesce(array_to_string(list_transform(
               generate_series(1, length(t)), k -> {g_kchar}), ''), '')
               AS ktext
    FROM base
)"""

    def g_stream(alpha: str, idx: str) -> str:
        cp = "unicode(substring(ktext, CAST(k AS INT), 1))"
        return (f"coalesce(array_to_string(list_transform("
                f"generate_series(1, length(ktext)), "
                f"k -> CASE WHEN {cp} BETWEEN 44032 AND 55199 "
                f"THEN substring('{alpha}', CAST(({idx}) + 1 AS INT), 1) "
                f"ELSE substring(ktext, CAST(k AS INT), 1) END), ''), '')")

    g_code = "(unicode(substring(ktext, CAST(k AS INT), 1)) - 44032)"
    sqls["grapheme_decompose"] = f"""{g_base}
SELECT doc_id, ktext,
       {g_stream(_GI, f"{g_code} // 588")} AS initial,
       {g_stream(_GM, f"({g_code} % 588) // 28")} AS medial,
       {g_stream(_GF, f"{g_code} % 28")} AS final
FROM kt"""

    g_dec = f"""{g_base},
dec AS (
    SELECT doc_id,
           {g_stream(_GI, f"{g_code} // 588")} AS initial,
           {g_stream(_GM, f"({g_code} % 588) // 28")} AS medial,
           {g_stream(_GF, f"{g_code} % 28")} AS final
    FROM kt
)"""
    gi_ch = "substring(initial, CAST(k AS INT), 1)"
    gm_ch = "substring(medial, CAST(k AS INT), 1)"
    gf_ch = "substring(final, CAST(k AS INT), 1)"
    gip = f"strpos('{_GI}', {gi_ch})"
    gmp = f"strpos('{_GM}', {gm_ch})"
    gfp = f"strpos('{_GF}', {gf_ch})"
    g_nn = (f"(CASE WHEN {gip} = 0 THEN 1 ELSE 0 END + "
            f"CASE WHEN {gmp} = 0 THEN 1 ELSE 0 END + "
            f"CASE WHEN {gfp} = 0 THEN 1 ELSE 0 END)")
    g_cp = (f"44032 + ((CASE WHEN {gip} = 0 THEN 11 ELSE {gip} - 1 END) "
            f"* 21 + (CASE WHEN {gmp} = 0 THEN 0 ELSE {gmp} - 1 END)) "
            f"* 28 + (CASE WHEN {gfp} = 0 THEN 0 ELSE {gfp} - 1 END)")
    pi = "((doc_id + k) % 4) * 0.25"
    pm = "((doc_id + 2 * k) % 4) * 0.25"
    pf = "((doc_id + 3 * k) % 4) * 0.25"
    g_ch = (f"CASE WHEN {g_nn} >= 2 THEN "
            f"(CASE WHEN {pi} >= {pm} AND {pi} >= {pf} THEN {gi_ch} "
            f"WHEN {pm} >= {pf} THEN {gm_ch} ELSE {gf_ch} END) "
            f"ELSE chr(CAST({g_cp} AS INT)) END")
    g_conf = (f"CASE WHEN {g_nn} >= 2 THEN "
              f"(CASE WHEN {pi} >= {pm} AND {pi} >= {pf} THEN {pi} "
              f"WHEN {pm} >= {pf} THEN {pm} ELSE {pf} END) "
              f"ELSE ({pi} + {pm} + {pf}) / 3 END")
    g_n = "least(length(initial), length(medial), length(final))"
    sqls["grapheme_compose"] = f"""{g_dec}
SELECT doc_id,
       CASE WHEN {g_n} = 0 THEN ' ' ELSE
           coalesce(array_to_string(list_transform(
               generate_series(1, {g_n}), k -> {g_ch}), ''), '') END
           AS composed,
       array_to_string(list_transform(generate_series(1, {g_n}),
                      k -> CAST(CAST(round({g_conf}, 4) AS DECIMAL(6,4))
                                AS VARCHAR)), ',') AS conf
FROM dec"""

    g_lch = (f"CASE WHEN {gip} = 0 OR {gmp} = 0 THEN {gi_ch} "
             f"ELSE chr(CAST(44032 + (({gip} - 1) * 21 + ({gmp} - 1)) * 28 "
             f"+ (CASE WHEN {gfp} = 0 THEN 0 ELSE {gfp} - 1 END) AS INT)) "
             f"END")
    sqls["grapheme_compose_label"] = f"""{g_dec}
SELECT doc_id,
       coalesce(array_to_string(list_transform(
           generate_series(1, {g_n}), k -> {g_lch}), ''), '') AS composed
FROM dec"""

    # c_ned's per-pair distance: pred is tgt minus its FIRST char (never
    # a space — position 1 is always Hangul synth), so the char-level
    # Levenshtein is exactly 1; DuckDB's levenshtein() is BYTE-based on
    # Hangul, hence the implied-by-synth constant here.
    sqls["grapheme_ned"] = f"""{g_base},
pairs AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN '' ELSE ktext END AS tgt0
    FROM kt
),
preds AS (
    SELECT doc_id, tgt0,
           CASE WHEN doc_id % 11 = 0 THEN ''
                WHEN doc_id % 3 = 0 THEN tgt0
                ELSE substring(tgt0, 2) END AS pred0
    FROM pairs
),
s AS (
    SELECT replace(tgt0, ' ', '') AS tgt,
           replace(pred0, ' ', '') AS pred
    FROM preds
),
per AS (
    SELECT CASE WHEN pred = tgt THEN 1 ELSE 0 END AS eq,
           CASE WHEN pred = tgt THEN 0.0
                WHEN length(pred) = 0 OR length(tgt) = 0 THEN 1.0
                ELSE 1.0 / greatest(length(pred), length(tgt)) END
               AS lev_norm,
           CASE WHEN length(pred) = 0 OR length(tgt) = 0 THEN
                (CASE WHEN length(pred) = length(tgt) THEN 1.0
                 ELSE 0.0 END) ELSE 0.0 END AS g_dist
    FROM s
)
SELECT round(sum(eq) / (count(*) + 0.00001), 4) + 0 AS acc,
       round(1.0 - sum(lev_norm) / (count(*) + 0.00001), 4) + 0 AS c_ned,
       round(1.0 - sum(g_dist) / (count(*) + 0.00001), 4) + 0 AS g_ned,
       count(*) AS n
FROM per"""

    sqls["rec_metric_grapheme"] = f"""{g_dec},
chan AS (
    SELECT kt.doc_id, 'character' AS channel, kt.ktext AS raw FROM kt
    UNION ALL
    SELECT doc_id, 'initial', initial FROM dec
    UNION ALL
    SELECT doc_id, 'medial', medial FROM dec
    UNION ALL
    SELECT doc_id, 'final', final FROM dec
),
pairs AS (
    SELECT channel,
           CASE WHEN doc_id % 13 = 0 THEN '' ELSE raw END AS tgt0,
           doc_id
    FROM chan
),
s AS (
    SELECT channel,
           replace(CASE WHEN doc_id % 11 = 0 THEN ''
                        WHEN doc_id % 3 = 0 THEN tgt0
                        ELSE substring(tgt0, 2) END, ' ', '') AS pred,
           replace(tgt0, ' ', '') AS tgt
    FROM pairs
),
per AS (
    SELECT channel,
           CASE WHEN pred = tgt THEN 1 ELSE 0 END AS eq,
           CASE WHEN pred = tgt THEN 0.0
                WHEN length(pred) = 0 OR length(tgt) = 0 THEN 1.0
                ELSE 1.0 / greatest(length(pred), length(tgt)) END
               AS ned
    FROM s
)
SELECT channel,
       round(sum(eq) / (count(*) + 0.00001), 4) + 0 AS acc,
       round(1.0 - sum(ned) / (count(*) + 0.00001), 4) + 0
           AS norm_edit_dis,
       count(*) AS n
FROM per GROUP BY channel ORDER BY channel"""

    # --- utf8string dialect: flat compatibility-jamo streams + greedy
    #     re-composition + the ensemble layer (korean_compose_by_utf8
    #     .py). The Hangul test here is the FULL block (<= 55203). ---
    from .functions.grapheme import CHOSUNG as _CHO
    from .functions.grapheme import JONGSUNG as _JON
    from .functions.grapheme import JUNGSUNG as _JUN
    u_cp = "unicode(substring(ktext, CAST(k AS INT), 1))"
    u_code = f"({u_cp} - 44032)"
    u_jong = f"({u_code} % 28)"
    u_jung = f"((({u_code} - {u_jong}) // 28) % 21)"
    u_cho = f"((({u_code} - {u_jong}) // 28) // 21)"
    u_per = (f"CASE WHEN {u_cp} BETWEEN 44032 AND 55203 THEN "
             f"substring('{_CHO}', CAST({u_cho} + 1 AS INT), 1) || "
             f"substring('{_JUN}', CAST({u_jung} + 1 AS INT), 1) || "
             f"substring('{_JON}', CAST({u_jong} + 1 AS INT), 1) "
             f"ELSE substring(ktext, CAST(k AS INT), 1) END")
    sqls["utf8_decompose"] = f"""{g_base}
SELECT doc_id,
       coalesce(array_to_string(list_transform(
           generate_series(1, length(ktext)), k -> {u_per}), ''), '')
           AS jamo
FROM kt"""

    # Greedy re-composition, implied by the synth: decompose ALWAYS
    # emits cho+jung+jong ('@' at minimum) per syllable and the %4 ASCII
    # chars are never jamo, so the scan's parse is statically known —
    # composed == ktext, each Hangul output char consumed exactly 3 jamo
    # positions (avg of 3 probs) and each ASCII char consumed 1. The
    # jamo start offset of output char k is 1 + sum of the widths
    # (3 Hangul / 1 other) of the chars before it.
    # The jamo start offset of output char k is 1 + the cumulative width
    # (3 Hangul / 1 other) of the chars before it — a window sum over an
    # unnested position table (linear; the naive per-k list_sum re-scan
    # was O(n^2) per doc and cost ~40 s of DuckDB time at sf0.01).
    def u_p(j: str) -> str:
        return f"(CAST((doc_id + 5 * {j}) % 8 + 1 AS DOUBLE) / 8)"

    sqls["utf8_compose"] = f"""{g_base},
pos AS (
    SELECT doc_id, ktext,
           unnest(generate_series(1, length(ktext))) AS k
    FROM kt
),
off AS (
    SELECT doc_id, ktext, k,
           ({u_cp} BETWEEN 44032 AND 55203) AS hang,
           1 + coalesce(sum(CASE WHEN {u_cp} BETWEEN 44032 AND 55203
                            THEN 3 ELSE 1 END)
               OVER (PARTITION BY doc_id ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS o
    FROM pos
),
per AS (
    SELECT doc_id, ktext, k,
           round(CASE WHEN hang
                 THEN ({u_p('o')} +
                       {u_p('(o + 1)')} +
                       {u_p('(o + 2)')}) / 3
                 ELSE {u_p('o')} END, 4) AS pk
    FROM off
)
SELECT kt.doc_id, kt.ktext AS composed,
       coalesce(agg.ps, '') AS ps
FROM kt LEFT JOIN (
    SELECT doc_id,
           array_to_string(list(CAST(CAST(pk AS DECIMAL(6,4)) AS VARCHAR)
                                ORDER BY k), ',') AS ps
    FROM per GROUP BY doc_id
) agg USING (doc_id)"""

    u_c1 = "substring(ktext, CAST(k AS INT), 1)"
    u_c2 = f"CASE WHEN k % 5 = 0 THEN 'x' ELSE {u_c1} END"
    u_e1 = "(CAST((doc_id + k) % 8 + 1 AS DOUBLE) / 8)"
    u_e2 = "(CAST((doc_id + 3 * k) % 8 + 1 AS DOUBLE) / 8)"
    u_mul = (lambda p: f"CASE WHEN length(ktext) = 0 THEN 0.0 ELSE "
             f"list_aggregate(list_transform(generate_series(1, "
             f"length(ktext)), k -> {p}), 'product') END")
    sqls["rec_ensemble"] = f"""{g_base}
SELECT doc_id,
       coalesce(array_to_string(list_transform(
           generate_series(1, length(ktext)),
           k -> CASE WHEN {u_e1} >= {u_e2} THEN {u_c1} ELSE {u_c2} END),
           ''), '') AS char_ens,
       coalesce(array_to_string(list_transform(
           generate_series(1, length(ktext)),
           k -> CASE WHEN {u_e1} >= 0.5 THEN {u_c1} ELSE {u_c2} END),
           ''), '') AS char_thr,
       CASE WHEN ({u_mul(u_e1)}) >= ({u_mul(u_e2)}) THEN 'p1'
            ELSE 'p2' END AS mul_pick,
       'p2' AS logavg_pick
FROM kt"""

    # --- A8 E2EMetric mode-A full report ---
    sqls["e2e_metric"] = """
WITH base0 AS (
    SELECT l_orderkey % 50 AS t_id,
           l_orderkey * 10 + l_linenumber AS gid,
           l_linenumber AS ln
    FROM lineitem WHERE l_linenumber <= 4
),
geo AS (
    SELECT t_id, gid, ln,
           CAST(((row_number() OVER (PARTITION BY t_id ORDER BY gid)) - 1)
                % 37 * 40 AS DOUBLE) AS x1,
           CAST(((row_number() OVER (PARTITION BY t_id ORDER BY gid)) - 1)
                // 37 * 35 AS DOUBLE) AS y1
    FROM base0
),
egt AS (
    SELECT t_id, gid AS gt_id, x1, y1, x1 + 25 AS x2, y1 + 18 AS y2,
           'text' || CAST(gid % 97 AS VARCHAR) AS gt_text,
           gid % 13 = 0 AS ignore
    FROM geo
),
epred AS (
    SELECT t_id, gid AS pred_id,
           x1 + CASE WHEN ln <= 3 THEN 2.0 ELSE 9000.0 END AS px1,
           y1 + CASE WHEN ln <= 3 THEN 2.0 ELSE 9000.0 END AS py1,
           x1 + CASE WHEN ln <= 3 THEN 2.0 ELSE 9000.0 END + 25 AS px2,
           y1 + CASE WHEN ln <= 3 THEN 2.0 ELSE 9000.0 END + 18 AS py2,
           CASE WHEN gid % 3 = 0 THEN 'text' || CAST(gid % 97 AS VARCHAR)
                ELSE 'text' || CAST((gid + 1) % 97 AS VARCHAR) END
               AS pred_text
    FROM geo
),
em AS (
    SELECT gt_id, pred_id, gt_text, pred_text, ignore
    FROM egt JOIN epred USING (t_id)
    -- implied by IoU >= 0.5 (strict overlap of equal-size 25x18 boxes)
    WHERE abs(x1 - px1) < 25 AND abs(y1 - py1) < 18
      AND greatest(0.0, least(x2, px2) - greatest(x1, px1))
          * greatest(0.0, least(y2, py2) - greatest(y1, py1))
          / ((x2-x1)*(y2-y1) + (px2-px1)*(py2-py1)
             - greatest(0.0, least(x2, px2) - greatest(x1, px1))
               * greatest(0.0, least(y2, py2) - greatest(y1, py1))) >= 0.5
),
mstats AS (
    SELECT count(*) AS m_cnt,
           coalesce(sum(CASE WHEN gt_text = pred_text THEN 1 ELSE 0 END),
                    0) AS hit,
           coalesce(sum(levenshtein(gt_text, pred_text)), 0) AS m_ed,
           coalesce(sum(length(gt_text)), 0) AS m_chars
    FROM em WHERE NOT ignore
),
gstats AS (
    SELECT count(*) AS g_cnt,
           coalesce(sum(length(gt_text)), 0) AS g_chars
    FROM egt WHERE NOT ignore
      AND gt_id NOT IN (SELECT gt_id FROM em)
),
dstats AS (
    SELECT count(*) AS d_cnt,
           coalesce(sum(length(pred_text)), 0) AS d_ed
    FROM epred WHERE pred_id NOT IN (SELECT pred_id FROM em)
),
nimg AS (SELECT CAST(count(DISTINCT t_id) AS DOUBLE) AS n FROM egt)
SELECT round(hit / (m_cnt + d_cnt + 1e-9), 4) + 0 AS precision,
       round(hit / (m_cnt + g_cnt + 1e-9), 4) + 0 AS recall,
       round(2.0 * (hit / (m_cnt + d_cnt + 1e-9))
                 * (hit / (m_cnt + g_cnt + 1e-9))
             / (hit / (m_cnt + d_cnt + 1e-9)
                + hit / (m_cnt + g_cnt + 1e-9) + 1e-9), 4) + 0 AS fmeasure,
       round(1.0 - (m_ed + g_chars + d_ed)
                   / (m_chars + g_chars + 1e-9), 4) + 0 AS character_acc,
       round((m_ed + g_chars + d_ed) / (m_cnt + g_cnt + 1e-9), 4) + 0
           AS avg_edit_dist_field,
       round((m_ed + g_chars + d_ed) / (SELECT n FROM nimg), 4) + 0
           AS avg_edit_dist_img,
       CAST(hit AS BIGINT) AS hit,
       CAST(m_cnt + g_cnt AS BIGINT) AS gt_count,
       CAST(m_cnt + d_cnt AS BIGINT) AS dt_count
FROM mstats, gstats, dstats"""

    # --- P8 preprocess_image: alpha flatten + invert + Otsu ---
    hexd = "strpos('0123456789abcdef', substring(hx, {p}, 1)) - 1"
    def _byte(i):
        return (f"(({hexd.format(p=2*i+1)}) * 16 + ({hexd.format(p=2*i+2)}))")
    sqls["preprocess_image"] = f"""
WITH {SYNTH_CTE.lstrip()},
refs AS (SELECT DISTINCT media_ref FROM synth_spans WHERE kind = 'media'),
hxs AS (SELECT media_ref, md5(media_ref) AS hx FROM refs),
chan AS (
    SELECT media_ref, hx, {_byte(0)} AS r, {_byte(1)} AS g,
           {_byte(2)} AS b, {_byte(3)} AS a
    FROM hxs
),
rgba AS (
    SELECT media_ref,
           CAST(floor(255 * (1 - a / 255.0) + r * (a / 255.0)) AS BIGINT)
               AS r_flat,
           CAST(floor(255 * (1 - a / 255.0) + g * (a / 255.0)) AS BIGINT)
               AS g_flat,
           CAST(floor(255 * (1 - a / 255.0) + b * (a / 255.0)) AS BIGINT)
               AS b_flat
    FROM chan
),
obins AS (
    SELECT media_ref, bb.bb AS bin,
           strpos('0123456789abcdef',
                  substring(hx, CAST(bb.bb + 1 AS INT), 1)) - 1 AS wt
    FROM hxs CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bb) bb
),
ocum AS (
    SELECT media_ref, bin,
           sum(wt) OVER (PARTITION BY media_ref ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w0,
           sum(bin * wt) OVER (PARTITION BY media_ref ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0,
           sum(wt) OVER (PARTITION BY media_ref) AS total,
           sum(bin * wt) OVER (PARTITION BY media_ref) AS sum_all
    FROM obins
),
ovar AS (
    SELECT media_ref, bin,
           CASE WHEN w0 > 0 AND total - w0 > 0 THEN
               CAST((s0 * (total - w0) - (sum_all - s0) * w0)
                    * (s0 * (total - w0) - (sum_all - s0) * w0) AS DOUBLE)
               / CAST(w0 * (total - w0) AS DOUBLE)
           ELSE -1.0 END AS var
    FROM ocum
),
otsu AS (
    SELECT media_ref, bin AS otsu_bin FROM (
        SELECT media_ref, bin,
               row_number() OVER (PARTITION BY media_ref
                                  ORDER BY var DESC, bin) AS rn
        FROM ovar
    ) WHERE rn = 1
)
SELECT rgba.media_ref,
       CAST(r_flat AS BIGINT) AS r_flat,
       CAST(g_flat AS BIGINT) AS g_flat,
       CAST(b_flat AS BIGINT) AS b_flat,
       CAST(255 - r_flat AS BIGINT) AS r_inv,
       CAST(otsu_bin AS BIGINT) AS otsu_bin
FROM rgba JOIN otsu USING (media_ref)"""

    # --- S2 PDF branch: closed-form twin of pdfcodec._ref_plan ---
    # (reading order is j-ascending by construction: y = 700 - 40j is
    # strictly decreasing, so span_idx == j; the scrambled content-stream
    # order is what the Spark-side parser has to undo)
    sqls["pdf_pages"] = f"""
WITH {SYNTH_CTE.lstrip()},
refs AS (SELECT DISTINCT media_ref FROM synth_spans WHERE kind = 'media'),
hxs AS (SELECT media_ref, md5(media_ref) AS hx FROM refs),
hb AS (
    SELECT media_ref, {_byte(0)} AS h0, {_byte(3)} AS h3, {_byte(4)} AS h4,
           {_byte(5)} AS h5, {_byte(6)} AS h6, {_byte(7)} AS h7
    FROM hxs
),
pg AS (
    SELECT media_ref, h0, h4, h5, h6, h7,
           unnest(generate_series(0, h3 % 3)) AS k
    FROM hb
),
pk AS (
    SELECT media_ref, h0, k,
           CASE k WHEN 0 THEN h4 WHEN 1 THEN h5 ELSE h6 END AS hm,
           CASE k WHEN 0 THEN h5 WHEN 1 THEN h6 ELSE h7 END AS hxj
    FROM pg
),
sp AS (
    SELECT media_ref, k, h0, hxj,
           unnest(generate_series(0, 1 + hm % 4)) AS j
    FROM pk
)
SELECT media_ref,
       CAST(k AS BIGINT) AS page_idx,
       CAST(j AS BIGINT) AS span_idx,
       CAST(50 + ((hxj + 17 * j) % 10) * 45 AS DOUBLE) AS x,
       CAST(700 - 40 * j AS DOUBLE) AS y,
       's' || k || '_' || j || '_' ||
           CAST((h0 + 31 * j + 7 * k) % 997 AS VARCHAR) AS text
FROM sp"""

    # --- D7/J2/A7 table-structure family (builders in operators/table.py) ---
    t_cte = "t AS (SELECT DISTINCT l_orderkey % 50 AS t_id FROM lineitem)"
    ids_pred = TBL.table_ids_sql("t_id % 11 = 3", "duck")
    ids_gt = TBL.table_ids_sql("FALSE", "duck")
    dec_pred = TBL.table_decode_sql(ids_pred, "duck")
    dec_gt = TBL.table_decode_sql(ids_gt, "duck")
    tokrows_cte = f"""
toks AS (SELECT t_id, {dec_pred} AS tokens FROM t),
postab AS (SELECT t_id, tokens,
           unnest(generate_series(1, len(tokens))) AS i FROM toks),
tokrows AS (SELECT t_id, CAST(i - 1 AS BIGINT) AS pos,
            tokens[CAST(i AS INT)] AS token FROM postab)"""

    sqls["table_structure"] = f"""
WITH {t_cte}, {tokrows_cte.lstrip()}
SELECT t_id, pos, token FROM tokrows"""

    sqls["table_token_acc"] = f"""
WITH {t_cte},
per AS (SELECT t_id, array_to_string({dec_pred}, '') AS pred_str,
               array_to_string({dec_gt}, '') AS gt_str FROM t)
SELECT round(sum(CASE WHEN pred_str = gt_str THEN 1 ELSE 0 END)
             / (count(*) + 1e-6), 4) + 0 AS token_acc,
       CAST(sum(CASE WHEN pred_str = gt_str THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
       CAST(count(*) AS BIGINT) AS n_tables
FROM per"""

    td_in = "token IN ('</td>', '<td></td>')"
    sqls["table_html"] = f"""
WITH {CELL_BASE_CTE.lstrip()},
{t_cte}, {tokrows_cte.lstrip()},
bcont AS (
    SELECT t_id, cell_id, box_id,
           CASE WHEN box_id % 21 = 0 THEN '<b>'
                WHEN box_id % 7 = 0
                THEN '<b>w' || CAST(box_id % 100 AS VARCHAR)
                WHEN box_id % 7 = 1
                THEN 'w' || CAST(box_id % 100 AS VARCHAR) || '</b>'
                WHEN box_id % 7 = 2
                THEN ' w' || CAST(box_id % 100 AS VARCHAR)
                WHEN box_id % 7 = 3 THEN ''
                ELSE 'w' || CAST(box_id % 100 AS VARCHAR) END AS content
    FROM assigned
),
wn AS (
    SELECT *, count(*) OVER (PARTITION BY t_id, cell_id) AS n,
           row_number() OVER (PARTITION BY t_id, cell_id
                              ORDER BY box_id) - 1 AS i,
           first_value(content) OVER (PARTITION BY t_id, cell_id
                                      ORDER BY box_id) AS first_c
    FROM bcont
),
mg AS (
    SELECT *, CASE WHEN strpos(c2, '</b>') > 0
                   THEN substring(c2, 1, greatest(length(c2) - 4, 0))
                   ELSE c2 END AS c3
    FROM (
        SELECT *, CASE WHEN strpos(c1, '<b>') > 0
                       THEN substring(c1, 4) ELSE c1 END AS c2
        FROM (
            SELECT *, CASE WHEN substring(content, 1, 1) = ' '
                           THEN substring(content, 2)
                           ELSE content END AS c1
            FROM wn
        )
    )
),
pieces AS (
    SELECT t_id, cell_id, i, n, first_c,
           CASE WHEN n = 1 THEN TRUE
                ELSE content != '' AND c3 != '' END AS kept,
           CASE WHEN n = 1 THEN content
                ELSE c3 || CASE WHEN i != n - 1
                                AND substring(c3, greatest(length(c3), 1),
                                              1) != ' '
                           THEN ' ' ELSE '' END END AS piece
    FROM mg
),
celltxt AS (
    SELECT t_id, cell_id,
           CASE WHEN max(n) > 1 AND min(first_c) = '<b>'
                THEN '<b>' || coalesce(string_agg(
                     CASE WHEN kept THEN piece END, '' ORDER BY i), '')
                     || '</b>'
                ELSE coalesce(string_agg(
                     CASE WHEN kept THEN piece END, '' ORDER BY i), '')
           END AS cell_content
    FROM pieces GROUP BY t_id, cell_id
),
tw AS (
    SELECT t_id, pos, token,
           CASE WHEN {td_in} THEN
               sum(CASE WHEN {td_in} THEN 1 ELSE 0 END)
               OVER (PARTITION BY t_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
           END AS td_idx
    FROM tokrows
),
ex AS (
    SELECT tw.t_id, tw.pos,
           CASE WHEN tw.td_idx IS NULL THEN tw.token
                WHEN tw.token = '<td></td>'
                THEN '<td>' || coalesce(c.cell_content, '') || '</td>'
                ELSE coalesce(c.cell_content, '') || '</td>' END AS exp
    FROM tw LEFT JOIN celltxt c
      ON c.t_id = tw.t_id AND c.cell_id = tw.td_idx
)
SELECT t_id, '<html><body><table>'
       || string_agg(exp, '' ORDER BY pos)
       || '</table></body></html>' AS html
FROM ex GROUP BY t_id"""

    sqls["neardup_components"] = f"""
WITH RECURSIVE nd AS ({sqls['embedding_neardup']}),
cedges AS (
    SELECT vec_a AS s, vec_b AS d FROM nd
    UNION ALL
    SELECT vec_b AS s, vec_a AS d FROM nd
),
reach(v, u) AS (
    SELECT s AS v, s AS u FROM cedges
    UNION
    SELECT r.v, e.d FROM reach r JOIN cedges e ON r.u = e.s
)
SELECT v AS vec_id, min(u) AS component FROM reach GROUP BY v"""

    sqls["neardup_survivors"] = f"""
WITH RECURSIVE nd AS ({sqls['embedding_neardup']}),
cedges AS (
    SELECT vec_a AS s, vec_b AS d FROM nd
    UNION ALL
    SELECT vec_b AS s, vec_a AS d FROM nd
),
reach(v, u) AS (
    SELECT s AS v, s AS u FROM cedges
    UNION
    SELECT r.v, e.d FROM reach r JOIN cedges e ON r.u = e.s
),
comp AS (SELECT v AS vec_id, min(u) AS component FROM reach GROUP BY v),
base AS (
    SELECT vec_id FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 FROM embeddings WHERE vec_id % 10 = 0
)
SELECT b.vec_id,
       (c.vec_id IS NOT NULL) AS kept_group_representative
FROM base b LEFT JOIN comp c ON b.vec_id = c.vec_id
WHERE c.vec_id IS NULL OR c.component = b.vec_id"""

    # --- R5 train-side label encoders (labelenc.py twins) ---
    from .functions.labelenc import ENC_CHARSET, MAX_TEXT_LEN
    enc, ml = ENC_CHARSET, MAX_TEXT_LEN
    eos_attn, sar_be, sar_pad = len(enc) + 1, len(enc) + 1, len(enc) + 2
    sqls["rec_label_encode"] = f"""
WITH base AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN upper(substring(text, CAST(1 + doc_id % 7 AS INT),
                                     CAST(doc_id % 30 AS INT)))
                ELSE substring(text, CAST(1 + doc_id % 7 AS INT),
                               CAST(doc_id % 30 AS INT)) END AS text
    FROM documents
),
e AS (
    SELECT doc_id,
           length(coalesce(text, '')) AS raw_len,
           list_filter(list_transform(
               string_split(lower(coalesce(text, '')), ''),
               c -> strpos('{enc}', c)), i -> i > 0) AS ids
    FROM base
),
f AS (
    SELECT doc_id, ids, len(ids) AS n,
           (raw_len = 0 OR raw_len > {ml}) AS rej0
    FROM e
),
g AS (
    SELECT doc_id, ids, n, rej0,
           list_concat(ids, list_transform(
               generate_series(1, {ml} - n), x -> 0)) AS padded
    FROM f
)
SELECT doc_id,
    CASE WHEN rej0 OR n = 0 THEN NULL
         ELSE array_to_string(padded, ',') END AS ctc_label,
    CASE WHEN rej0 OR n = 0 THEN NULL
         ELSE CAST(n AS BIGINT) END AS ctc_length,
    CASE WHEN rej0 OR n = 0 THEN NULL
         ELSE array_to_string(list_transform(generate_series(0, {len(enc)}),
              s -> len(list_filter(padded, x -> x = s))), ',') END AS ctc_ace,
    CASE WHEN rej0 OR n = 0 OR n >= {ml} THEN NULL
         ELSE array_to_string(list_concat(list_concat([0], ids),
              list_concat([{eos_attn}],
                  list_transform(generate_series(1,
                      greatest(0, {ml} - n - 2)), x -> 0))), ',')
         END AS attn_label,
    CASE WHEN rej0 OR n = 0 OR n >= {ml} THEN NULL
         ELSE CAST(n AS BIGINT) END AS attn_length,
    CASE WHEN rej0 OR n = 0 OR n >= {ml - 1} THEN NULL
         ELSE array_to_string(list_concat(
              list_concat([{sar_be}], list_transform(ids, i -> i - 1)),
              list_concat([{sar_be}],
                  list_transform(generate_series(1, {ml} - n - 2),
                                 x -> {sar_pad}))), ',') END AS sar_label,
    CASE WHEN rej0 OR n = 0 OR n >= {ml - 1} THEN NULL
         ELSE CAST(n AS BIGINT) END AS sar_length
FROM g"""

    # --- S5 LMDB scan: closed-form prediction of the whole
    #     write→B+tree-read→PPM-decode path ---
    npix = _LMDB_W * _LMDB_H
    img_len = 13 + 3 * npix             # "P6\n40 26\n255\n" + RGB bytes
    gexpr = (f"list_transform(generate_series(0, {npix - 1}), i -> "
             f"(7 * doc_id + 3 * (i % {_LMDB_W}) + 11 * (i // {_LMDB_W}))"
             f" % 256)")
    sqls["lmdb_scan"] = f"""
WITH r AS (
    SELECT doc_id, substring(text, 1, 20) AS t,
           CAST(doc_id % 2 AS INT) AS lmdb_idx,
           CAST(row_number() OVER (PARTITION BY doc_id % 2
                                   ORDER BY doc_id) AS INT) AS file_idx
    FROM documents
)
SELECT lmdb_idx, file_idx,
       printf('doc_%07d', doc_id) || ':' || t AS label,
       CAST({img_len} AS BIGINT) AS img_len,
       CAST(list_sum({gexpr}) AS BIGINT) AS sum_gray,
       CAST(list_min({gexpr}) AS BIGINT) AS min_gray,
       CAST(list_max({gexpr}) AS BIGINT) AS max_gray
FROM r WHERE doc_id % 31 != 0 AND file_idx <= {_LMDB_MAX_DOCS_PER_ENV}"""

    sqls["border_map"] = _fixture_sql(
        "border_map",
        "doc_id, thr_sum, thr_max, CAST(thr_px AS BIGINT) AS thr_px, "
        "CAST(mask_px AS BIGINT) AS mask_px")

    # --- R6 MakeShrinkMap: decisions + union-of-rects raster counts ---
    sw, sh = _SHRINK_W, _SHRINK_H
    sqls["shrink_map"] = f"""
WITH b AS (
    SELECT printf('doc_%04d', l_orderkey % 200) AS doc_id,
           CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS box_id,
           CAST((l_partkey % 12) * 10 - 5 AS DOUBLE) AS x0,
           CAST((l_suppkey % 8) * 9 - 4 AS DOUBLE) AS y0,
           CAST(l_orderkey % 30 AS DOUBLE) AS bw0,
           CAST((l_suppkey + l_linenumber) % 24 AS DOUBLE) AS bh0,
           (l_orderkey % 23 = 0) AS tag
    FROM lineitem WHERE l_linenumber <= 4 AND l_orderkey % 11 = 0
),
c AS (
    SELECT doc_id, box_id, tag,
           least(greatest(x0, 0), {sw - 1}) AS cx0,
           least(greatest(y0, 0), {sh - 1}) AS cy0,
           least(greatest(x0 + bw0, 0), {sw - 1}) AS cx1,
           least(greatest(y0 + bh0, 0), {sh - 1}) AS cy1
    FROM b
),
d AS (
    SELECT *,
           (tag OR (cx1 - cx0) * (cy1 - cy0) < 1
                OR least(cx1 - cx0, cy1 - cy0) < 8) AS masked,
           ((cx1 - cx0) * (cy1 - cy0))
               * (1 - CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE))
               / (2 * ((cx1 - cx0) + (cy1 - cy0))) AS dist
    FROM c
),
e AS (
    SELECT doc_id, box_id, masked,
           CAST(trunc(cx0) AS INT) AS mx0, CAST(trunc(cy0) AS INT) AS my0,
           CAST(trunc(cx1) AS INT) AS mx1, CAST(trunc(cy1) AS INT) AS my1,
           CASE WHEN masked THEN NULL
                ELSE CAST(floor(cx0 + dist + 0.5) AS INT) END AS sx0,
           CASE WHEN masked THEN NULL
                ELSE CAST(floor(cy0 + dist + 0.5) AS INT) END AS sy0,
           CASE WHEN masked THEN NULL
                ELSE CAST(floor(cx1 - dist + 0.5) AS INT) END AS sx1,
           CASE WHEN masked THEN NULL
                ELSE CAST(floor(cy1 - dist + 0.5) AS INT) END AS sy1
    FROM d
),
g AS (
    SELECT doc_id, count(*) AS gt_count FROM (
        SELECT DISTINCT doc_id, gx.x, gy.y
        FROM e,
             UNNEST(generate_series(CAST(sx0 AS BIGINT),
                                    CAST(sx1 AS BIGINT))) gx(x),
             UNNEST(generate_series(CAST(sy0 AS BIGINT),
                                    CAST(sy1 AS BIGINT))) gy(y)
        WHERE NOT masked
    ) GROUP BY doc_id
),
m AS (
    SELECT doc_id, count(*) AS mask_zeroed FROM (
        SELECT DISTINCT doc_id, gx.x, gy.y
        FROM e,
             UNNEST(generate_series(CAST(mx0 AS BIGINT),
                                    CAST(mx1 AS BIGINT))) gx(x),
             UNNEST(generate_series(CAST(my0 AS BIGINT),
                                    CAST(my1 AS BIGINT))) gy(y)
        WHERE masked
    ) GROUP BY doc_id
)
SELECT e.doc_id, e.box_id,
       CASE WHEN masked THEN 'masked' ELSE 'gt' END AS status,
       CAST(CASE WHEN masked THEN 0.0 ELSE 0.4 END AS DOUBLE) + 0 AS ratio,
       sx0, sy0, sx1, sy1,
       CAST(coalesce(g.gt_count, 0) AS BIGINT) AS gt_count,
       CAST({sw * sh} - coalesce(m.mask_zeroed, 0) AS BIGINT) AS mask_count
FROM e LEFT JOIN g ON e.doc_id = g.doc_id
       LEFT JOIN m ON e.doc_id = m.doc_id"""

    # --- R6 MakePseGt: 7-scale inset ladder + union-of-rects sweeps ---
    # Conventions mirrored from the kernel exactly: Clipper INPUT
    # rounding is half away from zero (trunc(x ± 0.5) — live only on the
    # upscaled fractional coords), inset OUTPUT rounding is floor(x+0.5)
    # (kernels._clipper_round), resize dims floor(x+0.5) (== cvRound on
    # this layout's exhaustively-verified no-half-way domain), mask fill
    # truncates toward zero. Tag escalation is monotone in k, so the
    # final tag set is orig OR collapsed-at-k=7.
    sqls["pse_gt"] = """
WITH b AS (
    SELECT printf('doc_%04d', l_orderkey % 200) AS doc_id,
           CAST(l_orderkey % 200 AS INT) AS dn,
           CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS box_id,
           CAST((l_partkey % 12) * 10 - 5 AS DOUBLE) AS x0,
           CAST((l_suppkey % 8) * 9 - 4 AS DOUBLE) AS y0,
           CAST(l_orderkey % 30 AS DOUBLE) AS bw0,
           CAST((l_suppkey + l_linenumber) % 24 AS DOUBLE) AS bh0,
           (l_orderkey % 23 = 0) AS tag
    FROM lineitem WHERE l_linenumber <= 4 AND l_orderkey % 11 = 0
),
d0 AS (
    SELECT doc_id, 60 + dn % 40 AS h0,
           (60 + dn % 40) < 80 AS scaled,
           CASE WHEN (60 + dn % 40) < 80
                THEN CAST(80 AS DOUBLE) / (60 + dn % 40)
                ELSE CAST(1 AS DOUBLE) END AS scale
    FROM (SELECT DISTINCT doc_id, dn FROM b)
),
d1 AS (
    SELECT *,
           CASE WHEN scaled THEN CAST(floor(h0 * scale + 0.5) AS BIGINT)
                ELSE h0 END AS nh,
           CASE WHEN scaled THEN CAST(floor(120 * scale + 0.5) AS BIGINT)
                ELSE 120 END AS nw
    FROM d0
),
sb AS (
    SELECT b.doc_id, box_id, tag, nh, nw, scaled,
           x0 * scale AS px0, y0 * scale AS py0,
           (x0 + bw0) * scale AS px1, (y0 + bh0) * scale AS py1
    FROM b JOIN d1 USING (doc_id)
),
r AS (
    SELECT *,
           CAST(trunc(px0 + CASE WHEN px0 < 0 THEN -0.5 ELSE 0.5 END)
                AS BIGINT) AS rx0,
           CAST(trunc(py0 + CASE WHEN py0 < 0 THEN -0.5 ELSE 0.5 END)
                AS BIGINT) AS ry0,
           CAST(trunc(px1 + CASE WHEN px1 < 0 THEN -0.5 ELSE 0.5 END)
                AS BIGINT) AS rx1,
           CAST(trunc(py1 + CASE WHEN py1 < 0 THEN -0.5 ELSE 0.5 END)
                AS BIGINT) AS ry1,
           px1 - px0 AS bw, py1 - py0 AS bh
    FROM sb
),
ks AS (
    SELECT r.*, g.k,
           1.0 - (1.0 - 0.4) / (7 - 1) * g.k AS rate
    FROM r, UNNEST(generate_series(1, 7)) g(k)
),
kd AS (
    SELECT *,
           ((rx1 - rx0) <= 2 * ((bw * bh) * (1 - rate * rate)
                                / (2 * (bw + bh) + 1e-6))
            OR (ry1 - ry0) <= 2 * ((bw * bh) * (1 - rate * rate)
                                   / (2 * (bw + bh) + 1e-6)))
               AS collapsed,
           CAST(floor((rx0 + (bw * bh) * (1 - rate * rate)
                       / (2 * (bw + bh) + 1e-6)) + 0.5) AS BIGINT) AS ix0,
           CAST(floor((ry0 + (bw * bh) * (1 - rate * rate)
                       / (2 * (bw + bh) + 1e-6)) + 0.5) AS BIGINT) AS iy0,
           CAST(floor((rx1 - (bw * bh) * (1 - rate * rate)
                       / (2 * (bw + bh) + 1e-6)) + 0.5) AS BIGINT) AS ix1,
           CAST(floor((ry1 - (bw * bh) * (1 - rate * rate)
                       / (2 * (bw + bh) + 1e-6)) + 0.5) AS BIGINT) AS iy1
    FROM ks
),
kp AS (
    SELECT doc_id, k, count(*) AS n_painted
    FROM kd WHERE NOT collapsed GROUP BY doc_id, k
),
px AS (
    SELECT doc_id, k, count(*) AS kernel_px FROM (
        SELECT DISTINCT doc_id, k, gx.x, gy.y
        FROM kd,
             UNNEST(generate_series(greatest(ix0, 0),
                                    least(ix1, nw - 1))) gx(x),
             UNNEST(generate_series(greatest(iy0, 0),
                                    least(iy1, nh - 1))) gy(y)
        WHERE NOT collapsed
    ) GROUP BY doc_id, k
),
ft AS (
    -- final tag inline per ROW (box_id is NOT unique in the synthetic
    -- lineitem — a join on it would fan out); escalation is monotone in
    -- k, so orig OR collapsed-at-k=7 is the final tag
    SELECT *, (tag OR collapsed) AS ftag
    FROM kd WHERE k = 7
),
ni AS (
    SELECT doc_id, sum(CASE WHEN ftag THEN 1 ELSE 0 END) AS n_ignored
    FROM ft GROUP BY doc_id
),
mz AS (
    SELECT doc_id, count(*) AS zeroed FROM (
        SELECT DISTINCT doc_id, gx.x, gy.y
        FROM ft,
             UNNEST(generate_series(greatest(CAST(trunc(px0) AS BIGINT), 0),
                                    least(CAST(trunc(px1) AS BIGINT),
                                          nw - 1))) gx(x),
             UNNEST(generate_series(greatest(CAST(trunc(py0) AS BIGINT), 0),
                                    least(CAST(trunc(py1) AS BIGINT),
                                          nh - 1))) gy(y)
        WHERE ftag
    ) GROUP BY doc_id
)
SELECT base.doc_id, CAST(base.k AS BIGINT) AS k, base.rate,
       CAST(coalesce(kp.n_painted, 0) AS BIGINT) AS n_painted,
       CAST(coalesce(px.kernel_px, 0) AS BIGINT) AS kernel_px,
       base.scaled,
       CAST(base.nh AS BIGINT) AS new_h, CAST(base.nw AS BIGINT) AS new_w,
       CAST(coalesce(ni.n_ignored, 0) AS BIGINT) AS n_ignored,
       CAST(base.nh * base.nw - coalesce(mz.zeroed, 0) AS BIGINT) AS mask_px
FROM (SELECT DISTINCT doc_id, k, rate, nh, nw, scaled FROM kd) base
LEFT JOIN kp USING (doc_id, k)
LEFT JOIN px USING (doc_id, k)
LEFT JOIN ni USING (doc_id)
LEFT JOIN mz USING (doc_id)"""

    # --- R5 TableLabelEncode: closed-form grammar reconstruction ---
    sqls["table_label_encode"] = """
WITH t AS (SELECT doc_id AS t_id FROM documents WHERE doc_id < 50),
c AS (
    SELECT t_id, g.c AS c, (t_id + g.c) % 5 AS v,
           ((t_id * 7 + g.c) % 4 != 0) AS has_bbox,
           ((t_id + g.c) % 6 != 0) AS has_toks
    FROM t, UNNEST(generate_series(0, 1 + t_id % 4)) g(c)
),
w AS (
    SELECT *,
           CASE WHEN v IN (2, 3) THEN [7, 10, 8, 9] ELSE [12] END
               AS cell_ids,
           CAST(3 + coalesce(sum(CASE WHEN v IN (2, 3) THEN 4 ELSE 1 END)
               OVER (PARTITION BY t_id ORDER BY c
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS pos
    FROM c
),
agg AS (
    SELECT t_id,
           list_concat(list_concat([0, 1, 5],
               flatten(list(cell_ids ORDER BY c))), [6, 2, 3, 4, 13]) AS ids
    FROM w GROUP BY t_id
),
padded AS (
    SELECT t_id, array_to_string(list_concat(ids,
        list_transform(generate_series(1, 42 - len(ids)), x -> 0)), ',')
        AS structure
    FROM agg
)
SELECT w.t_id, padded.structure, w.pos,
       CAST(w.c AS BIGINT) AS cell_no,
       CASE WHEN has_bbox AND has_toks
            THEN printf('%d,%d,%d,%d', w.c * 10, w.t_id, w.c * 10 + 8,
                        w.t_id + 6) END AS bbox,
       CAST(CASE WHEN has_bbox AND has_toks THEN 1.0 ELSE 0.0 END
            AS DOUBLE) + 0 AS bbox_mask
FROM w JOIN padded ON w.t_id = padded.t_id"""

    # --- R5 TableMasterLabelEncode: 0-based ids, <PAD> fill, LIVE
    #     over-length reject ---
    sqls["table_label_encode_master"] = """
WITH t AS (SELECT doc_id AS t_id FROM documents WHERE doc_id < 50),
c AS (
    SELECT t_id, g.c AS c, (t_id + g.c) % 5 AS v,
           ((t_id * 7 + g.c) % 4 != 0) AS has_bbox,
           ((t_id + g.c) % 6 != 0) AS has_toks
    FROM t, UNNEST(generate_series(0, 1 + t_id % 8)) g(c)
),
w AS (
    SELECT *,
           CASE WHEN v IN (2, 3) THEN [6, 9, 7, 8] ELSE [11] END
               AS cell_ids,
           CAST(3 + coalesce(sum(CASE WHEN v IN (2, 3) THEN 4 ELSE 1 END)
               OVER (PARTITION BY t_id ORDER BY c
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS pos
    FROM c
),
agg AS (
    SELECT t_id,
           list_concat(list_concat([0, 4],
               flatten(list(cell_ids ORDER BY c))), [5, 1, 2, 3]) AS ids
    FROM w GROUP BY t_id
),
keep AS (SELECT t_id, ids FROM agg WHERE len(ids) + 2 <= 40),
padded AS (
    SELECT t_id, array_to_string(list_concat(list_concat([13], ids),
        list_concat([14], list_transform(
            generate_series(1, 40 - 2 - len(ids)), x -> 15))), ',')
        AS structure
    FROM keep
)
SELECT w.t_id, padded.structure, w.pos,
       CAST(w.c AS BIGINT) AS cell_no,
       CASE WHEN has_bbox AND has_toks
            THEN printf('%d,%d,%d,%d', w.c * 10, w.t_id, w.c * 10 + 8,
                        w.t_id + 6) END AS bbox,
       CAST(CASE WHEN has_bbox AND has_toks THEN 1.0 ELSE 0.0 END
            AS DOUBLE) + 0 AS bbox_mask
FROM w JOIN padded ON w.t_id = padded.t_id"""

    # --- R5 E2ELabelEncodeTest: whole-sample drop + padnum-36 text ids ---
    sqls["e2e_label_encode"] = """
WITH b AS (
    SELECT printf('doc_%07d', l_orderkey) AS doc_id,
           l_linenumber AS ln,
           CASE WHEN l_orderkey % 13 = 0 THEN '*'
                WHEN l_orderkey % 17 = 0 THEN '###'
                WHEN l_orderkey % 19 = 0 THEN repeat('x', 26)
                ELSE printf('w%d', l_linenumber) END AS txt,
           CAST((l_partkey % 50) * 20 AS BIGINT) AS px,
           CAST((l_suppkey % 40) * 15 AS BIGINT) AS py
    FROM lineitem WHERE l_linenumber <= 4
),
flag AS (
    SELECT doc_id,
           bool_or(txt IN ('*', '###') OR length(txt) > 25) AS bad
    FROM b GROUP BY doc_id
),
r AS (
    SELECT b.*, row_number() OVER (PARTITION BY b.doc_id
                                   ORDER BY ln, txt, px, py) - 1 AS box_no
    FROM b JOIN flag ON b.doc_id = flag.doc_id
    WHERE NOT flag.bad
)
SELECT doc_id, CAST(box_no AS BIGINT) AS box_no, txt,
       FALSE AS ignore_tag,
       printf('%d,%d,%d,%d,%d,%d,%d,%d', px, py, px + 30, py,
              px + 30, py + 12, px, py + 12) AS poly,
       array_to_string(list_concat([32, ln],
           list_transform(generate_series(1, 23), x -> 36)), ',')
           AS text_ids
FROM r"""

    # --- R5 closing wave: the rest of the deterministic encoder roster ---
    from .functions.labelenc import _ROSTER
    roster_cols = []
    for fam, (shift, pre, suf, pad, target, extra) in _ROSTER.items():
        _, op, bound = extra.split()
        rej = f"(rej0 OR n = 0 OR n {op} {bound})"
        fixed = len(pre) + len(suf)
        lbl = f"list_transform(ids, i -> i + {shift})"
        if pre:
            lbl = f"list_concat([{', '.join(map(str, pre))}], {lbl})"
        if suf:
            lbl = f"list_concat({lbl}, [{', '.join(map(str, suf))}])"
        lbl = (f"list_concat({lbl}, list_transform(generate_series(1, "
               f"{target} - {fixed} - n), x -> {pad}))")
        roster_cols.append(f"CASE WHEN {rej} THEN NULL ELSE "
                           f"array_to_string({lbl}, ',') END AS {fam}_label")
        ln = "n + 1" if fam == "seed" else "n"
        roster_cols.append(f"CASE WHEN {rej} THEN NULL ELSE "
                           f"CAST({ln} AS BIGINT) END AS {fam}_length")
    roster_cols.append(f"""
    CASE WHEN (rej0 OR n = 0 OR n >= {ml - 1}) THEN NULL
         ELSE array_to_string(list_transform(generate_series(0,
             {len(enc) + 1}), s -> len(list_filter(ids, x -> x = s))), ',')
    END AS rfl_cnt""")
    roster_cols.append(f"""
    CASE WHEN raw_len = 0 OR raw_len >= {ml} THEN NULL
         ELSE array_to_string(list_concat(list_concat(
             list_transform(string_split(lower(coalesce(text, '')), ''),
                 c -> CASE WHEN strpos('{enc}', c) > 0
                      THEN strpos('{enc}', c) + 2 ELSE 2 END), [1]),
             list_transform(generate_series(1, {ml} - 1 - raw_len),
                 x -> 0)), ',')
    END AS pren_label""")
    roster_cols.append(f"""
    CASE WHEN len(can_ids) = 0 THEN NULL
         ELSE array_to_string(list_transform(can_ids, i -> i - 1), ',')
    END AS can_label""")
    roster_cols.append("""
    CASE WHEN doc_id % 3 = 0 THEN CAST(0 AS BIGINT)
         WHEN doc_id % 3 = 1 THEN CAST(1 AS BIGINT)
         ELSE NULL END AS cls_idx""")
    sqls["rec_label_roster"] = f"""
WITH base AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN upper(substring(text, CAST(1 + doc_id % 7 AS INT),
                                     CAST(doc_id % 30 AS INT)))
                ELSE substring(text, CAST(1 + doc_id % 7 AS INT),
                               CAST(doc_id % 30 AS INT)) END AS text
    FROM documents
),
e AS (
    SELECT doc_id, text,
           length(coalesce(text, '')) AS raw_len,
           list_filter(list_transform(
               string_split(lower(coalesce(text, '')), ''),
               c -> strpos('{enc}', c)), i -> i > 0) AS ids,
           list_filter(list_transform(
               list_filter(string_split_regex(trim(coalesce(text, '')),
                                              '\\s+'), t -> t != ''),
               t -> CASE WHEN length(t) = 1
                    THEN strpos('{enc}', t) ELSE 0 END),
               i -> i > 0) AS can_ids
    FROM base
),
f AS (
    SELECT doc_id, text, raw_len, ids, can_ids, len(ids) AS n,
           (raw_len = 0 OR raw_len > {ml}) AS rej0
    FROM e
)
SELECT doc_id,
    {(',' + chr(10) + '    ').join(roster_cols)}
FROM f"""

    sqls["det_label_encode"] = """
WITH b AS (
    SELECT printf('doc_%04d', l_orderkey % 300) AS doc_id,
           l_linenumber AS ln,
           CASE WHEN l_orderkey % 13 = 0 THEN '*'
                WHEN l_orderkey % 17 = 0 THEN '###'
                ELSE printf('w%d', l_linenumber) END AS txt,
           CAST((l_partkey % 50) * 20 AS BIGINT) AS px,
           CAST((l_suppkey % 40) * 15 AS BIGINT) AS py,
           (l_linenumber % 2 = 0) AS hex6
    FROM lineitem WHERE l_linenumber <= 5
),
p AS (
    SELECT doc_id, ln, txt, px, py,
           CASE WHEN hex6 THEN
               [[px, py], [px + 15, py], [px + 30, py], [px + 30, py + 12],
                [px + 15, py + 12], [px, py + 12]]
           ELSE
               [[px, py], [px + 30, py], [px + 30, py + 12], [px, py + 12]]
           END AS pts
    FROM b
),
m AS (
    SELECT *, max(len(pts)) OVER (PARTITION BY doc_id) AS maxpts,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY ln, txt, px, py) - 1 AS box_no
    FROM p
)
SELECT doc_id, CAST(box_no AS BIGINT) AS box_no, txt,
       (txt IN ('*', '###')) AS ignore_tag,
       array_to_string(flatten(list_concat(pts,
           list_transform(generate_series(1, maxpts - len(pts)),
                          x -> pts[-1]))), ',') AS poly
FROM m"""

    # -- retrieval + duplicated-span + clustering twins ------------------
    _terms = ", ".join(f"'{t}'" for t in R.BM25_QUERY)
    sqls["bm25_topk"] = f"""
WITH d AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
), dd AS (
    SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, w FROM d
), s AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dd
), tf AS (
    SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
    FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd)
    WHERE term IN ({_terms})
    GROUP BY doc_id, dl, term
), dfreq AS (
    SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
    FROM tf GROUP BY term
)
SELECT doc_id,
       round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * ({R.BM25_K1} + 1.0)
                 / (tf + {R.BM25_K1} * (1.0 - {R.BM25_B}
                                        + {R.BM25_B} * dl / avgdl))),
             4) + 0 AS bm25
FROM tf JOIN dfreq USING (term) CROSS JOIN s
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {R.BM25_TOPK}"""

    sqls["tfidf_terms"] = f"""
WITH d AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
), t AS (
    SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
    FROM (SELECT doc_id, unnest(w) AS term FROM d)
    GROUP BY doc_id, term
), nd AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM d
), dfreq AS (
    SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
    FROM t GROUP BY term
), scored AS (
    SELECT doc_id, term, round(tf * ln(n_docs / df), 4) + 0 AS tfidf
    FROM t JOIN dfreq USING (term) CROSS JOIN nd
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf
FROM (SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored)
WHERE rank <= {R.TFIDF_TOPK}"""

    sqls["lm_score"] = f"""
WITH d AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
), uni AS (
    SELECT v, CAST(count(*) AS DOUBLE) AS cv
    FROM (SELECT unnest(w) AS v FROM d) GROUP BY v
), vocab AS (
    SELECT CAST(count(*) AS DOUBLE) AS vsize FROM uni
), bi AS (
    SELECT doc_id, w[i] AS v, w[i + 1] AS u
    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
          FROM d WHERE len(w) >= 2)
), big AS (
    SELECT v, u, CAST(count(*) AS DOUBLE) AS cvu FROM bi GROUP BY v, u
), sc AS (
    SELECT doc_id, -ln((cvu + 1.0) / (cv + vsize)) AS nll
    FROM bi JOIN big USING (v, u) JOIN uni USING (v) CROSS JOIN vocab
), pd AS (
    SELECT doc_id, round(avg(nll), 4) + 0 AS lm_nll,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM sc GROUP BY doc_id
)
SELECT d.doc_id, coalesce(pd.lm_nll, 0.0) AS lm_nll,
       CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams
FROM d LEFT JOIN pd USING (doc_id)"""

    # kn_lm_score twin: the interpolated Kneser-Ney bigram formula in
    # the same single-division form as functions/retrieval.kn_lm_score
    # (identical FP op order on both engines).
    sqls["kn_lm_score"] = f"""
WITH d AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
), bi AS (
    SELECT doc_id, w[i] AS v, w[i + 1] AS u
    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
          FROM d WHERE len(w) >= 2)
), big AS (
    SELECT v, u, CAST(count(*) AS DOUBLE) AS cvu FROM bi GROUP BY v, u
), lft AS (
    SELECT v, sum(cvu) AS cv_dot, CAST(count(*) AS DOUBLE) AS n1p_v
    FROM big GROUP BY v
), rgt AS (
    SELECT u, CAST(count(*) AS DOUBLE) AS n1p_u FROM big GROUP BY u
), typ AS (
    SELECT CAST(count(*) AS DOUBLE) AS btypes FROM big
), sc AS (
    SELECT doc_id,
           -ln((greatest(cvu - {R.KN_DISCOUNT}, 0.0)
                + {R.KN_DISCOUNT} * n1p_v * n1p_u / btypes) / cv_dot)
           AS nll
    FROM bi JOIN big USING (v, u) JOIN lft USING (v) JOIN rgt USING (u)
    CROSS JOIN typ
), pd AS (
    SELECT doc_id, round(avg(nll), 4) + 0 AS kn_nll,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM sc GROUP BY doc_id
)
SELECT d.doc_id, coalesce(pd.kn_nll, 0.0) AS kn_nll,
       CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams
FROM d LEFT JOIN pd USING (doc_id)"""

    # hll_cardinality twin: identical register construction (md5-derived
    # 60-bit hash, integer bit-length ladder, integer register fold) —
    # the estimate itself is hash-gated. Constants from functions/sketches.
    _hl_low = SK.HLL_HASH_BITS - SK.HLL_P
    _hl_top = _hl_low + 1
    _hl_h = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(g), {i + 1}, 1)) - 1)"
        f" * {16 ** (14 - i)}" for i in range(15))
    _hl_bitlen = SK._bitlen_case(f"(h % {1 << _hl_low})", _hl_low)
    sqls["hll_cardinality"] = f"""
WITH hd AS (
    SELECT lang, {_WORDS} AS w FROM documents
), hs AS (
    SELECT lang, unnest(list_transform(range(1, len(w) - 1),
        i -> array_to_string(w[i : i + 2], ' '))) AS g
    FROM hd WHERE len(w) >= 3
), hh AS (
    SELECT lang, g, CAST({_hl_h} AS BIGINT) AS h FROM hs
), hr AS (
    SELECT lang, CAST(h // {1 << _hl_low} AS INT) AS b,
           max({_hl_top} - {_hl_bitlen}) AS m_j
    FROM hh GROUP BY lang, b
), hf AS (
    SELECT lang, CAST(count(*) AS DOUBLE) AS nonzero,
           sum(CAST(1 AS BIGINT) << ({_hl_top} - m_j)) AS s_int
    FROM hr GROUP BY lang
), he AS (
    SELECT lang, nonzero,
           {SK.HLL_ALPHA * SK.HLL_M * SK.HLL_M!r}
           / (s_int / {float(1 << _hl_top)!r}
              + ({float(SK.HLL_M)!r} - nonzero)) AS raw
    FROM hf
), hx AS (
    SELECT lang, CAST(count(DISTINCT g) AS BIGINT) AS exact FROM hs
    GROUP BY lang
), hz AS (
    SELECT he.lang, hx.exact,
           CASE WHEN raw <= {2.5 * SK.HLL_M!r}
                 AND ({float(SK.HLL_M)!r} - nonzero) > 0
                THEN {float(SK.HLL_M)!r}
                     * ln({float(SK.HLL_M)!r}
                          / ({float(SK.HLL_M)!r} - nonzero))
                ELSE raw END AS est
    FROM he JOIN hx ON he.lang = hx.lang
)
SELECT lang, exact, round(est, 4) + 0 AS hll_estimate,
       round(abs(est - exact) / exact, 4) + 0 AS rel_err
FROM hz"""

    # cms_heavy_hitters twin: identical row-salted md5 fold, bucket =
    # low bits, min over D counters. Constants from functions/sketches.
    def _cm_h(g: str) -> str:
        return " + ".join(
            f"(strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR)"
            f" || '|' || {g}), {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
            for i in range(15))

    sqls["cms_heavy_hitters"] = f"""
WITH cd AS (
    SELECT {_WORDS} AS w FROM documents
), cs AS (
    SELECT unnest(list_transform(range(1, len(w)),
        i -> w[i] || ' ' || w[i + 1])) AS g
    FROM cd WHERE len(w) >= 2
), cn AS (
    SELECT CAST(count(*) AS DOUBLE) AS n FROM cs
), cj AS (
    SELECT unnest([0, 1, 2, 3]) AS j
), csk AS (
    SELECT j, CAST(CAST({_cm_h('g')} AS BIGINT) % {SK.CMS_W} AS INT) AS b,
           count(*) AS c
    FROM cs, cj GROUP BY j, b
), cc AS (
    SELECT g, CAST(count(*) AS BIGINT) AS exact FROM cs GROUP BY g
), ce AS (
    SELECT g, exact, min(c) AS cms_est
    FROM (SELECT cc.g, cc.exact, cj.j,
                 CAST(CAST({_cm_h('cc.g')} AS BIGINT)
                      % {SK.CMS_W} AS INT) AS b
          FROM cc, cj) q
    JOIN csk USING (j, b)
    GROUP BY g, exact
)
SELECT g AS bigram, exact, CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact AS BIGINT) AS over,
       cms_est >= {SK.CMS_PHI} * n AS heavy
FROM ce CROSS JOIN cn"""

    # weighted_sample twin: identical md5-uniform + ln(u)/w key and
    # per-lang rank (ties by doc_id).
    _ws_h = " + ".join(
        f"(strpos('0123456789abcdef', "
        f"substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (14 - i)}" for i in range(15))
    sqls["weighted_sample"] = f"""
WITH wd AS (
    SELECT doc_id, lang,
           CAST({_ws_h} AS BIGINT) AS h,
           CAST(len({_WORDS}) AS BIGINT) AS weight
    FROM documents
), wk AS (
    SELECT doc_id, lang, weight,
           ln((h + 1.0) / {float(1 << 60)!r}) / weight AS lnkey
    FROM wd WHERE weight > 0
), wr AS (
    SELECT *, row_number() OVER (PARTITION BY lang
        ORDER BY lnkey DESC, doc_id) AS rank
    FROM wk
)
SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, weight,
       round(lnkey, 6) + 0 AS lnkey
FROM wr WHERE rank <= {R.WS_K}"""

    # qdigest_quantiles twin: kept on purpose in the level-by-level form
    # — the QD_L bottom-up compression levels unrolled as generated CTE
    # chains, with a window walk and rank joins — as an implementation
    # independent of the Spark side's single array fold. The merge rule,
    # level order and walk ordering are the same, so the digest itself
    # is hash-pinned.
    _qd_L, _qd_K = SK.QD_L, SK.QD_K
    _qd_ctes = [f"""qd AS (
    SELECT lang, least(CAST(len({_WORDS}) AS INT), {(1 << _qd_L) - 1}) AS v
    FROM documents
), qn AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n FROM qd GROUP BY lang
), s{_qd_L} AS MATERIALIZED (
    SELECT lang, {_qd_L} AS lvl, CAST(v AS INT) AS idx,
           CAST(count(*) AS BIGINT) AS cnt
    FROM qd GROUP BY lang, v
)"""]
    for _lv in range(_qd_L, 0, -1):
        _qd_ctes.append(f"""g{_lv} AS MATERIALIZED (
    SELECT lang, idx // 2 AS pidx, sum(cnt) AS csum
    FROM s{_lv} WHERE lvl = {_lv} GROUP BY lang, idx // 2
), p{_lv} AS (
    SELECT lang, idx AS pidx, cnt AS pcnt FROM s{_lv} WHERE lvl = {_lv - 1}
), j{_lv} AS (
    SELECT coalesce(g.lang, p.lang) AS lang,
           coalesce(g.pidx, p.pidx) AS pidx, g.csum, p.pcnt,
           coalesce(g.csum, 0) + coalesce(p.pcnt, 0) AS s
    FROM g{_lv} g FULL OUTER JOIN p{_lv} p
      ON g.lang = p.lang AND g.pidx = p.pidx
), jt{_lv} AS MATERIALIZED (
    SELECT j.*, CAST(ceil(qn.n / {_qd_K}) AS BIGINT) AS thr
    FROM j{_lv} j JOIN qn ON j.lang = qn.lang
), s{_lv - 1} AS MATERIALIZED (
    SELECT lang, lvl, idx, cnt FROM s{_lv}
      WHERE lvl != {_lv} AND lvl != {_lv - 1}
    UNION ALL
    SELECT lang, {_lv - 1}, pidx, CAST(s AS BIGINT) FROM jt{_lv}
      WHERE (csum IS NOT NULL AND s < thr)
         OR (csum IS NULL AND pcnt IS NOT NULL)
    UNION ALL
    SELECT lang, {_lv - 1}, pidx, CAST(pcnt AS BIGINT) FROM jt{_lv}
      WHERE csum IS NOT NULL AND s >= thr AND pcnt IS NOT NULL
    UNION ALL
    SELECT c.lang, c.lvl, c.idx, c.cnt
    FROM (SELECT *, idx // 2 AS pidx FROM s{_lv} WHERE lvl = {_lv}) c
    JOIN jt{_lv} jt ON jt.lang = c.lang AND jt.pidx = c.pidx
    WHERE jt.csum IS NOT NULL AND jt.s >= jt.thr
)""")
    _qd_ctes.append(f"""qnodes AS (
    SELECT lang, lvl, idx, cnt,
           CAST(idx * power(2, {_qd_L} - lvl) AS BIGINT) AS lo,
           CAST((idx + 1) * power(2, {_qd_L} - lvl) - 1 AS BIGINT) AS hi
    FROM s0
), qwk AS (
    SELECT *, sum(cnt) OVER (PARTITION BY lang
        ORDER BY hi, (hi - lo), idx ROWS UNBOUNDED PRECEDING) AS cum
    FROM qnodes
), qq AS (
    SELECT unnest([{', '.join(repr(float(q)) for q in SK.QD_QS)}]) AS q
), qrk AS (
    SELECT lang, n, q, CAST(ceil(q * n) AS BIGINT) AS rk
    FROM qn CROSS JOIN qq
), qe AS (
    SELECT qwk.lang, qrk.q, qrk.n, min(hi) AS qd_est
    FROM qwk JOIN qrk ON qwk.lang = qrk.lang
    WHERE qwk.cum >= qrk.rk GROUP BY qwk.lang, qrk.q, qrk.n
), qxc AS (
    SELECT lang, v, count(*) AS c FROM qd GROUP BY lang, v
), qxw AS (
    SELECT *, sum(c) OVER (PARTITION BY lang ORDER BY v
        ROWS UNBOUNDED PRECEDING) AS vcum
    FROM qxc
), qxe AS (
    SELECT qxw.lang, qrk.q, min(v) AS exact
    FROM qxw JOIN qrk ON qxw.lang = qrk.lang
    WHERE qxw.vcum >= qrk.rk GROUP BY qxw.lang, qrk.q
)""")
    # wordpiece_encode twin: identical vocabulary thresholding and the
    # SAME unrolled greedy-matcher step formulas (shared template in
    # functions/tokenizer._wp_step_exprs, DuckDB spellings), chained as
    # e0..e{WP_STEPS} CTEs (linear references — no inlining blowup).
    from .functions import tokenizer as TKW
    _wp_step, _wp_toks = TKW._wp_step_exprs("list_contains", "substr")
    _wp_chain = []
    for _wi in range(1, TKW.WP_STEPS + 1):
        _wp_chain.append(f"""e{_wi}a AS (
    SELECT *, {_wp_step} AS step FROM e{_wi - 1}
), e{_wi} AS (
    SELECT word, freq, vh, vc, pos + step AS pos, {_wp_toks} AS toks
    FROM e{_wi}a
)""")
    sqls["wordpiece_encode"] = f"""
WITH wpw AS (
    SELECT unnest({_WORDS}) AS word FROM documents
), wt AS (
    SELECT word, CAST(count(*) AS BIGINT) AS freq FROM wpw GROUP BY word
), wtot AS (
    SELECT sum(freq) AS tot FROM wt
), wpp AS (
    SELECT (c).pc AS pc, (c).head AS head, sum(freq) AS pfreq
    FROM (
      SELECT freq, unnest(flatten(list_transform(
          range(1, length(word) + 1),
          p -> list_transform(range(2, {TKW.WP_MAX_PIECE + 1}),
              l -> {{'pc': substr(word, p, l), 'head': p = 1,
                    'ok': p + l - 1 <= length(word)}})))) AS c
      FROM wt)
    WHERE (c).ok GROUP BY 1, 2
), wkept AS (
    SELECT pc, head FROM wpp CROSS JOIN wtot
    WHERE pfreq >= {TKW.WP_REL_FREQ} * tot
), wchars AS (
    SELECT DISTINCT unnest(list_transform(range(1, length(word) + 1),
        p -> substr(word, p, 1))) AS pc
    FROM wt
), vhl AS (
    SELECT list(pc ORDER BY pc) AS vh FROM (
      SELECT DISTINCT pc FROM (
        SELECT pc FROM wkept WHERE head
        UNION ALL SELECT pc FROM wchars))
), vcl AS (
    SELECT list(pc ORDER BY pc) AS vc FROM (
      SELECT DISTINCT pc FROM (
        SELECT pc FROM wkept WHERE NOT head
        UNION ALL SELECT pc FROM wchars))
), e0 AS (
    SELECT word, freq, vh, vc, 0 AS pos, '' AS toks
    FROM wt CROSS JOIN vhl CROSS JOIN vcl
), {', '.join(_wp_chain)}
SELECT word, freq, toks AS pieces,
       CAST(len(string_split(toks, ' ')) AS BIGINT) AS n_pieces,
       pos >= length(word) AS consumed
FROM e{TKW.WP_STEPS}
ORDER BY word"""

    sqls["qdigest_quantiles"] = ("WITH " + ",\n".join(
        c.strip() for c in _qd_ctes) + f"""
SELECT qe.lang, CAST(qe.q AS DOUBLE) AS q, qe.n,
       CAST(qd_est AS BIGINT) AS qd_est,
       CAST(exact AS BIGINT) AS exact,
       CAST(qd_est - exact AS BIGINT) AS err
FROM qe JOIN qxe ON qe.lang = qxe.lang AND qe.q = qxe.q""")

    sqls["ccnet_buckets"] = f"""
WITH lm AS ({sqls["lm_score"]}
), rk AS (
    SELECT *, row_number() OVER (ORDER BY lm_nll, doc_id) AS rk,
           count(*) OVER () AS n
    FROM lm
), thr AS (
    SELECT min(lm_nll) AS t1, max(lm_nll) AS t2 FROM rk
    WHERE rk = (n + 2) // 3 OR rk = (2 * n + 2) // 3
)
SELECT lm.doc_id, lm.lm_nll,
       CASE WHEN lm.lm_nll <= thr.t1 THEN 'head'
            WHEN lm.lm_nll <= thr.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM lm CROSS JOIN thr"""

    sqls["sample_stratified"] = f"""
WITH h AS (
    SELECT doc_id, lang,
           substring(md5(lang || ':' || CAST(doc_id AS VARCHAR)),
                     1, 8) AS hkey
    FROM documents
)
SELECT doc_id, lang, hkey FROM h
WHERE hkey < '{R.SAMPLE_THRESHOLD_HEX}'"""

    _cn = CU.DECON_N
    sqls["decontaminate"] = f"""
WITH d AS (
    SELECT doc_id, {_WORDS} AS w,
           substr(md5('decon|' || CAST(doc_id AS VARCHAR)), 1, 8)
               < '{CU.DECON_SPLIT_HEX}' AS is_eval
    FROM documents
), g AS (
    SELECT doc_id, is_eval,
           md5(array_to_string(w[i:i + {_cn - 1}], ' ')) AS gkey
    FROM (SELECT doc_id, is_eval, w,
                 unnest(generate_series(1, len(w) - {_cn - 1})) AS i
          FROM d WHERE len(w) >= {_cn})
), ev AS (
    SELECT DISTINCT gkey FROM g WHERE is_eval
), co AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam
    FROM g WHERE NOT is_eval AND gkey IN (SELECT gkey FROM ev)
    GROUP BY doc_id
), tot AS (
    SELECT doc_id,
           CAST(greatest(len(w) - {_cn - 1}, 0) AS BIGINT) AS n_grams
    FROM d WHERE NOT is_eval
)
SELECT t.doc_id, t.n_grams,
       CAST(coalesce(co.n_contam, 0) AS BIGINT) AS n_contam,
       round(CASE WHEN t.n_grams > 0
                  THEN coalesce(co.n_contam, 0)
                       / CAST(t.n_grams AS DOUBLE)
                  ELSE 0.0 END, 4) + 0 AS contam_frac,
       (CASE WHEN t.n_grams > 0
             THEN coalesce(co.n_contam, 0) / CAST(t.n_grams AS DOUBLE)
             ELSE 0.0 END) >= {CU.DECON_FLAG_FRAC} AS flagged
FROM tot t LEFT JOIN co USING (doc_id)"""

    sqls["dsir_weights"] = f"""
WITH d AS (
    SELECT doc_id, lang, {_WORDS} AS w FROM documents
), tok AS (
    SELECT doc_id, lang, unnest(w) AS v FROM d
), raw AS (
    SELECT v, CAST(count(*) AS DOUBLE) AS cr FROM tok GROUP BY v
), tgt AS (
    SELECT v, CAST(count(*) AS DOUBLE) AS ct
    FROM tok WHERE lang = '{CU.DSIR_TARGET_LANG}' GROUP BY v
), stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS vsize, sum(cr) AS nr FROM raw
), tstats AS (
    SELECT coalesce(sum(ct), 0.0) AS nt FROM tgt
), ratios AS (
    SELECT v, ln((coalesce(ct, 0.0) + 1.0) / (nt + vsize))
              - ln((cr + 1.0) / (nr + vsize)) AS lr
    FROM raw LEFT JOIN tgt USING (v)
    CROSS JOIN stats CROSS JOIN tstats
), pd AS (
    SELECT doc_id, round(avg(lr), 4) + 0 AS dsir_logratio,
           CAST(count(*) AS BIGINT) AS n_words
    FROM tok JOIN ratios USING (v) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(pd.dsir_logratio, 0.0) AS dsir_logratio,
       CAST(coalesce(pd.n_words, 0) AS BIGINT) AS n_words
FROM d LEFT JOIN pd USING (doc_id)"""

    sqls["pack_shards"] = f"""
WITH d AS (
    SELECT doc_id, source,
           CAST(len({_WORDS}) AS BIGINT) AS n_words
    FROM documents
), c AS (
    SELECT doc_id, source, n_words,
           sum(n_words) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
    FROM d
)
SELECT doc_id, source, n_words,
       CAST((cum - n_words) // {CU.SHARD_BUDGET_WORDS} AS BIGINT)
           AS shard_id,
       CAST((cum - n_words) % {CU.SHARD_BUDGET_WORDS} AS BIGINT)
           AS shard_offset
FROM c"""

    # interleaved_pack twin: per-doc span costs straight from the synth
    # CTE (text spans charge whitespace tokens, media spans the fixed
    # MEDIA_TOKENS), then the pack_shards running-sum assignment.
    sqls["interleaved_pack"] = f"""
WITH {SYNTH_CTE.lstrip()}, ip AS (
    SELECT doc_id, did,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_media,
           CAST(sum(CASE WHEN kind = 'media' THEN 0
                ELSE len(list_filter(string_split(coalesce(text, ''), ' '),
                         w -> w != '')) END) AS BIGINT) AS n_text_tokens
    FROM synth_spans GROUP BY doc_id, did
), ips AS (
    SELECT ip.doc_id, d.source, n_spans, n_media, n_text_tokens,
           n_text_tokens + {CU.MEDIA_TOKENS} * n_media AS cost
    FROM ip JOIN documents d ON d.doc_id = ip.did
), ipc AS (
    SELECT *, sum(cost) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
    FROM ips
)
SELECT doc_id, source, n_spans, n_media, n_text_tokens,
       CAST(cost AS BIGINT) AS cost,
       CAST((cum - cost) // {CU.SEQ_BUDGET_TOKENS} AS BIGINT) AS seq_id,
       CAST((cum - cost) % {CU.SEQ_BUDGET_TOKENS} AS BIGINT) AS seq_offset
FROM ipc"""

    sqls["inverted_index"] = f"""
WITH p AS (
    SELECT DISTINCT term, doc_id
    FROM (SELECT unnest({_WORDS}) AS term, doc_id FROM documents)
), f AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY term
), h AS (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM p
), g AS (
    SELECT term,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM h WHERE rn <= {R.INDEX_POSTINGS_CAP} GROUP BY term
)
SELECT f.term, f.df, g.postings FROM f JOIN g USING (term)"""

    _dn = R.DUP_SPAN_N
    sqls["dup_span_docs"] = f"""
WITH d AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
), g AS (
    SELECT doc_id, md5(array_to_string(w[i:i + {_dn - 1}], ' ')) AS gkey
    FROM (SELECT doc_id, w,
                 unnest(generate_series(1, len(w) - {_dn - 1})) AS i
          FROM d WHERE len(w) >= {_dn})
), multi AS (
    SELECT gkey FROM g GROUP BY gkey HAVING count(DISTINCT doc_id) >= 2
), dc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams
    FROM g WHERE gkey IN (SELECT gkey FROM multi)
    GROUP BY doc_id
), tot AS (
    SELECT doc_id,
           CAST(greatest(len(w) - {_dn - 1}, 0) AS BIGINT) AS n_grams
    FROM d
)
SELECT t.doc_id, t.n_grams,
       CAST(coalesce(dc.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       round(CASE WHEN t.n_grams > 0
                  THEN coalesce(dc.n_dup_grams, 0)
                       / CAST(t.n_grams AS DOUBLE)
                  ELSE 0.0 END, 4) + 0 AS dup_frac,
       (CASE WHEN t.n_grams > 0
             THEN coalesce(dc.n_dup_grams, 0) / CAST(t.n_grams AS DOUBLE)
             ELSE 0.0 END) >= {R.DUP_SPAN_FLAG_FRAC} AS flagged
FROM tot t LEFT JOIN dc USING (doc_id)"""

    # Two Lloyd passes, replayed exactly: fixed-id init, argmin with
    # (dist, cid) tie order, per-dimension means re-assembled in order.
    # The CTE chain is shared with semdedup (which runs the same Lloyd
    # replay over the dup-injected corpus): a2 = final assignment WITH the
    # vector, c1l = the centroids that assignment used.
    def _lloyd_ctes(base: str) -> str:
        return f"""v AS ({base}
), c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
           e AS c
    FROM v ORDER BY vec_id LIMIT {CL.KMEANS_K}
), d1 AS (
    SELECT v.vec_id, c0.cid, v.e,
           list_sum(list_transform(list_zip(v.e, c0.c),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
    FROM v CROSS JOIN c0
), a1 AS (
    SELECT vec_id, cid, e FROM d1
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), c1 AS (
    SELECT cid, pos, avg(x) AS m
    FROM (SELECT cid, unnest(e) AS x, generate_subscripts(e, 1) AS pos
          FROM a1)
    GROUP BY cid, pos
), c1l AS (
    SELECT cid, list(m ORDER BY pos) AS c FROM c1 GROUP BY cid
), a2 AS (
    SELECT vec_id, cid, e FROM (
        SELECT v.vec_id, c1l.cid, v.e,
               list_sum(list_transform(list_zip(v.e, c1l.c),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
        FROM v CROSS JOIN c1l)
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
)"""

    sqls["kmeans_assign"] = f"""
WITH {_lloyd_ctes(
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings")}
SELECT vec_id, cid AS cluster FROM a2
ORDER BY vec_id"""

    # Product quantization (functions/pq.py): the same Lloyd replay with
    # the subspace id carried as a key — M codebooks in one dataflow.
    # Slices are dim-agnostic via len(e) // M (DuckDB slices are 1-based
    # end-INCLUSIVE). Keep in lockstep with pq._train.
    _pq_dist = ("list_sum(list_transform(list_zip({a}, {b}), "
                "p -> (p[1] - p[2]) * (p[1] - p[2])))")

    def _pq_chain(base: str) -> str:
        return f"""pv AS (
    {base}
), psl AS (
    SELECT vec_id, sub,
           e[sub * (len(e) // {PQ.PQ_M}) + 1
             : (sub + 1) * (len(e) // {PQ.PQ_M})] AS sv
    FROM (SELECT vec_id, unnest(range(0, {PQ.PQ_M})) AS sub, e FROM pv)
), pc0 AS (
    SELECT sub, CAST(rn - 1 AS BIGINT) AS cid, sv AS c FROM (
        SELECT sub, sv,
               row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
        FROM psl) WHERE rn <= {PQ.PQ_K}
), pd1 AS (
    SELECT psl.vec_id, psl.sub, pc0.cid, psl.sv,
           {_pq_dist.format(a="psl.sv", b="pc0.c")} AS d
    FROM psl JOIN pc0 USING (sub)
), pa1 AS (
    SELECT vec_id, sub, cid, sv FROM pd1
    QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                               ORDER BY d, cid) = 1
), pc1 AS (
    SELECT sub, cid, pos, avg(x) AS m
    FROM (SELECT sub, cid, unnest(sv) AS x,
                 generate_subscripts(sv, 1) AS pos
          FROM pa1)
    GROUP BY sub, cid, pos
), pc1l AS (
    SELECT sub, cid, list(m ORDER BY pos) AS c FROM pc1 GROUP BY sub, cid
), pa2 AS (
    SELECT vec_id, sub, cid FROM (
        SELECT psl.vec_id, psl.sub, pc1l.cid,
               {_pq_dist.format(a="psl.sv", b="pc1l.c")} AS d
        FROM psl JOIN pc1l USING (sub))
    QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                               ORDER BY d, cid) = 1
)"""

    _pq_base = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings"

    sqls["pq_codes"] = f"""
WITH {_pq_chain(_pq_base)}
SELECT vec_id, CAST(sub AS BIGINT) AS sub, cid AS code
FROM pa2 ORDER BY vec_id, sub"""

    sqls["pq_adc_topk"] = f"""
WITH {_pq_chain(_pq_base)},
pq AS (
    SELECT vec_id AS query_id, sub, sv AS qv FROM psl
    WHERE vec_id < {PQ.PQ_QUERIES}
), pdt AS (
    SELECT pq.query_id, pq.sub, pc1l.cid,
           {_pq_dist.format(a="pq.qv", b="pc1l.c")} AS d
    FROM pq JOIN pc1l USING (sub)
), pj AS (
    SELECT pdt.query_id, pa2.vec_id, pa2.sub, pdt.d
    FROM pa2 JOIN pdt ON pa2.sub = pdt.sub AND pa2.cid = pdt.cid
    WHERE pa2.vec_id != pdt.query_id
), ppv AS (
    SELECT query_id, vec_id,
           sum(CASE WHEN sub = 0 THEN d END) AS d0,
           sum(CASE WHEN sub = 1 THEN d END) AS d1,
           sum(CASE WHEN sub = 2 THEN d END) AS d2,
           sum(CASE WHEN sub = 3 THEN d END) AS d3
    FROM pj GROUP BY query_id, vec_id
), prk AS (
    SELECT query_id, vec_id, ((((0.0 + d0) + d1) + d2) + d3) AS adc,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ((((0.0 + d0) + d1) + d2) + d3),
                                       vec_id) AS rnk
    FROM ppv
)
SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id,
       round(adc, 4) + 0 AS adc
FROM prk WHERE rnk <= {PQ.PQ_TOPK_K}"""

    # IVFADC (pq.ivfpq_topk): coarse cosine assign (the ann_ivf CTEs) →
    # residual vectors → the SAME PQ chain over residuals → probe
    # nprobe cells → per-cell residual distance table → fixed-order ADC.
    _pq_res = ("list_transform(list_zip(CAST({a} AS DOUBLE[]), "
               "CAST({b} AS DOUBLE[])), p -> p[1] - p[2])")
    sqls["ivfpq_topk"] = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
{cents_cte},
{assign_cte.lstrip()},
rd AS (
    SELECT a.vec_id, a.centroid_id,
           {_pq_res.format(a='v.embedding', b='c.c')} AS e
    FROM assign a JOIN v USING (vec_id) JOIN c USING (centroid_id)
),
{_pq_chain("SELECT vec_id, e FROM rd")},
q AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings
      WHERE vec_id < {PQ.PQ_QUERIES}),
probes AS (
    SELECT query_id, centroid_id,
           {_pq_res.format(a='qq', b='cc')} AS e
    FROM (
        SELECT q.query_id, q.q AS qq, c.centroid_id, c.c AS cc,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   {_COS_RAW.format(a='q.q', b='c.c')} DESC,
                   c.centroid_id) AS rn
        FROM q CROSS JOIN c
    ) WHERE rn <= {PQ.IVFPQ_NPROBE}
),
qsl AS (
    SELECT query_id, centroid_id, sub,
           e[sub * (len(e) // {PQ.PQ_M}) + 1
             : (sub + 1) * (len(e) // {PQ.PQ_M})] AS qv
    FROM (SELECT query_id, centroid_id,
                 unnest(range(0, {PQ.PQ_M})) AS sub, e
          FROM probes)
),
pdt AS (
    SELECT qsl.query_id, qsl.centroid_id, qsl.sub, pc1l.cid,
           {_pq_dist.format(a="qsl.qv", b="pc1l.c")} AS d
    FROM qsl JOIN pc1l USING (sub)
),
pcc AS (
    SELECT pa2.vec_id, rd.centroid_id, pa2.sub, pa2.cid
    FROM pa2 JOIN rd USING (vec_id)
),
pj AS (
    SELECT pdt.query_id, pcc.vec_id, pcc.centroid_id, pcc.sub, pdt.d
    FROM pcc JOIN pdt ON pcc.centroid_id = pdt.centroid_id
                     AND pcc.sub = pdt.sub AND pcc.cid = pdt.cid
    WHERE pcc.vec_id != pdt.query_id
),
ppv AS (
    SELECT query_id, vec_id, centroid_id,
           sum(CASE WHEN sub = 0 THEN d END) AS d0,
           sum(CASE WHEN sub = 1 THEN d END) AS d1,
           sum(CASE WHEN sub = 2 THEN d END) AS d2,
           sum(CASE WHEN sub = 3 THEN d END) AS d3
    FROM pj GROUP BY query_id, vec_id, centroid_id
),
prk AS (
    SELECT query_id, vec_id, centroid_id,
           ((((0.0 + d0) + d1) + d2) + d3) AS adc,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ((((0.0 + d0) + d1) + d2) + d3),
                                       vec_id) AS rnk
    FROM ppv
)
SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, centroid_id,
       round(adc, 4) + 0 AS adc
FROM prk WHERE rnk <= {PQ.PQ_TOPK_K}"""

    # SemDeDup: Lloyd over the dup-injected corpus, ascending rounded
    # cosine-to-centroid rank (ties -> vec_id), upper-triangular max of
    # rounded pairwise cosines, keep iff that max < eps.
    def _cosl(a: str, b: str) -> str:
        return (f"(round(list_sum(list_transform(list_zip({a}, {b}), "
                f"p -> p[1] * p[2])) "
                f"/ (sqrt(list_sum(list_transform({a}, x -> x * x))) "
                f"* sqrt(list_sum(list_transform({b}, x -> x * x)))), 4) "
                f"+ 0)")

    sqls["semdedup"] = f"""
WITH {_lloyd_ctes(f'''
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    UNION ALL
    SELECT vec_id + {SIM.VEC_DUP_OFFSET}, CAST(embedding AS DOUBLE[])
    FROM embeddings WHERE vec_id % {SIM.VEC_DUP_EVERY} = 0''')},
srt AS (
    SELECT a2.vec_id, a2.cid, a2.e,
           CAST(row_number() OVER (
               PARTITION BY a2.cid
               ORDER BY {_cosl('a2.e', 'c1l.c')}, a2.vec_id)
            AS BIGINT) AS rnk
    FROM a2 JOIN c1l USING (cid)
), pmax AS (
    SELECT ra.vec_id, max({_cosl('ra.e', 'rb.e')}) AS ms
    FROM srt ra JOIN srt rb
      ON ra.cid = rb.cid AND rb.rnk < ra.rnk
    GROUP BY ra.vec_id
)
SELECT srt.vec_id, srt.cid AS cluster, srt.rnk,
       coalesce(pmax.ms, -1.0) AS max_prior_sim,
       coalesce(pmax.ms, -1.0) < {CL.SEMDEDUP_EPS} AS keep
FROM srt LEFT JOIN pmax USING (vec_id)
ORDER BY srt.vec_id"""

    # GPT-3-style classifier filtering: NB log-odds trained on the
    # gopher_rules labels (the gopher twin is embedded as a CTE), md5-
    # uniform Pareto keep rule. The exponent literal is shared with the
    # Spark side so both engines pow() the same double.
    _U32 = ("(list_sum(list_transform(generate_series(1, 8), "
            "i -> CAST(strpos('0123456789abcdef', "
            "substr(md5(CAST(d.doc_id AS VARCHAR)), i, 1)) - 1 AS DOUBLE) "
            "* power(16.0, 8 - i))) + 1.0) / 4294967296.0")
    _QS = "coalesce(per_doc.s, 0.0)"
    _QCUT = f"(2.0 - power({_U32}, {CU.QC_PARETO_EXP!r}))"
    sqls["quality_classifier"] = f"""
WITH gr AS ({sqls['gopher_rules']}),
d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
tok AS (
    SELECT d.doc_id, unnest(d.w) AS v, gr.gopher_pass
    FROM d JOIN gr USING (doc_id)
), counts AS (
    SELECT v,
           sum(CASE WHEN gopher_pass THEN 1.0 ELSE 0.0 END) AS cp,
           sum(CASE WHEN gopher_pass THEN 0.0 ELSE 1.0 END) AS cn
    FROM tok GROUP BY v
), stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS vsize, sum(cp) AS np, sum(cn) AS nn
    FROM counts
), lo AS (
    SELECT v, ln((cp + 1.0) / (np + vsize))
            - ln((cn + 1.0) / (nn + vsize)) AS lo
    FROM counts CROSS JOIN stats
), per_doc AS (
    SELECT tok.doc_id, avg(lo.lo) AS s, CAST(count(*) AS BIGINT) AS n_words
    FROM tok JOIN lo USING (v) GROUP BY tok.doc_id
)
SELECT d.doc_id,
       coalesce(per_doc.n_words, 0) AS n_words,
       round({_QS}, 4) + 0 AS qc_logodds,
       round(1.0 / (1.0 + exp(-{_QS})), 4) + 0 AS qc_prob,
       round({_QCUT}, 4) + 0 AS pareto_cut,
       (1.0 / (1.0 + exp(-{_QS}))) > {_QCUT} AS kept
FROM d LEFT JOIN per_doc USING (doc_id)"""

    # BPE merge-training twins: K chained CTE rounds, each = weighted
    # pair stats over the previous tokenization, a deterministic 1-row
    # argmax (count DESC, pair ASC), and the identical greedy
    # left-to-right string-fold rewrite via list_reduce.
    from .functions.tokenizer import BPE_MERGES

    def _bpe_fold(b: str) -> str:
        return (f"CASE WHEN {b}.left_tok IS NULL THEN t ELSE "
                f"string_split(list_reduce(list_prepend('', t), "
                f"(acc, x) -> CASE "
                f"WHEN x = {b}.right_tok AND (acc = {b}.left_tok OR "
                f"ends_with(acc, chr(1) || {b}.left_tok)) THEN acc || x "
                f"WHEN acc = '' THEN x "
                f"ELSE acc || chr(1) || x END), chr(1)) END")

    bpe_parts = [f"""
t0 AS (
    SELECT word, CAST(count(*) AS BIGINT) AS n,
           list_transform(generate_series(1, len(word)),
                          i -> substr(word, i, 1)) AS t
    FROM (SELECT unnest({_WORDS}) AS word FROM documents)
    GROUP BY word
)"""]
    for r in range(1, BPE_MERGES + 1):
        bpe_parts.append(f"""
p{r} AS (
    SELECT pr.l AS left_tok, pr.r AS right_tok,
           CAST(sum(n) AS BIGINT) AS pair_count
    FROM (SELECT n, unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> {{'l': t[i], 'r': t[i + 1]}})) AS pr
          FROM t{r - 1} WHERE len(t) >= 2)
    GROUP BY pr.l, pr.r
),
b{r} AS (
    SELECT left_tok, right_tok, pair_count FROM p{r}
    ORDER BY pair_count DESC, left_tok, right_tok LIMIT 1
),
t{r} AS (
    SELECT word, n, {_bpe_fold(f'b{r}')} AS t
    FROM t{r - 1} LEFT JOIN b{r} ON TRUE
)""")
    _bpe_ctes = "WITH " + ",".join(bpe_parts)
    _merge_rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, left_tok, right_tok, "
        f"left_tok || right_tok AS merged, pair_count FROM b{r}"
        for r in range(1, BPE_MERGES + 1))
    sqls["bpe_merges"] = f"""{_bpe_ctes}
{_merge_rows}
ORDER BY merge_round"""
    sqls["bpe_token_counts"] = f"""{_bpe_ctes}
SELECT word, n, CAST(len(t) AS BIGINT) AS n_tokens,
       array_to_string(t, '|') AS tokens
FROM t{BPE_MERGES}
ORDER BY word"""

    # Gap sessionization: lag + flag + running sum, all integer-exact.
    sqls["sessionize"] = f"""
WITH e AS (
    SELECT user_id, ts, event_id, value,
           lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_ts
    FROM events
), t AS (
    SELECT user_id, ts, value,
           CAST(sum(CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL {SESSION_GAP_MIN} MINUTE
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
    FROM e
)
SELECT user_id, session_idx,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) + 0 AS total_value
FROM t GROUP BY user_id, session_idx"""

    # Z-order layout twin: the same integer Morton interleave via
    # DuckDB's native bit shifts.
    _zk = (f"CAST(list_sum(list_transform(generate_series(0, "
           f"{ZORDER_BITS - 1}), i -> "
           "(((cx // (CAST(1 AS BIGINT) << i)) % 2) << (2 * i)) + "
           "(((cy // (CAST(1 AS BIGINT) << i)) % 2) << (2 * i + 1)))) "
           "AS BIGINT)")
    sqls["zorder_layout"] = f"""
WITH {SYNTH_CTE.lstrip()}, {GEOM_CTE.lstrip()},
cent AS (
    SELECT CAST((2 * x1 + w) // 2 AS BIGINT) AS cx,
           CAST((2 * y1 + h) // 2 AS BIGINT) AS cy
    FROM synth_geom
),
keyed AS (SELECT cx, cy, {_zk} AS zkey FROM cent)
SELECT CAST(zkey // (CAST(1 AS BIGINT) << {ZORDER_BUCKET_SHIFT})
            AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_spans,
       min(cx) AS min_cx, max(cx) AS max_cx,
       min(cy) AS min_cy, max(cy) AS max_cy
FROM keyed GROUP BY 1"""

    # As-of twin: DuckDB's NATIVE ASOF JOIN checks our window
    # composition against a first-class implementation.
    sqls["asof_join"] = """
WITH p AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'purchase'
), c AS (
    SELECT user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, p.ts,
       round(p.value, 4) + 0 AS value,
       c.ts AS click_ts,
       round(c.value, 4) + 0 AS click_value
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts"""

    # Apply step: per-doc token totals under the learned tokenization.
    sqls["bpe_encode"] = f"""{_bpe_ctes},
dw AS (SELECT doc_id, unnest({_WORDS}) AS word FROM documents),
pd AS (
    SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(tv.t)) AS BIGINT) AS n_tokens
    FROM dw JOIN t{BPE_MERGES} tv USING (word)
    GROUP BY dw.doc_id
)
SELECT d.doc_id,
       coalesce(pd.n_words, 0) AS n_words,
       coalesce(pd.n_tokens, 0) AS n_tokens,
       round(CASE WHEN coalesce(pd.n_words, 0) > 0
                  THEN pd.n_tokens / CAST(pd.n_words AS DOUBLE)
                  ELSE 0.0 END, 4) + 0 AS fertility
FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)"""

    # Corpus-card rollup: one GROUP BY ROLLUP pass; subtotal rows carry
    # NULL in the rolled-up column. Sums are integer-exact, so avg is
    # the same IEEE division on both engines.
    sqls["corpus_stats"] = f"""
WITH d AS (
    SELECT lang, source, n_chars,
           CAST(len({_WORDS}) AS BIGINT) AS nw
    FROM documents
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS n_words,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       round(avg(nw), 4) + 0 AS avg_words
FROM d GROUP BY ROLLUP (lang, source)
ORDER BY lang NULLS FIRST, source NULLS FIRST"""

    return sqls
