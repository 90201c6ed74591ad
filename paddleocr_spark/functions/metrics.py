"""Evaluation metrics as distributed operators (A4/A5/J4 + fork additions).

* :func:`char_prf` — the fork's character-level precision/recall/F1 via
  Hirschberg LCS (ppocr/metrics/rec_metric.py:29-59 ``hirschberg_lcs``,
  :135-246 ``eval_full``): per-pair char counts in a batched Arrow UDF,
  then pure-JVM per-char aggregation — the heavy LCS runs distributed, the
  final report is a single-row agg.
* :func:`det_eval` — DetectionIoUEvaluator semantics
  (ppocr/metrics/eval_det_iou.py:12-230): per-image greedy one-to-one
  IoU>0.5 matching with don't-care exclusion (area-precision>0.5), run as a
  per-document grouped kernel; `combine_results` (:188-210) is the global
  sum/ratio agg.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.grouped import grouped_map_rows, map_rows

EPS = 1e-5  # rec_metric.py:71


# ---------------------------------------------------------------------------
# Hirschberg LCS (fork addition) — semantics of rec_metric.py:29-59
# ---------------------------------------------------------------------------

def _lcs_row(a: str, b: str) -> list[int]:
    """Last row of the (fork-lossy) LCS DP table for (a, b).

    The fork's recurrence (rec_metric.py:30-41) reads ``curr[j]`` before
    any update of row i touches it — after ``prev = curr[:]`` that value
    IS ``prev[j]``, so the mismatch branch ``max(curr[j], prev[j])``
    collapses to ``prev[j]`` and row i has NO dependency on its own
    earlier columns (the lossy quirk: LCS[i][j-1] never propagates).
    That makes the inner loop a pure elementwise select, vectorized here
    over j — identical values to the fork's loop, ~100× faster on long
    rows.
    """
    import numpy as np
    bn = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    curr = np.zeros(len(bn) + 1, dtype=np.int64)
    for ch in a:
        prev = curr
        curr = np.empty_like(prev)
        curr[0] = 0
        curr[1:] = np.where(bn == ord(ch), prev[:-1] + 1, prev[1:])
    return curr.tolist()


def lcs_string(x: str, y: str) -> str:
    """One canonical longest common subsequence, Hirschberg-style.

    Matches the reference's reconstruction exactly, including the base
    case: when either side has length 1, return the FIRST char of x that
    occurs in y (rec_metric.py:46-51) — different equal-length LCSes have
    different char multisets, and the char-PRF metric counts the chars of
    this specific one.
    """
    if not x or not y:
        return ""
    if len(x) == 1 or len(y) == 1:
        for ch in x:
            if ch in y:
                return ch
        return ""
    mid = len(x) // 2
    left = _lcs_row(x[:mid], y)
    right = _lcs_row(x[mid:][::-1], y[::-1])
    split = max(range(len(y) + 1), key=lambda j: left[j] + right[len(y) - j])
    return lcs_string(x[:mid], y[:split]) + lcs_string(x[mid:], y[split:])


def _char_counts(pred: str | None, target: str | None) -> list:
    """One (pred, target) pair's (char, n_label, n_pred, n_answer) rows."""
    pred = (pred or "").replace(" ", "")      # ignore_space default
    target = (target or "").replace(" ", "")
    label, pred_c, answer = (Counter(target), Counter(pred),
                             Counter(lcs_string(pred, target)))
    return [(c, label[c], pred_c[c], answer[c])
            for c in label.keys() | pred_c.keys()]


def char_prf(pairs: DataFrame) -> DataFrame:
    """(pred, target) pairs → one-row char-level P/R/F1 report.

    mean_* average per-char values over chars where they are defined
    (recall needs the char in some target, precision in some pred, F1 in
    either — rec_metric.py:205-233, eps'd denominators preserved);
    overall_* are the total-count ratios (:237-239). All rounded 4dp.
    """
    # The LCS stage is CPU-bound Python over a tiny scan (one parquet
    # file = one task at gate SF; a handful of manifests at scale) —
    # round-robin widen so the kernel runs at full parallelism
    # (pipeline.ensure_input_parallelism rationale). Counts are
    # partition-invariant: partials sum per char.
    sc = pairs.sparkSession.sparkContext
    wide = pairs.select("pred", "target").repartition(sc.defaultParallelism)
    partial = map_rows(wide, _char_counts, "char string, n_label long, "
                       "n_pred long, n_answer long")
    per_char = (partial.groupBy("char")
                .agg(F.sum("n_label").alias("n_label"),
                     F.sum("n_pred").alias("n_pred"),
                     F.sum("n_answer").alias("n_answer")))
    recall = F.col("n_answer") / (F.col("n_label") + EPS)
    precision = F.col("n_answer") / (F.col("n_pred") + EPS)
    r_def = F.col("n_label") > 0
    p_def = F.col("n_pred") > 0
    r_val = F.when(r_def, recall).otherwise(0.0)
    p_val = F.when(p_def, precision).otherwise(0.0)
    f1 = 2 * r_val * p_val / (r_val + p_val + EPS)
    agg = per_char.agg(
        F.sum(F.when(r_def, recall)).alias("sum_r"),
        F.sum(F.when(r_def, 1).otherwise(0)).alias("cnt_r"),
        F.sum(F.when(p_def, precision)).alias("sum_p"),
        F.sum(F.when(p_def, 1).otherwise(0)).alias("cnt_p"),
        F.sum(f1).alias("sum_f1"),
        F.count("*").alias("cnt_f1"),
        F.sum("n_label").alias("tot_label"),
        F.sum("n_pred").alias("tot_pred"),
        F.sum("n_answer").alias("tot_answer"))
    op = F.col("tot_answer") / (F.col("tot_pred") + EPS)
    orc = F.col("tot_answer") / (F.col("tot_label") + EPS)
    return agg.select(
        F.round(F.col("sum_p") / (F.col("cnt_p") + EPS), 4)
        .alias("mean_precision"),
        F.round(F.col("sum_r") / (F.col("cnt_r") + EPS), 4)
        .alias("mean_recall"),
        F.round(F.col("sum_f1") / (F.col("cnt_f1") + EPS), 4)
        .alias("mean_f1"),
        F.round(op, 4).alias("overall_precision"),
        F.round(orc, 4).alias("overall_recall"),
        F.round(2 * orc * op / (orc + op + EPS), 4).alias("overall_f1"))


# ---------------------------------------------------------------------------
# Detection IoU evaluator (J4)
# ---------------------------------------------------------------------------

def det_match_counts(gt: np.ndarray, ignore: np.ndarray,
                     det: np.ndarray,
                     iou_constraint: float = 0.5,
                     area_precision_constraint: float = 0.5
                     ) -> tuple[int, int, int]:
    """One image's (gtCare, detCare, detMatched), axis-aligned boxes.

    Transcribes eval_det_iou.py:12-186: dets whose don't-care
    area-precision (intersection / det area) exceeds the constraint are
    excluded; matching is greedy first-come one-to-one over (gt, det) index
    order with IoU > iou_constraint.
    """
    gt = np.asarray(gt, dtype=float).reshape(-1, 4)
    det = np.asarray(det, dtype=float).reshape(-1, 4)
    ignore = np.asarray(ignore, dtype=bool)
    n_gt, n_det = len(gt), len(det)
    if n_gt == 0 or n_det == 0:
        return (int(n_gt - ignore.sum()) if n_gt else 0, n_det, 0)

    # Vectorized (round 5 — the scalar double loop was O(n_gt·n_det)
    # Python-interpreted with an O(n) list-membership test inside,
    # measured 82 s single-node for the FCE 10-threshold sweep at
    # sf0.01). Same arithmetic per pair, same greedy order, identical
    # integer counts; pinned by test_det_match_counts_hand_cases and
    # the committed det_eval_greedy fixture (values unchanged).
    w = (np.minimum(gt[:, None, 2], det[None, :, 2])
         - np.maximum(gt[:, None, 0], det[None, :, 0]))
    h = (np.minimum(gt[:, None, 3], det[None, :, 3])
         - np.maximum(gt[:, None, 1], det[None, :, 1]))
    inter = np.where((w > 0) & (h > 0), w * h, 0.0)   # (n_gt, n_det)
    g_area = (np.maximum(gt[:, 2] - gt[:, 0], 0.0)
              * np.maximum(gt[:, 3] - gt[:, 1], 0.0))
    d_area = (np.maximum(det[:, 2] - det[:, 0], 0.0)
              * np.maximum(det[:, 3] - det[:, 1], 0.0))
    # don't-care exclusion: det j is dropped when its area-precision
    # against ANY ignored gt exceeds the constraint (prec = 0 when the
    # det area is 0 — the reference's explicit guard)
    if ignore.any() and n_det:
        prec = np.divide(inter[ignore], d_area[None, :],
                         out=np.zeros((int(ignore.sum()), n_det)),
                         where=d_area[None, :] != 0)
        det_dc = (prec > area_precision_constraint).any(axis=0)
    else:
        det_dc = np.zeros(n_det, dtype=bool)
    union = g_area[:, None] + d_area[None, :] - inter
    iou = np.divide(inter, union, out=np.zeros_like(inter),
                    where=union > 0)
    # greedy first-come one-to-one in (gt, det) index order: each care
    # gt takes the FIRST still-unused care det with IoU > constraint
    det_free = ~det_dc
    matched = 0
    for i in range(n_gt):
        if ignore[i]:
            continue
        cand = (iou[i] > iou_constraint) & det_free
        j = int(np.argmax(cand))
        if cand[j]:
            det_free[j] = False
            matched += 1
    return (int(n_gt - ignore.sum()), int(n_det - det_dc.sum()), matched)


def _per_doc_rows(gt: DataFrame, det: DataFrame, gt_extra, det_extra,
                  per_image, schema: str) -> DataFrame:
    """``per_image`` over each doc's gt and det boxes: one frame of (doc_id,
    oid, x1..y2, the ``*_extra`` column, side 'gt'|'det'), grouped by
    doc_id with gts first, each side in id order (operators.grouped)."""
    g = gt.select("doc_id", F.col("gt_id").alias("oid"),
                  "x1", "y1", "x2", "y2", gt_extra,
                  F.lit("gt").alias("side"))
    d = det.select("doc_id", F.col("det_id").alias("oid"),
                   "x1", "y1", "x2", "y2", det_extra,
                   F.lit("det").alias("side"))
    return grouped_map_rows(g.unionByName(d), ["doc_id"], ["side", "oid"],
                            per_image, schema)


def _doc_boxes(g: dict) -> np.ndarray:
    """One doc's (n, 4) float x1/y1/x2/y2 boxes."""
    return np.stack([g[c] for c in ("x1", "y1", "x2", "y2")],
                    axis=1).astype(float)


DET_EVAL_SCHEMA = "doc_id string, gt_care long, det_care long, matched long"


def det_eval_per_doc(gt: DataFrame, det: DataFrame) -> DataFrame:
    """The per-image half of DetectionIoUEvaluator: greedy one-to-one
    IoU>0.5 matching with don't-care exclusion, one grouped-Arrow kernel
    call per doc_id. Returns (doc_id, gt_care, det_care, matched) —
    the quantities combine_results sums (eval_det_iou.py:188-210).
    Exposed separately so threshold-sweep metrics (DetFCEMetric) can
    evaluate pseudo-docs and aggregate per threshold."""
    def per_image(g):
        is_gt, pts = g["side"] == "gt", _doc_boxes(g)
        yield (g["doc_id"][0], *det_match_counts(
            pts[is_gt], g["ignore"][is_gt].astype(bool), pts[~is_gt]))

    return _per_doc_rows(
        gt, det, F.col("ignore").cast("boolean").alias("ignore"),
        F.lit(False).alias("ignore"), per_image, DET_EVAL_SCHEMA)


def det_eval(gt: DataFrame, det: DataFrame) -> DataFrame:
    """Per-doc greedy evaluator + global combine_results.

    gt: (doc_id, gt_id, x1, y1, x2, y2, ignore:boolean);
    det: (doc_id, det_id, x1, y1, x2, y2).
    Returns one row (precision, recall, hmean, n_images).
    """
    per_doc = det_eval_per_doc(gt, det)
    agg = per_doc.agg(F.sum("matched").cast("double").alias("m"),
                      F.sum("det_care").cast("double").alias("d"),
                      F.sum("gt_care").cast("double").alias("g"),
                      F.count("*").cast("long").alias("n_images"))
    p = F.when(F.col("d") == 0, 0.0).otherwise(F.col("m") / F.col("d"))
    r = F.when(F.col("g") == 0, 0.0).otherwise(F.col("m") / F.col("g"))
    return agg.select(
        F.round(p, 4).alias("precision"), F.round(r, 4).alias("recall"),
        F.round(F.when(p + r == 0, 0.0).otherwise(2 * p * r / (p + r)), 4)
        .alias("hmean"),
        "n_images")


# ---------------------------------------------------------------------------
# CANMetric (handwritten-expression recognition) — rec_metric.py:637-702
# ---------------------------------------------------------------------------

def can_word_score(label: list[str], pred: list[str]) -> float:
    """CANMetric's per-line word score (rec_metric.py:660-668): difflib
    SequenceMatcher (Ratcliff/Obershelp, autojunk off) ratio rescaled by
    ``ratio * (len(s1) + len(s2)) / len(s1) / 2`` — algebraically
    M / len(label) (matched elements over label length), kept as the
    reference's literal float chain so last-ulp behavior matches the
    single-node replay."""
    from difflib import SequenceMatcher

    m = SequenceMatcher(None, label, pred, autojunk=False)
    return m.ratio() * (len(label) + len(pred)) / len(label) / 2


def can_batch_stats(labels: list[list[str]], preds: list[list[str]]):
    """One CANMetric ``__call__`` over a batch (rec_metric.py:651-679):
    word_scores per line, ``word_rate`` = np.mean(scores), ``line_right``
    = #{score == 1}, and the batch's padded word_length = max label
    length (the stand-in for word_label.shape[1]). Returns
    (word_rate, line_right, word_length, batch_size) — exactly the
    quantities the reference accumulates into word_right / exp_right."""
    scores = [can_word_score(l, p) for l, p in zip(labels, preds)]
    word_rate = float(np.mean(scores))
    line_right = sum(1 for s in scores if s == 1)
    word_length = max(len(l) for l in labels)
    return word_rate, line_right, word_length, len(labels)


# ---------------------------------------------------------------------------
# CTMetric — get_score_C + combine_results (ppocr/metrics/ct_metric.py:26-52,
# ppocr/utils/e2e_metric/Deteval.py:276-705, rec_flag=False)
# ---------------------------------------------------------------------------

def _rect_inter_matrix(gt: np.ndarray, det: np.ndarray) -> np.ndarray:
    """(n_gt, n_det) pairwise axis-aligned intersection areas: the
    clipped overlap width times height, 0 where either is not positive."""
    w = (np.minimum(gt[:, None, 2], det[None, :, 2])
         - np.maximum(gt[:, None, 0], det[None, :, 0]))
    h = (np.minimum(gt[:, None, 3], det[None, :, 3])
         - np.maximum(gt[:, None, 1], det[None, :, 1]))
    return np.where((w > 0) & (h > 0), w * h, 0.0)


def ct_sigma_tau(gt: np.ndarray, dc: np.ndarray, det: np.ndarray):
    """get_score_C (Deteval.py:276-394) over axis-aligned rects — the
    documented bbox axiom: the reference computes polygon intersections
    via Polygon3; with axis-aligned inputs the same areas are exact
    closed forms, so no rasterization axiom enters the differential.

    Steps transcribed: detection_filtering drops every det whose
    don't-care area-precision (inter / det area) exceeds 0.5 against
    any '###' gt (:304-329); '###' gts are then removed (:356-360);
    sigma = inter / gt_area and tau = inter / det_area tables over the
    survivors (:331-345, zero-area guards included). Returns
    (sigma, tau) float64 arrays of shape (n_gt_care, n_det_kept)."""
    gt = np.asarray(gt, dtype=float).reshape(-1, 4)
    det = np.asarray(det, dtype=float).reshape(-1, 4)
    dc = np.asarray(dc, dtype=bool)
    # vectorized (same per-element min/max/mul/div scalars as the
    # scalar loops this replaced; pinned by the regime hand cases and
    # the committed ct_metric/e2e_deteval fixtures, values unchanged)
    inter_all = _rect_inter_matrix(gt, det)
    d_area = (np.maximum(det[:, 2] - det[:, 0], 0.0)
              * np.maximum(det[:, 3] - det[:, 1], 0.0))
    if dc.any() and len(det):
        prec = np.divide(inter_all[dc], d_area[None, :],
                         out=np.zeros((int(dc.sum()), len(det))),
                         where=d_area[None, :] != 0)
        keep = ~(prec > 0.5).any(axis=0)
    else:
        keep = np.ones(len(det), dtype=bool)
    det = det[keep]
    gt = gt[~dc]
    inter = inter_all[~dc][:, keep]
    g_area = (np.maximum(gt[:, 2] - gt[:, 0], 0.0)
              * np.maximum(gt[:, 3] - gt[:, 1], 0.0))
    d_area = d_area[keep]
    sigma = np.divide(inter, g_area[:, None],
                      out=np.zeros_like(inter),
                      where=g_area[:, None] != 0)
    tau = np.divide(inter, d_area[None, :],
                    out=np.zeros_like(inter),
                    where=d_area[None, :] != 0)
    return sigma, tau


def ct_match_counts(sigma: np.ndarray, tau: np.ndarray,
                    gt_strs: list | None = None,
                    det_strs: list | None = None):
    """combine_results' per-image matching walk (Deteval.py:395-657):
    one-to-one, then one-to-many, then many-to-one, with tr=0.7,
    tp=0.6, fsc_k=0.8, k=2. Quirks kept: one-to-one does NOT consult
    det_flag; its det-side uniqueness is counted over the full
    candidate COLUMNS; one-to-many requires ≥ k sigma>0 dets before
    looking at tau-qualified ones; the fractional fsc_k contributions
    weight precision by the candidate count.

    With ``gt_strs``/``det_strs`` (rec_flag=True — the E2EMetric
    get_socre_A path) the per-match string hits are counted too,
    including the asymmetric break quirks: one-to-many compares only
    the FIRST tau-qualified candidate's string; many_to_one's
    one-to-one-ish branch always breaks after the first gt while its
    fractional branch keeps scanning when the strings differ even
    case-folded (:571-608). Returns (num_gt, num_det, recall_acc,
    precision_acc, hit_str_num) — hit_str_num is 0 on the
    rec_flag=False (CTMetric) path."""
    tr, tp, fsc_k, k = 0.7, 0.6, 0.8, 2
    rec_flag = gt_strs is not None
    num_gt, num_det = sigma.shape
    rec = prec = 0.0
    hits = 0
    gt_flag = np.zeros(num_gt, dtype=bool)
    det_flag = np.zeros(num_det, dtype=bool)

    def str_hit(g: int, d: int) -> int:
        gs, ps = gt_strs[g], det_strs[d]
        if ps == gs or ps.lower() == gs.lower():
            return 1
        return 0

    # one_to_one (:417-485)
    for g in range(num_gt):
        gs = np.flatnonzero(sigma[g, :] > tr)
        gtt = np.flatnonzero(tau[g, :] > tp)
        ds = int((sigma[:, gs] > tr).sum()) if gs.size else 0
        dt = int((tau[:, gtt] > tp).sum()) if gtt.size else 0
        if len(gs) == 1 and len(gtt) == 1 and ds == 1 and dt == 1:
            rec += 1.0
            prec += 1.0
            gt_flag[g] = True
            matched = np.flatnonzero(sigma[g, :] > tr)
            if rec_flag:
                hits += str_hit(g, int(matched[0]))
            det_flag[matched] = True
    # one_to_many (:487-538)
    for g in range(num_gt):
        if gt_flag[g]:
            continue
        if int((sigma[g, :] > 0).sum()) >= k:
            qual = np.flatnonzero((tau[g, :] >= tp) & ~det_flag)
            if len(qual) == 1:
                if tau[g, qual[0]] >= tp and sigma[g, qual[0]] >= tr:
                    rec += 1.0
                    prec += 1.0
                    gt_flag[g] = True
                    det_flag[qual] = True
                    if rec_flag:
                        hits += str_hit(g, int(qual[0]))
            elif float(sigma[g, qual].sum()) >= tr:
                gt_flag[g] = True
                det_flag[qual] = True
                # the reference compares only the FIRST candidate's
                # string here (:519-529)
                if rec_flag and qual.size:
                    hits += str_hit(g, int(qual[0]))
                rec += fsc_k
                prec += len(qual) * fsc_k
    # many_to_one (:540-617)
    for d in range(num_det):
        if det_flag[d]:
            continue
        if int((tau[:, d] > 0).sum()) >= k:
            qual = np.flatnonzero((sigma[:, d] >= tp) & ~gt_flag)
            if len(qual) == 1:
                if tau[qual[0], d] >= tp and sigma[qual[0], d] >= tr:
                    rec += 1.0
                    prec += 1.0
                    gt_flag[qual] = True
                    det_flag[d] = True
                    if rec_flag and qual.size:
                        # :571-588 — break after the FIRST gt either way
                        hits += str_hit(int(qual[0]), d)
            elif float(tau[qual, d].sum()) >= tp:
                det_flag[d] = True
                gt_flag[qual] = True
                if rec_flag:
                    # :589-608 — exact match breaks; case-fold match
                    # breaks; a plain mismatch keeps scanning
                    for gi in qual:
                        gsd, psd = gt_strs[int(gi)], det_strs[d]
                        if psd == gsd:
                            hits += 1
                            break
                        if psd.lower() == gsd.lower():
                            hits += 1
                            break
                rec += len(qual) * fsc_k
                prec += fsc_k
    return num_gt, num_det, rec, prec, hits


CT_EVAL_SCHEMA = ("doc_id string, num_gt long, num_det long, "
                  "rec_acc double, prec_acc double")


def ct_eval(gt: DataFrame, det: DataFrame) -> DataFrame:
    """CTMetric end-to-end (ct_metric.py:26-52): per-doc get_score_C
    (ct_sigma_tau) + the combine_results matching walk (ct_match_counts)
    as ONE grouped-Arrow kernel call per doc_id, then the global ratio
    agg (Deteval.py:659-705, rec_flag=False so the e2e string terms are
    skipped and hit_str_count is 0).

    gt: (doc_id, gt_id, x1, y1, x2, y2, dc:boolean);
    det: (doc_id, det_id, x1, y1, x2, y2).
    Returns one row (precision, recall, f_score, total_num_gt,
    total_num_det)."""
    def per_image(g):
        is_gt, pts = g["side"] == "gt", _doc_boxes(g)
        sigma, tau = ct_sigma_tau(pts[is_gt], g["dc"][is_gt].astype(bool),
                                  pts[~is_gt])
        yield (g["doc_id"][0], *ct_match_counts(sigma, tau)[:4])

    per_doc = _per_doc_rows(
        gt, det, F.col("dc").cast("boolean").alias("dc"),
        F.lit(False).alias("dc"), per_image, CT_EVAL_SCHEMA)
    # NOTE (faithful accounting): total_num_gt counts gts AFTER the
    # '###' removal and total_num_det counts dets AFTER the don't-care
    # filtering — get_score_C returns the filtered tables and
    # combine_results reads num_gt/num_det off their shapes.
    agg = per_doc.agg(F.sum("rec_acc").alias("r"),
                      F.sum("prec_acc").alias("p"),
                      F.sum("num_gt").cast("double").alias("g"),
                      F.sum("num_det").cast("double").alias("d"))
    rec = F.when(F.col("g") == 0, 0.0).otherwise(F.col("r") / F.col("g"))
    prc = F.when(F.col("d") == 0, 0.0).otherwise(F.col("p") / F.col("d"))
    return agg.select(
        F.round(prc, 4).alias("precision"), F.round(rec, 4).alias("recall"),
        F.round(F.when(prc + rec == 0, 0.0)
                .otherwise(2 * prc * rec / (prc + rec)), 4)
        .alias("f_score"),
        F.col("g").cast("long").alias("total_num_gt"),
        F.col("d").cast("long").alias("total_num_det"))


def e2e_sigma_tau(gt: np.ndarray, gt_care: np.ndarray, det: np.ndarray):
    """get_socre_A's per-image tables (Deteval.py:24-160) over
    axis-aligned rects: dets overlapping a don't-care gt (text '' →
    the '#' mark of gt_reading_mod :38-63) at iod > 0.5 are dropped,
    '#' gts removed, then sigma = round(inter / gt_area, 2) and tau =
    round(inter / det_area, 2) — numpy's HALF-EVEN 2dp rounding, which
    get_socre_A applies and get_score_C does not (:83-95 vs :331-345).
    Returns (sigma, tau, kept_det_mask)."""
    gt = np.asarray(gt, dtype=float).reshape(-1, 4)
    det = np.asarray(det, dtype=float).reshape(-1, 4)
    care = np.asarray(gt_care, dtype=bool)
    # vectorized like ct_sigma_tau — same scalars, incl. numpy's
    # HALF-EVEN round applied elementwise
    inter_all = _rect_inter_matrix(gt, det)
    d_area = (np.maximum(det[:, 2] - det[:, 0], 0.0)
              * np.maximum(det[:, 3] - det[:, 1], 0.0))
    dc = ~care
    if dc.any() and len(det):
        iod = np.divide(inter_all[dc], d_area[None, :],
                        out=np.zeros((int(dc.sum()), len(det))),
                        where=d_area[None, :] != 0)
        keep = ~(iod > 0.5).any(axis=0)
    else:
        keep = np.ones(len(det), dtype=bool)
    gt_k = gt[care]
    inter = inter_all[care][:, keep]
    g_area = (np.maximum(gt_k[:, 2] - gt_k[:, 0], 0.0)
              * np.maximum(gt_k[:, 3] - gt_k[:, 1], 0.0))
    d_area = d_area[keep]
    # get_socre_A's sigma divides UNGUARDED (a 0-area gt raises there;
    # our synthesis never makes one) — keep a guard but preserve the
    # rounding exactly on the defined entries
    sigma = np.round(np.divide(inter, g_area[:, None],
                               out=np.zeros_like(inter),
                               where=g_area[:, None] != 0), 2)
    tau = np.round(np.divide(inter, d_area[None, :],
                             out=np.zeros_like(inter),
                             where=d_area[None, :] != 0), 2)
    return sigma, tau, keep


E2E_DETEVAL_SCHEMA = ("doc_id string, num_gt long, num_det long, "
                      "rec_acc double, prec_acc double, hits long")


def e2e_deteval(gt: DataFrame, det: DataFrame) -> DataFrame:
    """E2EMetric mode-A via Deteval (e2e_metric.py:39-69 →
    get_socre_A + combine_results rec_flag=True): per-doc 2dp-rounded
    sigma/tau tables + the matching walk WITH string hits, then the
    full final report (Deteval.py:659-705) — detection
    precision/recall/f_score, seqerr = 1 − hits/recall_acc, and the
    end-to-end recall/precision/f_score over hit counts.

    gt: (doc_id, gt_id, x1, y1, x2, y2, txt — '' marks don't-care);
    det: (doc_id, det_id, x1, y1, x2, y2, txt)."""
    def per_image(g):
        is_gt, pts = g["side"] == "gt", _doc_boxes(g)
        gtt = [t or "" for t in g["txt"][is_gt]]
        dtt = [t or "" for t in g["txt"][~is_gt]]
        care = np.array([t != "" for t in gtt], dtype=bool)
        sigma, tau, keep = e2e_sigma_tau(pts[is_gt], care, pts[~is_gt])
        yield (g["doc_id"][0], *ct_match_counts(
            sigma, tau, [t for t, c in zip(gtt, care) if c],
            [t for t, kp in zip(dtt, keep) if kp]))

    per_doc = _per_doc_rows(gt, det, "txt", "txt", per_image,
                            E2E_DETEVAL_SCHEMA)
    agg = per_doc.agg(F.sum("rec_acc").alias("r"),
                      F.sum("prec_acc").alias("p"),
                      F.sum("hits").cast("double").alias("h"),
                      F.sum("num_gt").cast("double").alias("g"),
                      F.sum("num_det").cast("double").alias("d"))
    rec = F.when(F.col("g") == 0, 0.0).otherwise(F.col("r") / F.col("g"))
    prc = F.when(F.col("d") == 0, 0.0).otherwise(F.col("p") / F.col("d"))
    rec_e = F.when(F.col("g") == 0, 0.0).otherwise(F.col("h") / F.col("g"))
    prc_e = F.when(F.col("d") == 0, 0.0).otherwise(F.col("h") / F.col("d"))
    return agg.select(
        F.round(prc, 4).alias("precision"),
        F.round(rec, 4).alias("recall"),
        F.round(F.when(prc + rec == 0, 0.0)
                .otherwise(2 * prc * rec / (prc + rec)), 4)
        .alias("f_score"),
        F.round(F.when(F.col("r") == 0, 1.0)
                .otherwise(1.0 - F.col("h") / F.col("r")), 4)
        .alias("seqerr"),
        F.round(rec_e, 4).alias("recall_e2e"),
        F.round(prc_e, 4).alias("precision_e2e"),
        F.round(F.when(prc_e + rec_e == 0, 0.0)
                .otherwise(2 * prc_e * rec_e / (prc_e + rec_e)), 4)
        .alias("f_score_e2e"),
        F.col("g").cast("long").alias("total_num_gt"),
        F.col("d").cast("long").alias("total_num_det"),
        F.col("h").cast("long").alias("hit_str_count"))
