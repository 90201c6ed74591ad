"""Spatial operators: per-class NMS (D5), EAST locality NMS, the per-doc
text detectors (D1-D3) and skew-defusing salting.

``hard_nms`` (kernels.py) is greedy and order-dependent — inherently
iterative, so it runs as a grouped Arrow kernel per (doc, class), exactly
the reference's per-image-per-class loop
(ppocr/postprocess/picodet_postprocess.py:161-190) made distributed. The
pre-NMS top-k cap (nms_top_k) is a JVM window rank so the expensive Python
kernel only ever sees bounded groups. The detectors are per-row kernels
(operators.grouped.map_rows): each document is independent.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernels import hard_nms
from .grouped import grouped_map_rows, map_rows

NMS_SCHEMA = ("doc_id string, label string, box_id long, "
              "x1 double, y1 double, x2 double, y2 double, "
              "score double, keep_order long")
_NMS_IN = ("doc_id", "label", "box_id", "x1", "y1", "x2", "y2", "score")
#: Row order inside an NMS group. ``box_id`` alone is not unique, and
#: both walks are greedy, so ties must break on the box itself: with a
#: total order the result does not depend on the input layout.
_BOX_ORDER = ["box_id", "x1", "y1", "x2", "y2", "score"]


def _corners(g) -> np.ndarray:
    """A group's (n, 4) float (x1, y1, x2, y2) box array."""
    return np.stack([g[c] for c in ("x1", "y1", "x2", "y2")],
                    axis=1).astype(float)


def nms_per_class(boxes: DataFrame, iou_threshold: float = 0.5,
                  nms_top_k: int = 1000, keep_top_k: int = 100,
                  candidate_size: int = 200) -> DataFrame:
    """PicoDet-style per-class NMS over (doc_id, label) groups.

    Input: (doc_id, label, box_id, x1, y1, x2, y2, score).
    Output: kept boxes with their greedy pick order (0-based).

    JVM pre-stage: rank ≤ nms_top_k per (doc_id, label) by (score desc,
    box_id, x1, y1, x2, y2) — the picodet nms_top_k cap (:182) — so
    group size into the Python kernel is bounded regardless of detector
    fan-out.
    """
    w = Window.partitionBy("doc_id", "label").orderBy(
        F.col("score").desc(), *_BOX_ORDER[:-1])
    capped = (boxes.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= nms_top_k).drop("rk"))

    def per_group(g):
        picked = hard_nms(_corners(g), g["score"].astype(float),
                          iou_threshold=iou_threshold, top_k=keep_top_k,
                          candidate_size=candidate_size)
        return [tuple(g[c][p] for c in _NMS_IN) + (k,)
                for k, p in enumerate(picked)]

    return grouped_map_rows(capped, ["doc_id", "label"], _BOX_ORDER,
                            per_group, NMS_SCHEMA)


def salted_repartition(df: DataFrame, num_partitions: int, key: str,
                       salt_buckets: int = 16) -> DataFrame:
    """Repartition by (key, salt) to defuse hot keys (north-rule S8 analog).

    Use when downstream work is per-ROW under a skewed key (e.g. decoding
    media blobs where a handful of content-addressed refs repeat millions of
    times). NOT for per-group kernels that need whole groups co-located
    (reading order) — those take the plain hash repartition. The salt is
    derived from the row content hash, so the layout is deterministic.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                        F.lit(salt_buckets)))
    return salted.repartition(num_partitions, F.col(key),
                              F.col("_salt")).drop("_salt")


EAST_NMS_SCHEMA = ("doc_id string, keep_order long, x1 double, y1 double, "
                   "x2 double, y2 double, score double")


def east_nms_locality(boxes: DataFrame, thres: float = 0.3) -> DataFrame:
    """D2 EAST locality-aware NMS distributed per document.

    Input (doc_id, box_id, x1, y1, x2, y2, score); the kernel's sequential
    merge scan runs over (box_id, x1, y1, x2, y2, score) order (the
    row-major score-map order analog), as a grouped Arrow kernel exactly
    like nms_per_class. Output carries the MERGED geometry (weighted
    averages) and summed scores in pick order.
    """
    from ..kernels import nms_locality

    def per_doc(g):
        kept, scores = nms_locality(_corners(g), g["score"].astype(float),
                                    thres=thres)
        geo = np.asarray(kept, dtype=float).reshape(-1, 4)
        return [(g["doc_id"][0], k, *box, float(sc))
                for k, (box, sc) in enumerate(zip(geo, scores))]

    return grouped_map_rows(boxes, ["doc_id"], _BOX_ORDER, per_doc,
                            EAST_NMS_SCHEMA)


#: PSE demo geometry: K shrinking kernel maps on a GRID² map scaled back
#: to SRC² source pixels (ratio = GRID/SRC = 0.5, exercising the inverse
#: scaling path of generate_box).
PSE_GRID = 24
PSE_K = 3
PSE_SRC = 48
PSE_RATIO = 0.5


def pse_doc_maps(d: int):
    """Deterministic score map + kernel pyramid for doc d — the model-
    output stand-in: 1-3 rectangular text blocks, kernel k eroded by k px
    per side (PSENet's shrunk-kernel supervision shape); per-pixel scores
    in [0.7, 1.0) so box_thresh=0.85 filters a deterministic subset."""
    import numpy as np
    h = w = PSE_GRID
    kernels = np.zeros((PSE_K, h, w), dtype=np.uint8)
    for b in range(1 + d % 3):
        x0 = (d * 7 + b * 11) % 12
        y0 = (d * 13 + b * 5) % 12
        bw = 8 + (d + b) % 5
        bh = 7 + (d * 3 + b) % 4
        for k in range(PSE_K):
            kernels[k, y0 + k:y0 + bh - k, x0 + k:x0 + bw - k] = 1
    yy, xx = np.mgrid[0:h, 0:w]
    # per-pixel scores in [0.72, 1.02): component means straddle the 0.85
    # box_thresh, so both filter branches fire; min_area (16) drops a
    # deterministic subset of smallest-kernel components, exercising the
    # pre-seed area filter and the absorb-on-first-level quirk
    score = ((xx * 7 + yy * 13 + d) % 50) / 50.0 * 0.3 + 0.72
    return score, kernels


#: The box detectors' output (pse, db, ct, east): one row per kept box.
BOX_SCHEMA = ("doc_id long, box_idx long, x1 long, y1 long, "
              "x2 long, y2 long, score double")


def _detect(docs: DataFrame, boxes_for) -> DataFrame:
    """Per-doc box detector over ``docs.doc_id``: each document is
    independent, so the kernel fans out with the scan (no exchange);
    ``boxes_for(d)`` lists doc ``d``'s kept (x1, y1, x2, y2, score)
    boxes, emitted in that order."""
    def per_doc(d):
        d = int(d)
        return [(d, i, *box) for i, box in enumerate(boxes_for(d))]
    return map_rows(docs.select("doc_id"), per_doc, BOX_SCHEMA)


def _detect_polys(docs: DataFrame, polys_for, schema: str) -> DataFrame:
    """Per-doc polygon detector, as :func:`_detect`: ``polys_for(d)``
    lists ``(points, *extra)`` per polygon, emitted as one
    ``(d, poly_idx, pt_idx, x, y, *extra)`` row per point."""
    def per_doc(d):
        d = int(d)
        return [(d, pi, qi, float(x), float(y), *extra)
                for pi, (pts, *extra) in enumerate(polys_for(d))
                for qi, (x, y) in enumerate(pts)]
    return map_rows(docs.select("doc_id"), per_doc, schema)


def pse_detect(docs: DataFrame) -> DataFrame:
    """D3 PSE detector distributed: per-doc map synthesis + progressive
    scale expansion (kernels.pse_expand / pse_boxes) in Arrow batches.

    Each document is independent (:func:`_detect`); the iterative BFS
    runs per doc, boxes emit in label order. Input (doc_id bigint);
    output one row per kept box.
    """
    from ..kernels import pse_boxes

    return _detect(docs, lambda d: pse_boxes(
        *pse_doc_maps(d), (PSE_SRC, PSE_SRC, PSE_RATIO, PSE_RATIO)))


#: DB demo geometry: a GRID² probability map scaled back to SRC² source
#: pixels (ratio = GRID/SRC = 0.5 — exercising boxes_from_bitmap's
#: dest_width/dest_height inverse scaling).
DB_GRID = 32
DB_SRC = 64
DB_RATIO = 0.5


def db_doc_maps(d: int):
    """Deterministic DB probability map for doc d — the DBNet model-output
    stand-in (same role as pse_doc_maps for PSE): 1-3 rectangular text
    blobs over sub-threshold background noise.

    Designed so every branch of db_boxes fires across the corpus:
    background in [0, 0.25) stays under thresh=0.3 but DILUTES
    box_score_fast when merged components produce L-shaped bboxes; blob
    probabilities in [0.45, 0.80) make component means straddle
    box_thresh=0.6; blob heights 2-8 straddle the min_size=3 side filter;
    x0=0 columns exercise the negative-coordinate clip after unclip.
    """
    import numpy as np
    h = w = DB_GRID
    yy, xx = np.mgrid[0:h, 0:w]
    pred = ((xx * 11 + yy * 7 + d) % 29) / 29.0 * 0.25
    for b in range(1 + d % 3):
        x0 = (d * 5 + b * 13) % 18
        y0 = (d * 11 + b * 7) % 20
        bw = 5 + (d * 3 + b) % 12
        bh = 2 + (d + b * 5) % 7
        blob = 0.45 + ((xx * 5 + yy * 3 + d + b * 9) % 35) / 100.0
        box = np.zeros((h, w), dtype=bool)
        box[y0:y0 + bh, x0:x0 + bw] = True
        pred = np.where(box, blob, pred)
    return pred


def db_detect(docs: DataFrame) -> DataFrame:
    """D1 DBPostProcess detector distributed: per-doc prob-map synthesis +
    the full boxes_from_bitmap pipeline (kernels.db_boxes) in Arrow
    batches.

    Like pse_detect, each document is independent; the CC+score+unclip
    kernel runs per doc, boxes emit in candidate (discovery) order.
    Input (doc_id bigint); output one row per kept box.
    """
    from ..kernels import db_boxes

    return _detect(docs, lambda d: db_boxes(
        db_doc_maps(d), (DB_SRC, DB_SRC, DB_RATIO, DB_RATIO)))


#: CT demo geometry: GRID² maps scaled up to ORG² source pixels
#: (exercising the boxPoints × (org/img) rescale at ct_postprocess
#: :118-120,133; the :114 nearest resize is identity at equal sizes).
CT_GRID = 32
CT_ORG = 64


def ct_doc_maps(d: int):
    """Deterministic CT model output for doc d — (3, H, W) maps
    (kernel logits + centripetal Δx/Δy) and an (H, W) score map.

    Designed so every ct_boxes branch fires across the corpus: 1-3
    shrunk "kernel" blobs whose logits clear the 0.2 threshold; blob
    areas 4..~40 px straddle BOTH the 10-px kernel zeroing and the
    16-px propagated min_area; per-blob score plateaus 0.84..0.91
    straddle min_score = 0.88; a 2-px ring around each blob carries
    centripetal offsets pointing at the blob center (truncation + the
    per-axis clip exercised at the borders), while background offsets
    point nowhere useful (label 0).
    """
    import numpy as np

    h = w = CT_GRID
    yy, xx = np.mgrid[0:h, 0:w]
    logits = ((xx * 13 + yy * 5 + d) % 31) / 31.0 * 0.19
    loc = np.zeros((2, h, w), dtype=np.float32)
    score = ((xx * 3 + yy * 11 + d) % 23) / 23.0 * 0.2
    for b in range(1 + d % 3):
        x0 = 2 + (d * 7 + b * 11) % 22
        y0 = 2 + (d * 3 + b * 17) % 22
        bw = 2 + (d + b * 5) % 6
        bh = 2 + (d * 5 + b) % 5
        blob = np.zeros((h, w), dtype=bool)
        blob[y0:y0 + bh, x0:x0 + bw] = True
        logits = np.where(blob, 0.3 + ((d + b) % 5) / 10.0, logits)
        score = np.where(blob, 0.84 + ((d + b * 3) % 8) / 100.0, score)
        # ring: 2 px around the blob, centripetal offsets to the center —
        # only for alternating (d, b), so ringless kernels of 10-15 px
        # survive the zeroing yet FAIL the 16-px propagated min_area
        if (d + b) % 2 == 0:
            ring = np.zeros((h, w), dtype=bool)
            ry0, ry1 = max(y0 - 2, 0), min(y0 + bh + 2, h)
            rx0, rx1 = max(x0 - 2, 0), min(x0 + bw + 2, w)
            ring[ry0:ry1, rx0:rx1] = True
            ring &= ~blob
            cx, cy = x0 + bw / 2.0, y0 + bh / 2.0
            loc[0] = np.where(ring, (cx - xx) / 2.5, loc[0])
            loc[1] = np.where(ring, (cy - yy) / 2.5, loc[1])
    out = np.concatenate([logits[None].astype(np.float32), loc])
    return out, score.astype(np.float32)


def ct_detect(docs: DataFrame) -> DataFrame:
    """D3 second family: CTPostProcess (Centripetal Text) distributed —
    per-doc map synthesis + kernels.ct_boxes (4-CC, small-kernel
    zeroing, centripetal label propagation, min_area/min_score filters,
    calipers rect + 0.85 shrink + org/img rescale) in Arrow batches.
    Same per-doc independence as pse_detect/db_detect. Input
    (doc_id bigint); one row per kept box, in label order.
    """
    from ..kernels import ct_boxes

    return _detect(docs, lambda d: ct_boxes(*ct_doc_maps(d),
                                            (CT_ORG, CT_ORG)))


#: DRRG demo geometry: the GCN head's (edges, scores, text_comps)
#: outputs, rescaled by ratio 0.5 at the end.
DRRG_RATIO = 0.5


def drrg_doc_graph(d: int):
    """Deterministic DRRG head output for doc d: (edges (E,2) int,
    scores (E,) float, text_comps (N,9) float).

    1-2 chains of 3-5 axis-aligned comps each. Coverage knobs: every
    (d+c)%4==0 chain stretches one hop past the 50-px edge_len_thr
    (score zeroed → chain splits); every (d+j)%5==0 edge scores 0.5
    (< link_thr 0.8 → split, possibly leaving singleton halves that
    remove_single drops); the first edge of each chain is DUPLICATED in
    reversed node order (the 0.5·(old+new) running-average quirk — the
    duplicate carries a DIFFERENT score so the average is observable).
    Every comp appears in at least one edge: components absent from the
    edge list inherit label 0 and would merge into whichever cluster is
    enumerated first — an order-dependence this synthesis must not
    trip, since the reference's own cluster order is set-pop random
    (kernels.drrg_boundaries docstring).
    """
    import numpy as np

    comps = []
    edges = []
    escores = []
    cid = 0
    for c in range(1 + d % 2):
        m = 3 + (d + c) % 3
        x = 5.0
        first = cid
        for j in range(m):
            y0 = 5.0 + c * 120
            comps.append([x, y0, x + 20, y0, x + 20, y0 + 10, x, y0 + 10,
                          0.6 + ((d + 7 * j + 13 * c) % 30) / 100.0])
            step = 60.0 if ((d + c) % 4 == 0 and j == 1) else 30.0
            x += step
            if j > 0:
                s = (0.5 if (d + j) % 5 == 0
                     else 0.85 + ((d + j) % 10) / 100.0)
                edges.append([cid - 1, cid])
                escores.append(s)
            cid += 1
        # duplicate first edge reversed, different score -> average quirk
        if cid - first >= 2:
            edges.append([first + 1, first])
            escores.append(0.9 + (d % 10) / 100.0)
    return (np.array(edges, dtype=np.int64),
            np.array(escores, dtype=np.float64),
            np.array(comps, dtype=np.float64))


DRRG_SCHEMA = ("doc_id long, boundary_idx long, pt_idx long, "
               "x double, y double, score double")


def drrg_detect(docs: DataFrame) -> DataFrame:
    """D3 fifth family: DRRGPostprocess distributed — per-doc graph
    synthesis + kernels.drrg_boundaries (edge-score propagation,
    link-thresholded clustering, singleton removal, greedy
    min-connect-path boundary assembly, ratio rescale) in Arrow
    batches. Input (doc_id bigint); one row per boundary point, in
    deterministic smallest-member cluster order.
    """
    from ..kernels import drrg_boundaries

    def polys_for(d):
        boxes, scores = drrg_boundaries(*drrg_doc_graph(d), DRRG_RATIO)
        return [(poly, float(s)) for poly, s in zip(boxes, scores)]

    return _detect_polys(docs, polys_for, DRRG_SCHEMA)


#: FCE demo geometry: GRID² cls/reg maps at downsample scale 4
#: (fce_postprocess scale), rescaled by ratio 0.5 (so 1/ratio = 2 is
#: float-exact) to source pixels.
FCE_GRID = 40
FCE_RATIO = 0.5
FCE_DEGREE = 5


def fce_doc_maps(d: int):
    """Deterministic FCE model output for doc d: cls (4, H, W) with
    tr = [0:2] / tcl = [2:4], reg (4k+2, H, W) Fourier coefficients.

    1-3 blobs on a disjoint grid. Per blob: a 5×5 text-region rect with
    per-pixel tcl scores 0.60..0.79 (tr 0.8 → final scores 0.48..0.63 >
    thr 0.3, score ties possible — exercising poly_nms's stable-sort
    tie pick); every in-blob pixel carries coefficients whose DC term
    compensates the pixel's own position, so the whole blob reconstructs
    ONE identical int32 ellipse (DC = blob center, first harmonics
    a±1 real → axis radii r1±r2) and per-contour NMS keeps exactly one
    candidate. Every 5th doc punches a 1-px hole in blob 0: fill_hole
    restores the component, but the hole pixel's score stays 0 — the
    score_mask-vs-component distinction stays live. Blob centers are
    ≥16 map px apart with radii ≤5, so cross-blob polygon bboxes are
    disjoint (the convex-clip IoU deviation never meets a partial
    overlap).
    """
    import numpy as np

    h = w = FCE_GRID
    k = FCE_DEGREE
    cls = np.zeros((4, h, w), dtype=np.float32)
    cls[1] = 0.1                      # background tr below threshold
    reg = np.zeros((4 * k + 2, h, w), dtype=np.float32)
    for b in range(1 + d % 3):
        cxm = 10 + 20 * (b % 2) + (d % 5) - 2
        cym = 10 + 20 * (b // 2) + ((d // 2) % 5) - 2
        r1 = 2 + (d + b) % 3
        r2 = (d + b * 7) % 2
        yy, xx = np.mgrid[cym - 2:cym + 3, cxm - 2:cxm + 3]
        tr = np.full(xx.shape, 0.8, dtype=np.float32)
        if d % 5 == 0 and b == 0:
            tr[2, 2] = 0.0            # the hole fill_hole re-covers
        cls[1, cym - 2:cym + 3, cxm - 2:cxm + 3] = tr
        cls[3, cym - 2:cym + 3, cxm - 2:cxm + 3] = (
            0.6 + ((xx * 3 + yy * 7 + d) % 20) / 100.0)
        # x coeffs = reg[:2k+1], y coeffs = reg[2k+1:]; DC at index k
        reg[k, cym - 2:cym + 3, cxm - 2:cxm + 3] = cxm - xx
        reg[3 * k + 1, cym - 2:cym + 3, cxm - 2:cxm + 3] = cym - yy
        reg[k + 1, cym - 2:cym + 3, cxm - 2:cxm + 3] = r1
        reg[k - 1, cym - 2:cym + 3, cxm - 2:cxm + 3] = r2
    return cls, reg


FCE_SCHEMA = ("doc_id long, poly_idx long, pt_idx long, "
              "x double, y double, score double")


def fce_detect(docs: DataFrame) -> DataFrame:
    """D3 fourth family: FCEPostProcess distributed — per-doc map
    synthesis + kernels.fce_boundaries (score fusion, hole fill,
    component contours, per-pixel Fourier reconstruction, two-level
    poly NMS, ratio rescale) in Arrow batches. Input (doc_id bigint);
    one row per reconstructed polygon point, in keep order.
    """
    from ..kernels import fce_boundaries

    def polys_for(d):
        boxes, scores = fce_boundaries(*fce_doc_maps(d), FCE_RATIO)
        return [(poly, float(s)) for poly, s in zip(boxes, scores)]

    return _detect_polys(docs, polys_for, FCE_SCHEMA)


#: SAST demo geometry: GRID² TCL/TVO/TBO/TCO maps at the reference's 4×
#: stride (out_strid, sast_postprocess.py:219), rescaled by ratio 0.5 to
#: SRC² source pixels.
SAST_GRID = 32
SAST_RATIO = 0.5
SAST_SRC = int(SAST_GRID * 4 / SAST_RATIO)


def sast_doc_maps(d: int):
    """Deterministic SAST model output for doc d: HWC maps tcl (H,W,1),
    tvo (H,W,8), tbo (H,W,4), tco (H,W,2).

    1-3 axis-aligned text instances per doc. Each instance is a rect
    whose TCL center-line strip scores 0.55..0.94 (> thresh 0.5, all
    distinct); tvo at every strip pixel restores the EXACT rect corners
    [tl, tr, br, bl] (clockwise → the negated shoelace area is
    positive); tco points at the rect center (argmin cluster assignment
    is exact); tbo carries the vertical offsets to the top/bottom
    borders. Coverage knobs: rect areas 6..88 straddle the <5 area
    skip, min sides 2..8 straddle the <3 skip, strip-density vs height
    straddles the sum/area < 0.1 confidence skip, and every (d+b)%4==0
    follow-up rect overlaps its predecessor by all-but-1-px so the
    locality-NMS merge path fires.
    """
    import numpy as np

    h = w = SAST_GRID
    tcl = np.zeros((h, w, 1), dtype=np.float32)
    tvo = np.zeros((h, w, 8), dtype=np.float32)
    tbo = np.zeros((h, w, 4), dtype=np.float32)
    tco = np.zeros((h, w, 2), dtype=np.float32)
    prev = None
    for b in range(1 + d % 3):
        if prev is not None and (d + b) % 4 == 0:
            x0, y0 = prev[0] + 1, prev[1]
            bw, bh = prev[2], prev[3]
        else:
            x0 = 2 + (d * 5 + b * 9) % 18
            y0 = 2 + (d * 3 + b * 7) % 18
            bw = 3 + (d + b) % 9
            bh = 2 + (d * 2 + b) % 7
        prev = (x0, y0, bw, bh)
        x1, y1 = x0 + bw, y0 + bh
        corners = np.array([x0, y0, x1, y0, x1, y1, x0, y1],
                           dtype=np.float32)
        cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
        ym = min(y0 + bh // 2, h - 1)
        for x in range(x0, min(x1, w)):
            s = 0.55 + ((x * 7 + ym * 3 + d) % 40) / 100.0
            tcl[ym, x, 0] = s
            pix = np.array([x, ym, x, ym, x, ym, x, ym], dtype=np.float32)
            tvo[ym, x, :] = pix - corners
            tco[ym, x, :] = np.array([x - cx, ym - cy], dtype=np.float32)
            tbo[ym, x, :] = np.array([y0 - ym, 0.0, y1 - ym, 0.0],
                                     dtype=np.float32)
    return tcl, tvo, tbo, tco


SAST_SCHEMA = ("doc_id long, poly_idx long, pt_idx long, "
               "x double, y double")


def sast_detect(docs: DataFrame) -> DataFrame:
    """D3 third family: SASTPostProcess distributed — per-doc map
    synthesis + kernels.sast_polys (quad restore, locality NMS,
    TCO clustering, confidence/area/side filters, center-line sampling,
    border-offset polys, width expansion) in Arrow batches. Input
    (doc_id bigint); one row per poly point, in instance order.
    """
    from ..kernels import sast_polys

    return _detect_polys(docs, lambda d: [(poly,) for poly in sast_polys(
        *sast_doc_maps(d), SAST_RATIO, SAST_RATIO, SAST_SRC, SAST_SRC)],
        SAST_SCHEMA)


#: EAST demo geometry: GRID² score/geo maps at the reference's 4× pixel
#: stride, scaled back to SRC² source pixels (ratio = 0.5).
EAST_GRID = 24
EAST_SRC = 192
EAST_RATIO = 0.5


def east_doc_maps(d: int):
    """Deterministic EAST model-output stand-in for doc d: score map +
    8-channel geo map whose restored quads are axis-aligned rectangles.

    Each of 1-2 blobs predicts (per pixel) its rectangle in 4×-stride
    coordinates with a small per-pixel corner jitter — so locality-aware
    NMS actually exercises the weighted merge — and per-pixel scores in
    [0.75, 1.0) straddle score_thresh=0.8. Every third document's second
    blob restores a rectangle displaced onto empty background, so its
    cover-score re-read fails the cover_thresh filter.
    """
    import numpy as np
    h = w = EAST_GRID
    yy, xx = np.mgrid[0:h, 0:w]
    score = np.zeros((h, w))
    geo = np.zeros((h, w, 8))
    for b in range(1 + d % 2):
        x0 = (d * 7 + b * 11) % 14
        y0 = (d * 5 + b * 9) % 14
        bw = 5 + (d + b) % 6
        bh = 4 + (d * 3 + b) % 5
        blob = np.zeros((h, w), dtype=bool)
        blob[y0:y0 + bh, x0:x0 + bw] = True
        score = np.where(blob,
                         ((xx * 3 + yy * 7 + d + b) % 25) / 100.0 + 0.75,
                         score)
        # restored rect in 4x coords (+ displacement for the cover-fail
        # case, + per-pixel jitter on each corner)
        disp = 60 if (d % 3 == 0 and b == 1) else 0
        rx1, ry1 = x0 * 4 + disp, y0 * 4
        rx2, ry2 = (x0 + bw) * 4 + disp, (y0 + bh) * 4
        jit = (xx + yy + d) % 3 - 1
        for ci, (cx, cy) in enumerate(
                [(rx1, ry1), (rx2, ry1), (rx2, ry2), (rx1, ry2)]):
            geo[:, :, 2 * ci] = np.where(
                blob, xx * 4 - (cx + jit), geo[:, :, 2 * ci])
            geo[:, :, 2 * ci + 1] = np.where(
                blob, yy * 4 - (cy + jit), geo[:, :, 2 * ci + 1])
    return score, geo


def east_detect(docs: DataFrame) -> DataFrame:
    """D2 full EAST path distributed: per-doc score/geo synthesis + quad
    restore + locality-aware NMS + cover re-score
    (kernels.east_detect_boxes) — the same per-doc shape as
    db_detect/pse_detect."""
    from ..kernels import east_detect_boxes

    return _detect(docs, lambda d: east_detect_boxes(
        *east_doc_maps(d), (EAST_SRC, EAST_SRC, EAST_RATIO, EAST_RATIO)))
