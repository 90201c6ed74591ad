"""Seeded-replay transcription of ``ppocr/data/imaug/drrg_targets.py``
— the DRRG train-side target generator (DRRGTargets): head/tail edge
scoring, sideline resampling, shrunk center-region raster maps with
top/bottom height + sin/cos attribute fields, text-component extraction
along the center lines, locality-aware NMS, component-attribute jitter,
and the random-component fallback.

Contract: a pure (polys, ignore_tags, h, w, seed) function —
``np.random.RandomState(seed)`` replays the reference's global
``np.random`` stream draw-for-draw (jitter before random fallback, the
same array shapes).  The exec-ref differential (tests/test_drrg_gt.py)
executes the reference source verbatim over axis-aligned rect polys.

Circularity status: the head/tail gaussian scoring walk, reorder,
resampling, component geometry, NMS control flow, jitter and fallback
draws are genuinely differentialed.  Re-derived-and-shimmed axioms
(our code on both differential sides, same trade as the CT/SAST/FCE
differentials): cv2.fillPoly (even-odd scanline, inclusive rect law),
cv2.polylines LINE_8 (Bresenham), cv2.connectedComponents
(8-connectivity, raster-scan first-occurrence label order), cv2.erode
(k x k min filter), shapely polygon intersection (Sutherland-Hodgman
convex clip) inside the reference's own pure-python lanms fallback
(``ppocr/postprocess/locality_aware_nms.py`` — east_postprocess.py:89
treats it as the lanms equivalent), which stands in for the C++
``lanms.merge_quadrangle_n9`` import at drrg_targets.py:547.  One
documented determinism deviation: standard_nms' score argsort is made
STABLE (the reference's default argsort is not; DRRG scores are merge
counts with heavy ties).

Shared helpers: the reference copies vector_slope, find_head_tail and
reorder_poly_edge verbatim from fce_targets.py (plus a 1e-8 on the
>4-point arm's edge-distance normaliser), so this module imports them
from ``fce_gt`` and passes ``dist_eps=_EPS``.  The text-region mask
stays local: DRRG fills even-odd polygons where FCE fills bboxes.

Reference: hoonisone/PaddleOCR ``ppocr/data/imaug/drrg_targets.py``
  vector helpers :58-81        find_head_tail :83-169 (= fce_gt)
  reorder_poly_edge :170-194 (= fce_gt)   resample* :195-250
  dist_point2line :251-257     draw_center_region_maps :259-311
  generate_center_mask_attrib_maps :312-368
  generate_rand_comp_attribs :369-436   jitter_comp_attribs :437-484
  generate_comp_attribs :485-603        text/effective masks :604-645
  generate_targets :646-699
  locality NMS: ``ppocr/postprocess/locality_aware_nms.py:46-70,173``
"""
from __future__ import annotations

import math

import numpy as np
from numpy.linalg import norm

from .fce_gt import reorder_poly_edge, vector_slope

__all__ = [
    "fill_poly", "polyline8", "connected_components8", "erode_min",
    "convex_intersect_area", "la_nms_quads", "drrg_targets_doc",
    "drrg_gt_rows_for_doc", "DRRG_DEFAULTS",
]

_EPS = 1e-8

DRRG_DEFAULTS = dict(
    orientation_thr=2.0, resample_step=8.0, num_min_comps=9,
    num_max_comps=600, min_width=8.0, max_width=24.0,
    center_region_shrink_ratio=0.3, comp_shrink_ratio=1.0,
    comp_w_h_ratio=0.3, text_comp_nms_thr=0.25,
    min_rand_half_height=8.0, max_rand_half_height=24.0,
    jitter_level=0.2)


# ---------------------------------------------------------------------------
# raster / geometry primitives (shim-circular in the exec-ref)
# ---------------------------------------------------------------------------

def fill_poly(img: np.ndarray, pts, val) -> None:
    """cv2.fillPoly for one polygon: even-odd scanline with CLOSED
    crossing intervals paired in sorted order — on an axis-aligned
    integer rectangle this fills [x0..x1] x [y0..y1] INCLUSIVE (the
    fill_rect law the other raster axioms pin)."""
    p = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    if len(p) < 3:
        if len(p) == 0:
            return
        x0 = int(math.ceil(p[:, 0].min()))
        x1 = int(math.floor(p[:, 0].max()))
        y0 = int(math.ceil(p[:, 1].min()))
        y1 = int(math.floor(p[:, 1].max()))
        h, w = img.shape[:2]
        if x1 < 0 or y1 < 0 or x0 > w - 1 or y0 > h - 1:
            return
        img[max(y0, 0):min(y1, h - 1) + 1,
            max(x0, 0):min(x1, w - 1) + 1] = val
        return
    h, w = img.shape[:2]
    ys = p[:, 1]
    y_lo = max(int(math.ceil(ys.min())), 0)
    y_hi = min(int(math.floor(ys.max())), h - 1)
    if y_hi < y_lo:
        return
    # Vectorized scanline: the (rows x edges) crossing matrix computes
    # the SAME per-element expression the scalar loop did — numpy
    # broadcasts `ax + (bx - ax) * (y - ay) / (by - ay)` left-to-right
    # exactly as Python does, so every crossing x is bit-identical; the
    # NaN-padded row sort puts real crossings first in the same sorted
    # order the per-row list sort produced, and the [0,1],[2,3] pairing
    # is unchanged.
    a = p
    b = np.roll(p, -1, axis=0)
    keep = a[:, 1] != b[:, 1]
    a, b = a[keep], b[keep]
    if not len(a):
        return
    lo = np.minimum(a[:, 1], b[:, 1])
    hi = np.maximum(a[:, 1], b[:, 1])
    Y = np.arange(y_lo, y_hi + 1, dtype=np.float64)[:, None]
    m = (lo[None, :] <= Y) & (Y <= hi[None, :])
    with np.errstate(invalid="ignore"):
        X = np.where(
            m,
            a[None, :, 0] + (b[None, :, 0] - a[None, :, 0])
            * (Y - a[None, :, 1]) / (b[None, :, 1] - a[None, :, 1]),
            np.nan)
    X.sort(axis=1)
    counts = m.sum(axis=1)
    x0s = np.ceil(X)
    x1s = np.floor(X)
    for r in range(X.shape[0]):
        y = y_lo + r
        row0, row1 = x0s[r], x1s[r]
        for k in range(0, int(counts[r]) - 1, 2):
            x0 = int(row0[k])
            x1 = int(row1[k + 1])
            if x1 < 0 or x0 > w - 1:
                continue
            img[y, max(x0, 0):min(x1, w - 1) + 1] = val


def polyline8(img: np.ndarray, pts: np.ndarray, val) -> None:
    """cv2.polylines(..., isClosed=0, thickness=1, LINE_8): classic
    8-connected Bresenham per consecutive int pair, endpoints
    inclusive, out-of-canvas pixels clipped."""
    h, w = img.shape[:2]
    p = np.asarray(pts, dtype=np.int64).reshape(-1, 2)
    for i in range(len(p) - 1):
        x0, y0 = int(p[i][0]), int(p[i][1])
        x1, y1 = int(p[i + 1][0]), int(p[i + 1][1])
        dx = abs(x1 - x0)
        dy = abs(y1 - y0)
        sx = 1 if x0 < x1 else -1
        sy = 1 if y0 < y1 else -1
        err = dx - dy
        x, y = x0, y0
        while True:
            if 0 <= x < w and 0 <= y < h:
                img[y, x] = val
            if x == x1 and y == y1:
                break
            e2 = 2 * err
            if e2 > -dy:
                err -= dy
                x += sx
            if e2 < dx:
                err += dx
                y += sy


def connected_components8(mask: np.ndarray):
    """cv2.connectedComponents(connectivity=8): labels int32, background
    0, component labels numbered by raster-scan FIRST OCCURRENCE.
    Run-based union-find — O(runs), not O(pixels), so wide sparse masks
    stay cheap (run ids are assigned row-major, making a component's
    smallest run id its first occurrence)."""
    h, w = mask.shape
    labels = np.zeros((h, w), dtype=np.int32)
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    prev_runs: list[tuple[int, int, int]] = []
    all_runs: list[tuple[int, int, int, int]] = []
    bin_row = np.empty(w + 2, dtype=np.int8)
    bin_row[0] = bin_row[-1] = 0
    for y in range(h):
        np.not_equal(mask[y], 0, out=bin_row[1:-1].view(bool))
        d = np.diff(bin_row)
        starts = np.where(d == 1)[0]
        if len(starts) == 0:
            prev_runs = []
            continue
        ends = np.where(d == -1)[0]
        cur: list[tuple[int, int, int]] = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            rid = len(parent)
            parent.append(rid)
            for ps, pe, pid in prev_runs:
                if ps < e + 1 and pe > s - 1:      # 8-conn: cols +/- 1
                    ra, rb = find(rid), find(pid)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
            cur.append((s, e, rid))
            all_runs.append((y, s, e, rid))
        prev_runs = cur
    first: dict[int, int] = {}
    for _, _, _, rid in all_runs:
        r = find(rid)
        if r not in first:
            first[r] = rid
    order = sorted(first, key=lambda r: first[r])
    new_label = {r: i + 1 for i, r in enumerate(order)}
    for y, s, e, rid in all_runs:
        labels[y, s:e] = new_label[find(rid)]
    return len(order) + 1, labels


def erode_min(img: np.ndarray, ksize: int) -> np.ndarray:
    """cv2.erode with a ksize x ksize all-ones kernel, anchor
    (ksize//2, ksize//2): neighbourhood minimum; off-canvas taps use
    cv2's +inf morphology border (never win)."""
    h, w = img.shape
    a = ksize // 2
    pad_lo, pad_hi = a, ksize - 1 - a
    p = np.full((h + ksize - 1, w + ksize - 1), 255, dtype=img.dtype)
    p[pad_lo:pad_lo + h, pad_lo:pad_lo + w] = img
    out = img.copy()
    for dy in range(ksize):
        for dx in range(ksize):
            np.minimum(out, p[dy:dy + h, dx:dx + w], out)
    del pad_hi
    return out


def _area2(pts) -> float:
    """2x signed shoelace area of a list of (x, y) tuples."""
    s = 0.0
    n = len(pts)
    for i in range(n):
        x0, y0 = pts[i]
        x1, y1 = pts[(i + 1) % n]
        s += x0 * y1 - y0 * x1
    return s


def _clip_convex(a, b):
    """Sutherland-Hodgman: clip CCW polygon ``a`` by CCW polygon ``b``
    (lists of (x, y)); pure python — this is the NMS hot loop."""
    out = a
    nb = len(b)
    for i in range(nb):
        if not out:
            return out
        cx, cy = b[i]
        dx, dy = b[(i + 1) % nb]
        ex, ey = dx - cx, dy - cy
        inp = out
        out = []
        sides = [ex * (py - cy) - ey * (px - cx) for px, py in inp]
        m = len(inp)
        for j in range(m):
            k = j + 1 if j + 1 < m else 0
            sp, sq = sides[j], sides[k]
            if sp >= 0:
                out.append(inp[j])
            if (sp > 0 > sq) or (sp < 0 < sq):
                t = sp / (sp - sq)
                px, py = inp[j]
                qx, qy = inp[k]
                out.append((px + t * (qx - px), py + t * (qy - py)))
    return out


def poly_area(pts) -> float:
    """Absolute shoelace area (shapely Polygon(...).area for simple
    polys); accepts an (N, 2) array or a list of tuples."""
    if isinstance(pts, np.ndarray):
        pts = [(float(x), float(y)) for x, y in pts.reshape(-1, 2)]
    return abs(_area2(pts)) / 2.0


def convex_intersect_area(a, b) -> float:
    """Intersection area of two CONVEX polygons: Sutherland-Hodgman
    clip + shoelace (shapely's Polygon.intersection(...).area for the
    convex quads DRRG emits)."""
    a = [(float(x), float(y))
         for x, y in np.asarray(a, dtype=np.float64).reshape(-1, 2)]
    b = [(float(x), float(y))
         for x, y in np.asarray(b, dtype=np.float64).reshape(-1, 2)]
    if _area2(a) < 0:
        a = a[::-1]
    if _area2(b) < 0:
        b = b[::-1]
    out = _clip_convex(a, b)
    if len(out) < 3:
        return 0.0
    return abs(_area2(out)) / 2.0


def _quad_iou(g, p) -> float:
    """locality_aware_nms.intersection(g, p) over convex 9-col quads
    (pure-python hot path with an AABB quick-reject)."""
    ga = [(float(g[0]), float(g[1])), (float(g[2]), float(g[3])),
          (float(g[4]), float(g[5])), (float(g[6]), float(g[7]))]
    pa = [(float(p[0]), float(p[1])), (float(p[2]), float(p[3])),
          (float(p[4]), float(p[5])), (float(p[6]), float(p[7]))]
    gx = [q[0] for q in ga]
    gy = [q[1] for q in ga]
    px = [q[0] for q in pa]
    py = [q[1] for q in pa]
    if (max(gx) < min(px) or max(px) < min(gx)
            or max(gy) < min(py) or max(py) < min(gy)):
        return 0.0
    if _area2(ga) < 0:
        ga = ga[::-1]
    if _area2(pa) < 0:
        pa = pa[::-1]
    out = _clip_convex(ga, pa)
    inter = abs(_area2(out)) / 2.0 if len(out) >= 3 else 0.0
    union = abs(_area2(ga)) / 2.0 + abs(_area2(pa)) / 2.0 - inter
    if union == 0:
        return 0.0
    return inter / union


def la_nms_quads(polys: np.ndarray, thres: float) -> np.ndarray:
    """lanms.merge_quadrangle_n9 via the reference's own pure-python
    equivalent (locality_aware_nms.py:173-193 nms_locality + :55-70
    standard_nms + :46-52 weighted_merge) over N x 9 quads.
    DELIBERATE DEVIATION (as in kernels.nms_locality): the score
    argsort is stable — DRRG scores are merge counts, all ties."""
    S = []
    p = None
    for row in np.asarray(polys, dtype=np.float64):
        g = row.copy()
        if p is not None and _quad_iou(g, p) > thres:
            g[:8] = (g[8] * g[:8] + p[8] * p[:8]) / (g[8] + p[8])
            g[8] = g[8] + p[8]
            p = g
        else:
            if p is not None:
                S.append(p)
            p = g
    if p is not None:
        S.append(p)
    if len(S) == 0:
        return np.array([])
    S = np.array(S)
    # Vectorized AABB prefilter for the standard-NMS sweep: pairs whose
    # bounding boxes are disjoint have _quad_iou == 0.0 exactly (the
    # same quick-reject _quad_iou itself performs), so 0.0 <= thres
    # keeps them without paying the per-call Python quad construction.
    # Only AABB-overlapping pairs run the full clip walk — identical
    # keep set, ~30x fewer _quad_iou calls on dense docs.
    xlo = S[:, 0:8:2].min(axis=1)
    xhi = S[:, 0:8:2].max(axis=1)
    ylo = S[:, 1:8:2].min(axis=1)
    yhi = S[:, 1:8:2].max(axis=1)
    order = list(np.argsort(S[:, 8], kind="stable")[::-1])
    keep = []
    while order:
        i = order.pop(0)
        keep.append(i)
        if not order:
            break
        rest = np.asarray(order)
        disjoint = ((xhi[i] < xlo[rest]) | (xhi[rest] < xlo[i])
                    | (yhi[i] < ylo[rest]) | (yhi[rest] < ylo[i]))
        order = [t for t, d in zip(order, disjoint)
                 if d or _quad_iou(S[i], S[t]) <= thres]
    return S[keep]


# ---------------------------------------------------------------------------
# vector / sideline walk (drrg_targets.py:58-257) — pure numpy,
# transcribed with module params threaded explicitly
# ---------------------------------------------------------------------------

def _vector_sin(vec):
    return vec[1] / (norm(vec) + _EPS)


def _vector_cos(vec):
    return vec[0] / (norm(vec) + _EPS)


def _cal_curve_length(line):
    edges_length = np.sqrt((line[1:, 0] - line[:-1, 0]) ** 2
                           + (line[1:, 1] - line[:-1, 1]) ** 2)
    return edges_length, np.sum(edges_length)


def _resample_line(line, n):
    """drrg_targets.py:205-230 — the stepped equidistant walk with the
    eps-damped segment weights."""
    edges_length, total_length = _cal_curve_length(line)
    t_org = np.insert(np.cumsum(edges_length), 0, 0)
    unit_t = total_length / (n - 1)
    t_equidistant = np.arange(1, n - 1, dtype=np.float32) * unit_t
    edge_ind = 0
    points = [line[0]]
    for t in t_equidistant:
        while edge_ind < len(edges_length) - 1 and t > t_org[edge_ind + 1]:
            edge_ind += 1
        t_l, t_r = t_org[edge_ind], t_org[edge_ind + 1]
        weight = np.array([t_r - t, t - t_l],
                          dtype=np.float32) / (t_r - t_l + _EPS)
        points.append(np.dot(weight, line[[edge_ind, edge_ind + 1]]))
    points.append(line[-1])
    return np.vstack(points)


def _resample_sidelines(sideline1, sideline2, resample_step):
    _, length1 = _cal_curve_length(sideline1)
    _, length2 = _cal_curve_length(sideline2)
    avg_length = (length1 + length2) / 2
    resample_point_num = max(int(float(avg_length) / resample_step) + 1, 3)
    return (_resample_line(sideline1, resample_point_num),
            _resample_line(sideline2, resample_point_num))


def _dist_point2line(point, line):
    point1, point2 = line
    return abs(np.cross(point2 - point1, point - point1)) / (
        norm(point2 - point1) + 1e-8)


# ---------------------------------------------------------------------------
# map generation (drrg_targets.py:259-368, 604-645)
# ---------------------------------------------------------------------------

def _draw_center_region_maps(top_line, bot_line, center_line,
                             center_region_mask, top_height_map,
                             bot_height_map, sin_map, cos_map,
                             region_shrink_ratio):
    h, w = center_region_mask.shape
    for i in range(0, len(center_line) - 1):
        top_mid_point = (top_line[i] + top_line[i + 1]) / 2
        bot_mid_point = (bot_line[i] + bot_line[i + 1]) / 2
        sin_theta = _vector_sin(top_mid_point - bot_mid_point)
        cos_theta = _vector_cos(top_mid_point - bot_mid_point)

        tl = center_line[i] + (top_line[i] - center_line[i]
                               ) * region_shrink_ratio
        tr = center_line[i + 1] + (top_line[i + 1] - center_line[i + 1]
                                   ) * region_shrink_ratio
        br = center_line[i + 1] + (bot_line[i + 1] - center_line[i + 1]
                                   ) * region_shrink_ratio
        bl = center_line[i] + (bot_line[i] - center_line[i]
                               ) * region_shrink_ratio
        current_center_box = np.vstack([tl, tr, br, bl]).astype(np.int32)

        fill_poly(center_region_mask, current_center_box, 1)
        fill_poly(sin_map, current_center_box, sin_theta)
        fill_poly(cos_map, current_center_box, cos_theta)

        current_center_box[:, 0] = np.clip(current_center_box[:, 0], 0,
                                           w - 1)
        current_center_box[:, 1] = np.clip(current_center_box[:, 1], 0,
                                           h - 1)
        min_coord = np.min(current_center_box, axis=0).astype(np.int32)
        max_coord = np.max(current_center_box, axis=0).astype(np.int32)
        current_center_box = current_center_box - min_coord
        box_sz = (max_coord - min_coord + 1)

        center_box_mask = np.zeros((box_sz[1], box_sz[0]), dtype=np.uint8)
        fill_poly(center_box_mask, current_center_box, 1)

        inds = np.argwhere(center_box_mask > 0)
        inds = inds + (min_coord[1], min_coord[0])
        inds_xy = np.fliplr(inds)
        top_height_map[(inds[:, 0], inds[:, 1])] = _dist_point2line(
            inds_xy, (top_line[i], top_line[i + 1]))
        bot_height_map[(inds[:, 0], inds[:, 1])] = _dist_point2line(
            inds_xy, (bot_line[i], bot_line[i + 1]))


def _generate_center_mask_attrib_maps(img_size, text_polys, P):
    h, w = img_size
    center_lines = []
    center_region_mask = np.zeros((h, w), np.uint8)
    top_height_map = np.zeros((h, w), dtype=np.float32)
    bot_height_map = np.zeros((h, w), dtype=np.float32)
    sin_map = np.zeros((h, w), dtype=np.float32)
    cos_map = np.zeros((h, w), dtype=np.float32)

    for poly in text_polys:
        _, _, top_line, bot_line = reorder_poly_edge(
            poly, P["orientation_thr"], _EPS)
        resampled_top_line, resampled_bot_line = _resample_sidelines(
            top_line, bot_line, P["resample_step"])
        resampled_bot_line = resampled_bot_line[::-1]
        center_line = (resampled_top_line + resampled_bot_line) / 2

        if vector_slope(center_line[-1] - center_line[0]) > 2:
            if (center_line[-1] - center_line[0])[1] < 0:
                center_line = center_line[::-1]
                resampled_top_line = resampled_top_line[::-1]
                resampled_bot_line = resampled_bot_line[::-1]
        else:
            if (center_line[-1] - center_line[0])[0] < 0:
                center_line = center_line[::-1]
                resampled_top_line = resampled_top_line[::-1]
                resampled_bot_line = resampled_bot_line[::-1]

        line_head_shrink_len = np.clip(
            norm(top_line[0] - bot_line[0]) * P["comp_w_h_ratio"],
            P["min_width"], P["max_width"]) / 2
        line_tail_shrink_len = np.clip(
            norm(top_line[-1] - bot_line[-1]) * P["comp_w_h_ratio"],
            P["min_width"], P["max_width"]) / 2
        num_head_shrink = int(line_head_shrink_len // P["resample_step"])
        num_tail_shrink = int(line_tail_shrink_len // P["resample_step"])
        if len(center_line) > num_head_shrink + num_tail_shrink + 2:
            center_line = center_line[
                num_head_shrink:len(center_line) - num_tail_shrink]
            resampled_top_line = resampled_top_line[
                num_head_shrink:len(resampled_top_line) - num_tail_shrink]
            resampled_bot_line = resampled_bot_line[
                num_head_shrink:len(resampled_bot_line) - num_tail_shrink]
        center_lines.append(center_line.astype(np.int32))

        _draw_center_region_maps(
            resampled_top_line, resampled_bot_line, center_line,
            center_region_mask, top_height_map, bot_height_map, sin_map,
            cos_map, P["center_region_shrink_ratio"])

    return (center_lines, center_region_mask, top_height_map,
            bot_height_map, sin_map, cos_map)


def _generate_text_region_mask(img_size, text_polys):
    h, w = img_size
    text_region_mask = np.zeros((h, w), dtype=np.uint8)
    for poly in text_polys:
        polygon = np.array(poly, dtype=np.int32).reshape((1, -1, 2))
        for q in polygon:
            fill_poly(text_region_mask, q, 1)
    return text_region_mask


def _generate_effective_mask(mask_size, polygons_ignore):
    mask = np.ones(mask_size, dtype=np.uint8)
    for poly in polygons_ignore:
        instance = poly.astype(np.int32).reshape(1, -1, 2)
        for q in instance:
            fill_poly(mask, q, 0)
    return mask


# ---------------------------------------------------------------------------
# component attributes (drrg_targets.py:369-603) — the RNG consumers
# ---------------------------------------------------------------------------

def _generate_rand_comp_attribs(rng_np, num_rand_comps,
                                center_sample_mask, P):
    h, w = center_sample_mask.shape
    max_rand_half_height = P["max_rand_half_height"]
    min_rand_half_height = P["min_rand_half_height"]
    max_rand_height = max_rand_half_height * 2
    max_rand_width = np.clip(max_rand_height * P["comp_w_h_ratio"],
                             P["min_width"], P["max_width"])
    margin = int(np.sqrt((max_rand_height / 2) ** 2
                         + (max_rand_width / 2) ** 2)) + 1

    if 2 * margin + 1 > min(h, w):
        assert min(h, w) > (np.sqrt(2) * (P["min_width"] + 1))
        max_rand_half_height = max(min(h, w) / 4, P["min_width"] / 2 + 1)
        min_rand_half_height = max(max_rand_half_height / 4,
                                   P["min_width"] / 2)
        max_rand_height = max_rand_half_height * 2
        max_rand_width = np.clip(max_rand_height * P["comp_w_h_ratio"],
                                 P["min_width"], P["max_width"])
        margin = int(np.sqrt((max_rand_height / 2) ** 2
                             + (max_rand_width / 2) ** 2)) + 1

    inner_center_sample_mask = np.zeros_like(center_sample_mask)
    inner_center_sample_mask[margin:h - margin, margin:w - margin] = \
        center_sample_mask[margin:h - margin, margin:w - margin]
    kernel_size = int(np.clip(max_rand_half_height, 7, 21))
    inner_center_sample_mask = erode_min(inner_center_sample_mask,
                                         kernel_size)

    center_candidates = np.argwhere(inner_center_sample_mask > 0)
    num_center_candidates = len(center_candidates)
    sample_inds = rng_np.choice(num_center_candidates, num_rand_comps)
    rand_centers = center_candidates[sample_inds]

    rand_top_height = rng_np.randint(min_rand_half_height,
                                     max_rand_half_height,
                                     size=(len(rand_centers), 1))
    rand_bot_height = rng_np.randint(min_rand_half_height,
                                     max_rand_half_height,
                                     size=(len(rand_centers), 1))
    rand_cos = 2 * rng_np.random_sample(size=(len(rand_centers), 1)) - 1
    rand_sin = 2 * rng_np.random_sample(size=(len(rand_centers), 1)) - 1
    scale = np.sqrt(1.0 / (rand_cos ** 2 + rand_sin ** 2 + 1e-8))
    rand_cos = rand_cos * scale
    rand_sin = rand_sin * scale

    height = rand_top_height + rand_bot_height
    width = np.clip(height * P["comp_w_h_ratio"], P["min_width"],
                    P["max_width"])
    return np.hstack([
        rand_centers[:, ::-1], height, width, rand_cos, rand_sin,
        np.zeros_like(rand_sin)]).astype(np.float32)


def _jitter_comp_attribs(rng_np, comp_attribs, jitter_level):
    """drrg_targets.py:437-484.  DTYPE-FAITHFUL: comp_attribs is
    float32 (the hstack of map-indexed columns) and the reference
    jitters with IN-PLACE ``+=`` — the float64 draws round back to
    float32 at every step, so the adds/normalization below must stay
    in-place (an out-of-place ``x = x + ...`` promotes to float64 and
    drifts the cos/sin normalization by ULPs)."""
    x = comp_attribs[:, 0].reshape((-1, 1))
    y = comp_attribs[:, 1].reshape((-1, 1))
    h = comp_attribs[:, 2].reshape((-1, 1))
    w = comp_attribs[:, 3].reshape((-1, 1))
    cos = comp_attribs[:, 4].reshape((-1, 1))
    sin = comp_attribs[:, 5].reshape((-1, 1))
    comp_labels = comp_attribs[:, 6].reshape((-1, 1))
    n = len(comp_attribs)

    x += (rng_np.random_sample(size=(n, 1)) - 0.5) * (
        h * np.abs(cos) + w * np.abs(sin)) * jitter_level
    y += (rng_np.random_sample(size=(n, 1)) - 0.5) * (
        h * np.abs(sin) + w * np.abs(cos)) * jitter_level
    h += (rng_np.random_sample(size=(n, 1)) - 0.5) * h * jitter_level
    w += (rng_np.random_sample(size=(n, 1)) - 0.5) * w * jitter_level
    cos += (rng_np.random_sample(size=(n, 1)) - 0.5) * 2 * jitter_level
    sin += (rng_np.random_sample(size=(n, 1)) - 0.5) * 2 * jitter_level
    scale = np.sqrt(1.0 / (cos ** 2 + sin ** 2 + 1e-8))
    cos = cos * scale
    sin = sin * scale
    return np.hstack([x, y, h, w, cos, sin, comp_labels])


def _generate_comp_attribs(rng_np, center_lines, text_mask,
                           center_region_mask, top_height_map,
                           bot_height_map, sin_map, cos_map, P):
    center_lines_mask = np.zeros_like(center_region_mask)
    for line in center_lines:
        polyline8(center_lines_mask, line, 1)
    center_lines_mask = center_lines_mask * center_region_mask
    comp_centers = np.argwhere(center_lines_mask > 0)

    y = comp_centers[:, 0]
    x = comp_centers[:, 1]

    top_height = top_height_map[y, x].reshape(
        (-1, 1)) * P["comp_shrink_ratio"]
    bot_height = bot_height_map[y, x].reshape(
        (-1, 1)) * P["comp_shrink_ratio"]
    sin = sin_map[y, x].reshape((-1, 1))
    cos = cos_map[y, x].reshape((-1, 1))

    top_mid_points = comp_centers + np.hstack(
        [top_height * sin, top_height * cos])
    bot_mid_points = comp_centers - np.hstack(
        [bot_height * sin, bot_height * cos])

    width = (top_height + bot_height) * P["comp_w_h_ratio"]
    width = np.clip(width, P["min_width"], P["max_width"])
    r = width / 2

    tl = top_mid_points[:, ::-1] - np.hstack([-r * sin, r * cos])
    tr = top_mid_points[:, ::-1] + np.hstack([-r * sin, r * cos])
    br = bot_mid_points[:, ::-1] + np.hstack([-r * sin, r * cos])
    bl = bot_mid_points[:, ::-1] - np.hstack([-r * sin, r * cos])
    text_comps = np.hstack([tl, tr, br, bl]).astype(np.float32)

    score = np.ones((text_comps.shape[0], 1), dtype=np.float32)
    text_comps = np.hstack([text_comps, score])
    text_comps = la_nms_quads(text_comps, P["text_comp_nms_thr"])

    if text_comps.shape[0] >= 1:
        img_h, img_w = center_region_mask.shape
        text_comps[:, 0:8:2] = np.clip(text_comps[:, 0:8:2], 0, img_w - 1)
        text_comps[:, 1:8:2] = np.clip(text_comps[:, 1:8:2], 0, img_h - 1)

        comp_centers = np.mean(text_comps[:, 0:8].reshape((-1, 4, 2)),
                               axis=1).astype(np.int32)
        x = comp_centers[:, 0]
        y = comp_centers[:, 1]

        height = (top_height_map[y, x] + bot_height_map[y, x]).reshape(
            (-1, 1))
        width = np.clip(height * P["comp_w_h_ratio"], P["min_width"],
                        P["max_width"])
        cos = cos_map[y, x].reshape((-1, 1))
        sin = sin_map[y, x].reshape((-1, 1))

        _, comp_label_mask = connected_components8(center_region_mask)
        comp_labels = comp_label_mask[y, x].reshape(
            (-1, 1)).astype(np.float32)

        x = x.reshape((-1, 1)).astype(np.float32)
        y = y.reshape((-1, 1)).astype(np.float32)
        comp_attribs = np.hstack(
            [x, y, height, width, cos, sin, comp_labels])
        comp_attribs = _jitter_comp_attribs(rng_np, comp_attribs,
                                            P["jitter_level"])

        if comp_attribs.shape[0] < P["num_min_comps"]:
            num_rand_comps = P["num_min_comps"] - comp_attribs.shape[0]
            rand_comp_attribs = _generate_rand_comp_attribs(
                rng_np, num_rand_comps, 1 - text_mask, P)
            comp_attribs = np.vstack([comp_attribs, rand_comp_attribs])
    else:
        comp_attribs = _generate_rand_comp_attribs(
            rng_np, P["num_min_comps"], 1 - text_mask, P)

    num_comps = (np.ones((comp_attribs.shape[0], 1), dtype=np.float32)
                 * comp_attribs.shape[0])
    comp_attribs = np.hstack([num_comps, comp_attribs])

    if comp_attribs.shape[0] > P["num_max_comps"]:
        comp_attribs = comp_attribs[:P["num_max_comps"], :]
        comp_attribs[:, 0] = P["num_max_comps"]

    pad_comp_attribs = np.zeros(
        (P["num_max_comps"], comp_attribs.shape[1]), dtype=np.float32)
    pad_comp_attribs[:comp_attribs.shape[0], :] = comp_attribs
    return pad_comp_attribs


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------

def drrg_targets_doc(polygons, ignore_tags, h: int, w: int, seed: int,
                     **overrides) -> dict:
    """DRRGTargets.generate_targets (drrg_targets.py:646-699) as a pure
    (polys, tags, size, seed) function.  ``polygons``: list of (N, 2)
    float32 arrays (axis-aligned rects for this kernel's raster
    axioms); ``ignore_tags``: PYTHON bools — the reference's
    ``tag is True`` keeps numpy bools on the TEXT side (the same
    ``is True`` quirk fce_gt pinned), preserved here."""
    P = dict(DRRG_DEFAULTS, **overrides)
    rng_np = np.random.RandomState(seed % (2 ** 32))

    polygon_masks = []
    polygon_masks_ignore = []
    for tag, polygon in zip(ignore_tags, polygons):
        if tag is True:
            polygon_masks_ignore.append(polygon)
        else:
            polygon_masks.append(polygon)

    gt_text_mask = _generate_text_region_mask((h, w), polygon_masks)
    gt_mask = _generate_effective_mask((h, w), polygon_masks_ignore)
    (center_lines, gt_center_region_mask, gt_top_height_map,
     gt_bot_height_map, gt_sin_map, gt_cos_map) = \
        _generate_center_mask_attrib_maps((h, w), polygon_masks, P)

    gt_comp_attribs = _generate_comp_attribs(
        rng_np, center_lines, gt_text_mask, gt_center_region_mask,
        gt_top_height_map, gt_bot_height_map, gt_sin_map, gt_cos_map, P)

    return {
        "gt_text_mask": gt_text_mask,
        "gt_center_region_mask": gt_center_region_mask,
        "gt_mask": gt_mask,
        "gt_top_height_map": gt_top_height_map,
        "gt_bot_height_map": gt_bot_height_map,
        "gt_sin_map": gt_sin_map,
        "gt_cos_map": gt_cos_map,
        "gt_comp_attribs": gt_comp_attribs,
    }


def drrg_gt_rows_for_doc(doc_id: str, rects: np.ndarray, ignored,
                         canvas_h: int, canvas_w: int) -> tuple:
    """Gate-query kernel: span rects → DRRG targets seeded
    crc32(doc_id); one row of map statistics (mask pixel sums, float64
    channel sums of the four attribute maps, live component count and
    the component-attribute column sums)."""
    import zlib

    polys = [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
                      dtype=np.float32)
             for x0, y0, x1, y1 in np.asarray(rects, dtype=np.float64)]
    tags = [bool(v) for v in ignored]
    seed = zlib.crc32(doc_id.encode("utf-8"))
    # floor the canvas height: between the 26-px sampling margin and the
    # 21-px candidate erosion, canvases under ~100 px leave the random-
    # component fallback with zero candidates and the reference crashes
    # (tests/test_drrg_gt.py pins it; real DRRG training feeds 640^2)
    out = drrg_targets_doc(polys, tags, max(canvas_h, 128), canvas_w,
                           seed)
    attribs = out["gt_comp_attribs"].astype(np.float64)
    n_live = int(attribs[0, 0]) if attribs.shape[0] else 0
    return (
        doc_id,
        int(out["gt_text_mask"].sum()),
        int(out["gt_mask"].sum()),
        int(out["gt_center_region_mask"].sum()),
        float(out["gt_top_height_map"].astype(np.float64).sum()),
        float(out["gt_bot_height_map"].astype(np.float64).sum()),
        float(out["gt_sin_map"].astype(np.float64).sum()),
        float(out["gt_cos_map"].astype(np.float64).sum()),
        n_live,
        float(attribs[:, 1].sum()), float(attribs[:, 2].sum()),
        float(attribs[:, 3].sum()), float(attribs[:, 4].sum()),
        float(attribs[:, 5].sum()), float(attribs[:, 6].sum()),
        float(attribs[:, 7].sum()),
    )
