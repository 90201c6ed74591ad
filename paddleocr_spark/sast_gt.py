"""SASTProcessTrain (ppocr/data/imaug/sast_process.py:28-777) — seeded.

The SAST training-target generator: aspect-ratio jitter, 2048 cap,
text-free random crop (min_crop_size dialect), random downscale, the
pixel-only blur/brighten/darken gates (label-neutral but they CONSUME
np.random draws — threaded faithfully), random pad placement, then the
TCL/TBO label pass and the TVO/TCO head targets on the ds_ratio-scaled
canvas (128x128 for the 512 default).

RNG contract as in augments.py: ``RandomState(seed)`` replays the
reference's global np.random stream draw-for-draw (exec-ref differential
pins it). Image buffers are never materialized: every pixel op feeds
only shapes forward, so the kernel tracks (h, w) symbolically and
allocates nothing bigger than the 128^2 target rasters per document.

fillPoly axiom: all quads on this path stay axis-aligned for rect
inputs — quad2tcl/poly2tcl interpolate along edges, shrink_*_along_width
moves corners along the (axis-parallel) upper/lower edges, adjust_point
only rotates the ORDER — so each int32-rounded quad is filled as its
corner bbox (the documented bbox axiom; cv2's scanline walk is out of
scope for these inputs). ``np.round`` (half-to-even) precedes the cast
wherever the reference rounds, and plain ``astype`` truncation where it
does not (training-mask fills) — both preserved.

Quirks preserved:

* check_and_validate_polys' wrong-direction arm applies a 16-point
  reversal permutation, gated on the minAreaRect quad's signed area.
  Under the min_area_box convention (clockwise corners, negative
  shoelace — the CT-differential precedent) the arm is DEAD for every
  input; with real cv2's ccw boxPoints order it would fire and its
  16-index permutation crashes on 4-point polys (the reference runs it
  only on 16-point corpora). Transcribed verbatim, pinned dead;
* hv_tags are computed and threaded through the crop but never used by
  the emitted targets (the reference also only carries them);
* the tag arm of generate_tcl_label fills the training mask with 0.15
  (not 0) using the UNROUNDED astype-truncated poly;
* generate_direction_map (:203-230) is never invoked by __call__ — dead
  code, not transcribed;
* tvo/tco init as np.ones so the -1 short-edge channel of an empty
  canvas is 1/1 everywhere before poly_mask zeroes it.

Reference: hv_tag = 0 marks vertical polys (len_w*2 < len_h).

Shared helpers: the reference copies these geometry helpers verbatim
into pg_process.py (and the shoelace into east_process.py as
polygon_area), so ``pg_gt`` and the EAST path in ``augments`` import
them from here. gen_quad_tbo is vectorised over the TCL pixels and
bit-identical to the reference's per-pixel loop; the bbox fills go
through ``kernels.fill_bboxes``.
"""

from __future__ import annotations

import math

import numpy as np

from .kernels import fill_bboxes

SAST_INPUT_SIZE = 512        #: sast_process.py:30 image_shape
SAST_MIN_CROP_SIZE = 24      #: :31
SAST_MIN_CROP_SIDE = 0.3     #: :32 (unused by the shipped crop arm)
SAST_MIN_TEXT = 10           #: :33
SAST_MAX_TEXT = 512          #: :34


def quad_area(poly) -> float:
    """:42-52 verbatim signed shoelace over the first four points."""
    edge = [(poly[1][0] - poly[0][0]) * (poly[1][1] + poly[0][1]),
            (poly[2][0] - poly[1][0]) * (poly[2][1] + poly[1][1]),
            (poly[3][0] - poly[2][0]) * (poly[3][1] + poly[2][1]),
            (poly[0][0] - poly[3][0]) * (poly[0][1] + poly[3][1])]
    return np.sum(edge) / 2.


def gen_quad_from_poly(poly: np.ndarray) -> np.ndarray:
    """gen_quad_from_poly (:54-79): minAreaRect ALWAYS (even for 4-point
    polys — unlike gen_min_area_quad_from_poly's 4-point identity arm),
    int32-truncated input, corners re-anchored to minimize distance to
    the poly's first/middle/last points. minAreaRect/boxPoints run via
    pixelops.min_area_box (the CT-differential convention: the box IS
    the points)."""
    from .pixelops import min_area_box
    point_num = poly.shape[0]
    min_area_quad = np.zeros((4, 2), dtype=np.float32)
    box = np.array(min_area_box(poly.astype(np.int32)), dtype=np.float64)
    first_point_idx = 0
    min_dist = 1e4
    for i in range(4):
        dist = np.linalg.norm(box[(i + 0) % 4] - poly[0]) + \
            np.linalg.norm(box[(i + 1) % 4] - poly[point_num // 2 - 1]) + \
            np.linalg.norm(box[(i + 2) % 4] - poly[point_num // 2]) + \
            np.linalg.norm(box[(i + 3) % 4] - poly[-1])
        if dist < min_dist:
            min_dist = dist
            first_point_idx = i
    for i in range(4):
        min_area_quad[i] = box[(first_point_idx + i) % 4]
    return min_area_quad


def gen_min_area_quad_from_poly(poly: np.ndarray):
    """:427-456: identity + centroid for 4-point polys (the span-model
    case); >4-point polys take :func:`gen_quad_from_poly`'s anchored
    minAreaRect quad, centred on the box's corner mean."""
    if poly.shape[0] == 4:
        return poly, np.sum(poly, axis=0) / 4
    from .pixelops import min_area_box
    box = np.array(min_area_box(poly.astype(np.int32)), dtype=np.float64)
    return gen_quad_from_poly(poly), box.mean(axis=0)


def sast_validate_polys(polys: np.ndarray, tags: np.ndarray, h: int,
                        w: int):
    """check_and_validate_polys (:81-126): clip, minAreaRect-quad area
    gate, the wrong-direction 16-POINT reversal (dead under the
    min_area_box cw convention — module docstring), and the hv
    (vertical) tag."""
    if polys.shape[0] == 0:
        return polys, np.array([]), np.array([])
    polys[:, :, 0] = np.clip(polys[:, :, 0], 0, w - 1)
    polys[:, :, 1] = np.clip(polys[:, :, 1], 0, h - 1)
    validated_polys = []
    validated_tags = []
    hv_tags = []
    for poly, tag in zip(polys, tags):
        quad = gen_quad_from_poly(poly)
        p_area = quad_area(quad)
        if abs(p_area) < 1:
            continue
        if p_area > 0:
            if tag == False:                       # noqa: E712 (verbatim)
                tag = True
            poly = poly[(0, 15, 14, 13, 12, 11, 10, 9, 8, 7, 6, 5, 4, 3,
                         2, 1), :]
            quad = quad[(0, 3, 2, 1), :]
        len_w = np.linalg.norm(quad[0] - quad[1]) + np.linalg.norm(
            quad[3] - quad[2])
        len_h = np.linalg.norm(quad[0] - quad[3]) + np.linalg.norm(
            quad[1] - quad[2])
        hv_tag = 1
        if len_w * 2.0 < len_h:
            hv_tag = 0
        validated_polys.append(poly)
        validated_tags.append(tag)
        hv_tags.append(hv_tag)
    return (np.array(validated_polys), np.array(validated_tags),
            np.array(hv_tags))


def sast_crop_area(rng: np.random.RandomState, h: int, w: int,
                   polys: np.ndarray, tags: np.ndarray,
                   hv_tags: np.ndarray, crop_background: bool = False,
                   max_tries: int = 25,
                   min_crop_size: int = SAST_MIN_CROP_SIZE):
    """crop_area (:128-201): EAST's padded occupancy walk but with the
    absolute min_crop_size gate (the ratio gate is commented out in the
    reference) and hv_tags threaded through. Returns
    (new_h, new_w, polys, tags, hv_tags, rect-or-None)."""
    pad_h = h // 10
    pad_w = w // 10
    h_array = np.zeros((h + pad_h * 2), dtype=np.int32)
    w_array = np.zeros((w + pad_w * 2), dtype=np.int32)
    for poly in polys:
        poly = np.round(poly, decimals=0).astype(np.int32)
        minx = np.min(poly[:, 0])
        maxx = np.max(poly[:, 0])
        w_array[minx + pad_w:maxx + pad_w] = 1
        miny = np.min(poly[:, 1])
        maxy = np.max(poly[:, 1])
        h_array[miny + pad_h:maxy + pad_h] = 1
    h_axis = np.where(h_array == 0)[0]
    w_axis = np.where(w_array == 0)[0]
    if len(h_axis) == 0 or len(w_axis) == 0:
        return h, w, polys, tags, hv_tags, None
    for i in range(max_tries):
        xx = rng.choice(w_axis, size=2)
        xmin = np.min(xx) - pad_w
        xmax = np.max(xx) - pad_w
        xmin = np.clip(xmin, 0, w - 1)
        xmax = np.clip(xmax, 0, w - 1)
        yy = rng.choice(h_axis, size=2)
        ymin = np.min(yy) - pad_h
        ymax = np.max(yy) - pad_h
        ymin = np.clip(ymin, 0, h - 1)
        ymax = np.clip(ymax, 0, h - 1)
        if xmax - xmin < min_crop_size or ymax - ymin < min_crop_size:
            continue
        if polys.shape[0] != 0:
            poly_axis_in_area = (polys[:, :, 0] >= xmin) \
                & (polys[:, :, 0] <= xmax) \
                & (polys[:, :, 1] >= ymin) & (polys[:, :, 1] <= ymax)
            selected_polys = np.where(
                np.sum(poly_axis_in_area, axis=1) == 4)[0]
        else:
            selected_polys = []
        if len(selected_polys) == 0:
            if crop_background:
                return (int(ymax) - int(ymin) + 1,
                        int(xmax) - int(xmin) + 1,
                        polys[selected_polys], tags[selected_polys],
                        hv_tags[selected_polys],
                        (int(xmin), int(ymin), int(xmax), int(ymax)))
            else:
                continue
        polys = polys[selected_polys]
        tags = tags[selected_polys]
        hv_tags = hv_tags[selected_polys]
        polys[:, :, 0] -= xmin
        polys[:, :, 1] -= ymin
        return (int(ymax) - int(ymin) + 1, int(xmax) - int(xmin) + 1,
                polys, tags, hv_tags,
                (int(xmin), int(ymin), int(xmax), int(ymax)))
    return h, w, polys, tags, hv_tags, None


def adjust_point(poly: np.ndarray) -> np.ndarray:
    """:402-425 verbatim (4-point arm rotates order for vertical
    quads; >4 rotates once when the head angle exceeds 70 deg)."""
    point_num = poly.shape[0]
    if point_num == 4:
        len_1 = np.linalg.norm(poly[0] - poly[1])
        len_2 = np.linalg.norm(poly[1] - poly[2])
        len_3 = np.linalg.norm(poly[2] - poly[3])
        len_4 = np.linalg.norm(poly[3] - poly[0])
        if (len_1 + len_3) * 1.5 < (len_2 + len_4):
            poly = poly[[1, 2, 3, 0], :]
    elif point_num > 4:
        vector_1 = poly[0] - poly[1]
        vector_2 = poly[1] - poly[2]
        cos_theta = np.dot(vector_1, vector_2) / (
            np.linalg.norm(vector_1) * np.linalg.norm(vector_2) + 1e-6)
        theta = np.arccos(np.round(cos_theta, decimals=4))
        if abs(theta) > (70 / 180 * math.pi):
            index = list(range(1, point_num)) + [0]
            poly = poly[np.array(index), :]
    return poly


def shrink_quad_along_width(quad, begin_width_ratio=0.,
                            end_width_ratio=1.):
    """:458-469 verbatim."""
    ratio_pair = np.array(
        [[begin_width_ratio], [end_width_ratio]], dtype=np.float32)
    p0_1 = quad[0] + (quad[1] - quad[0]) * ratio_pair
    p3_2 = quad[3] + (quad[2] - quad[3]) * ratio_pair
    return np.array([p0_1[0], p0_1[1], p3_2[1], p3_2[0]])


def shrink_poly_along_width(quads, shrink_ratio_of_width,
                            expand_height_ratio=1.0):
    """:471-520 verbatim (incl. the 1e-6 cut epsilon)."""
    upper_edge_list = []

    def get_cut_info(edge_len_list, cut_len):
        for idx, edge_len in enumerate(edge_len_list):
            cut_len -= edge_len
            if cut_len <= 0.000001:
                ratio = (cut_len + edge_len_list[idx]) / edge_len_list[idx]
                return idx, ratio

    for quad in quads:
        upper_edge_len = np.linalg.norm(quad[0] - quad[1])
        upper_edge_list.append(upper_edge_len)
    left_length = np.linalg.norm(quads[0][0] -
                                 quads[0][3]) * expand_height_ratio
    right_length = np.linalg.norm(quads[-1][1] -
                                  quads[-1][2]) * expand_height_ratio
    shrink_length = min(left_length, right_length,
                        sum(upper_edge_list)) * shrink_ratio_of_width
    upper_len_left = shrink_length
    upper_len_right = sum(upper_edge_list) - shrink_length
    left_idx, left_ratio = get_cut_info(upper_edge_list, upper_len_left)
    left_quad = shrink_quad_along_width(
        quads[left_idx], begin_width_ratio=left_ratio, end_width_ratio=1)
    right_idx, right_ratio = get_cut_info(upper_edge_list, upper_len_right)
    right_quad = shrink_quad_along_width(
        quads[right_idx], begin_width_ratio=0, end_width_ratio=right_ratio)
    out_quad_list = []
    if left_idx == right_idx:
        out_quad_list.append(
            [left_quad[0], right_quad[1], right_quad[2], left_quad[3]])
    else:
        out_quad_list.append(left_quad)
        for idx in range(left_idx + 1, right_idx):
            out_quad_list.append(quads[idx])
        out_quad_list.append(right_quad)
    return np.array(out_quad_list), list(range(left_idx, right_idx + 1))


def vector_angle(A, B):
    """:522-527 verbatim (note the [dy, dx] arctan2 argument order)."""
    AB = np.array([B[1] - A[1], B[0] - A[0]])
    return np.arctan2(*AB)


def theta_line_cross_point(theta, point):
    """:529-536 verbatim."""
    x, y = point
    cos = np.cos(theta)
    sin = np.sin(theta)
    return [sin, -cos, cos * y - sin * x]


def line_cross_two_point(A, B):
    """:538-543 verbatim."""
    angle = vector_angle(A, B)
    return theta_line_cross_point(angle, A)


def average_angle(poly):
    """:545-552 verbatim."""
    p0, p1, p2, p3 = poly
    angle30 = vector_angle(p3, p0)
    angle21 = vector_angle(p2, p1)
    return (angle30 + angle21) / 2


def poly2tcl(poly, ratio):
    """:585-599 verbatim center-strip interpolation."""
    ratio_pair = np.array(
        [[0.5 - ratio / 2], [0.5 + ratio / 2]], dtype=np.float32)
    tcl_poly = np.zeros_like(poly)
    point_num = poly.shape[0]
    for idx in range(point_num // 2):
        point_pair = poly[idx] + (poly[point_num - 1 - idx] - poly[idx]
                                  ) * ratio_pair
        tcl_poly[idx] = point_pair[0]
        tcl_poly[point_num - 1 - idx] = point_pair[1]
    return tcl_poly


def gen_quad_tbo(quad, tcl_mask, tbo_map):
    """:601-631: per-TCL-pixel offsets to the quad's upper/lower border
    along the average side angle + a width norm. Vectorised over the
    TCL pixels — every per-pixel quantity below is the same elementary
    IEEE op sequence as the reference's scalar loop (the pixel line is
    [sin, -cos, cos*y - sin*x] with shared sin/cos; the reference's
    line_cross_point divides by one scalar d and rounds to float32
    before the pixel subtraction), so the float32 stores are
    bit-identical."""
    up_line = line_cross_two_point(quad[0], quad[1])
    lower_line = line_cross_two_point(quad[3], quad[2])
    quad_h = 0.5 * (np.linalg.norm(quad[0] - quad[3]) +
                    np.linalg.norm(quad[1] - quad[2]))
    quad_w = 0.5 * (np.linalg.norm(quad[0] - quad[1]) +
                    np.linalg.norm(quad[2] - quad[3]))
    angle = average_angle(quad)
    xy_in_poly = np.argwhere(tcl_mask == 1)
    if len(xy_in_poly) == 0:
        return tbo_map
    y = xy_in_poly[:, 0]
    x = xy_in_poly[:, 1]
    sin = np.sin(angle)
    cos = np.cos(angle)
    c3 = cos * y - sin * x                 # the pixel line's c term
    a2, b2 = sin, -cos

    def cross(line):
        a1, b1, c1 = line
        d = a1 * b2 - a2 * b1              # one scalar for every pixel
        if d == 0:                         # parallel: (0, 0) fallback
            z = np.zeros(len(c3), dtype=np.float32)
            return z, z
        cx = (b1 * c3 - b2 * c1) / d
        cy = (a2 * c1 - a1 * c3) / d
        return cx.astype(np.float32), cy.astype(np.float32)

    ux, uy = cross(up_line)
    lx, ly = cross(lower_line)
    yf = y.astype(np.float32)              # coords <= 512: exact
    xf = x.astype(np.float32)
    tbo_map[y, x, 0] = uy - yf
    tbo_map[y, x, 1] = ux - xf
    tbo_map[y, x, 2] = ly - yf
    tbo_map[y, x, 3] = lx - xf
    tbo_map[y, x, 4] = 1.0 / max(min(quad_h, quad_w), 1.0) * 2
    return tbo_map


def poly2quads(poly):
    """:633-650 verbatim pair-walk split."""
    quad_list = []
    point_num = poly.shape[0]
    point_pair_list = []
    for idx in range(point_num // 2):
        point_pair = [poly[idx], poly[point_num - 1 - idx]]
        point_pair_list.append(point_pair)
    quad_num = point_num // 2 - 1
    for idx in range(quad_num):
        quad_list.append((np.array(point_pair_list)[[idx, idx + 1]]
                          ).reshape(4, 2)[[0, 2, 3, 1]])
    return np.array(quad_list)


def generate_tcl_label(hw, polys, tags, ds_ratio, tcl_ratio=0.3,
                       shrink_ratio_of_width=0.15,
                       min_text_size=SAST_MIN_TEXT,
                       max_text_size=SAST_MAX_TEXT):
    """generate_tcl_label (:244-312): size gates on the min-area quad,
    the 0.15 mask fill for ignored polys, shrunk center-line score fill,
    and the per-quad TBO pass over each shrunk quad's own mask."""
    h, w = hw
    h, w = int(h * ds_ratio), int(w * ds_ratio)
    polys = polys * ds_ratio
    score_map = np.zeros((h, w), dtype=np.float32)
    tbo_map = np.zeros((h, w, 5), dtype=np.float32)
    training_mask = np.ones((h, w), dtype=np.float32)
    for poly_idx, poly_tag in enumerate(zip(polys, tags)):
        poly = poly_tag[0]
        tag = poly_tag[1]
        min_area_quad, center_point = gen_min_area_quad_from_poly(poly)
        min_area_quad_h = 0.5 * (
            np.linalg.norm(min_area_quad[0] - min_area_quad[3]) +
            np.linalg.norm(min_area_quad[1] - min_area_quad[2]))
        min_area_quad_w = 0.5 * (
            np.linalg.norm(min_area_quad[0] - min_area_quad[1]) +
            np.linalg.norm(min_area_quad[2] - min_area_quad[3]))
        if min(min_area_quad_h, min_area_quad_w) < min_text_size * ds_ratio \
                or min(min_area_quad_h,
                       min_area_quad_w) > max_text_size * ds_ratio:
            continue
        if tag:
            fill_bboxes(training_mask, poly.astype(np.int32), 0.15)
        else:
            tcl_poly = poly2tcl(poly, tcl_ratio)
            tcl_quads = poly2quads(tcl_poly)
            poly_quads = poly2quads(poly)
            stcl_quads, quad_index = shrink_poly_along_width(
                tcl_quads, shrink_ratio_of_width=shrink_ratio_of_width,
                expand_height_ratio=1.0 / tcl_ratio)
            fill_bboxes(score_map, np.round(stcl_quads).astype(np.int32),
                        1.0)
            for idx, quad in enumerate(stcl_quads):
                quad_mask = np.zeros((h, w), dtype=np.float32)
                fill_bboxes(quad_mask,
                            np.round(quad[np.newaxis, :, :]).astype(np.int32),
                            1.0)
                tbo_map = gen_quad_tbo(poly_quads[quad_index[idx]],
                                       quad_mask, tbo_map)
    return score_map, tbo_map, training_mask


def generate_tvo_and_tco(hw, polys, tags, tcl_ratio=0.3, ds_ratio=0.25):
    """generate_tvo_and_tco (:314-400) verbatim: coordinate-grid bases,
    per-vertex clipped fills over the UNSHRUNK tcl strip, centroid
    fills, short-edge normalization, poly_mask gating."""
    h, w = hw
    h, w = int(h * ds_ratio), int(w * ds_ratio)
    polys = polys * ds_ratio
    poly_mask = np.zeros((h, w), dtype=np.float32)
    tvo_map = np.ones((9, h, w), dtype=np.float32)
    tvo_map[0:-1:2] = np.tile(np.arange(0, w), (h, 1))
    tvo_map[1:-1:2] = np.tile(np.arange(0, w), (h, 1)).T
    poly_tv_xy_map = np.zeros((8, h, w), dtype=np.float32)
    tco_map = np.ones((3, h, w), dtype=np.float32)
    tco_map[0] = np.tile(np.arange(0, w), (h, 1))
    tco_map[1] = np.tile(np.arange(0, w), (h, 1)).T
    poly_tc_xy_map = np.zeros((2, h, w), dtype=np.float32)
    poly_short_edge_map = np.ones((h, w), dtype=np.float32)
    for poly, poly_tag in zip(polys, tags):
        if poly_tag == True:                       # noqa: E712 (verbatim)
            continue
        poly = adjust_point(poly)
        min_area_quad, center_point = gen_min_area_quad_from_poly(poly)
        min_area_quad_h = 0.5 * (
            np.linalg.norm(min_area_quad[0] - min_area_quad[3]) +
            np.linalg.norm(min_area_quad[1] - min_area_quad[2]))
        min_area_quad_w = 0.5 * (
            np.linalg.norm(min_area_quad[0] - min_area_quad[1]) +
            np.linalg.norm(min_area_quad[2] - min_area_quad[3]))
        tcl_poly = poly2tcl(poly, tcl_ratio)
        for idx in range(4):
            fill_bboxes(
                poly_tv_xy_map[2 * idx],
                np.round(tcl_poly[np.newaxis, :, :]).astype(np.int32),
                float(min(max(min_area_quad[idx, 0], 0), w)))
            fill_bboxes(
                poly_tv_xy_map[2 * idx + 1],
                np.round(tcl_poly[np.newaxis, :, :]).astype(np.int32),
                float(min(max(min_area_quad[idx, 1], 0), h)))
        for idx in range(2):
            fill_bboxes(
                poly_tc_xy_map[idx],
                np.round(tcl_poly[np.newaxis, :, :]).astype(np.int32),
                float(center_point[idx]))
        fill_bboxes(
            poly_short_edge_map,
            np.round(tcl_poly[np.newaxis, :, :]).astype(np.int32),
            float(max(min(min_area_quad_h, min_area_quad_w), 1.0)))
        fill_bboxes(poly_mask,
                    np.round(tcl_poly[np.newaxis, :, :]).astype(np.int32),
                    1)
    tvo_map *= poly_mask
    tvo_map[:8] -= poly_tv_xy_map
    tvo_map[-1] /= poly_short_edge_map
    tvo_map = tvo_map.transpose((1, 2, 0))
    tco_map *= poly_mask
    tco_map[:2] -= poly_tc_xy_map
    tco_map[-1] /= poly_short_edge_map
    tco_map = tco_map.transpose((1, 2, 0))
    return tvo_map, tco_map


def _cv_round(x: float) -> int:
    """cvRound: round half to even (== Python 3 round)."""
    return round(x)


def sast_process_doc(seed: int, quads: np.ndarray, tags: np.ndarray,
                     h: int, w: int,
                     input_size: int = SAST_INPUT_SIZE):
    """SASTProcessTrain.__call__ (:652-777) for one document.

    Draw order preserved: asp choice -> invert gate -> [2048 cap, no
    draw] -> crop choice pairs -> rz choice -> blur gate [+ perm(5)] ->
    brighter gate [+ rand] -> darker gate [+ rand] -> pad sh [if
    del_h > 1] -> pad sw [if del_w > 1].

    Returns a dict of observables: status, asp_scale (post-sqrt),
    crop rect, rz_scale, pad (sh, sw), n_out, and the float64-exact
    channel sums of score/tbo/mask/tvo/tco on the 128^2 target canvas.
    """
    rng = np.random.RandomState(seed % (2 ** 31))
    out = {"status": None, "asp_scale": None, "crop": None,
           "rz_scale": None, "sh": None, "sw": None, "n_out": 0,
           "score_px": None, "mask_sum": None, "tbo_sums": None,
           "tvo_sums": None, "tco_sums": None}
    text_polys = quads
    text_tags = np.asarray(tags, dtype=bool)
    if text_polys.shape[0] == 0:
        out["status"] = "none_empty"
        return out
    text_polys, text_tags, hv_tags = sast_validate_polys(
        text_polys, text_tags, h, w)
    if text_polys.shape[0] == 0:
        out["status"] = "none_validated"
        return out
    asp_scales = np.arange(1.0, 1.55, 0.1)
    asp_scale = rng.choice(asp_scales)
    if rng.rand() < 0.5:
        asp_scale = 1.0 / asp_scale
    asp_scale = math.sqrt(asp_scale)
    out["asp_scale"] = float(asp_scale)
    asp_wx = asp_scale
    asp_hy = 1.0 / asp_scale
    h, w = _cv_round(h * asp_hy), _cv_round(w * asp_wx)
    text_polys[:, :, 0] *= asp_wx
    text_polys[:, :, 1] *= asp_hy
    if max(h, w) > 2048:
        rd_scale = 2048.0 / max(h, w)
        h, w = _cv_round(h * rd_scale), _cv_round(w * rd_scale)
        text_polys *= rd_scale
    if min(h, w) < 16:
        out["status"] = "none_small"
        return out
    h, w, text_polys, text_tags, hv_tags, rect = sast_crop_area(
        rng, h, w, text_polys, text_tags, hv_tags, crop_background=False)
    out["crop"] = rect
    if text_polys.shape[0] == 0:
        out["status"] = "none_crop_empty"
        return out
    if np.sum((text_tags * 1.0)) >= text_tags.size:
        out["status"] = "none_all_ignored"
        return out
    new_h, new_w = h, w
    std_ratio = float(input_size) / max(new_w, new_h)
    rand_scales = np.array(
        [0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0, 1.0, 1.0, 1.0, 1.0])
    rz_scale = std_ratio * rng.choice(rand_scales)
    out["rz_scale"] = float(rz_scale)
    new_h, new_w = _cv_round(new_h * rz_scale), _cv_round(new_w * rz_scale)
    text_polys[:, :, 0] *= rz_scale
    text_polys[:, :, 1] *= rz_scale
    if rng.rand() < 0.1 * 0.5:
        ks = rng.permutation(5)[0] + 1
        ks = int(ks / 2) * 2 + 1            # pixels only; draw consumed
    if rng.rand() < 0.1 * 0.5:
        rng.rand()                          # brighter factor, pixels only
    if rng.rand() < 0.1 * 0.5:
        rng.rand()                          # darker factor, pixels only
    if min(new_w, new_h) < input_size * 0.5:
        out["status"] = "none_pad_small"
        return out
    del_h = input_size - new_h
    del_w = input_size - new_w
    sh, sw = 0, 0
    if del_h > 1:
        sh = int(rng.rand() * del_h)
    if del_w > 1:
        sw = int(rng.rand() * del_w)
    out["sh"], out["sw"] = sh, sw
    text_polys[:, :, 0] += sw
    text_polys[:, :, 1] += sh
    score_map, border_map, training_mask = generate_tcl_label(
        (input_size, input_size), text_polys, text_tags, 0.25)
    tvo_map, tco_map = generate_tvo_and_tco(
        (input_size, input_size), text_polys, text_tags,
        tcl_ratio=0.3, ds_ratio=0.25)
    out.update(
        status="ok", n_out=int(text_polys.shape[0]),
        score_px=int(score_map.sum()),
        mask_sum=float(np.sum(training_mask, dtype=np.float64)),
        tbo_sums=[float(np.sum(border_map[:, :, c], dtype=np.float64))
                  for c in range(5)],
        tvo_sums=[float(np.sum(tvo_map[:, :, c], dtype=np.float64))
                  for c in range(9)],
        tco_sums=[float(np.sum(tco_map[:, :, c], dtype=np.float64))
                  for c in range(3)])
    return out
