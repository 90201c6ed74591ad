"""Seeded-replay transcription of ``ppocr/data/imaug/pg_process.py``
(PGProcessTrain — the PGNet end-to-end target generator, the last
remaining target-generation enum row): 16-point poly validation with
the direction-reversal quirk, aspect/scale jitters, blur/brightness
gates, random pad placement, TCL polygon shrinking along width,
per-quad TBO offset fields, direction maps, CTC text labels over the
36-char lexicon, and the default TCL point gather (v2 projection sort).
The reference's 'align' gather (v3: morphological thinning plus the
extract_textpoint_fast direction walk) is not transcribed: no caller
here selects it.

Contract: pure (image, polys, tags, texts, seed) functions —
``np.random.RandomState(seed)`` replays the reference's global
``np.random`` stream draw-for-draw (PGProcessTrain draws from
np.random ONLY).  The stateful ``self.img_id`` batch counter is an
explicit parameter (the reference increments it across calls; a
fresh-constructed op always starts at 0, which is what the
differential and the per-document kernel use).

Circularity status: poly validation/reversal, quad fitting, TCL
shrink geometry, TBO line-intersection fields, direction labels, CTC
label prep/padding, all RNG gates/draws, and the v2 gather walk are
genuinely differentialed (tests/test_pg_gt.py).  Re-derived-and-shimmed
axioms (both differential sides): the drrg_gt raster set (even-odd scanline
fillPoly incl. multi-channel labels, LINE_8 polylines, 8-CC
first-occurrence labeling), bilinear resize, separable Gaussian blur
with cv2's auto sigma, minAreaRect+boxPoints, and skimage's ``thin``
— re-generated from the published Lam-Lee-Suen (1992) G1/G2/G3
two-subiteration conditions rather than copied LUT constants.

Dead code documented, not transcribed: ``rotate_im_poly``
(pg_process.py:832-861) is never called by ``__call__``.

Shared helpers: pg_process.py copies its geometry helpers verbatim from
sast_process.py (quad_area, gen_quad_from_poly, check_and_validate_polys,
gen_min_area_quad_from_poly, shrink_quad/poly_along_width, the vector and
line-cross helpers, poly2tcl, gen_quad_tbo, poly2quads), so this module
imports them from ``sast_gt`` instead of defining them again, as it
imports its raster axioms from ``drrg_gt``.

Reference: hoonisone/PaddleOCR ``ppocr/data/imaug/pg_process.py``
  get_dict/quad_area/gen_quad_from_poly :53-98
  check_and_validate_polys :100-144     crop_area :146-225
  fit_and_gather_tcl_points_v2 :227-292
  generate_direction_map :383-421       generate_tcl_ctc_label :423-572
  geometry helpers :574-831 (= sast_gt)  __call__ :863-1034
"""
from __future__ import annotations

import math

import numpy as np

__all__ = [
    "thin_skeleton", "gaussian_blur_auto", "pg_process_doc",
    "pg_gt_rows_for_doc", "PG_LEXICON",
]

from .functions.labelenc import ENC_CHARSET as PG_LEXICON
from .sast_gt import (gen_min_area_quad_from_poly, gen_quad_tbo,
                      poly2quads, poly2tcl, sast_validate_polys,
                      shrink_poly_along_width)

_INPUT_SIZE = 512
_MAX_TEXT_LENGTH = 50
_MAX_TEXT_NUMS = 30
_TCL_LEN = 64


# ---------------------------------------------------------------------------
# raster / morphology axioms (shim-circular in the exec-ref)
# ---------------------------------------------------------------------------

def _fill_polys(img: np.ndarray, polys, val) -> None:
    """cv2.fillPoly over a list/array of polygons (drrg_gt's even-odd
    scanline; multi-channel ``val`` tuples broadcast per pixel)."""
    from .drrg_gt import fill_poly

    for p in polys:
        fill_poly(img, p, val)


def _lls_luts():
    """The two 512-entry thinning LUTs of Lam, Lee & Suen (1992) as
    used by skimage.morphology.thin, REGENERATED from the published
    G1/G2/G3 (first subiteration) and G1/G2/G3' (second) conditions
    over the 3x3 neighborhood bit packing [[1,2,4],[8,16,32],
    [64,128,256]] (x1..x8 counterclockwise from east)."""
    lut1 = np.zeros(512, dtype=bool)
    lut2 = np.zeros(512, dtype=bool)
    # bit positions in the packed index for each neighbor
    # grid bits: NW=1 N=2 NE=4 W=8 C=16 E=32 SW=64 S=128 SE=256
    pos = {"x1": 32, "x2": 4, "x3": 2, "x4": 1, "x5": 8, "x6": 64,
           "x7": 128, "x8": 256}
    for idx in range(512):
        if not (idx & 16):                     # centre must be 1
            continue
        x = {k: int(bool(idx & b)) for k, b in pos.items()}
        seq = [x["x1"], x["x2"], x["x3"], x["x4"], x["x5"], x["x6"],
               x["x7"], x["x8"]]
        # G1: exactly one 0->(1) crossing pattern b_i
        b = 0
        for i in range(4):
            x_2i1 = seq[2 * i]                 # x_{2i-1} (1-indexed odd)
            x_2i = seq[(2 * i + 1) % 8]
            x_2ip1 = seq[(2 * i + 2) % 8]
            if x_2i1 == 0 and (x_2i == 1 or x_2ip1 == 1):
                b += 1
        g1 = b == 1
        # G2: 2 <= min(n1, n2) <= 3
        n1 = sum(seq[2 * k] | seq[(2 * k + 1) % 8] for k in range(4))
        n2 = sum(seq[(2 * k + 1) % 8] | seq[(2 * k + 2) % 8]
                 for k in range(4))
        g2 = 2 <= min(n1, n2) <= 3
        # G3:  (x2 | x3 | ~x8) & x1 == 0;  G3': (x6 | x7 | ~x4) & x5
        g3 = ((x["x2"] | x["x3"] | (1 - x["x8"])) & x["x1"]) == 0
        g3p = ((x["x6"] | x["x7"] | (1 - x["x4"])) & x["x5"]) == 0
        lut1[idx] = g1 and g2 and g3
        lut2[idx] = g1 and g2 and g3p
    return lut1, lut2


_LUT1, _LUT2 = _lls_luts()
_PACK = np.array([[1, 2, 4], [8, 16, 32], [64, 128, 256]],
                 dtype=np.int64)


def _neighbor_index(img: np.ndarray) -> np.ndarray:
    h, w = img.shape
    p = np.zeros((h + 2, w + 2), dtype=np.int64)
    p[1:-1, 1:-1] = img
    acc = np.zeros((h, w), dtype=np.int64)
    for dy in range(3):
        for dx in range(3):
            acc += _PACK[dy, dx] * p[dy:dy + h, dx:dx + w]
    return acc


def thin_skeleton(mask: np.ndarray) -> np.ndarray:
    """skimage.morphology.thin(mask) (full thinning): alternate the two
    Lam-Lee-Suen subiteration LUTs until no pixel changes."""
    img = (np.asarray(mask) != 0).astype(np.int64)
    while True:
        before = int(img.sum())
        for lut in (_LUT1, _LUT2):
            idx = _neighbor_index(img)
            img[lut[idx]] = 0
        if int(img.sum()) == before:
            break
    return img.astype(bool)


def _resize_fxfy(img: np.ndarray, fx: float, fy: float) -> np.ndarray:
    """cv2.resize(img, dsize=None, fx=, fy=): dims via cvRound
    (round-half-even), INTER_LINEAR."""
    from .pixelops import resize_bilinear

    h, w = img.shape[:2]
    return resize_bilinear(img, int(round(h * fy)), int(round(w * fx)))


def _resize_wh(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    from .pixelops import resize_bilinear

    return resize_bilinear(img, out_h, out_w)


def gaussian_blur_auto(img: np.ndarray, ks: int) -> np.ndarray:
    """cv2.GaussianBlur(ksize=(ks,ks), sigma 0 → auto
    0.3*((ks-1)*0.5 - 1) + 0.8), separable, REFLECT_101 border."""
    from .recaug import _reflect101_pad, gaussian_kernel_1d

    if ks <= 1:
        return img.copy()
    sigma = 0.3 * ((ks - 1) * 0.5 - 1) + 0.8
    k = gaussian_kernel_1d(ks, sigma).astype(np.float64)
    pad = ks // 2
    h, w = img.shape[:2]
    p = img.astype(np.float64)
    squeeze = p.ndim == 2
    if squeeze:
        p = p[:, :, None]
    ci = _reflect101_pad(w, pad)
    q = p[:, ci, :]
    cols = sum(float(k[i]) * q[:, i:i + w, :] for i in range(ks))
    ri = _reflect101_pad(h, pad)
    r = cols[ri, :, :]
    acc = sum(float(k[i]) * r[i:i + h, :, :] for i in range(ks))
    if img.dtype == np.uint8:
        out = np.clip(np.rint(acc), 0, 255).astype(np.uint8)
    else:
        out = acc.astype(img.dtype)
    return out[..., 0] if squeeze else out


# ---------------------------------------------------------------------------
# TCL point gathering (the RNG consumers inside label generation)
# ---------------------------------------------------------------------------

def _fit_gather_v2(rng_np, min_area_quad, poly, max_h, max_w, tcl_len,
                   fixed_point_num=64, img_id=0, reference_height=3):
    """pg_process.py:227-292."""
    from .drrg_gt import polyline8

    key_point_xys = []
    point_num = poly.shape[0]
    for idx in range(point_num // 2):
        key_point_xys.append((poly[idx] + poly[point_num - 1 - idx])
                             / 2.0)
    tmp_image = np.zeros(shape=(max_h, max_w), dtype="float32")
    polyline8(tmp_image, np.array(key_point_xys).astype("int32"), 1.0)
    ys, xs = np.where(tmp_image > 0)
    xy_text = np.array(list(zip(xs, ys)), dtype="float32")

    left_center_pt = ((min_area_quad[0] - min_area_quad[1])
                      / 2.0).reshape(1, 2)
    right_center_pt = ((min_area_quad[1] - min_area_quad[2])
                       / 2.0).reshape(1, 2)
    proj_unit_vec = (right_center_pt - left_center_pt) / (
        np.linalg.norm(right_center_pt - left_center_pt) + 1e-6)
    proj_value = np.sum((xy_text - left_center_pt)
                        * proj_unit_vec, axis=1)
    xy_text = xy_text[np.argsort(proj_value)]

    pos_info = np.array(xy_text).reshape(-1, 2)[:, ::-1]
    point_num = len(pos_info)
    if point_num > fixed_point_num:
        keep_ids = [int((point_num * 1.0 / fixed_point_num) * x)
                    for x in range(fixed_point_num)]
        pos_info = pos_info[keep_ids, :]

    keep = int(min(len(pos_info), fixed_point_num))
    if rng_np.rand() < 0.2 and reference_height >= 3:
        dl = (rng_np.rand(keep) - 0.5) * reference_height * 0.3
        random_float = np.array([1, 0]).reshape([1, 2]) * dl.reshape(
            [keep, 1])
        # in-place += keeps pos_info float32 (reference dtype law —
        # the same rounding trap drrg's jitter pinned)
        pos_info += random_float
        pos_info[:, 0] = np.clip(pos_info[:, 0], 0, max_h - 1)
        pos_info[:, 1] = np.clip(pos_info[:, 1], 0, max_w - 1)

    pos_l = np.zeros((tcl_len, 3), dtype=np.int32)
    pos_l[:, 0] = np.ones((tcl_len,)) * img_id
    pos_m = np.zeros((tcl_len, 1), dtype=np.float32)
    pos_l[:keep, 1:] = np.round(pos_info).astype(np.int32)
    pos_m[:keep] = 1.0
    return pos_l, pos_m


def _generate_direction_map(poly_quads, n_char, direction_map):
    width_list = []
    height_list = []
    for quad in poly_quads:
        width_list.append((np.linalg.norm(quad[0] - quad[1])
                           + np.linalg.norm(quad[2] - quad[3])) / 2.0)
        height_list.append((np.linalg.norm(quad[0] - quad[3])
                            + np.linalg.norm(quad[2] - quad[1])) / 2.0)
    norm_width = max(sum(width_list) / n_char, 1.0)
    average_height = max(sum(height_list) / len(height_list), 1.0)
    for quad in poly_quads:
        direct_vector_full = ((quad[1] + quad[2])
                              - (quad[0] + quad[3])) / 2.0
        direct_vector = direct_vector_full / (
            np.linalg.norm(direct_vector_full) + 1e-6) * norm_width
        label = tuple(map(float, [direct_vector[0], direct_vector[1],
                                  1.0 / average_height]))
        _fill_polys(direction_map,
                    quad.round().astype(np.int32)[np.newaxis, :, :],
                    label)
    return direction_map


def _calculate_average_height(poly_quads):
    height_list = [(np.linalg.norm(q[0] - q[3])
                    + np.linalg.norm(q[2] - q[1])) / 2.0
                   for q in poly_quads]
    return max(sum(height_list) / len(height_list), 1.0)


def _prepare_text_label(label_str, lexicon):
    return label_str.lower() if len(lexicon) == 36 else label_str


def _generate_tcl_ctc_label(rng_np, h, w, polys, tags, text_strs,
                            ds_ratio, img_id, tcl_len, min_text_size=4,
                            max_text_size=512, tcl_ratio=0.3,
                            shrink_ratio_of_width=0.15):
    """pg_process.py:423-572."""
    score_map_big = np.zeros((h, w), dtype=np.float32)
    h, w = int(h * ds_ratio), int(w * ds_ratio)
    polys = polys * ds_ratio

    score_map = np.zeros((h, w), dtype=np.float32)
    score_label_map = np.zeros((h, w), dtype=np.float32)
    tbo_map = np.zeros((h, w, 5), dtype=np.float32)
    training_mask = np.ones((h, w), dtype=np.float32)
    direction_map = np.ones((h, w, 3)) * np.array([0, 0, 1]).reshape(
        [1, 1, 3]).astype(np.float32)

    label_idx = 0
    score_label_map_text_label_list = []
    pos_list, pos_mask, label_list = [], [], []
    for poly_idx, (poly, tag) in enumerate(zip(polys, tags)):
        min_area_quad, _ = gen_min_area_quad_from_poly(poly)
        quad_h = 0.5 * (np.linalg.norm(min_area_quad[0] - min_area_quad[3])
                        + np.linalg.norm(min_area_quad[1]
                                         - min_area_quad[2]))
        quad_w = 0.5 * (np.linalg.norm(min_area_quad[0] - min_area_quad[1])
                        + np.linalg.norm(min_area_quad[2]
                                         - min_area_quad[3]))
        if min(quad_h, quad_w) < min_text_size * ds_ratio \
                or min(quad_h, quad_w) > max_text_size * ds_ratio:
            continue

        if tag:
            _fill_polys(training_mask,
                        poly.astype(np.int32)[np.newaxis, :, :], 0.15)
            continue

        text_label = _prepare_text_label(text_strs[poly_idx], PG_LEXICON)
        text_label_index_list = [[PG_LEXICON.index(c_)]
                                 for c_ in text_label
                                 if c_ in PG_LEXICON]
        if len(text_label_index_list) < 1:
            continue

        tcl_poly = poly2tcl(poly, tcl_ratio)
        tcl_quads = poly2quads(tcl_poly)
        poly_quads = poly2quads(poly)
        stcl_quads, quad_index = shrink_poly_along_width(
            tcl_quads, shrink_ratio_of_width=shrink_ratio_of_width,
            expand_height_ratio=1.0 / tcl_ratio)

        _fill_polys(score_map, np.round(stcl_quads).astype(np.int32),
                    1.0)
        _fill_polys(score_map_big,
                    np.round(stcl_quads / ds_ratio).astype(np.int32),
                    1.0)
        for idx, quad in enumerate(stcl_quads):
            quad_mask = np.zeros((h, w), dtype=np.float32)
            _fill_polys(quad_mask,
                        np.round(quad[np.newaxis, :, :]).astype(np.int32),
                        1.0)
            tbo_map = gen_quad_tbo(poly_quads[quad_index[idx]],
                                    quad_mask, tbo_map)

        if label_idx == 0:
            score_label_map_text_label_list.append([[len(PG_LEXICON)]])
        label_idx += 1
        _fill_polys(score_label_map,
                    np.round(poly_quads).astype(np.int32), label_idx)
        score_label_map_text_label_list.append(text_label_index_list)

        n_char = len(text_label_index_list)
        direction_map = _generate_direction_map(poly_quads, n_char,
                                                direction_map)
        average_shrink_height = _calculate_average_height(stcl_quads)

        pos_l, pos_m = _fit_gather_v2(
            rng_np, min_area_quad, poly, max_h=h, max_w=w,
            tcl_len=tcl_len, fixed_point_num=64, img_id=img_id,
            reference_height=average_shrink_height)

        if len(text_label_index_list) < 2:
            continue
        pos_list.append(pos_l)
        pos_mask.append(pos_m)
        label_list.append(text_label_index_list)

    score_map_big_resized = _resize_fxfy(score_map_big, ds_ratio,
                                         ds_ratio)
    score_map = np.array(score_map_big_resized > 1e-3, dtype="float32")

    return (score_map, score_label_map, tbo_map, direction_map,
            training_mask, pos_list, pos_mask, label_list,
            score_label_map_text_label_list)


# ---------------------------------------------------------------------------
# the full __call__ walk (pg_process.py:863-1034)
# ---------------------------------------------------------------------------

def pg_process_doc(im, polys16, tags, texts, seed: int, img_id: int = 0,
                   max_text_length: int = _MAX_TEXT_LENGTH,
                   max_text_nums: int = _MAX_TEXT_NUMS,
                   tcl_len: int = _TCL_LEN):
    """PGProcessTrain.__call__ (use_resize=True arm, the shipped
    config) as a pure function.  Returns None for every reference drop
    arm, else the dict of CHW tensors + padded pos/label stacks."""
    input_size = _INPUT_SIZE
    rng_np = np.random.RandomState(seed % (2 ** 32))
    im = np.asarray(im, np.uint8)
    text_polys = np.array(polys16, dtype=np.float32)
    text_tags = np.array(tags, dtype=bool)
    text_strs = list(texts)
    h, w, _ = im.shape
    text_polys, text_tags, hv_tags = sast_validate_polys(
        text_polys, text_tags, h, w)
    del hv_tags                                  # unused on this arm
    if text_polys.shape[0] <= 0:
        return None

    asp_scales = np.arange(1.0, 1.55, 0.1)
    asp_scale = rng_np.choice(asp_scales)
    if rng_np.rand() < 0.5:
        asp_scale = 1.0 / asp_scale
    asp_scale = math.sqrt(asp_scale)
    asp_wx = asp_scale
    asp_hy = 1.0 / asp_scale
    im = _resize_fxfy(im, asp_wx, asp_hy)
    text_polys[:, :, 0] *= asp_wx
    text_polys[:, :, 1] *= asp_hy

    ori_h, ori_w, _ = im.shape
    if max(ori_h, ori_w) < 200:
        ratio = 200 / max(ori_h, ori_w)
        im = _resize_wh(im, int(ori_w * ratio), int(ori_h * ratio))
        text_polys[:, :, 0] *= ratio
        text_polys[:, :, 1] *= ratio
    if max(ori_h, ori_w) > 512:
        ratio = 512 / max(ori_h, ori_w)
        im = _resize_wh(im, int(ori_w * ratio), int(ori_h * ratio))
        text_polys[:, :, 0] *= ratio
        text_polys[:, :, 1] *= ratio

    if text_polys.shape[0] == 0:
        return None
    if np.sum(text_tags * 1.0) >= text_tags.size:
        return None
    new_h, new_w, _ = im.shape

    std_ratio = float(input_size) / max(new_w, new_h)
    rand_scales = np.array(
        [0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0, 1.0, 1.0, 1.0, 1.0])
    rz_scale = std_ratio * rng_np.choice(rand_scales)
    im = _resize_fxfy(im, rz_scale, rz_scale)
    text_polys[:, :, 0] *= rz_scale
    text_polys[:, :, 1] *= rz_scale

    if rng_np.rand() < 0.1 * 0.5:
        ks = rng_np.permutation(5)[0] + 1
        ks = int(ks / 2) * 2 + 1
        im = gaussian_blur_auto(im, ks)
    if rng_np.rand() < 0.1 * 0.5:
        im = im * (1.0 + rng_np.rand() * 0.5)
        im = np.clip(im, 0.0, 255.0)
    if rng_np.rand() < 0.1 * 0.5:
        im = im * (1.0 - rng_np.rand() * 0.5)
        im = np.clip(im, 0.0, 255.0)

    new_h, new_w, _ = im.shape
    if min(new_w, new_h) < input_size * 0.5:
        return None
    im_padded = np.ones((input_size, input_size, 3), dtype=np.float32)
    im_padded[:, :, 2] = 0.485 * 255
    im_padded[:, :, 1] = 0.456 * 255
    im_padded[:, :, 0] = 0.406 * 255

    del_h = input_size - new_h
    del_w = input_size - new_w
    sh, sw = 0, 0
    if del_h > 1:
        sh = int(rng_np.rand() * del_h)
    if del_w > 1:
        sw = int(rng_np.rand() * del_w)
    im_padded[sh:sh + new_h, sw:sw + new_w, :] = im.copy()
    text_polys[:, :, 0] += sw
    text_polys[:, :, 1] += sh

    (score_map, score_label_map, border_map, direction_map,
     training_mask, pos_list, pos_mask, label_list,
     score_label_map_text_label) = _generate_tcl_ctc_label(
        rng_np, input_size, input_size, text_polys, text_tags,
        text_strs, 0.25, img_id, tcl_len)
    del score_label_map_text_label               # refine-head only
    if len(label_list) <= 0:
        return None

    pad_num = len(PG_LEXICON)
    pos_list_temp = np.zeros([64, 3])
    pos_mask_temp = np.zeros([64, 1])
    label_list_temp = np.zeros([max_text_length, 1]) + pad_num

    for i, label in enumerate(label_list):
        n = len(label)
        if n > max_text_length:
            label_list[i] = label[:max_text_length]
            continue
        while n < max_text_length:
            label.append([pad_num])
            n += 1
    for i in range(len(label_list)):
        label_list[i] = np.array(label_list[i])

    if len(pos_list) <= 0 or len(pos_list) > max_text_nums:
        return None
    for _ in range(max_text_nums - len(pos_list), 0, -1):
        pos_list.append(pos_list_temp)
        pos_mask.append(pos_mask_temp)
        label_list.append(label_list_temp)

    im_padded[:, :, 2] -= 0.485 * 255
    im_padded[:, :, 1] -= 0.456 * 255
    im_padded[:, :, 0] -= 0.406 * 255
    im_padded[:, :, 2] /= (255.0 * 0.229)
    im_padded[:, :, 1] /= (255.0 * 0.224)
    im_padded[:, :, 0] /= (255.0 * 0.225)
    im_padded = im_padded.transpose((2, 0, 1))
    return {
        "images": im_padded[::-1, :, :],
        "tcl_maps": score_map[np.newaxis, :, :],
        "tcl_label_maps": score_label_map[np.newaxis, :, :],
        "border_maps": border_map.transpose((2, 0, 1)),
        "direction_maps": direction_map.transpose((2, 0, 1)),
        "training_masks": training_mask[np.newaxis, :, :],
        "label_list": np.array(label_list),
        "pos_list": np.array(pos_list),
        "pos_mask": np.array(pos_mask),
    }


def _rect_to_poly16(x0, y0, x1, y1):
    """16-point Total-Text-style poly along an axis-aligned rect: 8
    points left->right on the top edge, 8 right->left on the bottom
    (negative quad_area = the 'correct direction' arm)."""
    tx = np.linspace(x0, x1, 8)
    out = [[float(x), float(y0)] for x in tx]
    out += [[float(x), float(y1)] for x in tx[::-1]]
    return out


def pg_gt_rows_for_doc(doc_id: str, rects: np.ndarray, ignored, texts,
                       canvas_h: int, canvas_w: int) -> tuple:
    """Gate-query kernel: span rects → 16-point polys → the PGNet
    target walk seeded crc32(doc_id); one row of tensor statistics
    (float64-exact channel sums, live counts, pad-aware label sum)."""
    import zlib

    polys = [_rect_to_poly16(x0, y0, x1, y1)
             for x0, y0, x1, y1 in np.asarray(rects, dtype=np.float64)]
    tags = [bool(v) for v in ignored]
    seed = zlib.crc32(doc_id.encode("utf-8"))
    ys, xs = np.mgrid[0:canvas_h, 0:canvas_w]
    img = ((xs * 5 + ys * 11 + seed) % 256).astype(np.uint8)
    img = np.stack([img, (img * 3 + 17) % 256, (img * 7 + 43) % 256],
                   axis=-1).astype(np.uint8)
    out = pg_process_doc(img, polys, tags, texts, seed)
    if out is None:
        return (doc_id, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0)
    return (
        doc_id,
        1,
        float(out["images"].astype(np.float64).sum()),
        float(out["tcl_maps"].astype(np.float64).sum()),
        float(out["tcl_label_maps"].astype(np.float64).sum()),
        float(out["border_maps"].astype(np.float64).sum()),
        float(out["direction_maps"].astype(np.float64).sum()),
        float(out["training_masks"].astype(np.float64).sum()),
        int(out["pos_mask"].sum()),
        float(out["pos_list"].astype(np.float64).sum()),
        float(out["label_list"].astype(np.float64).sum()),
    )
