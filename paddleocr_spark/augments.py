"""Seeded random train-time augments (SURVEY §2 R6, random family).

Transcribes ``EastRandomCropData`` — the DB/EAST training pipelines'
random text-safe crop (reference ``ppocr/data/imaug/random_crop_data.py``
:29-180, itself from WenmuZhou/DBNet.pytorch) — under a *deterministic
contract*: the reference draws from the GLOBAL ``np.random`` stream; this
transcription threads an explicit ``np.random.RandomState(seed)`` whose
MT19937 stream is identical to the global one after ``np.random.seed(seed)``.
Seeding per document id therefore reproduces the reference draw-for-draw
(the exec-ref differential in tests/test_reference_exec.py pins this), and
the operator becomes a pure function of (doc, seed) — shardable, replayable,
and oracle-checkable like every other operator in the engine.

Quirks preserved from the reference:

* ``w_array[minx:maxx] = 1`` — maxx EXCLUSIVE, so the rightmost occupied
  column of every text box stays "free" for the crop axis
  (random_crop_data.py:87,90);
* region-pair selection WITH replacement (``np.random.choice(len(regions),
  2)`` — both picks can land in the same free region, :68);
* ``random_select`` clips to ``max_size - 1`` AFTER drawing (:62-63);
* the candidate is accepted on the FIRST care poly that intersects it
  (counter + break, :114-119);
* after ``max_tries`` failures the WHOLE canvas is returned (:124);
* the keep filter in ``__call__`` tests the SCALED crop extent
  ``int(crop_w * scale)`` — not the pad size and not the unrounded
  extent (:154-155,172).

The pixel side of ``__call__`` (cv2.resize + zero-pad) carries no
extraction semantics — the output polys depend only on the crop rect and
scale — so the operator emits geometry: crop rect, scale, and each
surviving span's transformed box. Scale shape: one ``grouped_map_rows``
pass keyed by doc_id (hash partition + within-partition sort, whole-batch
Arrow slicing — no per-group pandas), the same plan as the detector
family; the kernel is O(canvas + tries·polys) per doc.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geometry as G
from .kernels import fill_bboxes, quad_area
from .sast_gt import _cv_round, padded_crop_area

#: EastRandomCropData defaults (random_crop_data.py:128-132).
EAST_CROP_SIZE = (640, 640)
EAST_CROP_MAX_TRIES = 10
EAST_CROP_MIN_RATIO = 0.1

#: Canvas: width is the page width; height is the doc's max y2 plus this
#: margin (a strip of free rows so the h-axis always has a choice).
EAST_CROP_CANVAS_MARGIN = 20


def is_poly_outside_rect(poly: np.ndarray, x: float, y: float,
                         w: float, h: float) -> bool:
    """random_crop_data.py:38-44 verbatim semantics."""
    poly = np.array(poly)
    if poly[:, 0].max() < x or poly[:, 0].min() > x + w:
        return True
    if poly[:, 1].max() < y or poly[:, 1].min() > y + h:
        return True
    return False


def split_regions(axis: np.ndarray) -> list:
    """Runs of consecutive free indices (random_crop_data.py:47-55; note
    the trailing run is never appended — quirk preserved).

    Vectorized: run boundaries via one diff scan instead of a Python
    loop over every free index; the split slices are identical to the
    reference's ``axis[min_axis:i]`` windows, and the trailing run is
    dropped exactly as the reference's loop never reaches it.
    """
    if axis.shape[0] == 0:
        return []
    breaks = np.flatnonzero(np.diff(axis) != 1)
    return np.split(axis, breaks + 1)[:-1]


def random_select(axis: np.ndarray, max_size: int,
                  rng: np.random.RandomState):
    """Two draws from the free axis, clipped after (:58-64).

    ``rng.choice(a, size)`` with replace=True and uniform p is defined as
    ``a[rng.randint(0, len(a), size)]`` (numpy mtrand.pyx) — drawn
    directly to skip choice()'s per-call validation overhead; the MT
    stream consumption is identical (pytest-pinned).
    """
    i0, i1 = rng.randint(0, axis.shape[0], 2)
    a, b = int(axis[i0]), int(axis[i1])
    xmin, xmax = (a, b) if a <= b else (b, a)
    hi = max_size - 1
    return (0 if xmin < 0 else (hi if xmin > hi else xmin),
            0 if xmax < 0 else (hi if xmax > hi else xmax))


def region_wise_random_select(regions: list,
                              rng: np.random.RandomState):
    """Pick two regions WITH replacement, one value from each (:67-76).

    Same randint-backed draw identity as :func:`random_select`; the
    reference's int(choice(..., size=1)) per region is one randint each.
    """
    selected_values = []
    for index in rng.randint(0, len(regions), 2):
        region = regions[index]
        selected_values.append(int(region[rng.randint(
            0, region.shape[0], 1)[0]]))
    a, b = selected_values
    return (a, b) if a <= b else (b, a)


def crop_area(h: int, w: int, text_polys: list,
              min_crop_side_ratio: float, max_tries: int,
              rng: np.random.RandomState):
    """Text-safe crop rect over an (h, w) canvas (:79-124).

    The reference takes the image and reads only its shape; this takes
    (h, w) directly. Draw order per try: x-axis pair first, then y-axis
    pair — preserved exactly (the RNG stream is the contract).
    """
    h_array = np.zeros(h, dtype=np.int32)
    w_array = np.zeros(w, dtype=np.int32)
    # Per-poly extrema, one vectorized pass (the reference recomputes
    # min/max per poly per axis; np.round is monotone, so the rounded
    # extremum equals the extremum of the rounded points — identical
    # occupancy). Ragged polys fall back to the per-poly reduction.
    if len(text_polys):
        try:
            pts = np.stack([np.asarray(p, dtype=np.float64)
                            for p in text_polys])
            fx_lo = pts[:, :, 0].min(axis=1)
            fx_hi = pts[:, :, 0].max(axis=1)
            fy_lo = pts[:, :, 1].min(axis=1)
            fy_hi = pts[:, :, 1].max(axis=1)
        except ValueError:
            arrs = [np.asarray(p, dtype=np.float64) for p in text_polys]
            fx_lo = np.array([a[:, 0].min() for a in arrs])
            fx_hi = np.array([a[:, 0].max() for a in arrs])
            fy_lo = np.array([a[:, 1].min() for a in arrs])
            fy_hi = np.array([a[:, 1].max() for a in arrs])
        x_lo = np.round(fx_lo).astype(np.int32)
        x_hi = np.round(fx_hi).astype(np.int32)
        y_lo = np.round(fy_lo).astype(np.int32)
        y_hi = np.round(fy_hi).astype(np.int32)
        for i in range(len(text_polys)):
            w_array[x_lo[i]:x_hi[i]] = 1
            h_array[y_lo[i]:y_hi[i]] = 1
    h_axis = np.where(h_array == 0)[0]
    w_axis = np.where(w_array == 0)[0]
    if len(h_axis) == 0 or len(w_axis) == 0:
        return 0, 0, w, h
    h_regions = split_regions(h_axis)
    w_regions = split_regions(w_axis)
    for _ in range(max_tries):
        if len(w_regions) > 1:
            xmin, xmax = region_wise_random_select(w_regions, rng)
        else:
            xmin, xmax = random_select(w_axis, w, rng)
        if len(h_regions) > 1:
            ymin, ymax = region_wise_random_select(h_regions, rng)
        else:
            ymin, ymax = random_select(h_axis, h, rng)
        if (xmax - xmin < min_crop_side_ratio * w
                or ymax - ymin < min_crop_side_ratio * h):
            continue
        # any-poly-intersects, vectorized (is_poly_outside_rect's
        # predicate over all polys at once; no RNG involved, so the
        # short-circuit `break` is observationally equivalent)
        if len(text_polys) and bool(np.any(
                (fx_hi >= xmin) & (fx_lo <= xmax)
                & (fy_hi >= ymin) & (fy_lo <= ymax))):
            return xmin, ymin, xmax - xmin, ymax - ymin
    return 0, 0, w, h


def east_crop_doc(did: int, boxes: np.ndarray, ignored: np.ndarray,
                  size: tuple = EAST_CROP_SIZE,
                  max_tries: int = EAST_CROP_MAX_TRIES,
                  min_ratio: float = EAST_CROP_MIN_RATIO):
    """EastRandomCropData.__call__'s geometry for one document (:139-180).

    ``boxes`` is (n, 4) [x1 y1 x2 y2] in span order; ``ignored`` the P9/P10
    drop flags (the reference's ignore_tags — ignored polys don't constrain
    the crop but ARE emitted when they survive it). Returns
    (crop_x, crop_y, crop_w, crop_h, scale,
     [(span_pos, nx1, ny1, nx2, ny2), ...]).
    """
    rng = np.random.RandomState(did % (2 ** 31))
    h = (int(boxes[:, 3].max()) if len(boxes) else 0) \
        + EAST_CROP_CANVAS_MARGIN
    w = G.PAGE_WIDTH
    # Boxes are axis-aligned rects, so the reference's corner polys are
    # fully determined by (x1 y1 x2 y2); build the (n, 4, 2) corner array
    # in one shot instead of n small allocations.
    boxes = np.asarray(boxes, dtype=np.float64)
    n = len(boxes)
    polys = np.empty((n, 4, 2), dtype=np.float64)
    if n:
        polys[:, 0, 0] = boxes[:, 0]; polys[:, 0, 1] = boxes[:, 1]
        polys[:, 1, 0] = boxes[:, 2]; polys[:, 1, 1] = boxes[:, 1]
        polys[:, 2, 0] = boxes[:, 2]; polys[:, 2, 1] = boxes[:, 3]
        polys[:, 3, 0] = boxes[:, 0]; polys[:, 3, 1] = boxes[:, 3]
    care = polys[~np.asarray(ignored, dtype=bool)]
    crop_x, crop_y, crop_w, crop_h = crop_area(
        h, w, care, min_ratio, max_tries, rng)
    scale = min(size[0] / crop_w, size[1] / crop_h)
    sh = int(crop_h * scale)
    sw = int(crop_w * scale)
    # Shift-and-scale all polys at once. For a rect the corner extrema
    # are the transformed box corners (scale > 0 preserves order), so
    # (nx1 ny1 nx2 ny2) are bit-identical to the reference's per-poly
    # q.min()/q.max().
    kept = []
    if n:
        qx1 = (boxes[:, 0] - crop_x) * scale
        qy1 = (boxes[:, 1] - crop_y) * scale
        qx2 = (boxes[:, 2] - crop_x) * scale
        qy2 = (boxes[:, 3] - crop_y) * scale
        inside = ~((qx2 < 0) | (qx1 > sw) | (qy2 < 0) | (qy1 > sh))
        kept = [(int(i), float(qx1[i]), float(qy1[i]),
                 float(qx2[i]), float(qy2[i]))
                for i in np.flatnonzero(inside)]
    return int(crop_x), int(crop_y), int(crop_w), int(crop_h), scale, kept


#: RandomCropImgMask defaults: PSE's 3/8 background-crop probability
#: (random_crop_data.py:184) and this engine's demo crop size (strictly
#: inside the 68×120 shrink-map canvas so the non-trivial path runs).
PSE_CROP_P = 3 / 8
PSE_CROP_SIZE = (32, 56)


def random_crop_img_mask(seed: int, data: dict, main_key: str,
                         crop_keys, size: tuple,
                         p: float = PSE_CROP_P):
    """RandomCropImgMask (random_crop_data.py:183-234) — the PSE training
    crop, the reference's OTHER RNG dialect (stdlib ``random``, not
    np.random). ``random.Random(seed)`` replays the reference's global
    stream after ``random.seed(seed)``.

    Returns (i, j, forced, data') where (i, j) is the crop origin and
    ``forced`` marks the text-region branch. Quirks preserved:

    * ``random.random()`` is consumed ONLY when the main mask has any
      positive pixel (the ``and`` short-circuit, :199);
    * tl/br are the mask extrema minus (th, tw), negatives clamped to 0,
      br additionally clamped to the valid origin range — so a text
      region near the top-left yields tl == br == 0 and the origin is
      forced to (0, 0) (the ``if tl < br else 0`` arms, :201-210);
    * ``random.randint`` bounds are INCLUSIVE;
    * 3-dim arrays crop channel-first or channel-last by ``argmin`` of
      the shape; a 3-dim array whose smallest axis is 1 is returned
      UNCROPPED (the fall-through arm, :227-228 — dead in the shipped
      configs, transcribed anyway);
    * equal-size inputs return untouched BEFORE any draw (:195-196).
    """
    import random as _random

    rng = _random.Random(seed)
    image = data["image"]
    h, w = image.shape[0:2]
    th, tw = size
    if w == tw and h == th:
        return None, None, False, data
    mask = data[main_key]
    forced = False
    if np.max(mask) > 0 and rng.random() > p:
        forced = True
        tl = np.min(np.where(mask > 0), axis=1) - (th, tw)
        tl[tl < 0] = 0
        br = np.max(np.where(mask > 0), axis=1) - (th, tw)
        br[br < 0] = 0
        br[0] = min(br[0], h - th)
        br[1] = min(br[1], w - tw)
        i = rng.randint(tl[0], br[0]) if tl[0] < br[0] else 0
        j = rng.randint(tl[1], br[1]) if tl[1] < br[1] else 0
    else:
        i = rng.randint(0, h - th) if h - th > 0 else 0
        j = rng.randint(0, w - tw) if w - tw > 0 else 0
    out = dict(data)
    for k in data:
        if k in crop_keys:
            if len(data[k].shape) == 3:
                if np.argmin(data[k].shape) == 0:
                    out[k] = data[k][:, i:i + th, j:j + tw]
                elif np.argmin(data[k].shape) == 2:
                    out[k] = data[k][i:i + th, j:j + tw, :]
                # else: left uncropped (reference fall-through)
            else:
                out[k] = data[k][i:i + th, j:j + tw]
    return i, j, forced, out


# ---------------------------------------------------------------------------
# CopyPaste (ppocr/data/imaug/copy_paste.py:26-128) — seeded transcription
# ---------------------------------------------------------------------------
#
# The reference pastes rotated crops of another sample's text instances
# onto the current image. Its OBSERVABLE effect on the label stream
# (polys / texts / ignore_tags — the extraction semantics) is pure
# geometry: which ext instances are selected (stdlib shuffle), each crop's
# size (get_rotate_crop_image dims — poly edge norms only), the rotation
# angle (np.random), the rotated bbox (cv2.getRotationMatrix2D algebra),
# the expanded paste footprint (PIL rotate(expand=1) size arithmetic), the
# 50-attempt text-safe placement (stdlib randint + is_poly_outside_rect
# over the GROWING poly list), and the final clip. The pixel compositing
# (PIL alpha paste) never feeds back into the labels, so — like
# EastRandomCropData's cv2.resize above — the operator emits geometry.
#
# RNG contract: the reference draws from BOTH global streams (stdlib
# ``random`` for shuffle/placement, ``np.random`` for the angle). This
# transcription threads ``random.Random(seed)`` + ``RandomState(seed)``,
# matching the globals after ``random.seed(seed); np.random.seed(seed)``
# draw-for-draw (pinned by the exec-ref differential).
#
# PIL note: Pillow is not in this container; ``pil_rotate_expand_size``
# transcribes the public Pillow ``Image.rotate(expand=1)`` output-size
# arithmetic (matrix rounded to 15 decimals, ceil(max)-floor(min) of the
# transformed corners, the 0/90/180/270 transpose fast paths). The
# exec-ref differential shims PIL with this same arithmetic, so — like
# pyclipper's unclip — this one sub-step is pinned by transcription
# review rather than execution; everything around it is executed.

#: CopyPaste defaults (copy_paste.py:27).
COPY_PASTE_RATIO = 0.2
COPY_PASTE_LIMIT = True
COPY_PASTE_TRIES = 50


def rotate_crop_dims(poly: np.ndarray):
    """Output (h, w) of ``get_rotate_crop_image`` (tools/infer/utility.py
    :660-692) without touching pixels: int-truncated max edge norms, then
    the ``height/width >= 1.5`` np.rot90 shape swap. Norms run in the
    poly's own dtype (float32 in the reference pipelines). A zero-width
    crop raises ZeroDivisionError exactly where the reference's float
    division does, and a non-quad poly trips the reference's own assert
    (utility.py:671) — which also makes copy_paste_doc's pad-to-point_num
    loop unreachable for point_num > 4 through this path, exactly as in
    the reference (transcribed anyway)."""
    assert len(poly) == 4, "shape of points must be 4*2"
    w = int(max(np.linalg.norm(poly[0] - poly[1]),
                np.linalg.norm(poly[2] - poly[3])))
    h = int(max(np.linalg.norm(poly[0] - poly[3]),
                np.linalg.norm(poly[1] - poly[2])))
    if h * 1.0 / w >= 1.5:
        h, w = w, h
    return h, w


def pil_rotate_expand_size(w: int, h: int, angle: float):
    """Pillow ``Image.rotate(angle, expand=1)`` output size (public
    Pillow Image.rotate source): right-angle transpose fast paths, else
    the inverse-rotation affine (entries rounded to 15 decimals, centre
    pre/post translation folded in) applied to the four corners, sized
    ceil(max) - floor(min) per axis."""
    import math

    angle = angle % 360.0
    if angle == 0 or angle == 180:
        return w, h
    if angle == 90 or angle == 270:
        return h, w
    rad = -math.radians(angle)
    matrix = [round(math.cos(rad), 15), round(math.sin(rad), 15), 0.0,
              round(-math.sin(rad), 15), round(math.cos(rad), 15), 0.0]

    def tf(x, y):
        a, b, c, d, e, f = matrix
        return a * x + b * y + c, d * x + e * y + f

    cx, cy = w / 2.0, h / 2.0
    matrix[2], matrix[5] = tf(-cx, -cy)
    matrix[2] += cx
    matrix[5] += cy
    xx, yy = [], []
    for x, y in ((0, 0), (w, 0), (w, h), (0, h)):
        x, y = tf(x, y)
        xx.append(x)
        yy.append(y)
    nw = math.ceil(max(xx)) - math.floor(min(xx))
    nh = math.ceil(max(yy)) - math.floor(min(yy))
    return nw, nh


def rotation_matrix_2d(center, angle: float, scale: float) -> np.ndarray:
    """cv2.getRotationMatrix2D's documented closed form:
    [[a, b, (1-a)·cx - b·cy], [-b, a, b·cx + (1-a)·cy]] with
    a = scale·cos(angle°), b = scale·sin(angle°)."""
    import math

    a = scale * math.cos(math.radians(angle))
    b = scale * math.sin(math.radians(angle))
    cx, cy = center
    return np.array([[a, b, (1 - a) * cx - b * cy],
                     [-b, a, b * cx + (1 - a) * cy]])


def rotate_bbox(w: int, h: int, text_polys: np.ndarray, angle: float,
                scale: float = 1) -> np.ndarray:
    """copy_paste.py:146-177 verbatim (image replaced by its (w, h)):
    expanded-canvas rotation matrix, centre-shift correction via
    rot_mat·[(nw-w)/2, (nh-h)/2, 0], per-corner np.dot, float32 result."""
    rangle = np.deg2rad(angle)
    nw = (abs(np.sin(rangle) * h) + abs(np.cos(rangle) * w))
    nh = (abs(np.cos(rangle) * h) + abs(np.sin(rangle) * w))
    rot_mat = rotation_matrix_2d((nw * 0.5, nh * 0.5), angle, scale)
    rot_move = np.dot(rot_mat, np.array([(nw - w) * 0.5, (nh - h) * 0.5, 0]))
    rot_mat[0, 2] += rot_move[0]
    rot_mat[1, 2] += rot_move[1]
    rot_text_polys = list()
    for bbox in text_polys:
        point1 = np.dot(rot_mat, np.array([bbox[0, 0], bbox[0, 1], 1]))
        point2 = np.dot(rot_mat, np.array([bbox[1, 0], bbox[1, 1], 1]))
        point3 = np.dot(rot_mat, np.array([bbox[2, 0], bbox[2, 1], 1]))
        point4 = np.dot(rot_mat, np.array([bbox[3, 0], bbox[3, 1], 1]))
        rot_text_polys.append([point1, point2, point3, point4])
    return np.array(rot_text_polys, dtype=np.float32)


def copy_paste_select_coord(rng, src_polys: list, box: np.ndarray,
                            endx: int, endy: int, limit_paste: bool,
                            max_tries: int = COPY_PASTE_TRIES):
    """CopyPaste.select_coord (:108-128): up to 50 stdlib-randint
    (INCLUSIVE bounds) placements, accepted when no existing poly
    intersects the shifted footprint — the scan breaks on the FIRST
    intersecting poly, and ``src_polys`` includes boxes pasted earlier
    in the same call."""
    if limit_paste:
        xmin, ymin, xmax, ymax = (box[:, 0].min(), box[:, 1].min(),
                                  box[:, 0].max(), box[:, 1].max())
        for _ in range(max_tries):
            paste_x = rng.randint(0, endx)
            paste_y = rng.randint(0, endy)
            xmin1 = xmin + paste_x
            xmax1 = xmax + paste_x
            ymin1 = ymin + paste_y
            ymax1 = ymax + paste_y
            num_poly_in_rect = 0
            for poly in src_polys:
                if not is_poly_outside_rect(poly, xmin1, ymin1,
                                            xmax1 - xmin1, ymax1 - ymin1):
                    num_poly_in_rect += 1
                    break
            if num_poly_in_rect == 0:
                return paste_x, paste_y
        return None, None
    else:
        return rng.randint(0, endx), rng.randint(0, endy)


def copy_paste_doc(seed: int,
                   src_polys: np.ndarray, src_texts, src_ignores,
                   src_h: int, src_w: int,
                   ext_polys: np.ndarray, ext_texts, ext_ignores,
                   objects_paste_ratio: float = COPY_PASTE_RATIO,
                   limit_paste: bool = COPY_PASTE_LIMIT):
    """CopyPaste.__call__ + paste_img for one (src, ext) sample pair
    (copy_paste.py:33-106), labels only.

    ``src_polys``/``ext_polys`` are (n, point_num, 2) float32 (the
    reference pipelines' poly dtype). Quirks preserved:

    * only non-ignored ext instances are candidates, but ``select_num``
      counts ALL of ``ext_polys`` (:46-48);
    * select_num clamps to [1, 30] BEFORE the shuffle truncation, so an
      all-ignored ext sample pastes nothing even though select_num >= 1;
    * the angle draw (np.random) is consumed even when the rotated crop
      is then rejected for exceeding the canvas (:89-94);
    * appended boxes pad to ``point_num`` by REPEATING the last corner
      (:63-65);
    * placement tests run against the growing src_polys list, so earlier
      pastes exclude later ones (:60, :118);
    * the final clip is to [0, w] / [0, h] INCLUSIVE (np.clip, :72-74) —
      one past the last valid pixel column/row;
    * ``self.aug = IaaAugment([Resize])`` (:31-32) is constructed but
      never invoked in ``__call__`` — dead code, not transcribed.

    Returns (polys float64 (k, point_num, 2), texts, ignores bool array,
    pasted_src list — the ext row position each appended box came from).
    """
    import random as _random

    rng_py = _random.Random(seed)
    rng_np = np.random.RandomState(seed)
    point_num = src_polys.shape[1]
    src_polys = src_polys.tolist()
    src_texts = list(src_texts)
    src_ignores = list(src_ignores)
    indexs = [i for i in range(len(ext_ignores)) if not ext_ignores[i]]
    select_num = max(
        1, min(int(objects_paste_ratio * len(ext_polys)), 30))
    rng_py.shuffle(indexs)
    select_idxs = indexs[:select_num]
    select_polys = ext_polys[select_idxs]
    select_ignores = np.asarray(ext_ignores)[select_idxs]
    pasted_src = []
    for idx, poly, tag in zip(select_idxs, select_polys, select_ignores):
        box_h, box_w = rotate_crop_dims(poly)
        angle = rng_np.randint(0, 360)
        box = np.array([[[0, 0], [box_w, 0], [box_w, box_h], [0, box_h]]])
        box = rotate_bbox(box_w, box_h, box, angle)[0]
        new_w, new_h = pil_rotate_expand_size(box_w, box_h, angle)
        if src_w - new_w < 0 or src_h - new_h < 0:
            continue
        paste_x, paste_y = copy_paste_select_coord(
            rng_py, src_polys, box, src_w - new_w, src_h - new_h,
            limit_paste)
        if paste_x is None:
            continue
        box[:, 0] += paste_x
        box[:, 1] += paste_y
        box = box.tolist()
        for _ in range(len(box), point_num):
            box.append(box[-1])
        src_polys.append(box)
        src_texts.append(ext_texts[idx])
        src_ignores.append(tag)
        pasted_src.append(idx)
    src_polys = np.array(src_polys)
    if len(src_polys):
        src_polys[:, :, 0] = np.clip(src_polys[:, :, 0], 0, src_w)
        src_polys[:, :, 1] = np.clip(src_polys[:, :, 1], 0, src_h)
    return src_polys, src_texts, np.array(src_ignores), pasted_src


def rect_quads(b: np.ndarray) -> np.ndarray:
    """(n, 4) x1/y1/x2/y2 rects → (n, 4, 2) float32 clockwise quads
    from the top-left corner."""
    return np.stack([b[:, [0, 1]], b[:, [2, 1]], b[:, [2, 3]],
                     b[:, [0, 3]]], axis=1).astype(np.float32)


def copy_paste(spans_geom: DataFrame) -> DataFrame:
    """Distributed seeded CopyPaste over the span-geometry frame.

    Each document is its own training sample; its ``ext_data`` partner is
    the XOR-1 document (doc_0 <-> doc_1, doc_2 <-> doc_3, ...) — a pure
    function of doc_id, so the pairing is ONE hash shuffle (src rows key
    on their own doc, ext rows on the partner) with no driver-side state
    and no join; a missing partner is an empty ext sample, which the
    reference walk itself handles (empty candidate list -> no pastes).
    One output row per final label: originals keep their span_idx in
    ``src_span``; pasted rows carry the ext span they were copied from.

    Input columns: doc_id ('doc_<n>'), span_idx, text, ignored,
    x1 y1 x2 y2. Scale shape: identical to east_random_crop — one
    grouped_map_rows pass, kernel O(polys + tries·polys) per doc.
    """
    from .operators.grouped import grouped_map_rows

    did = F.substring("doc_id", 5, 18).cast("int")
    partner = F.format_string("doc_%07d", did.bitwiseXOR(F.lit(1)))
    # ONE corpus scan: each span row fans out to its two roles via a
    # 2-element generator (a unionByName of two projections would scan
    # the 10^12-doc table twice).
    both = spans_geom.select(
        F.explode(F.array(
            F.struct(F.col("doc_id").alias("pair"),
                     F.lit(0).alias("role")),
            F.struct(partner.alias("pair"),
                     F.lit(1).alias("role")))).alias("pr"),
        "span_idx", "text", "ignored", "x1", "y1", "x2", "y2",
    ).select("pr.pair", "pr.role",
             "span_idx", "text", "ignored", "x1", "y1", "x2", "y2")

    def per_pair(g):
        is_src = g["role"] == 0
        if not is_src.any():
            return  # partner-only group: no training sample here
        xs = np.stack([g[c] for c in ("x1", "y1", "x2", "y2")], axis=1)
        sx, ex = xs[is_src], xs[~is_src]
        polys, texts, ignores, pasted_src = copy_paste_doc(
            int(str(g["pair"][0])[4:]), rect_quads(sx),
            g["text"][is_src], g["ignored"][is_src],
            int(sx[:, 3].max()) + EAST_CROP_CANVAS_MARGIN, G.PAGE_WIDTH,
            rect_quads(ex), g["text"][~is_src], g["ignored"][~is_src])
        n_src = int(is_src.sum())
        src_spans = g["span_idx"][is_src]
        ext_spans = g["span_idx"][~is_src]
        for pos, (p, t) in enumerate(zip(polys, texts)):
            sp = (src_spans[pos] if pos < n_src
                  else ext_spans[pasted_src[pos - n_src]])
            yield (str(g["pair"][0]), pos, pos >= n_src, int(sp),
                   None if t is None else str(t), bool(ignores[pos]),
                   *(float(v) for v in p.reshape(-1)))

    return grouped_map_rows(
        both, ["pair"], ["role", "span_idx"], per_pair,
        "doc_id string, pos long, pasted boolean, src_span long, "
        "text string, ignored boolean, x1 double, y1 double, x2 double, "
        "y2 double, x3 double, y3 double, x4 double, y4 double")


def east_random_crop(spans_geom: DataFrame) -> DataFrame:
    """Distributed seeded crop over the span-geometry frame.

    Input columns: doc_id (string 'doc_<n>'), span_idx, x1 y1 x2 y2,
    ignored. One output row per span surviving its document's crop.
    """
    from .operators.grouped import grouped_map_rows

    def per_doc(g):
        doc_id, ign = str(g["doc_id"][0]), g["ignored"]
        xs = np.stack([g[c] for c in ("x1", "y1", "x2", "y2")], axis=1)
        cx, cy, cw, ch, sc, kept = east_crop_doc(
            int(doc_id[4:]), xs.astype(np.float64), ign)
        for pos, nx1, ny1, nx2, ny2 in kept:
            yield (doc_id, int(g["span_idx"][pos]), bool(ign[pos]), cx, cy,
                   cw, ch, sc, nx1, ny1, nx2, ny2)

    return grouped_map_rows(
        spans_geom.select("doc_id", "span_idx", "x1", "y1", "x2", "y2",
                          "ignored"),
        ["doc_id"], ["span_idx"], per_doc,
        "doc_id string, span_idx long, ignored boolean, crop_x long, "
        "crop_y long, crop_w long, crop_h long, scale double, "
        "nx1 double, ny1 double, nx2 double, ny2 double")


# ---------------------------------------------------------------------------
# EASTProcessTrain (ppocr/data/imaug/east_process.py:28-436) — seeded
# ---------------------------------------------------------------------------
#
# The EAST training-target generator: random right-angle rotate, polygon
# validation (with the wrong-direction flip-and-ignore quirk), random
# scale, a background/foreground branch, the padded-text-free random
# crop, the 1/max resize, and generate_quad's score/geo/training-mask
# rasters subsampled ::4. RNG contract as everywhere in this module:
# ``RandomState(seed)`` replays the reference's global np.random stream.
#
# Image buffers are never materialized until generate_quad: every pixel
# op before it (np.rot90, cv2.resize, the crop slice, preprocess's
# normalize+pad) only feeds SHAPES forward, so the transcription tracks
# (h, w) symbolically — at 10^12 docs the kernel allocates only the
# final <=512x512 target rasters per document.
#
# fillPoly axiom: quads here are axis-aligned up to ~1e-16 (right-angle
# rotations and the shrink walk's arctan2 of epsilon-skewed edges), so
# the int32-truncated quad is filled as its corner bbox — the same bbox
# axiom the MakeShrinkMap/MakePseGt differentials document. cv2's exact
# scanline walk is out of scope for these inputs.
#
# polygon_area (:95-105) is sast_process.py's quad_area verbatim
# (kernels.quad_area), crop_area (:288-358) is the walk sast_process.py
# copies (sast_gt.padded_crop_area, here with EAST's 50 tries and 0.1
# min-side ratio), and this module's cvRound is SAST's _cv_round.

EAST_PROC_INPUT_SIZE = 512          #: east_process.py:30 image_shape
EAST_PROC_BG_RATIO = 0.125          #: :31 background_ratio
EAST_PROC_MIN_CROP_RATIO = 0.1      #: :32 min_crop_side_ratio
EAST_PROC_MIN_TEXT = 10             #: :33 min_text_size
EAST_PROC_SCALES = (0.5, 1, 2.0, 3.0)   #: :36 random_scale


def east_validate_polys(polys: np.ndarray, tags: np.ndarray,
                        h: int, w: int):
    """check_and_validate_polys (:107-135): clip to [0, dim-1], drop
    |area| < 1, and the wrong-direction quirk — POSITIVE area means the
    poly is reversed, so it is re-ordered (0,3,2,1) AND force-ignored
    (tag=True) even if it was a care poly."""
    if polys.shape[0] == 0:
        return polys, tags
    polys[:, :, 0] = np.clip(polys[:, :, 0], 0, w - 1)
    polys[:, :, 1] = np.clip(polys[:, :, 1], 0, h - 1)
    validated_polys = []
    validated_tags = []
    for poly, tag in zip(polys, tags):
        p_area = quad_area(poly)
        if abs(p_area) < 1:
            continue
        if p_area > 0:
            if not tag:
                tag = True
            poly = poly[(0, 3, 2, 1), :]
        validated_polys.append(poly)
        validated_tags.append(tag)
    return np.array(validated_polys), np.array(validated_tags)


def east_shrink_poly(poly: np.ndarray, r) -> np.ndarray:
    """shrink_poly (:155-231) verbatim — the in-place arctan2 corner
    walk (longer-pair first; the reference's own comment says 'maybe
    bugs here...', preserved as-is)."""
    R = 0.3
    dist0 = np.linalg.norm(poly[0] - poly[1])
    dist1 = np.linalg.norm(poly[2] - poly[3])
    dist2 = np.linalg.norm(poly[0] - poly[3])
    dist3 = np.linalg.norm(poly[1] - poly[2])
    if dist0 + dist1 > dist2 + dist3:
        theta = np.arctan2((poly[1][1] - poly[0][1]),
                           (poly[1][0] - poly[0][0]))
        poly[0][0] += R * r[0] * np.cos(theta)
        poly[0][1] += R * r[0] * np.sin(theta)
        poly[1][0] -= R * r[1] * np.cos(theta)
        poly[1][1] -= R * r[1] * np.sin(theta)
        theta = np.arctan2((poly[2][1] - poly[3][1]),
                           (poly[2][0] - poly[3][0]))
        poly[3][0] += R * r[3] * np.cos(theta)
        poly[3][1] += R * r[3] * np.sin(theta)
        poly[2][0] -= R * r[2] * np.cos(theta)
        poly[2][1] -= R * r[2] * np.sin(theta)
        theta = np.arctan2((poly[3][0] - poly[0][0]),
                           (poly[3][1] - poly[0][1]))
        poly[0][0] += R * r[0] * np.sin(theta)
        poly[0][1] += R * r[0] * np.cos(theta)
        poly[3][0] -= R * r[3] * np.sin(theta)
        poly[3][1] -= R * r[3] * np.cos(theta)
        theta = np.arctan2((poly[2][0] - poly[1][0]),
                           (poly[2][1] - poly[1][1]))
        poly[1][0] += R * r[1] * np.sin(theta)
        poly[1][1] += R * r[1] * np.cos(theta)
        poly[2][0] -= R * r[2] * np.sin(theta)
        poly[2][1] -= R * r[2] * np.cos(theta)
    else:
        theta = np.arctan2((poly[3][0] - poly[0][0]),
                           (poly[3][1] - poly[0][1]))
        poly[0][0] += R * r[0] * np.sin(theta)
        poly[0][1] += R * r[0] * np.cos(theta)
        poly[3][0] -= R * r[3] * np.sin(theta)
        poly[3][1] -= R * r[3] * np.cos(theta)
        theta = np.arctan2((poly[2][0] - poly[1][0]),
                           (poly[2][1] - poly[1][1]))
        poly[1][0] += R * r[1] * np.sin(theta)
        poly[1][1] += R * r[1] * np.cos(theta)
        poly[2][0] -= R * r[2] * np.sin(theta)
        poly[2][1] -= R * r[2] * np.cos(theta)
        theta = np.arctan2((poly[1][1] - poly[0][1]),
                           (poly[1][0] - poly[0][0]))
        poly[0][0] += R * r[0] * np.cos(theta)
        poly[0][1] += R * r[0] * np.sin(theta)
        poly[1][0] -= R * r[1] * np.cos(theta)
        poly[1][1] -= R * r[1] * np.sin(theta)
        theta = np.arctan2((poly[2][1] - poly[3][1]),
                           (poly[2][0] - poly[3][0]))
        poly[3][0] += R * r[3] * np.cos(theta)
        poly[3][1] += R * r[3] * np.sin(theta)
        poly[2][0] -= R * r[2] * np.cos(theta)
        poly[2][1] -= R * r[2] * np.sin(theta)
    return poly


def east_generate_quad(im_size, polys: np.ndarray, tags,
                       min_text_size: int = EAST_PROC_MIN_TEXT):
    """generate_quad (:232-287): score map from the shrunk polys, the
    per-poly ownership mask (later polys OVERWRITE earlier — geo values
    of shared pixels are last-writer-wins), min-size/ignore zeroing of
    the training mask, 8-channel corner offsets + short-edge-norm.
    Quirk: the offset channels subtract the poly AFTER it was clipped to
    [0, w] / [0, h] INCLUSIVE (:276-277) — one past the last pixel."""
    h, w = im_size
    poly_mask = np.zeros((h, w), dtype=np.uint8)
    score_map = np.zeros((h, w), dtype=np.uint8)
    geo_map = np.zeros((h, w, 9), dtype=np.float32)
    training_mask = np.ones((h, w), dtype=np.uint8)
    for poly_idx, poly_tag in enumerate(zip(polys, tags)):
        poly = poly_tag[0]
        tag = poly_tag[1]
        r = [None, None, None, None]
        for i in range(4):
            dist1 = np.linalg.norm(poly[i] - poly[(i + 1) % 4])
            dist2 = np.linalg.norm(poly[i] - poly[(i - 1) % 4])
            r[i] = min(dist1, dist2)
        shrinked_poly = east_shrink_poly(poly.copy(), r).astype(np.int32)
        fill_bboxes(score_map, shrinked_poly, 1)
        fill_bboxes(poly_mask, shrinked_poly, poly_idx + 1)
        poly_h = min(np.linalg.norm(poly[0] - poly[3]),
                     np.linalg.norm(poly[1] - poly[2]))
        poly_w = min(np.linalg.norm(poly[0] - poly[1]),
                     np.linalg.norm(poly[2] - poly[3]))
        if min(poly_h, poly_w) < min_text_size:
            fill_bboxes(training_mask, poly.astype(np.int32), 0)
        if tag:
            fill_bboxes(training_mask, poly.astype(np.int32), 0)
        xy_in_poly = np.argwhere(poly_mask == (poly_idx + 1))
        y_in_poly = xy_in_poly[:, 0]
        x_in_poly = xy_in_poly[:, 1]
        poly[:, 0] = np.minimum(np.maximum(poly[:, 0], 0), w)
        poly[:, 1] = np.minimum(np.maximum(poly[:, 1], 0), h)
        for pno in range(4):
            geo_channel_beg = pno * 2
            geo_map[y_in_poly, x_in_poly, geo_channel_beg] = \
                x_in_poly - poly[pno, 0]
            geo_map[y_in_poly, x_in_poly, geo_channel_beg + 1] = \
                y_in_poly - poly[pno, 1]
        geo_map[y_in_poly, x_in_poly, 8] = \
            1.0 / max(min(poly_h, poly_w), 1.0)
    return score_map, geo_map, training_mask


def east_preprocess_dims(h: int, w: int,
                         input_size: int = EAST_PROC_INPUT_SIZE):
    """preprocess (:41-59) shapes only: scale = input_size / max(h, w)
    (applied even when it upscales), cv2.resize dims = cvRound(dim *
    scale); the normalize + zero-pad to input_size^2 carries no label
    semantics. Returns (new_h, new_w, im_scale)."""
    im_scale = float(input_size) / float(max(h, w))
    return _cv_round(h * im_scale), _cv_round(w * im_scale), im_scale


def east_process_doc(seed: int, quads: np.ndarray, tags: np.ndarray,
                     h: int, w: int,
                     input_size: int = EAST_PROC_INPUT_SIZE,
                     background_ratio: float = EAST_PROC_BG_RATIO):
    """EASTProcessTrain.__call__ (:395-436) for one document, labels +
    target-map observables.  ``quads`` is (n, 4, 2) float32 (the
    reference pipelines' dtype; right-angle rotation and the shrink walk
    stay exact in-process on both differential sides).

    Draw order preserved: rotate gate rand() -> [rotate ratio rand()] ->
    scale choice -> background gate rand() -> crop choice pairs.

    Returns a dict: status ('ok' | 'bg' | 'none_*'), rot_cnt, rd_scale,
    crop rect, n_out, new_h/new_w (pre-pad resize dims), and for
    ok/bg the ::4-subsampled score_px / mask_px / geo channel sums
    (float64-exact sums of the float32 map — order-independent)."""
    rng = np.random.RandomState(seed % (2 ** 31))
    out = {"status": None, "rot_cnt": 0, "rd_scale": None,
           "crop": None, "n_out": 0, "new_h": None, "new_w": None,
           "score_px": None, "mask_px": None, "geo_sums": None}
    text_polys = quads
    text_tags = np.asarray(tags, dtype=bool)
    if text_polys.shape[0] == 0:
        out["status"] = "none_empty"
        return out
    if rng.rand() < 0.5:
        # rotate_im_poly (:61-94): 90/180/270 via the ratio thirds; the
        # image itself only swaps dims under odd rot90 counts
        rand_degree_ratio = rng.rand()
        rand_degree_cnt = 1
        if 0.333 < rand_degree_ratio < 0.666:
            rand_degree_cnt = 2
        elif rand_degree_ratio > 0.666:
            rand_degree_cnt = 3
        import math
        rot_degree = -90 * rand_degree_cnt
        rot_angle = rot_degree * math.pi / 180.0
        cx, cy = 0.5 * w, 0.5 * h
        if rand_degree_cnt % 2 == 1:
            nh, nw = w, h
        else:
            nh, nw = h, w
        ncx, ncy = 0.5 * nw, 0.5 * nh
        dst_polys = []
        for i in range(text_polys.shape[0]):
            wordBB = text_polys[i]
            poly = []
            for j in range(4):
                sx, sy = wordBB[j][0], wordBB[j][1]
                dx = math.cos(rot_angle) * (sx - cx) \
                    - math.sin(rot_angle) * (sy - cy) + ncx
                dy = math.sin(rot_angle) * (sx - cx) \
                    + math.cos(rot_angle) * (sy - cy) + ncy
                poly.append([dx, dy])
            dst_polys.append(poly)
        text_polys = np.array(dst_polys, dtype=np.float32)
        h, w = nh, nw
        out["rot_cnt"] = rand_degree_cnt
    text_polys, text_tags = east_validate_polys(text_polys, text_tags,
                                                h, w)
    if text_polys.shape[0] == 0:
        out["status"] = "none_validated"
        return out
    rd_scale = rng.choice(np.array(EAST_PROC_SCALES))
    out["rd_scale"] = float(rd_scale)
    sh, sw = _cv_round(h * rd_scale), _cv_round(w * rd_scale)
    text_polys *= rd_scale
    # crop_area's EAST arguments (:288-358): 50 tries, min sides 0.1 x
    crop_args = dict(max_tries=50, min_w=EAST_PROC_MIN_CROP_RATIO * sw,
                     min_h=EAST_PROC_MIN_CROP_RATIO * sh)
    if rng.rand() < background_ratio:
        ch, cw, polys2, _, rect = padded_crop_area(
            rng, sh, sw, text_polys, (text_tags,), crop_background=True,
            **crop_args)
        out["crop"] = rect
        if len(polys2) > 0:
            out["status"] = "none_bg_text"
            return out
        nh2, nw2, _ = east_preprocess_dims(ch, cw, input_size)
        out.update(status="bg", new_h=nh2, new_w=nw2,
                   score_px=0, mask_px=(input_size // 4 +
                                        (input_size % 4 > 0)) ** 2
                   if input_size % 4 else (input_size // 4) ** 2,
                   geo_sums=[0.0] * 9)
        return out
    ch, cw, polys2, (tags2,), rect = padded_crop_area(
        rng, sh, sw, text_polys, (text_tags,), crop_background=False,
        **crop_args)
    out["crop"] = rect
    if polys2.shape[0] == 0:
        out["status"] = "none_no_polys"
        return out
    if np.sum((tags2 * 1.0)) >= tags2.size:
        out["status"] = "none_all_ignored"
        return out
    nh2, nw2, ratio = east_preprocess_dims(ch, cw, input_size)
    polys2[:, :, 0] *= ratio
    polys2[:, :, 1] *= ratio
    # crop_foreground_infor unpacks ``_, _, new_h, new_w = im.shape``
    # from the PADDED (1, 3, input_size, input_size) tensor (:386-389),
    # so the target canvas is always input_size^2 — not the resize dims
    score_map, geo_map, training_mask = east_generate_quad(
        (input_size, input_size), polys2, tags2)
    score_sub = score_map[::4, ::4]
    mask_sub = training_mask[::4, ::4]
    geo_sub = geo_map[::4, ::4, :]
    out.update(
        status="ok", n_out=int(polys2.shape[0]), new_h=nh2, new_w=nw2,
        score_px=int(score_sub.sum()), mask_px=int(mask_sub.sum()),
        geo_sums=[float(np.sum(geo_sub[:, :, c], dtype=np.float64))
                  for c in range(9)])
    return out
