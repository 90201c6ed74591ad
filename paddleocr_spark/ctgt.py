"""Seeded-replay transcription of ``ppocr/data/imaug/ct_process.py`` —
the CentripetalText (CT) train-side target-generation chain:
CTLabelEncode → RandomScale → MakeShrink → GroupRandomHorizontalFlip →
GroupRandomRotate → GroupRandomCropPadding → MakeCentripetalShift.

Same dual-stream contract as :mod:`paddleocr_spark.recaug` /
:mod:`paddleocr_spark.cvaug`: the reference drives global ``random`` +
``np.random``; this transcription threads ``random.Random(seed)`` +
``np.random.RandomState(seed)`` so the walk is a pure
(image, polys, words, seed) function — replayable and shardable.

Polygon-shape contract, pinned by the differential: MakeShrink's scale
step multiplies each poly by ``[sf_w, sf_h] * (shape[0] // 2)`` and
reshapes to ``(shape[0] // 2, 2)`` (ct_process.py:116-118) — this only
broadcasts for FLAT ``[x0, y0, x1, y1, ...]`` point arrays; the (N, 2)
arrays CTLabelEncode itself emits (label_ops.py:1787-1810) CRASH with a
broadcast ValueError (tests/test_ctgt.py pins both). CT's dataset
therefore stores points flat, and this module takes flat polys.

Circularity status: every RNG draw, gate, scale/shrink-offset formula,
crop-window walk, and the centripetal jaccard-argmin shift is genuinely
differentialed by executing the reference source verbatim
(tests/test_ctgt.py); this kernel restricts polys to axis-aligned
rectangles so the raster axioms the reference delegates to
cv2/pyclipper/Polygon3 are the same small re-derivations the
shrink/border-map differentials pinned (inclusive rect fill, Clipper
inset-or-empty, rect area) plus a genuine 3x3 uint8 erosion and the
NEAREST rotation warp from :mod:`paddleocr_spark.cvaug` — shim-circular
for those kernels only.

Reference: hoonisone/PaddleOCR ``ppocr/data/imaug/ct_process.py``
  RandomScale :30-57                MakeShrink :60-167
  GroupRandomHorizontalFlip :170-181  GroupRandomRotate :184-202
  GroupRandomCropPadding :205-262   MakeCentripetalShift :265-330
  ScaleAlignedShort :333-357 (eval-side resize, same align law)
  CTLabelEncode: ``ppocr/data/imaug/label_ops.py:1787-1810``
"""
from __future__ import annotations

import json
import random as _random

import numpy as np

from .kernels import fill_bboxes

__all__ = [
    "ct_label_encode", "erode3_u8", "scale_aligned", "ct_targets_doc",
    "ct_gt_rows_for_doc",
]


def ct_label_encode(label: str):
    """CTLabelEncode (label_ops.py:1787-1810): json label → (polys,
    texts), None when the box list is empty."""
    boxes_json = json.loads(label)
    boxes, txts = [], []
    for item in boxes_json:
        boxes.append(np.array(item["points"]))
        txts.append(item["transcription"])
    if len(boxes) == 0:
        return None
    return boxes, txts


def erode3_u8(img: np.ndarray) -> np.ndarray:
    """cv2.erode with the 3x3 all-ones kernel, iterations=1: minimum
    over the 8-neighbourhood + centre; cv2's default morphology border
    (BORDER_CONSTANT with +inf) means off-canvas taps never win, i.e.
    the min runs over valid pixels only."""
    h, w = img.shape
    p = np.full((h + 2, w + 2), 255, dtype=img.dtype)
    p[1:-1, 1:-1] = img
    out = p[1:-1, 1:-1].copy()
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            if dy == 1 and dx == 1:
                continue
            np.minimum(out, p[dy:dy + h, dx:dx + w], out)
    return out


def scale_aligned(img: np.ndarray, scale: float):
    """RandomScale.scale_aligned (ct_process.py:34-45): round-half-up
    scaled dims bumped UP to the next multiple of 32, INTER_LINEAR
    resize, (img, factor_h, factor_w)."""
    from .pixelops import resize_bilinear

    oh, ow = img.shape[0:2]
    h = int(oh * scale + 0.5)
    w = int(ow * scale + 0.5)
    if h % 32 != 0:
        h = h + (32 - h % 32)
    if w % 32 != 0:
        w = w + (32 - w % 32)
    img = resize_bilinear(img, h, w)
    return img, h / oh, w / ow


def _perimeter(bbox: np.ndarray) -> float:
    peri = 0.0
    for i in range(bbox.shape[0]):
        peri += float(np.linalg.norm(
            bbox[i] - bbox[(i + 1) % bbox.shape[0]], ord=2, axis=0))
    return peri


def _shrink(bboxes, rate, max_shr=20):
    """MakeShrink.shrink (ct_process.py:73-103) over axis-aligned int32
    rect polys: Polygon3 area → rect area; pyclipper JT_ROUND inward
    offset → kernels.shrink_rect (inset-or-empty); empty / degenerate
    results fall back to the ORIGINAL bbox, as the reference does."""
    from .kernels import shrink_rect

    rate = rate * rate
    out = []
    for bbox in bboxes:
        x0 = int(bbox[:, 0].min())
        y0 = int(bbox[:, 1].min())
        x1 = int(bbox[:, 0].max())
        y1 = int(bbox[:, 1].max())
        area = float((x1 - x0) * (y1 - y0))
        peri = _perimeter(bbox)
        offset = min(int(area * (1 - rate) / (peri + 0.001) + 0.5),
                     max_shr)
        r = shrink_rect(x0, y0, x1, y1, offset)
        if r is None:
            out.append(bbox)
            continue
        sx0, sy0, sx1, sy1 = r
        out.append(np.array([[sx0, sy0], [sx1, sy0], [sx1, sy1],
                             [sx0, sy1]], dtype=np.int64))
    return out


def _make_shrink(img, flat_polys, words, scale_factor, kernel_scale=0.7):
    """MakeShrink.__call__ (ct_process.py:105-167): the 7-image stack.
    ``flat_polys`` are FLAT [x, y, ...] arrays (shape-contract above);
    '###'/'???' transcriptions zero training_mask_distance and keep
    training_mask zeroed over the un-shrunk region."""
    bboxes = []
    for poly in flat_polys:
        n2 = poly.shape[0] // 2
        bboxes.append(np.reshape(
            poly * ([scale_factor[0], scale_factor[1]] * n2),
            (n2, 2)).astype("int32"))

    gt_instance = np.zeros(img.shape[0:2], dtype="uint8")
    training_mask = np.ones(img.shape[0:2], dtype="uint8")
    training_mask_distance = np.ones(img.shape[0:2], dtype="uint8")
    # cv2.drawContours(thickness=-1) on axis-aligned rects: bbox fills
    for i in range(len(bboxes)):
        fill_bboxes(gt_instance, bboxes[i], i + 1)
        fill_bboxes(training_mask, bboxes[i], 0)
        if words[i] == "###" or words[i] == "???":
            fill_bboxes(training_mask_distance, bboxes[i], 0)

    gt_kernel_instance = np.zeros(img.shape[0:2], dtype="uint8")
    kernel_bboxes = _shrink(bboxes, kernel_scale)
    for i in range(len(bboxes)):
        fill_bboxes(gt_kernel_instance, kernel_bboxes[i], i + 1)
        if words[i] != "###" and words[i] != "???":
            fill_bboxes(training_mask, kernel_bboxes[i], 1)

    gt_kernel = gt_kernel_instance.copy()
    gt_kernel[gt_kernel > 0] = 1

    tmp1 = erode3_u8(gt_kernel_instance)
    tmp2 = erode3_u8(tmp1)
    gt_kernel_inner = tmp1 - tmp2

    return [img, gt_instance, training_mask, gt_kernel_instance,
            gt_kernel, gt_kernel_inner, training_mask_distance]


def _group_rotate(rng_py, imgs):
    """GroupRandomRotate (ct_process.py:184-202): one shared U(-10, 10)
    angle; NEAREST warp, constant-0 border.  The reference's
    ``w, h = img.shape[:2]`` naming is swapped, but center=(h/2, w/2)
    and dsize=(h, w) land back on (cols/2, rows/2) / (cols, rows) —
    i.e. it is CORRECT cv2 usage under misleading names; transcribed
    with honest names."""
    from .cvaug import INTER_NEAREST, get_rotation_matrix_2d, warp_affine

    max_angle = 10
    angle = rng_py.random() * 2 * max_angle - max_angle
    out = []
    for img in imgs:
        rows, cols = img.shape[:2]
        m = get_rotation_matrix_2d((cols / 2, rows / 2), angle, 1)
        out.append(warp_affine(img, m, (cols, rows), INTER_NEAREST,
                               border_replicate=False))
    return out


def _group_crop_padding(rng_py, imgs, target_size=(640, 640)):
    """GroupRandomCropPadding (ct_process.py:205-262): 5/8-biased crop
    anchored near the text region, constant-0 bottom/right pad back to
    target.  All draws stdlib; np.where walks are pure numpy."""
    h, w = imgs[0].shape[0:2]
    t_w, t_h = target_size
    p_w, p_h = target_size
    if w == t_w and h == t_h:
        return imgs

    t_h = t_h if t_h < h else h
    t_w = t_w if t_w < w else w

    if rng_py.random() > 3.0 / 8.0 and np.max(imgs[1]) > 0:
        tl = np.min(np.where(imgs[1] > 0), axis=1) - (t_h, t_w)
        tl[tl < 0] = 0
        br = np.max(np.where(imgs[1] > 0), axis=1) - (t_h, t_w)
        br[br < 0] = 0
        br[0] = min(br[0], h - t_h)
        br[1] = min(br[1], w - t_w)
        i = rng_py.randint(tl[0], br[0]) if tl[0] < br[0] else 0
        j = rng_py.randint(tl[1], br[1]) if tl[1] < br[1] else 0
    else:
        i = rng_py.randint(0, h - t_h) if h - t_h > 0 else 0
        j = rng_py.randint(0, w - t_w) if w - t_w > 0 else 0

    n_imgs = []
    for idx in range(len(imgs)):
        if len(imgs[idx].shape) == 3:
            img = imgs[idx][i:i + t_h, j:j + t_w, :]
            img_p = np.pad(img, ((0, p_h - t_h), (0, p_w - t_w), (0, 0)),
                           mode="constant")
        else:
            img = imgs[idx][i:i + t_h, j:j + t_w]
            img_p = np.pad(img, ((0, p_h - t_h), (0, p_w - t_w)),
                           mode="constant")
        n_imgs.append(img_p)
    return n_imgs


def _jaccard_argmin(As, Bs):
    """MakeCentripetalShift.jaccard (ct_process.py:269-281): nearest
    kernel-reference pixel per region pixel (argmin of the pairwise
    L2 table — kept as the reference's dense walk; the kernel bounds
    it by running per-document on the cropped target canvas)."""
    dis = np.sqrt(np.sum(
        (As[:, np.newaxis, :].repeat(Bs.shape[0], axis=1)
         - Bs[np.newaxis, :, :].repeat(As.shape[0], axis=0)) ** 2,
        axis=-1))
    return np.argmin(dis, axis=-1)


def _make_centripetal_shift(imgs):
    """MakeCentripetalShift.__call__ (ct_process.py:283-330).  The
    reference converts img to a PIL RGB Image for the downstream
    ColorJitter; this kernel keeps the numpy array (the pixel values
    are identical — the conversion is a container change)."""
    (img, gt_instance, training_mask, gt_kernel_instance, gt_kernel,
     gt_kernel_inner, training_mask_distance) = imgs

    max_instance = np.max(gt_instance)
    gt_distance = np.zeros((2, *img.shape[0:2]), dtype=np.float32)
    for i in range(1, max_instance + 1):
        ind = gt_kernel_inner == i
        if np.sum(ind) == 0:
            training_mask[gt_instance == i] = 0
            training_mask_distance[gt_instance == i] = 0
            continue
        kpoints = np.array(np.where(ind)).transpose(
            (1, 0))[:, ::-1].astype("float32")

        ind = (gt_instance == i) * (gt_kernel_instance == 0)
        if np.sum(ind) == 0:
            continue
        pixels = np.where(ind)
        points = np.array(pixels).transpose(
            (1, 0))[:, ::-1].astype("float32")

        bbox_ind = _jaccard_argmin(points, kpoints)
        offset_gt = kpoints[bbox_ind] - points
        gt_distance[:, pixels[0], pixels[1]] = offset_gt.T * 0.1

    return {
        "image": img,
        "gt_kernel": gt_kernel.astype("int64"),
        "training_mask": training_mask.astype("int64"),
        "gt_instance": gt_instance.astype("int64"),
        "gt_kernel_instance": gt_kernel_instance.astype("int64"),
        "training_mask_distance": training_mask_distance.astype("int64"),
        "gt_distance": gt_distance.astype("float32"),
    }


def ct_targets_doc(img: np.ndarray, flat_polys, words, seed: int,
                   short_size: int = 64,
                   target_size=(64, 64)) -> dict:
    """The full CT train chain as a pure (image, polys, words, seed)
    function: RandomScale(short_size) → MakeShrink →
    GroupRandomHorizontalFlip → GroupRandomRotate →
    GroupRandomCropPadding(target_size) → MakeCentripetalShift,
    replaying the reference's global RNG streams in chain order.
    ``flat_polys``: list of FLAT float arrays [x0, y0, x1, y1, ...]
    (shape contract in the module header); this kernel requires them to
    describe axis-aligned rectangles (raster-axiom restriction)."""
    seed32 = seed % (2 ** 32)
    rng_py = _random.Random(seed32)
    rng_np = np.random.RandomState(seed32)
    img = np.asarray(img, np.uint8)

    # RandomScale (ct_process.py:47-57)
    h, w = img.shape[0:2]
    random_scale = np.array([0.7, 0.8, 0.9, 1.0, 1.1, 1.2, 1.3])
    scale = (rng_np.choice(random_scale) * short_size) / min(h, w)
    img, factor_h, factor_w = scale_aligned(img, scale)
    scale_factor = (factor_w, factor_h)

    imgs = _make_shrink(img, flat_polys, words, scale_factor)

    # GroupRandomHorizontalFlip (ct_process.py:170-181)
    if rng_py.random() < 0.5:
        imgs = [np.flip(m, axis=1).copy() for m in imgs]

    imgs = _group_rotate(rng_py, imgs)
    imgs = _group_crop_padding(rng_py, imgs, target_size)
    return _make_centripetal_shift(imgs)


def ct_gt_rows_for_doc(doc_id: str, rects: np.ndarray, ignored,
                       canvas_h: int, canvas_w: int) -> tuple:
    """Gate-query kernel: synthesize the CT label json from span rects
    (ignored spans get the '###' transcription MakeShrink keys on),
    parse it through ct_label_encode — so the encoder runs in the gate
    — flatten, run ct_targets_doc seeded by crc32(doc_id), and emit one
    row of map statistics: pixel sums of the five integer maps, kernel
    pixel count, and the float64-exact channel sums + crc of the
    centripetal shift field."""
    import zlib

    label = json.dumps([
        {"points": [float(x0), float(y0), float(x1), float(y0),
                    float(x1), float(y1), float(x0), float(y1)],
         "transcription": "###" if bool(ig) else f"w{k}"}
        for k, ((x0, y0, x1, y1), ig) in enumerate(zip(rects, ignored))])
    enc = ct_label_encode(label)
    if enc is None:
        return (doc_id, 0, 0, 0, 0, 0, 0, 0.0, 0.0, 0)
    polys, words = enc

    ys, xs = np.mgrid[0:canvas_h, 0:canvas_w]
    seed = zlib.crc32(doc_id.encode("utf-8"))
    img = ((xs * 7 + ys * 13 + seed) % 256).astype(np.uint8)
    img = np.stack([img, (img * 3 + 29) % 256, (img * 5 + 71) % 256],
                   axis=-1).astype(np.uint8)

    out = ct_targets_doc(img, polys, words, seed)
    gd = out["gt_distance"].astype(np.float64)
    return (
        doc_id,
        int(out["gt_instance"].sum()),
        int(out["training_mask"].sum()),
        int(out["gt_kernel_instance"].sum()),
        int(out["gt_kernel"].sum()),
        int(out["training_mask_distance"].sum()),
        int((np.abs(out["gt_distance"]).sum(axis=0) > 0).sum()),
        float(gd[0].sum()), float(gd[1].sum()),
        int(zlib.crc32(np.ascontiguousarray(out["image"]).tobytes())),
    )
