"""R6 seeded-replay transcription of the recognizer train-time AUGMENT
chain — the half of ``ppocr/data/imaug/rec_img_aug.py`` earlier rounds
scoped enumerate-only ("RNG walks live inside third-party pixel libs").
That reason was half wrong: the tia warp family
(``text_image_aug/augment.py`` + ``warp_mls.py``) is PURE NUMPY in the
reference and the BDA jitters are stdlib-``random`` + ``np.random`` with
only two cv2 touchpoints.  So everything here runs under the same seeded
contract as :mod:`paddleocr_spark.augments` (copy_paste/east_crop): the
reference drives the GLOBAL ``random`` + ``np.random`` streams, and this
transcription threads an explicit ``random.Random(seed)`` +
``np.random.RandomState(seed)`` pair whose draws replay those globals
after ``random.seed(seed); np.random.seed(seed)``.  The operator becomes
a pure function of (image, seed) — shardable and replayable, which is
what a 10^12-document train-data pipeline needs from augmentation.

Exec-ref differentials (tests/test_recaug.py):

* tia_distort / tia_stretch / tia_perspective + WarpMLS — GENUINE
  end-to-end: the reference modules import nothing but numpy, so the
  test executes them verbatim against seeded globals.
* RecAug / BaseDataAugmentation — the composition, RNG
  gating, crop/jitter/noise/reverse arithmetic are genuine; the only
  shim-circular spots are the two cv2 primitives (the 5-tap Gaussian
  separable filter and the uint8 HSV round-trip), re-derived below from
  OpenCV's public fixed-point semantics.

Reference: hoonisone/PaddleOCR
  RecAug                     ppocr/data/imaug/rec_img_aug.py:26-54
  BaseDataAugmentation       rec_img_aug.py:57-121
  helpers flag/hsv_aug/jitter/add_gasuss_noise/get_crop
                             rec_img_aug.py:724-797
  tia_distort/stretch/persp  ppocr/data/imaug/text_image_aug/augment.py
  WarpMLS                    ppocr/data/imaug/text_image_aug/warp_mls.py
"""
from __future__ import annotations

import random as _random

import numpy as np

__all__ = [
    "gaussian_kernel_1d", "sep_gauss5_blur", "bgr2hsv_u8", "hsv2bgr_u8",
    "warp_mls", "tia_distort", "tia_stretch", "tia_perspective",
    "bda_image", "rec_aug_image", "rec_aug_for_ref", "REC_AUG_VARIANTS",
]

_GRID = 100                     # WarpMLS.grid_size (warp_mls.py:31)


# ---------------------------------------------------------------------------
# cv2 primitive analogs (the two shim-circular spots, public semantics)
# ---------------------------------------------------------------------------

def gaussian_kernel_1d(ksize: int, sigma: float) -> np.ndarray:
    """``cv2.getGaussianKernel(ksize, sigma, CV_32F)`` analog for
    sigma > 0: coefficients ``exp(-x^2 / (2 sigma^2))`` at
    ``x = i - (ksize-1)/2``, each cast to float32 BEFORE the float32
    values are summed in double and normalized (OpenCV's exact order:
    per-coefficient float cast, double accumulation, double-scaled
    float32 store)."""
    half = (ksize - 1) * 0.5
    cf = np.array([np.float32(np.exp(-0.5 * (i - half) ** 2 / sigma ** 2))
                   for i in range(ksize)], dtype=np.float32)
    scale = 1.0 / float(np.sum(cf.astype(np.float64)))
    return (cf.astype(np.float64) * scale).astype(np.float32)


_GAUSS5 = gaussian_kernel_1d(5, 1.0)


def _reflect101_pad(n: int, pad: int) -> np.ndarray:
    """Index vector realizing BORDER_REFLECT_101 (gfedcb|abcdefgh|gfedcb)
    for a length-n axis padded by ``pad`` on both sides; the modular
    fold handles pad > n-1 (cv2.borderInterpolate's wrap walk), and a
    single-pixel axis maps everything to 0 as cv2 does."""
    idx = np.arange(-pad, n + pad)
    if n == 1:
        return np.zeros_like(idx)
    m = 2 * (n - 1)
    idx = np.abs(idx) % m
    return np.where(idx > n - 1, m - idx, idx)


def sep_gauss5_blur(img: np.ndarray) -> np.ndarray:
    """``cv2.sepFilter2D(img, -1, fil, fil)`` with the ksize-5 sigma-1
    Gaussian (BaseDataAugmentation.__init__/__call__,
    rec_img_aug.py:74/87): separable symmetric 5-tap filter, border
    REFLECT_101, float32 accumulation in OpenCV's symmetric-small-kernel
    order (centre product, then the exact-integer tap-pair sums folded
    in left-associatively), final ``saturate_cast<uchar>(cvRound(.))``
    = rint / clip."""
    f0, f1, f2 = (np.float32(_GAUSS5[0]), np.float32(_GAUSS5[1]),
                  np.float32(_GAUSS5[2]))
    h, w = img.shape[:2]
    src = img.astype(np.int32)
    if src.ndim == 2:
        src = src[:, :, None]

    ci = _reflect101_pad(w, 2)
    p = src[:, ci, :]                               # (h, w+4, c) int32
    rows = (f2 * p[:, 2:-2].astype(np.float32)
            + f1 * (p[:, 1:-3] + p[:, 3:-1]).astype(np.float32)
            + f0 * (p[:, :-4] + p[:, 4:]).astype(np.float32))

    ri = _reflect101_pad(h, 2)
    q = rows[ri, :, :]                              # (h+4, w, c) float32
    out = (f2 * q[2:-2]
           + f1 * (q[1:-3] + q[3:-1])
           + f0 * (q[:-4] + q[4:]))
    out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out if img.ndim == 3 else out[:, :, 0]


_HSV_SHIFT = 12
_I = np.arange(1, 256, dtype=np.float64)
_SDIV = np.zeros(256, np.int64)
_SDIV[1:] = np.rint((255 << _HSV_SHIFT) / _I).astype(np.int64)
_HDIV180 = np.zeros(256, np.int64)
_HDIV180[1:] = np.rint((180 << _HSV_SHIFT) / (6.0 * _I)).astype(np.int64)


def bgr2hsv_u8(img: np.ndarray) -> np.ndarray:
    """``cv2.cvtColor(img, COLOR_BGR2HSV)`` uint8 analog — OpenCV's
    fixed-point table algorithm (hsv_shift=12, cvRound-built sdiv/hdiv
    tables, arithmetic >> on the possibly-negative hue numerator,
    +180 wrap)."""
    b = img[..., 0].astype(np.int64)
    g = img[..., 1].astype(np.int64)
    r = img[..., 2].astype(np.int64)
    v = np.maximum(np.maximum(b, g), r)
    vmin = np.minimum(np.minimum(b, g), r)
    diff = v - vmin
    half = 1 << (_HSV_SHIFT - 1)
    s = (diff * _SDIV[v] + half) >> _HSV_SHIFT
    hnum = np.where(v == r, g - b,
                    np.where(v == g, b - r + 2 * diff, r - g + 4 * diff))
    hval = (hnum * _HDIV180[diff] + half) >> _HSV_SHIFT
    hval = np.where(hval < 0, hval + 180, hval)
    return np.stack([hval, s, v], axis=-1).astype(np.uint8)


_SECTOR = np.array([[1, 3, 0], [1, 0, 2], [3, 0, 1],
                    [0, 2, 1], [0, 1, 3], [2, 1, 0]], np.int64)
_HSCALE = np.float32(6.0) / np.float32(180.0)
_INV255 = np.float32(1.0) / np.float32(255.0)


def hsv2bgr_u8(hsv: np.ndarray) -> np.ndarray:
    """``cv2.cvtColor(hsv, COLOR_HSV2BGR)`` uint8 analog — OpenCV's
    float path: h as float32 * (6/180), s,v * (1/255), sector table
    {v, v(1-s), v(1-sh), v(1-s(1-h))}, output
    ``saturate_cast<uchar>(cvRound(x * 255.f))``; all float32."""
    h = hsv[..., 0].astype(np.float32) * _HSCALE
    s = hsv[..., 1].astype(np.float32) * _INV255
    v = hsv[..., 2].astype(np.float32) * _INV255
    sector = np.floor(h).astype(np.int64)
    frac = (h - sector.astype(np.float32)).astype(np.float32)
    sector = np.clip(sector, 0, 5)                 # h<6 by construction
    one = np.float32(1.0)
    tab = np.stack([v, v * (one - s), v * (one - s * frac),
                    v * (one - s * (one - frac))], axis=-1)  # (...,4)
    idx = _SECTOR[sector]                           # (..., 3) b,g,r
    bgr = np.take_along_axis(tab, idx, axis=-1)     # float32
    gray = s == 0
    if gray.any():
        bgr = np.where(gray[..., None], v[..., None], bgr)
    out = np.clip(np.rint(bgr * np.float32(255.0)), 0, 255)
    return out.astype(np.uint8)


# ---------------------------------------------------------------------------
# WarpMLS (warp_mls.py:23-168) — moving-least-squares rigid warp
# ---------------------------------------------------------------------------

def _mls_node(i: int, j: int, src_pts, dst_pts, pt_count: int):
    """Displacement (dx, dy) at one grid node — the reference's exact
    per-node walk (warp_mls.py:66-139) INCLUDING its dtype flow (float32
    weight vector, float32 accumulators that widen to float64 on the
    first list-scalar add) and its two pinned quirks: an anchor hit at
    the LAST control point still takes the MLS branch with that point
    missing from every sum, and the non-last anchor branch snaps to the
    matched SOURCE point."""
    w = np.zeros(pt_count, dtype=np.float32)
    sw = 0
    swp = np.zeros(2, dtype=np.float32)
    swq = np.zeros(2, dtype=np.float32)
    new_pt = np.zeros(2, dtype=np.float32)
    cur_pt = np.array([i, j], dtype=np.float32)

    k = 0
    for k in range(pt_count):
        if i == dst_pts[k][0] and j == dst_pts[k][1]:
            break
        w[k] = 1. / ((i - dst_pts[k][0]) * (i - dst_pts[k][0])
                     + (j - dst_pts[k][1]) * (j - dst_pts[k][1]))
        sw += w[k]
        swp = swp + w[k] * np.array(dst_pts[k])
        swq = swq + w[k] * np.array(src_pts[k])

    if k != pt_count - 1:
        new_pt = src_pts[k]
        return new_pt[0] - i, new_pt[1] - j

    pstar = 1 / sw * swp
    qstar = 1 / sw * swq

    miu_s = 0
    for k in range(pt_count):
        if i == dst_pts[k][0] and j == dst_pts[k][1]:
            continue
        pt_i = dst_pts[k] - pstar
        miu_s += w[k] * np.sum(pt_i * pt_i)

    cur_pt -= pstar
    cur_pt_j = np.array([-cur_pt[1], cur_pt[0]])

    for k in range(pt_count):
        if i == dst_pts[k][0] and j == dst_pts[k][1]:
            continue
        pt_i = dst_pts[k] - pstar
        pt_j = np.array([-pt_i[1], pt_i[0]])
        tmp_pt = np.zeros(2, dtype=np.float32)
        tmp_pt[0] = (np.sum(pt_i * cur_pt) * src_pts[k][0]
                     - np.sum(pt_j * cur_pt) * src_pts[k][1])
        tmp_pt[1] = (-np.sum(pt_i * cur_pt_j) * src_pts[k][0]
                     + np.sum(pt_j * cur_pt_j) * src_pts[k][1])
        tmp_pt *= (w[k] / miu_s)
        new_pt += tmp_pt
    new_pt += qstar
    return new_pt[0] - i, new_pt[1] - j


def _grid_axis(n: int) -> list:
    """Node coordinates the reference's stepped while-loop visits along
    one axis (warp_mls.py:73-84): every multiple of grid_size below n,
    plus n-1 when the last multiple isn't already it (the loop's
    clamp-to-edge jump)."""
    ticks = list(range(0, n, _GRID))
    if ticks[-1] != n - 1:
        ticks.append(n - 1)
    return ticks


def _bilerp(x, y, v11, v12, v21, v22):
    return ((v11 * (1 - y) + v12 * y) * (1 - x)
            + (v21 * (1 - y) + v22 * y) * x)


def warp_mls(src: np.ndarray, src_pts, dst_pts, dst_w: int, dst_h: int,
             trans_ratio: float = 1.) -> np.ndarray:
    """``WarpMLS(src, src_pts, dst_pts, dst_w, dst_h).generate()``:
    rigid MLS displacements computed at sparse grid nodes (every 100 px
    + the far edges), bilinearly expanded per 100x100 block, applied as
    a backward map with bilinear pixel sampling (floor/ceil taps,
    clip-to-border), float32 canvas, truncating uint8 store."""
    pt_count = len(dst_pts)
    rdx = np.zeros((dst_h, dst_w))
    rdy = np.zeros((dst_h, dst_w))
    if pt_count >= 2:
        for i in _grid_axis(dst_w):
            for j in _grid_axis(dst_h):
                dx, dy = _mls_node(i, j, src_pts, dst_pts, pt_count)
                rdx[j, i] = dx
                rdy[j, i] = dy

    src_h, src_w = src.shape[:2]
    dst = np.zeros_like(src, dtype=np.float32)
    for i in np.arange(0, dst_h, _GRID):
        for j in np.arange(0, dst_w, _GRID):
            ni = i + _GRID
            nj = j + _GRID
            w = h = _GRID
            if ni >= dst_h:
                ni = dst_h - 1
                h = ni - i + 1
            if nj >= dst_w:
                nj = dst_w - 1
                w = nj - j + 1
            di = np.reshape(np.arange(h), (-1, 1))
            dj = np.reshape(np.arange(w), (1, -1))
            delta_x = _bilerp(di / h, dj / w, rdx[i, j], rdx[i, nj],
                              rdx[ni, j], rdx[ni, nj])
            delta_y = _bilerp(di / h, dj / w, rdy[i, j], rdy[i, nj],
                              rdy[ni, j], rdy[ni, nj])
            nx = np.clip(j + dj + delta_x * trans_ratio, 0, src_w - 1)
            ny = np.clip(i + di + delta_y * trans_ratio, 0, src_h - 1)
            nxi = np.array(np.floor(nx), dtype=np.int32)
            nyi = np.array(np.floor(ny), dtype=np.int32)
            nxi1 = np.array(np.ceil(nx), dtype=np.int32)
            nyi1 = np.array(np.ceil(ny), dtype=np.int32)

            if len(src.shape) == 3:
                x = np.tile(np.expand_dims(ny - nyi, axis=-1), (1, 1, 3))
                y = np.tile(np.expand_dims(nx - nxi, axis=-1), (1, 1, 3))
            else:
                x = ny - nyi
                y = nx - nxi
            dst[i:i + h, j:j + w] = _bilerp(
                x, y, src[nyi, nxi], src[nyi, nxi1],
                src[nyi1, nxi], src[nyi1, nxi1])

    return np.array(np.clip(dst, 0, 255), dtype=np.uint8)


# ---------------------------------------------------------------------------
# tia warps (augment.py:23-119) — rng is an np.random.RandomState that
# replays the reference's GLOBAL np.random draws, in draw order
# ---------------------------------------------------------------------------

def tia_distort(rng, src: np.ndarray, segment: int = 4) -> np.ndarray:
    img_h, img_w = src.shape[:2]
    cut = img_w // segment
    thresh = cut // 3
    src_pts = [[0, 0], [img_w, 0], [img_w, img_h], [0, img_h]]
    dst_pts = [
        [rng.randint(thresh), rng.randint(thresh)],
        [img_w - rng.randint(thresh), rng.randint(thresh)],
        [img_w - rng.randint(thresh), img_h - rng.randint(thresh)],
        [rng.randint(thresh), img_h - rng.randint(thresh)],
    ]
    half_thresh = thresh * 0.5
    for cut_idx in np.arange(1, segment, 1):
        src_pts.append([cut * cut_idx, 0])
        src_pts.append([cut * cut_idx, img_h])
        dst_pts.append([cut * cut_idx + rng.randint(thresh) - half_thresh,
                        rng.randint(thresh) - half_thresh])
        dst_pts.append([cut * cut_idx + rng.randint(thresh) - half_thresh,
                        img_h + rng.randint(thresh) - half_thresh])
    return warp_mls(src, src_pts, dst_pts, img_w, img_h)


def tia_stretch(rng, src: np.ndarray, segment: int = 4) -> np.ndarray:
    img_h, img_w = src.shape[:2]
    cut = img_w // segment
    thresh = cut * 4 // 5
    corners = [[0, 0], [img_w, 0], [img_w, img_h], [0, img_h]]
    src_pts = list(corners)
    dst_pts = [list(p) for p in corners]
    half_thresh = thresh * 0.5
    for cut_idx in np.arange(1, segment, 1):
        move = rng.randint(thresh) - half_thresh
        src_pts.append([cut * cut_idx, 0])
        src_pts.append([cut * cut_idx, img_h])
        dst_pts.append([cut * cut_idx + move, 0])
        dst_pts.append([cut * cut_idx + move, img_h])
    return warp_mls(src, src_pts, dst_pts, img_w, img_h)


def tia_perspective(rng, src: np.ndarray) -> np.ndarray:
    img_h, img_w = src.shape[:2]
    thresh = img_h // 2
    src_pts = [[0, 0], [img_w, 0], [img_w, img_h], [0, img_h]]
    dst_pts = [
        [0, rng.randint(thresh)],
        [img_w, rng.randint(thresh)],
        [img_w, img_h - rng.randint(thresh)],
        [0, img_h - rng.randint(thresh)],
    ]
    return warp_mls(src, src_pts, dst_pts, img_w, img_h)


# ---------------------------------------------------------------------------
# BaseDataAugmentation jitters (rec_img_aug.py:57-121, helpers :724-797)
# rng_py replays the global stdlib ``random``; rng_np the global np.random
# ---------------------------------------------------------------------------

def _bda_crop(rng_py, image: np.ndarray) -> np.ndarray:
    """get_crop (rec_img_aug.py:781-796): 1-8 rows shaved off the top or
    bottom (coin flip), clamped to h-1."""
    h = image.shape[0]
    top_crop = int(rng_py.randint(1, 8))
    top_crop = min(top_crop, h - 1)
    crop_img = image.copy()
    if rng_py.randint(0, 1):
        return crop_img[top_crop:h, :, :]
    return crop_img[0:h - top_crop, :, :]


def _bda_hsv(rng_py, img: np.ndarray) -> np.ndarray:
    """hsv_aug + flag (rec_img_aug.py:724-739): V channel scaled by
    1 +- 0.001*U(0,1) — note the draw ORDER (magnitude first, then the
    sign flag's own U(0,1) with its off-centre 0.5000001 threshold) and
    the uint8 slice-store truncation."""
    hsv = bgr2hsv_u8(img)
    mag = rng_py.random()
    sign = 1 if rng_py.random() > 0.5000001 else -1
    hsv[:, :, 2] = hsv[:, :, 2] * (1 + 0.001 * mag * sign)
    return hsv2bgr_u8(hsv)


def _bda_jitter(rng_py, img: np.ndarray) -> np.ndarray:
    """jitter (rec_img_aug.py:753-766): s diagonal-shifted overlays of
    the image onto itself; the reference names rows ``w`` and columns
    ``h`` (swapped) — semantics preserved.  The shift-count uniform is
    drawn only when the >10x10 size guard passes (unlike the six
    BDA gate draws, which always happen)."""
    w, h, _ = img.shape
    if h > 10 and w > 10:
        thres = min(w, h)
        s = int(rng_py.random() * thres * 0.01)
        src_img = img.copy()
        for i in range(s):
            img[i:, i:, :] = src_img[:w - i, :h - i, :]
    return img


def _bda_noise(rng_np, image: np.ndarray) -> np.ndarray:
    """add_gasuss_noise (rec_img_aug.py:769-778): + 0.5*N(0, sqrt(0.1))
    per channel, clip, truncating uint8."""
    noise = rng_np.normal(0, 0.1 ** 0.5, image.shape)
    out = image + 0.5 * noise
    return np.uint8(np.clip(out, 0, 255))


def bda_image(rng_py, rng_np, img: np.ndarray,
              crop_prob: float = 0.4, reverse_prob: float = 0.4,
              noise_prob: float = 0.4, jitter_prob: float = 0.4,
              blur_prob: float = 0.4,
              hsv_aug_prob: float = 0.4) -> np.ndarray:
    """BaseDataAugmentation.__call__ (rec_img_aug.py:76-101): six
    independently-gated jitters in the reference's fixed order
    crop -> blur -> hsv -> jitter -> noise -> reverse.  Every gate draw
    happens whether or not the op then runs (the crop gate's size guard
    short-circuits AFTER the draw)."""
    h, w = img.shape[:2]
    if rng_py.random() <= crop_prob and h >= 20 and w >= 20:
        img = _bda_crop(rng_py, img)
    if rng_py.random() <= blur_prob:
        img = sep_gauss5_blur(img)
    if rng_py.random() <= hsv_aug_prob:
        img = _bda_hsv(rng_py, img)
    if rng_py.random() <= jitter_prob:
        img = _bda_jitter(rng_py, img)
    if rng_py.random() <= noise_prob:
        img = _bda_noise(rng_np, img)
    if rng_py.random() <= reverse_prob:
        img = 255 - img
    return img


def rec_aug_image(img: np.ndarray, seed: int, tia_prob: float = 0.4,
                  crop_prob: float = 0.4, reverse_prob: float = 0.4,
                  noise_prob: float = 0.4, jitter_prob: float = 0.4,
                  blur_prob: float = 0.4,
                  hsv_aug_prob: float = 0.4) -> np.ndarray:
    """RecAug.__call__ (rec_img_aug.py:40-54) as a pure (image, seed)
    function: one tia gate (distort+stretch only when both sides >= 20,
    perspective ALWAYS once the gate passes — quirk preserved), then the
    shared-RNG BDA chain.  Segment counts draw from the stdlib stream,
    control points from the numpy stream, exactly interleaved as the
    reference's globals would be."""
    seed32 = seed % (2 ** 32)
    rng_py = _random.Random(seed32)
    rng_np = np.random.RandomState(seed32)
    img = np.asarray(img, dtype=np.uint8).copy()
    h, w = img.shape[:2]
    if rng_py.random() <= tia_prob:
        if h >= 20 and w >= 20:
            img = tia_distort(rng_np, img, rng_py.randint(3, 6))
            img = tia_stretch(rng_np, img, rng_py.randint(3, 6))
        img = tia_perspective(rng_np, img)
    return bda_image(rng_py, rng_np, img, crop_prob, reverse_prob,
                     noise_prob, jitter_prob, blur_prob, hsv_aug_prob)


# ---------------------------------------------------------------------------
# gate-query kernel
# ---------------------------------------------------------------------------

#: per-ref variants pinned by the rec_aug gate query: the genuine-numpy
#: tia chain alone, the BDA jitter chain alone, and the full RecAug.
REC_AUG_VARIANTS = ("tia", "bda", "rec_aug")


def _blob_seed(ref: str, variant: str) -> int:
    """Deterministic per-(ref, variant) seed — crc32 keeps the RNG-gate
    mix diverse across blobs so every BDA branch is exercised at sf0.01."""
    import zlib
    return zlib.crc32(f"{ref}:{variant}".encode("utf-8"))


def rec_aug_for_ref(ref: str) -> list:
    """All three augment variants over one rendered blob; rows
    (ref, variant, seed, out_h, out_w, mean, vmin, vmax, crc) with the
    mean rounded Python-round(.,4) inside the kernel (shared rounding
    site with the fixture oracle, as in recresize.rec_resize_for_ref).

    The rendered gate blobs are 8-16 px — under RecAug's 20x20 tia guard
    and the >10x10 jitter guard — so the decoded image is tiled 4x8
    (exact, deterministic) up to 32-64 x 64-128 first: every augment
    branch is live in the gate, and the per-(ref, variant) crc32 seeds
    spread the six BDA gate coins across blobs."""
    import zlib

    from .imagecodecs import render_ref_image
    from .pixelops import imread_color

    _, buf = render_ref_image(ref)
    img = np.tile(imread_color(buf), (4, 8, 1))
    rows = []
    for variant in REC_AUG_VARIANTS:
        seed = _blob_seed(ref, variant)
        if variant == "tia":
            rng_py = _random.Random(seed % (2 ** 32))
            rng_np = np.random.RandomState(seed % (2 ** 32))
            out = tia_distort(rng_np, img.copy(), rng_py.randint(3, 6))
            out = tia_stretch(rng_np, out, rng_py.randint(3, 6))
            out = tia_perspective(rng_np, out)
        elif variant == "bda":
            rng_py = _random.Random(seed % (2 ** 32))
            rng_np = np.random.RandomState(seed % (2 ** 32))
            out = bda_image(rng_py, rng_np, img.copy())
        else:
            out = rec_aug_image(img, seed)
        rows.append((
            ref, variant, int(seed), int(out.shape[0]), int(out.shape[1]),
            round(float(out.mean(dtype=np.float64)), 4),
            int(out.min()), int(out.max()),
            int(zlib.crc32(out.tobytes()))))
    return rows
