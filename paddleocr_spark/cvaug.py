"""Seeded-replay transcription of ``ppocr/data/imaug/abinet_aug.py`` —
the CVGeometry / CVDeterioration random-warp stack behind ABINetRecAug
and SVTRRecAug (the last enum rows of the R6 augment family besides the
paddle/PIL ColorJitter pixel math).

Same dual-stream contract as :mod:`paddleocr_spark.recaug`: the
reference drives global ``random`` + ``np.random``; this transcription
threads ``random.Random(seed)`` + ``np.random.RandomState(seed)``.
IMPORTANT reference shape preserved here: much of the stack's RNG fires
at *construction* time (CVGeometry picks its transform type, the
deterioration members draw their variance/degree/factor, CVDeterioration
shuffles its pipeline), so one (image, seed) call replays EVERY member's
``__init__`` draws first (the Compose construction), then every
``__call__`` draw — exactly the global stream of constructing
``ABINetRecAug()`` / ``SVTRRecAug()`` fresh and applying it once, which
is what the exec-ref differential executes verbatim.

Circularity status: every RNG walk, gate, matrix build, and the affine/
perspective/crop bookkeeping is genuinely differentialed by executing
the reference source (tests/test_cvaug.py); the raster primitives the
reference delegates to cv2 (warpAffine/warpPerspective/resize/pyrDown/
filter2D/minAreaRect) are re-derived below from OpenCV's public
semantics and shimmed into the exec — circular for those kernels, the
same documented trade the CT/SAST/rotate-crop differentials made.
Deviations from bit-exact OpenCV, recorded: cv2's warp samplers quantize
interpolation coefficients to a 1/32 fixed-point grid (INTER_BITS=5) —
ours stay float64; INTER_AREA upscale uses cv2's corner-aligned bilinear
taps.  paddle.vision's ColorJitter pixel math is NOT transcribed
(external PIL-style enhance ops); CVColorJitter's gate draw is replayed
and the member is stubbed to identity on BOTH sides of the differential.

Reference: hoonisone/PaddleOCR ``ppocr/data/imaug/abinet_aug.py``
  sample_asym/sym/uniform :27-36     get_interpolation :39-57
  CVRandomRotation :60-87            CVRandomAffine    :90-228
  CVRandomPerspective :231-271       CVRescale         :274-301
  CVGaussianNoise :304-318           CVMotionBlur      :320-341
  CVGeometry :343-365                CVDeterioration   :368-388
  CVColorJitter :391-406             SVTRDeterioration :410-428
  SVTRGeometry :431-459
  ABINetRecAug / SVTRRecAug wrappers: rec_img_aug.py:102-130, 223-253
"""
from __future__ import annotations

import math
import random as _random

import numpy as np

__all__ = [
    "INTER_NEAREST", "INTER_LINEAR", "INTER_CUBIC", "INTER_AREA",
    "get_rotation_matrix_2d", "warp_affine", "warp_perspective_interp",
    "resize_interp", "pyr_down", "filter2d_reflect101",
    "svtr_geometry", "abinet_rec_aug_image", "svtr_rec_aug_image",
    "cvaug_for_ref", "CVAUG_VARIANTS",
]

INTER_NEAREST = 0
INTER_LINEAR = 1
INTER_CUBIC = 2
INTER_AREA = 3


# ---------------------------------------------------------------------------
# raster primitives (public cv2 semantics; shim-circular in the exec-ref)
# ---------------------------------------------------------------------------

def get_rotation_matrix_2d(center, angle: float, scale: float) -> np.ndarray:
    """cv2.getRotationMatrix2D: alpha/beta closed form (docs formula)."""
    a = math.radians(angle)
    alpha = scale * math.cos(a)
    beta = scale * math.sin(a)
    cx, cy = center
    return np.array([
        [alpha, beta, (1 - alpha) * cx - beta * cy],
        [-beta, alpha, beta * cx + (1 - alpha) * cy]], dtype=np.float64)


def _invert_affine(m: np.ndarray):
    """cv2.invertAffineTransform: exact 2x2 adjugate over doubles."""
    a, b, c = (float(v) for v in m[0])
    d, e, f = (float(v) for v in m[1])
    det = a * e - b * d
    if det == 0.0:
        raise np.linalg.LinAlgError("singular affine matrix")
    ia, ib = e / det, -b / det
    id_, ie = -d / det, a / det
    return ia, ib, -(ia * c + ib * f), id_, ie, -(id_ * c + ie * f)


def _sample_map(img: np.ndarray, sx: np.ndarray, sy: np.ndarray,
                flags: int, border_replicate: bool) -> np.ndarray:
    """Backward-map sampler shared by the affine/perspective warps:
    NEAREST = round-half-up of the source coordinate, LINEAR = 2x2 taps,
    CUBIC = Keys a=-0.75 4x4 taps (AREA falls back to LINEAR inside
    cv2's warps — same here).  border REPLICATE clamps taps; CONSTANT
    zeroes any tap whose coordinate leaves the source (cv2's
    BORDER_CONSTANT with the default 0 scalar).  uint8 saturates via
    cvRound; float dtypes stay float."""
    h, w = img.shape[:2]
    p = img.astype(np.float64)
    squeeze = p.ndim == 2
    if squeeze:
        p = p[:, :, None]
    if flags == INTER_AREA:
        flags = INTER_LINEAR

    def tap(yy, xx):
        if border_replicate:
            return p[np.clip(yy, 0, h - 1), np.clip(xx, 0, w - 1)]
        inside = (yy >= 0) & (yy < h) & (xx >= 0) & (xx < w)
        vals = p[np.clip(yy, 0, h - 1), np.clip(xx, 0, w - 1)]
        return vals * inside[..., None]

    if flags == INTER_NEAREST:
        acc = tap(np.floor(sy + 0.5).astype(np.int64),
                  np.floor(sx + 0.5).astype(np.int64))
    elif flags == INTER_LINEAR:
        x0 = np.floor(sx).astype(np.int64)
        y0 = np.floor(sy).astype(np.int64)
        tx = (sx - x0)[..., None]
        ty = (sy - y0)[..., None]
        acc = ((tap(y0, x0) * (1 - tx) + tap(y0, x0 + 1) * tx) * (1 - ty)
               + (tap(y0 + 1, x0) * (1 - tx)
                  + tap(y0 + 1, x0 + 1) * tx) * ty)
    else:                                   # INTER_CUBIC
        from .pixelops import _cubic_weights
        x0 = np.floor(sx).astype(np.int64)
        y0 = np.floor(sy).astype(np.int64)
        wx = _cubic_weights(sx - x0)
        wy = _cubic_weights(sy - y0)
        acc = np.zeros(sx.shape + (p.shape[2],), dtype=np.float64)
        for dy in range(-1, 3):
            row_w = wy[..., dy + 1][..., None]
            for dx in range(-1, 3):
                acc += row_w * wx[..., dx + 1][..., None] \
                    * tap(y0 + dy, x0 + dx)

    if img.dtype == np.uint8:
        out = np.clip(np.rint(acc), 0, 255).astype(np.uint8)
    else:
        out = acc.astype(img.dtype)
    return out[..., 0] if squeeze else out


def warp_affine(img: np.ndarray, m: np.ndarray, dsize,
                flags: int = INTER_LINEAR,
                border_replicate: bool = False) -> np.ndarray:
    """cv2.warpAffine (forward matrix; inverted internally, as cv2 does
    without WARP_INVERSE_MAP)."""
    dst_w, dst_h = int(dsize[0]), int(dsize[1])
    ia, ib, ic, id_, ie, if_ = _invert_affine(np.asarray(m, np.float64))
    ys, xs = np.mgrid[0:dst_h, 0:dst_w]
    xs = xs.astype(np.float64)
    ys = ys.astype(np.float64)
    return _sample_map(img, ia * xs + ib * ys + ic,
                       id_ * xs + ie * ys + if_, flags, border_replicate)


def warp_perspective_interp(img: np.ndarray, m: np.ndarray, dsize,
                            flags: int = INTER_LINEAR,
                            border_replicate: bool = False) -> np.ndarray:
    """cv2.warpPerspective with selectable interpolation (the existing
    pixelops.warp_perspective is the CUBIC/replicate special case used
    by rotate-crop; this one serves the random-interp augment walk)."""
    dst_w, dst_h = int(dsize[0]), int(dsize[1])
    mm = np.asarray(m, dtype=np.float64)
    (a0, a1, a2), (b0, b1, b2), (c0, c1, c2) = (
        [float(v) for v in row] for row in mm)
    det = (a0 * (b1 * c2 - b2 * c1) - a1 * (b0 * c2 - b2 * c0)
           + a2 * (b0 * c1 - b1 * c0))
    if det == 0.0:
        raise np.linalg.LinAlgError("singular matrix")
    minv = [[(b1 * c2 - b2 * c1) / det, (a2 * c1 - a1 * c2) / det,
             (a1 * b2 - a2 * b1) / det],
            [(b2 * c0 - b0 * c2) / det, (a0 * c2 - a2 * c0) / det,
             (a2 * b0 - a0 * b2) / det],
            [(b0 * c1 - b1 * c0) / det, (a1 * c0 - a0 * c1) / det,
             (a0 * b1 - a1 * b0) / det]]
    ys, xs = np.mgrid[0:dst_h, 0:dst_w]
    xs = xs.astype(np.float64)
    ys = ys.astype(np.float64)
    den = minv[2][0] * xs + minv[2][1] * ys + minv[2][2]
    sx = (minv[0][0] * xs + minv[0][1] * ys + minv[0][2]) / den
    sy = (minv[1][0] * xs + minv[1][1] * ys + minv[1][2]) / den
    return _sample_map(img, sx, sy, flags, border_replicate)


def _resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """cv2 INTER_NEAREST: sx = floor(dx * scale) (corner-aligned)."""
    h, w = img.shape[:2]
    xs = np.minimum((np.arange(out_w) * (w / out_w)).astype(np.int64),
                    w - 1)
    ys = np.minimum((np.arange(out_h) * (h / out_h)).astype(np.int64),
                    h - 1)
    return img[ys][:, xs]


def _resize_area(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """cv2 INTER_AREA.  Downscale: fractional-coverage box average (the
    general resizeArea path; integer decimation reduces to the exact
    box mean).  Upscale along an axis: cv2 falls back to bilinear with
    CORNER-aligned taps (fx = dx*scale, no 0.5 centering) — implemented
    per-axis, matching cv2's separable handling."""
    h, w = img.shape[:2]
    p = img.astype(np.float64)
    squeeze = p.ndim == 2
    if squeeze:
        p = p[:, :, None]

    def axis_weights(src_n, out_n):
        scale = src_n / out_n
        mats = np.zeros((out_n, src_n), dtype=np.float64)
        if scale >= 1.0:                       # shrink: area coverage
            for d in range(out_n):
                a, b = d * scale, (d + 1) * scale
                i0, i1 = int(math.floor(a)), int(math.ceil(b))
                for i in range(i0, min(i1, src_n)):
                    cov = min(b, i + 1) - max(a, i)
                    if cov > 0:
                        mats[d, i] = cov / scale
        else:                                  # zoom: corner bilinear
            for d in range(out_n):
                fx = d * scale
                s = int(math.floor(fx))
                t = fx - s
                if s >= src_n - 1:
                    s, t = src_n - 1, 0.0
                mats[d, s] += 1 - t
                if t > 0:
                    mats[d, s + 1] += t
        return mats

    wy = axis_weights(h, out_h)
    wx = axis_weights(w, out_w)

    def contract(mat, q):
        """sum_i mat[o, i] * q[i, ...] in ascending-i order over each
        row's nonzero band (area weights are banded: a shrink row
        covers ceil(scale)+1 source rows, a zoom row 2).

        This explicit left-to-right banded accumulation IS the axiom's
        defined float semantics (it replaced an np.einsum contraction:
        einsum's internal reduction order is an unspecified numpy
        implementation detail — measured to differ from sequential by
        1 ulp on real inputs — so pinning fixtures to it would couple
        them to the numpy version; the banded order is specified by
        this code and ~10x faster). The committed cvaug fixture and
        the suite's regenerate-and-compare test pin it."""
        nz = mat != 0.0
        first = np.argmax(nz, axis=1)
        last = mat.shape[1] - 1 - np.argmax(nz[:, ::-1], axis=1)
        band = int((last - first + 1).max())
        ks = np.arange(band)[None, :]
        idx = first[:, None] + ks
        live = idx <= last[:, None]
        np.clip(idx, 0, mat.shape[1] - 1, out=idx)
        wb = np.where(live, mat[np.arange(mat.shape[0])[:, None], idx],
                      0.0)
        acc = wb[:, 0, None, None] * q[idx[:, 0]]
        for k in range(1, band):
            acc += wb[:, k, None, None] * q[idx[:, k]]
        return acc

    out = contract(wy, p)                           # (out_h, w, c)
    out = contract(wx, out.transpose(1, 0, 2)).transpose(1, 0, 2)
    if img.dtype == np.uint8:
        out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    else:
        out = out.astype(img.dtype)
    return out[..., 0] if squeeze else out


def resize_interp(img: np.ndarray, dsize, interpolation: int) -> np.ndarray:
    """cv2.resize dispatch over the four interpolation codes
    get_interpolation can draw."""
    out_w, out_h = int(dsize[0]), int(dsize[1])
    if interpolation == INTER_NEAREST:
        return _resize_nearest(img, out_h, out_w)
    if interpolation == INTER_LINEAR:
        from .pixelops import resize_bilinear
        return resize_bilinear(img, out_h, out_w)
    if interpolation == INTER_CUBIC:
        from .recresize import resize_bicubic
        return resize_bicubic(img, out_h, out_w)
    assert interpolation == INTER_AREA
    return _resize_area(img, out_h, out_w)


_PYR_K = np.array([1, 4, 6, 4, 1], dtype=np.int64)


def pyr_down(img: np.ndarray) -> np.ndarray:
    """cv2.pyrDown: 5-tap [1 4 6 4 1]/16 separable Gaussian with
    BORDER_REFLECT_101, decimation by 2 at even source coordinates,
    output ((h+1)//2, (w+1)//2); the 8u path is exact integer
    arithmetic with round-half-up ((acc + 128) >> 8), as cv2's
    fixed-point cast does."""
    from .recaug import _reflect101_pad

    h, w = img.shape[:2]
    out_h, out_w = (h + 1) // 2, (w + 1) // 2
    p = img.astype(np.int64) if img.dtype == np.uint8 \
        else img.astype(np.float64)
    squeeze = p.ndim == 2
    if squeeze:
        p = p[:, :, None]
    ci = _reflect101_pad(w, 2)
    q = p[:, ci, :]
    centers_x = 2 * np.arange(out_w) + 2          # index into padded axis
    cols = sum(int(_PYR_K[k]) * q[:, centers_x + k - 2, :]
               for k in range(5))
    ri = _reflect101_pad(h, 2)
    r = cols[ri, :, :]
    centers_y = 2 * np.arange(out_h) + 2
    acc = sum(int(_PYR_K[k]) * r[centers_y + k - 2, :, :]
              for k in range(5))
    if img.dtype == np.uint8:
        out = ((acc + 128) >> 8).astype(np.uint8)
    else:
        out = (acc / 256.0).astype(img.dtype)
    return out[..., 0] if squeeze else out


def filter2d_reflect101(img: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    """cv2.filter2D (correlation, anchor centre, BORDER_REFLECT_101,
    saturate_cast<uchar>(cvRound) on 8u input)."""
    from .recaug import _reflect101_pad

    kh, kw = kernel.shape
    ay, ax = kh // 2, kw // 2
    h, w = img.shape[:2]
    p = img.astype(np.float64)
    squeeze = p.ndim == 2
    if squeeze:
        p = p[:, :, None]
    # pad with the anchor-aware extents (left=ax, right=kw-1-ax)
    xi = np.concatenate([
        _reflect101_pad(w, ax)[:ax],
        np.arange(w),
        _reflect101_pad(w, kw - 1 - ax)[w + (kw - 1 - ax):]])
    yi = np.concatenate([
        _reflect101_pad(h, ay)[:ay],
        np.arange(h),
        _reflect101_pad(h, kh - 1 - ay)[h + (kh - 1 - ay):]])
    q = p[yi][:, xi, :]
    acc = np.zeros((h, w, p.shape[2]), dtype=np.float64)
    for dy in range(kh):
        for dx in range(kw):
            kv = float(kernel[dy, dx])
            if kv != 0.0:
                acc += kv * q[dy:dy + h, dx:dx + w, :]
    if img.dtype == np.uint8:
        out = np.clip(np.rint(acc), 0, 255).astype(np.uint8)
    else:
        out = acc.astype(img.dtype)
    return out[..., 0] if squeeze else out


# ---------------------------------------------------------------------------
# RNG helpers (abinet_aug.py:27-57) — rng_np replays global np.random,
# rng_py replays global random
# ---------------------------------------------------------------------------

def _sample_asym(rng_np, magnitude, size=None):
    return rng_np.beta(1, 4, size) * magnitude


def _sample_sym(rng_np, magnitude, size=None):
    return (rng_np.beta(4, 4, size=size) - 0.5) * 2 * magnitude


def _get_interpolation(rng_py):
    choice = [INTER_NEAREST, INTER_LINEAR, INTER_CUBIC, INTER_AREA]
    return choice[rng_py.randint(0, len(choice) - 1)]


# ---------------------------------------------------------------------------
# transform replays — each (init draws..., call draws...) in global order
# ---------------------------------------------------------------------------

def _rotation_call(rng_py, rng_np, img, degrees):
    """CVRandomRotation.__call__ (abinet_aug.py:71-87)."""
    angle = _sample_sym(rng_np, degrees)
    src_h, src_w = img.shape[:2]
    m = get_rotation_matrix_2d((src_w / 2, src_h / 2), angle, 1.0)
    abs_cos, abs_sin = abs(m[0, 0]), abs(m[0, 1])
    dst_w = int(src_h * abs_sin + src_w * abs_cos)
    dst_h = int(src_h * abs_cos + src_w * abs_sin)
    m[0, 2] += (dst_w - src_w) / 2
    m[1, 2] += (dst_h - src_h) / 2
    flags = _get_interpolation(rng_py)
    return warp_affine(img, m, (dst_w, dst_h), flags,
                       border_replicate=True)


def _inverse_affine_matrix(center, angle, translate, scale, shear):
    """CVRandomAffine._get_inverse_affine_matrix (abinet_aug.py:127-164,
    the torchvision v0.4 formula)."""
    if isinstance(shear, (int, float)):
        shear = [shear, 0]
    rot = math.radians(angle)
    sx, sy = [math.radians(s) for s in shear]
    cx, cy = center
    tx, ty = translate
    a = math.cos(rot - sy) / math.cos(sy)
    b = -math.cos(rot - sy) * math.tan(sx) / math.cos(sy) - math.sin(rot)
    c = math.sin(rot - sy) / math.cos(sy)
    d = -math.sin(rot - sy) * math.tan(sx) / math.cos(sy) + math.cos(rot)
    m = [d, -b, 0, -c, a, 0]
    m = [x / scale for x in m]
    m[2] += m[0] * (-cx - tx) + m[1] * (-cy - ty)
    m[5] += m[3] * (-cx - tx) + m[4] * (-cy - ty)
    m[2] += cx
    m[5] += cy
    return m


def _affine_call(rng_py, rng_np, img, degrees, translate, scale_ranges,
                 shears):
    """CVRandomAffine.get_params + __call__ (abinet_aug.py:167-228)."""
    from .pixelops import min_area_box

    src_h, src_w = img.shape[:2]
    angle = _sample_sym(rng_np, degrees)
    if translate is not None:
        translations = (np.round(_sample_sym(rng_np, translate[0] * src_h)),
                        np.round(_sample_sym(rng_np, translate[1] * src_h)))
    else:
        translations = (0, 0)
    scale = rng_np.uniform(scale_ranges[0], scale_ranges[1]) \
        if scale_ranges is not None else 1.0
    if shears is not None:
        if len(shears) == 1:
            shear = [_sample_sym(rng_np, shears[0]), 0.]
        else:
            shear = [_sample_sym(rng_np, shears[0]),
                     _sample_sym(rng_np, shears[1])]
    else:
        shear = 0.0

    m = _inverse_affine_matrix((src_w / 2, src_h / 2), angle, (0, 0),
                               scale, shear)
    m = np.array(m).reshape(2, 3)
    startpoints = [(0, 0), (src_w - 1, 0), (src_w - 1, src_h - 1),
                   (0, src_h - 1)]
    endpoints = [(int(m[0, 0] * x + m[0, 1] * y + m[0, 2]),
                  int(m[1, 0] * x + m[1, 1] * y + m[1, 2]))
                 for x, y in startpoints]
    bbox = min_area_box(np.array(endpoints)).astype(np.int32)
    max_x, max_y = bbox[:, 0].max(), bbox[:, 1].max()
    min_x, min_y = bbox[:, 0].min(), bbox[:, 1].min()
    dst_w = int(max_x - min_x)
    dst_h = int(max_y - min_y)
    m[0, 2] += (dst_w - src_w) / 2
    m[1, 2] += (dst_h - src_h) / 2
    dst_w += int(abs(translations[0]))
    dst_h += int(abs(translations[1]))
    if translations[0] < 0:
        m[0, 2] += abs(translations[0])
    if translations[1] < 0:
        m[1, 2] += abs(translations[1])
    flags = _get_interpolation(rng_py)
    return warp_affine(img, m, (dst_w, dst_h), flags,
                       border_replicate=True)


def _perspective_call(rng_py, rng_np, img, distortion):
    """CVRandomPerspective.get_params + __call__ (abinet_aug.py:235-271):
    asymmetric corner pulls, warp to the minAreaRect envelope of the
    endpoints, then the top-left crop."""
    from .pixelops import get_perspective_transform, min_area_box

    height, width = img.shape[:2]
    offset_h = _sample_asym(rng_np, distortion * height / 2,
                            size=4).astype(np.int32)
    offset_w = _sample_asym(rng_np, distortion * width / 2,
                            size=4).astype(np.int32)
    topleft = (offset_w[0], offset_h[0])
    topright = (width - 1 - offset_w[1], offset_h[1])
    botright = (width - 1 - offset_w[2], height - 1 - offset_h[2])
    botleft = (offset_w[3], height - 1 - offset_h[3])
    startpoints = np.array([(0, 0), (width - 1, 0),
                            (width - 1, height - 1), (0, height - 1)],
                           dtype=np.float32)
    endpoints = np.array([topleft, topright, botright, botleft],
                         dtype=np.float32)
    m = get_perspective_transform(startpoints, endpoints)
    bbox = min_area_box(endpoints).astype(np.int32)
    max_x, max_y = bbox[:, 0].max(), bbox[:, 1].max()
    min_x, min_y = bbox[:, 0].min(), bbox[:, 1].min()
    min_x, min_y = max(min_x, 0), max(min_y, 0)
    flags = _get_interpolation(rng_py)
    out = warp_perspective_interp(img, m, (max_x, max_y), flags,
                                  border_replicate=True)
    return out[min_y:, min_x:]


def _rescale(rng_py, rng_np, factor, base_size):
    """CVRescale init + call (abinet_aug.py:274-301): factor drawn at
    INIT (round of U(0, factor)); gaussian-pyramid down ``factor``
    times from base_size, then back to the source dims, both resizes
    with independently-drawn interpolation."""
    if isinstance(factor, (int, float)):
        fct = round(rng_np.uniform(0, factor))
    else:
        fct = round(rng_np.uniform(factor[0], factor[1]))
    base_h, base_w = base_size[:2]

    def call(image):
        if fct == 0:
            return image
        src_h, src_w = image.shape[:2]
        scale_img = resize_interp(image, (base_w, base_h),
                                  _get_interpolation(rng_py))
        for _ in range(int(fct)):
            scale_img = pyr_down(scale_img)
        return resize_interp(scale_img, (src_w, src_h),
                             _get_interpolation(rng_py))

    return call


def _gaussian_noise(rng_np, var):
    """CVGaussianNoise init + call (abinet_aug.py:304-318): variance
    drawn at INIT (asym-beta, floored at 1)."""
    if isinstance(var, (int, float)):
        v = max(int(_sample_asym(rng_np, var)), 1)
    else:
        v = int(rng_np.uniform(var[0], var[1]))

    def call(image):
        noise = rng_np.normal(0, v ** 0.5, image.shape)
        return np.clip(image + noise, 0, 255).astype(np.uint8)

    return call


def _motion_blur(rng_np, degrees, angle):
    """CVMotionBlur init + call (abinet_aug.py:320-341): degree + angle
    drawn at INIT; a horizontal line kernel rotated via warpAffine
    (default-linear, CONSTANT border) then applied with filter2D."""
    if isinstance(degrees, (int, float)):
        deg = max(int(_sample_asym(rng_np, degrees)), 1)
    else:
        deg = int(rng_np.uniform(degrees[0], degrees[1]))
    ang = rng_np.uniform(-angle, angle)

    def call(image):
        m = get_rotation_matrix_2d((deg // 2, deg // 2), ang, 1)
        kernel = np.zeros((deg, deg))
        kernel[deg // 2, :] = 1
        kernel = warp_affine(kernel, m, (deg, deg), INTER_LINEAR,
                             border_replicate=False)
        kernel = kernel / deg
        out = filter2d_reflect101(image, kernel)
        return np.clip(out, 0, 255).astype(np.uint8)

    return call


# ---------------------------------------------------------------------------
# the composed ops, split init/call so the WRAPPER replay can run every
# member's init draws first (Compose construction) then every call —
# the exact global stream of `ABINetRecAug()` / `SVTRRecAug()` followed
# by one `__call__`, which is what the exec-ref differential executes
# ---------------------------------------------------------------------------

def _geometry_dispatch(rng_py, rng_np, img, type_p, degrees, translate,
                       scale, shear, distortion):
    if type_p < 0.33:
        return _rotation_call(rng_py, rng_np, img, degrees)
    if type_p < 0.66:
        return _affine_call(rng_py, rng_np, img, degrees, translate,
                            scale, shear)
    return _perspective_call(rng_py, rng_np, img, distortion)


def _deterioration_init(rng_py, rng_np, var, degrees, factor,
                        shuffle_at_init):
    """Shared CVDeterioration/SVTRDeterioration __init__ replay:
    noise/blur/rescale all draw their parameters at INIT (in member
    order); CVDeterioration additionally stdlib-shuffles the list ONCE
    at init, SVTRDeterioration defers its shuffle into the call gate."""
    transforms = [_gaussian_noise(rng_np, var),
                  _motion_blur(rng_np, degrees, 90),
                  _rescale(rng_py, rng_np, factor, (128, 512))]
    if shuffle_at_init:
        rng_py.shuffle(transforms)
    return transforms


def svtr_geometry(rng_py, rng_np, img, aug_type=0, degrees=15,
                  translate=(0.3, 0.3), scale=(0.5, 2.), shear=(45, 15),
                  distortion=0.5, p=0.5):
    """SVTRGeometry (abinet_aug.py:431-459): all three geometry members
    exist (none draws at init); aug_type=1 shuffles and composes a
    random 1-3 prefix, aug_type=0 picks exactly one."""
    members = ["rotation", "affine", "perspective"]

    def run(name, image):
        if name == "rotation":
            return _rotation_call(rng_py, rng_np, image, degrees)
        if name == "affine":
            return _affine_call(rng_py, rng_np, image, degrees,
                                translate, scale, shear)
        return _perspective_call(rng_py, rng_np, image, distortion)

    if rng_py.random() < p:
        if aug_type:
            rng_py.shuffle(members)
            for name in members[:rng_py.randint(1, 3)]:
                img = run(name, img)
        else:
            img = run(members[rng_py.randint(0, 2)], img)
    return img


def abinet_rec_aug_image(img: np.ndarray, seed: int, geometry_p=0.5,
                         deterioration_p=0.25,
                         colorjitter_p=0.25) -> np.ndarray:
    """ABINetRecAug (rec_img_aug.py:102-130) as a pure (image, seed)
    function: construct the whole Compose fresh (CVGeometry type draw,
    CVDeterioration param draws + init shuffle; CVColorJitter draws
    nothing at init), then apply CVGeometry -> CVDeterioration ->
    CVColorJitter.  ColorJitter's gate draw is replayed but its
    paddle/PIL pixel math is stubbed to identity (external — the one
    non-transcribed member, documented in the module header; it is the
    LAST op, so the stub perturbs no upstream draw)."""
    seed32 = seed % (2 ** 32)
    rng_py = _random.Random(seed32)
    rng_np = np.random.RandomState(seed32)
    img = np.asarray(img, np.uint8).copy()
    # --- Compose construction (all inits, member order) ---
    geo_type_p = rng_py.random()
    det = _deterioration_init(rng_py, rng_np, var=20, degrees=6, factor=4,
                              shuffle_at_init=True)
    # --- calls ---
    if rng_py.random() < geometry_p:
        img = _geometry_dispatch(rng_py, rng_np, img, geo_type_p,
                                 degrees=45, translate=(0.0, 0.0),
                                 scale=(0.5, 2.), shear=(45, 15),
                                 distortion=0.5)
    if rng_py.random() < deterioration_p:
        for t in det:
            img = t(img)
    rng_py.random()                      # CVColorJitter gate (stubbed)
    _ = colorjitter_p
    return img


def svtr_rec_aug_image(img: np.ndarray, seed: int, aug_type=0,
                       geometry_p=0.5, deterioration_p=0.25,
                       colorjitter_p=0.25) -> np.ndarray:
    """SVTRRecAug (rec_img_aug.py:223-253): SVTRGeometry (no init
    draws) -> SVTRDeterioration (param draws at init, shuffle in-gate)
    -> CVColorJitter, same contract as abinet_rec_aug_image."""
    seed32 = seed % (2 ** 32)
    rng_py = _random.Random(seed32)
    rng_np = np.random.RandomState(seed32)
    img = np.asarray(img, np.uint8).copy()
    # --- Compose construction: only SVTRDeterioration draws ---
    det = _deterioration_init(rng_py, rng_np, var=20, degrees=6, factor=4,
                              shuffle_at_init=False)
    # --- calls ---
    img = svtr_geometry(rng_py, rng_np, img, aug_type=aug_type,
                        degrees=45, translate=(0.0, 0.0), scale=(0.5, 2.),
                        shear=(45, 15), distortion=0.5, p=geometry_p)
    if rng_py.random() < deterioration_p:
        rng_py.shuffle(det)
        for t in det:
            img = t(img)
    rng_py.random()                      # CVColorJitter gate (stubbed)
    _ = colorjitter_p
    return img


# ---------------------------------------------------------------------------
# gate-query kernel
# ---------------------------------------------------------------------------

CVAUG_VARIANTS = ("abinet", "svtr0", "svtr1")


def cvaug_for_ref(ref: str) -> list:
    """ABINet/SVTR augment variants over one rendered blob (tiled 4x8
    past the geometry guards, as rec_aug_for_ref does); rows
    (ref, variant, seed, out_h, out_w, mean, vmin, vmax, crc)."""
    import zlib

    from .imagecodecs import render_ref_image
    from .pixelops import imread_color

    _, buf = render_ref_image(ref)
    img = np.tile(imread_color(buf), (4, 8, 1))
    rows = []
    for variant in CVAUG_VARIANTS:
        seed = zlib.crc32(f"{ref}:{variant}".encode("utf-8"))
        if variant == "abinet":
            out = abinet_rec_aug_image(img, seed)
        else:
            out = svtr_rec_aug_image(img, seed,
                                     aug_type=int(variant[-1]))
        rows.append((
            ref, variant, int(seed), int(out.shape[0]), int(out.shape[1]),
            round(float(out.mean(dtype=np.float64)), 4),
            int(out.min()), int(out.max()),
            int(zlib.crc32(np.ascontiguousarray(out).tobytes()))))
    return rows
