"""Image tensor operators over real pixel buffers (P1–P3, P5–P6, C1–C2).

Rounds 1–3 scoped these enumerate-only ("no pixel buffers in the span
model"); round 4's pure-numpy codecs (:mod:`paddleocr_spark.imagecodecs`)
provide real (H, W, C) uint8 arrays, so the reference's tensor-side
preprocessing becomes implementable as per-blob kernels under
``operators.grouped.map_rows``. Transcribed semantics, with cited
sources:

* P1 ``DecodeImage`` — ppocr/data/imaug/operators.py:30-74: cv2.imdecode
  IMREAD_COLOR (3-ch BGR; gray replicated, alpha dropped), 'RGB' mode
  reverses the channel axis, optional channel-first transpose.
* P2 ``NormalizeImage`` — operators.py:77-101: float32
  ``(img * scale - mean) / std`` with scale ``np.float32(1/255)`` and
  ImageNet mean/std defaults, 'chw'/'hwc' broadcast shapes.
* P3 ``ToCHWImage`` — operators.py:104-117: HWC→CHW transpose.
* P5 ``Pad`` — operators.py:148-183: zero-pad bottom/right to
  ceil(side/size_div)·size_div, floor size_div.
* P6 ``Resize`` — operators.py:186-213: fixed-size resize + poly rescale
  ratios. cv2.resize INTER_LINEAR semantics = CENTER-ALIGNED sampling
  (src = (dst + 0.5)·scale − 0.5, clamped); our arithmetic is float64
  where cv2 runs 5-bit fixed-point coefficients — values can differ by
  ±1 ulp of a pixel step from real cv2 (documented deviation; cv2 is not
  in this environment to differ against).
* C1 ``get_rotate_crop_image`` — tools/infer/utility.py:660-693: crop
  dims from int-truncated edge norms, getPerspectiveTransform to the
  upright rect, warpPerspective with BORDER_REPLICATE + INTER_CUBIC
  (Keys bicubic, a = −0.75 — cv2's kernel), then np.rot90 when
  dst_h/dst_w ≥ 1.5.
* C2 ``get_minarea_rect_crop`` — utility.py:695-716: cv2.minAreaRect on
  int32-cast points (rotating calipers over the convex hull here),
  boxPoints sorted by x, the index_a..d reorder, then C1.

Homographies are solved exactly (8×8 linear system — the
getPerspectiveTransform analog); warps inverse-map destination pixels
through M⁻¹ like cv2 does without WARP_INVERSE_MAP. uint8 conversion
rounds half-up then saturates (cv2's fixed-point ``(x + 0.5) >> n``
behavior for positives).
"""

from __future__ import annotations

import math

import numpy as np

from .imagecodecs import decode_image

IMAGENET_MEAN = (0.485, 0.456, 0.406)
IMAGENET_STD = (0.229, 0.224, 0.225)

#: Per-process scratch buffers for INTERNAL temporaries (never returned).
#: Spark Python workers are single-threaded processes reused across
#: tasks, so a module-level cache is race-free; reusing the two ~12 MB
#: float64 matmul outputs avoids a fresh mmap + kernel zero-fill per
#: image — measured to matter at 32 concurrent workers, where the
#: big-upscale path is DRAM-bandwidth-bound. The cache is bounded in
#: bytes as well as in shapes: a shape-varying upscale (DetResizeForTest
#: ``limit_type: min`` over 8-16 px blobs, one output width per blob)
#: kept up to 64 pairs of buffers of up to 26 MB, over 1 GB per worker.
_SCRATCH: dict[tuple, np.ndarray] = {}
_SCRATCH_BYTES = 64 << 20


def _scratch(tag: str, shape: tuple, dtype=np.float64) -> np.ndarray:
    key = (tag, shape, np.dtype(dtype).str)
    buf = _SCRATCH.get(key)
    if buf is None:
        buf = np.empty(shape, dtype)
        if (len(_SCRATCH) > 64 or buf.nbytes + sum(
                b.nbytes for b in _SCRATCH.values()) > _SCRATCH_BYTES):
            _SCRATCH.clear()       # distinct-shape churn guard
        _SCRATCH[key] = buf
    return buf


# ---------------------------------------------------------------------------
# P1 DecodeImage
# ---------------------------------------------------------------------------

def imread_color(buf: bytes) -> np.ndarray:
    """cv2.imdecode(buf, cv2.IMREAD_COLOR) analog: always (H, W, 3) BGR
    uint8 — gray replicates across channels, alpha is dropped."""
    arr = decode_image(buf)                       # RGB(A) or gray
    if arr.shape[2] == 1:
        rgb = np.repeat(arr, 3, axis=2)
    else:
        rgb = arr[..., :3]
    return np.ascontiguousarray(rgb[..., ::-1])   # RGB → BGR


def decode_image_op(buf: bytes, img_mode: str = "RGB",
                    channel_first: bool = False) -> np.ndarray:
    """P1 DecodeImage.__call__ (operators.py:42-74)."""
    img = imread_color(buf)
    if img_mode == "RGB":
        img = img[:, :, ::-1]
    img = np.ascontiguousarray(img)
    if channel_first:
        img = img.transpose((2, 0, 1))
    return img


# ---------------------------------------------------------------------------
# P2 NormalizeImage / P3 ToCHWImage / P5 Pad
# ---------------------------------------------------------------------------

def normalize_image(img: np.ndarray, scale: float | None = None,
                    mean=None, std=None, order: str = "hwc",
                    out: np.ndarray | None = None) -> np.ndarray:
    """P2: float32 ``(img * scale - mean) / std`` in the reference's
    operation order and dtypes (operators.py:81-101).

    ``out``: optional caller-owned float32 buffer of ``img.shape`` to
    write into (the copy-cast assignment produces the same float32
    values as ``astype``); callers that drop the result immediately
    (the per-ref digest kernels) pass a per-process scratch to avoid a
    ~6 MB allocation per image on the bandwidth-bound path."""
    scale = np.float32(scale if scale is not None else 1.0 / 255.0)
    mean = mean if mean is not None else list(IMAGENET_MEAN)
    std = std if std is not None else list(IMAGENET_STD)
    shape = (3, 1, 1) if order == "chw" else (1, 1, 3)
    mean_a = np.array(mean).reshape(shape).astype("float32")
    std_a = np.array(std).reshape(shape).astype("float32")
    # In-place ``*= / -= / /=`` on the float32 copy: the same three
    # elementwise roundings in the same order as the reference's
    # ``(img * scale - mean) / std``, one allocation instead of four
    # (the chain is memory-bandwidth-bound on 800×608×3 tensors).
    if out is None:
        out = img.astype("float32")
    else:
        np.copyto(out, img, casting="unsafe")
    out *= scale
    out -= mean_a
    out /= std_a
    return out


def to_chw(img: np.ndarray) -> np.ndarray:
    """P3: HWC → CHW."""
    return img.transpose((2, 0, 1))


def pad_image(img: np.ndarray, size=None, size_div: int = 32) -> np.ndarray:
    """P5 Pad: zero-pad bottom/right to ``size`` or to the next multiple
    of ``size_div`` (floor ``size_div``), HWC input."""
    h, w = img.shape[0], img.shape[1]
    if size:
        out_h, out_w = size
        if not (h < out_h and w < out_w):
            raise ValueError("target size must exceed image size")
    else:
        out_h = max(int(math.ceil(h / size_div) * size_div), size_div)
        out_w = max(int(math.ceil(w / size_div) * size_div), size_div)
    out = np.zeros((out_h, out_w) + img.shape[2:], dtype=img.dtype)
    out[:h, :w] = img
    return out


# ---------------------------------------------------------------------------
# P6 Resize (cv2.resize INTER_LINEAR semantics)
# ---------------------------------------------------------------------------

def _lin_coords(out_n: int, src_n: int):
    """Center-aligned source coordinates + clamped tap indices/weights."""
    scale = src_n / out_n
    fx = (np.arange(out_n, dtype=np.float64) + 0.5) * scale - 0.5
    x0 = np.floor(fx).astype(np.int64)
    t = fx - x0
    x0c = np.clip(x0, 0, src_n - 1)
    x1c = np.clip(x0 + 1, 0, src_n - 1)
    return x0c, x1c, t


#: Per-process cache of the column-lerp 1-sparse weight matrices, keyed
#: (src_w, out_w). They are a pure function of the two sizes, and
#: building them FRESH per call measured ~10 ms of the 15 ms matmul line
#: (first-touch page faults on the freshly calloc'd buffers dominate the
#: two small GEMMs) vs ~2.4 ms with warm matrices. Corpora have a
#: handful of distinct (src, dst) size pairs, so the cache stays tiny;
#: cleared wholesale if it ever grows past 256 entries.
_WMAT_CACHE: dict = {}


def _col_weights(src_w: int, out_w: int):
    key = (src_w, out_w)
    hit = _WMAT_CACHE.get(key)
    if hit is None:
        if len(_WMAT_CACHE) > 256:
            _WMAT_CACHE.clear()
        x0, x1, tx = _lin_coords(out_w, src_w)
        w0 = np.zeros((src_w, out_w))
        w0[x0, np.arange(out_w)] = 1 - tx
        w1 = np.zeros((src_w, out_w))
        w1[x1, np.arange(out_w)] = tx
        hit = _WMAT_CACHE[key] = (w0, w1)
    return hit


def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """cv2.resize(img, (out_w, out_h)) INTER_LINEAR analog in float64
    (uint8 in → half-up rounded uint8 out).

    The column lerp runs as TWO 1-sparse matmuls instead of a fancy-index
    gather — bit-exact (every dot product has exactly one nonzero term,
    so BLAS accumulation order/FMA cannot change the rounding: zero
    terms add exactly, the single product rounds once either way) and
    ~4× less memory traffic on the big-upscale path (tiny source →
    800×608 target), which dominates layout_preprocess."""
    h, w = img.shape[:2]
    y0, y1, ty = _lin_coords(out_h, h)
    p = img.astype(np.float64)
    squeeze = p.ndim == 2
    if squeeze:
        p = p[:, :, None]
    c = p.shape[2]
    ty3 = ty[:, None, None]
    rows = p[y0] * (1 - ty3) + p[y1] * ty3          # (out_h, w, c)
    if w > 256:
        # wide-source path: the 1-sparse matmul trick costs O(w·out_w)
        # dense FLOPs per row — a plain gather-lerp is bit-identical
        # (each matmul dot has exactly ONE nonzero term plus exact
        # zero adds, so it rounds once either way, same as the two
        # products + one add below) and linear in out_w.  The matmul
        # path stays for the narrow-source upscales it was built for
        # (layout_preprocess, src ≤ ~200 px wide), where the cached
        # weight matrices beat fancy-index gathers; measured crossover
        # is ~src_w 300 (11.8 vs 11.6 ms at 300→600), and at src_w
        # 1000 the gather is 1.5-1.8× faster (pg_gt's 1000² canvas:
        # 92.7 → 50.7 ms for the 940² resize).
        x0g, x1g, txg = _lin_coords(out_w, w)
        acc3 = rows[:, x0g, :] * (1 - txg)[None, :, None]
        acc3 += rows[:, x1g, :] * txg[None, :, None]
        if img.dtype == np.uint8:
            acc3 += 0.5
            out = acc3.astype(np.uint8)
        else:
            out = acc3.astype(img.dtype)
        if squeeze:
            out = out[..., 0]
        return np.ascontiguousarray(out)
    w0, w1 = _col_weights(w, out_w)
    flat = rows.transpose(0, 2, 1).reshape(-1, w)   # (out_h*c, w)
    # Sum the two 1-sparse matmuls in place and round BEFORE the layout
    # transpose: ``a @ w0 + a @ w1`` then ``+0.5/floor/clip`` are the
    # same scalar roundings whether the buffer is (out_h*c, out_w) or
    # transposed, but running them on the contiguous matmul output (and
    # in place) avoids three full-size float64 temporaries plus a
    # strided-view pass — the big-upscale path is bandwidth-bound.
    acc = _scratch("rz_acc", (flat.shape[0], out_w))
    np.matmul(flat, w0, out=acc)
    tmp = _scratch("rz_tmp", (flat.shape[0], out_w))
    np.matmul(flat, w1, out=tmp)
    acc += tmp                                      # (out_h*c, out_w)
    if img.dtype == np.uint8:
        # ``astype(uint8)`` after +0.5 IS the floor+clip+cast: every
        # value is a convex combination of uint8 samples (weights in
        # [0, 1] summing to 1 ± 1 ulp), so acc + 0.5 ∈ [0.5, 255.5001)
        # — non-negative (C-cast truncation == floor) and < 256 (clip
        # dead). Bit-equality vs the explicit floor/clip chain is
        # pinned by test_resize_bilinear_matches_naive_scalar_bit_for_bit;
        # dropping the two full-size passes measured ~2.5 ms/image on
        # the 800×608 upscale.
        acc += 0.5
        out = acc.astype(np.uint8).reshape(
            out_h, c, out_w).transpose(0, 2, 1)
        if squeeze:
            out = out[..., 0]
        return np.ascontiguousarray(out)
    out = acc.reshape(out_h, c, out_w).transpose(0, 2, 1)
    if squeeze:
        out = out[..., 0]
    return np.ascontiguousarray(out.astype(img.dtype))


def resize_hist_u8(img: np.ndarray, out_h: int, out_w: int,
                   block: int = 64) -> np.ndarray:
    """Per-channel value histogram of ``resize_bilinear(img, out_h,
    out_w)`` for uint8 HWC input, WITHOUT materializing the resized
    plane: a (c, 256) int64 where ``hist[c] ==
    np.bincount(resize_bilinear(img, ...)[:, :, c].ravel(),
    minlength=256)`` bit-for-bit (pinned by
    tests/test_pixelops.py::test_resize_hist_matches_resize_bilinear).

    Bit-exactness: resize_bilinear's two 1-sparse matmuls produce, per
    output element, EXACTLY ``rows[r, x0[x], c]*(1-tx[x])`` and
    ``rows[r, x1[x], c]*tx[x]`` (a float64 dot whose other terms are
    exact zeros), so the same two products + two adds computed here by
    gather/multiply give identical scalars in identical order.

    Why it exists: the full-size resize does ~100 MB of float64/float32
    memory traffic per 800×608 image, which saturates memory bandwidth
    under 32 parallel Python workers (measured 43 ms/ref in-Spark vs
    15 ms single-process). Blocked at ``block`` output rows, the working
    set is ~1 MB — cache-resident, contention-free — and stats kernels
    that only need value distributions (D6 layout gate) skip the
    materialization entirely."""
    assert img.dtype == np.uint8 and img.ndim == 3
    h, w = img.shape[:2]
    y0, y1, ty = _lin_coords(out_h, h)
    x0, x1, tx = _lin_coords(out_w, w)
    p = img.astype(np.float64)
    c = p.shape[2]
    ty3 = ty[:, None, None]
    rows = p[y0] * (1 - ty3) + p[y1] * ty3          # (out_h, w, c) small
    rows_p = np.ascontiguousarray(rows.transpose(2, 0, 1))  # (c, out_h, w)
    tx0 = 1 - tx
    hist = np.zeros((c, 256), dtype=np.int64)
    acc = _scratch("rzh_acc", (block, out_w))
    tmp = _scratch("rzh_tmp", (block, out_w))
    for ch in range(c):
        pc = rows_p[ch]
        for r0 in range(0, out_h, block):
            blk = pc[r0:r0 + block]                 # (m, w) contiguous
            m = blk.shape[0]
            a, t = acc[:m], tmp[:m]
            np.multiply(blk[:, x0], tx0, out=a)
            np.multiply(blk[:, x1], tx, out=t)
            a += t
            a += 0.5
            # non-negative convex combos of uint8 + 0.5 ∈ [0.5, 255.5001)
            # — uint8 cast truncation IS the floor+clip (see
            # resize_bilinear's uint8 branch for the proof).
            hist[ch] += np.bincount(a.astype(np.uint8).ravel(),
                                    minlength=256)
    return hist


def resize_op(img: np.ndarray, size=(640, 640)):
    """P6 Resize.resize_image (operators.py:189-196): fixed (h, w) target,
    returns (resized, [ratio_h, ratio_w]) for poly rescale."""
    resize_h, resize_w = size
    ori_h, ori_w = img.shape[:2]
    ratio_h = float(resize_h) / ori_h
    ratio_w = float(resize_w) / ori_w
    return resize_bilinear(img, int(resize_h), int(resize_w)), \
        [ratio_h, ratio_w]


# ---------------------------------------------------------------------------
# homography + warp (getPerspectiveTransform / warpPerspective analogs)
# ---------------------------------------------------------------------------

def _solve_pp(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Gaussian elimination with partial pivoting over Python floats.

    np.linalg.solve dispatches to LAPACK dgesv, whose last-bit rounding
    varies across BLAS builds/CPU kernels — a committed fixture generated
    under one OpenBLAS was observed NOT to reproduce under another (101 of
    1212 rotate_crop rows drifted, some by a whole crop dimension). Plain
    IEEE-754 scalar arithmetic in a fixed order is bit-identical
    everywhere, and an 8×8 solve is far too small for BLAS to matter."""
    n = len(b)
    m = [[float(a[i, j]) for j in range(n)] + [float(b[i])]
         for i in range(n)]
    for col in range(n):
        piv = max(range(col, n), key=lambda r: abs(m[r][col]))
        if m[piv][col] == 0.0:
            raise np.linalg.LinAlgError("singular matrix")
        m[col], m[piv] = m[piv], m[col]
        prow = m[col]
        for r in range(col + 1, n):
            f = m[r][col] / prow[col]
            if f != 0.0:
                row = m[r]
                for j in range(col, n + 1):
                    row[j] -= f * prow[j]
    x = [0.0] * n
    for i in range(n - 1, -1, -1):
        s = m[i][n]
        for j in range(i + 1, n):
            s -= m[i][j] * x[j]
        x[i] = s / m[i][i]
    return np.array(x, dtype=np.float64)


def get_perspective_transform(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Solve the 3×3 homography H with H·src_i ∝ dst_i for 4 point pairs
    (the cv2.getPerspectiveTransform 8×8 system, h22 = 1)."""
    src = np.asarray(src, dtype=np.float64)
    dst = np.asarray(dst, dtype=np.float64)
    a = np.zeros((8, 8))
    b = np.zeros(8)
    for i in range(4):
        sx, sy = src[i]
        dx, dy = dst[i]
        a[i] = [sx, sy, 1, 0, 0, 0, -sx * dx, -sy * dx]
        a[i + 4] = [0, 0, 0, sx, sy, 1, -sx * dy, -sy * dy]
        b[i], b[i + 4] = dx, dy
    h = _solve_pp(a, b)
    return np.append(h, 1.0).reshape(3, 3)


def _cubic_weights(t: np.ndarray) -> np.ndarray:
    """Keys bicubic kernel weights for taps (-1, 0, 1, 2), a = -0.75
    (cv2's interpolateCubic)."""
    a = -0.75
    w = np.empty(t.shape + (4,), dtype=np.float64)
    x = t + 1.0
    w[..., 0] = ((a * x - 5 * a) * x + 8 * a) * x - 4 * a
    x = t
    w[..., 1] = ((a + 2) * x - (a + 3)) * x * x + 1
    x = 1.0 - t
    w[..., 2] = ((a + 2) * x - (a + 3)) * x * x + 1
    x = 2.0 - t
    w[..., 3] = ((a * x - 5 * a) * x + 8 * a) * x - 4 * a
    return w


def warp_perspective(img: np.ndarray, m: np.ndarray, out_w: int,
                     out_h: int) -> np.ndarray:
    """cv2.warpPerspective(img, M, (w, h), BORDER_REPLICATE, INTER_CUBIC)
    analog: destination pixels inverse-map through M⁻¹; out-of-range taps
    clamp (replicate); Keys bicubic a = -0.75 in float64; half-up uint8
    saturation."""
    h, w = img.shape[:2]
    # 3×3 inverse via the adjugate over Python floats, and the inverse map
    # applied as elementwise linear combinations: LAPACK dgetri / BLAS
    # dgemm round differently across builds (see _solve_pp), while
    # per-element a·x + b·y + c has no accumulation order to vary.
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
    ys, xs = np.mgrid[0:out_h, 0:out_w]
    xs = xs.astype(np.float64)
    ys = ys.astype(np.float64)
    den = minv[2][0] * xs + minv[2][1] * ys + minv[2][2]
    sx = (minv[0][0] * xs + minv[0][1] * ys + minv[0][2]) / den
    sy = (minv[1][0] * xs + minv[1][1] * ys + minv[1][2]) / den
    x0 = np.floor(sx).astype(np.int64)
    y0 = np.floor(sy).astype(np.int64)
    wx = _cubic_weights(sx - x0)
    wy = _cubic_weights(sy - y0)
    p = img.astype(np.float64)
    if p.ndim == 2:
        p = p[:, :, None]
    acc = np.zeros((out_h, out_w, p.shape[2]), dtype=np.float64)
    for dy in range(-1, 3):
        yy = np.clip(y0 + dy, 0, h - 1)
        row_w = wy[..., dy + 1]
        for dx in range(-1, 3):
            xx = np.clip(x0 + dx, 0, w - 1)
            acc += (row_w * wx[..., dx + 1])[..., None] * p[yy, xx]
    if img.dtype == np.uint8:
        out = np.clip(np.floor(acc + 0.5), 0, 255).astype(np.uint8)
    else:
        out = acc.astype(img.dtype)
    return out if img.ndim == 3 else out[..., 0]


# ---------------------------------------------------------------------------
# C1 get_rotate_crop_image
# ---------------------------------------------------------------------------

def get_rotate_crop_image(img: np.ndarray, points: np.ndarray) -> np.ndarray:
    """tools/infer/utility.py:660-693, faithful: int-truncated edge norms
    size the upright target; warp with replicate border + bicubic; rot90
    when the crop is tall (h/w ≥ 1.5)."""
    points = np.asarray(points, dtype=np.float32)
    assert len(points) == 4, "shape of points must be 4*2"

    def _edge(i: int, j: int) -> np.float32:
        # the reference takes np.linalg.norm over float32 point diffs and
        # int()-truncates — axis-aligned quads land EXACTLY on integers,
        # so the float32 rounding decides the crop size. Replicate that
        # dtype chain with scalar ops (bit-stable; np.linalg.norm on a
        # 1-D array is a BLAS dot whose last bit varies across builds,
        # which shifted committed fixtures between sandbox containers).
        dx = points[i][0] - points[j][0]
        dy = points[i][1] - points[j][1]
        return np.sqrt(dx * dx + dy * dy)

    img_crop_width = int(max(_edge(0, 1), _edge(2, 3)))
    img_crop_height = int(max(_edge(0, 3), _edge(1, 2)))
    pts_std = np.float32([[0, 0], [img_crop_width, 0],
                          [img_crop_width, img_crop_height],
                          [0, img_crop_height]])
    # degenerate quads (zero-area / collinear points) make the homography
    # system singular — cv2 would error or emit garbage; we pin the
    # deterministic answer "empty crop" instead (documented deviation)
    if img_crop_width < 1 or img_crop_height < 1:
        return np.zeros((img_crop_height, img_crop_width) + img.shape[2:],
                        dtype=img.dtype)
    try:
        m = get_perspective_transform(points, pts_std)
    except np.linalg.LinAlgError:
        return np.zeros((img_crop_height, img_crop_width) + img.shape[2:],
                        dtype=img.dtype)
    dst_img = warp_perspective(img, m, img_crop_width, img_crop_height)
    dst_h, dst_w = dst_img.shape[0:2]
    if dst_w > 0 and dst_h * 1.0 / dst_w >= 1.5:
        dst_img = np.rot90(dst_img)
    return dst_img


# ---------------------------------------------------------------------------
# C2 get_minarea_rect_crop (minAreaRect via rotating calipers)
# ---------------------------------------------------------------------------

def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone chain, CCW, no duplicate endpoint."""
    pts = np.unique(pts, axis=0)
    if len(pts) <= 2:
        return pts
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def half(seq):
        out: list = []
        for q in seq:
            while len(out) >= 2 and cross(out[-2], out[-1], q) <= 0:
                out.pop()
            out.append(q)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def min_area_box(points: np.ndarray) -> np.ndarray:
    """The 4 corners of the minimum-area enclosing rectangle
    (cv2.minAreaRect + cv2.boxPoints analog; rotating calipers over the
    convex hull — optimal rectangle has a side collinear with a hull
    edge). Degenerate inputs (≤2 distinct points / collinear) produce a
    zero-area rectangle."""
    pts = np.asarray(points, dtype=np.float64)
    hull = _convex_hull(pts)
    if len(hull) == 1:
        return np.repeat(hull, 4, axis=0).astype(np.float32)
    if len(hull) == 2:
        return np.array([hull[0], hull[1], hull[1], hull[0]],
                        dtype=np.float32)
    best = None
    n = len(hull)
    for i in range(n):
        e = hull[(i + 1) % n] - hull[i]
        norm = math.hypot(e[0], e[1])
        if norm == 0:
            continue
        u = e / norm
        v = np.array([-u[1], u[0]])
        # elementwise projections, not hull @ u: BLAS dgemv rounding
        # varies across builds and the area argmin below compares floats
        pu = hull[:, 0] * u[0] + hull[:, 1] * u[1]
        pv = hull[:, 0] * v[0] + hull[:, 1] * v[1]
        area = (pu.max() - pu.min()) * (pv.max() - pv.min())
        if best is None or area < best[0]:
            best = (area, u, v, pu.min(), pu.max(), pv.min(), pv.max())
    _, u, v, u0, u1, v0, v1 = best
    corners = np.array([u0 * u + v0 * v, u1 * u + v0 * v,
                        u1 * u + v1 * v, u0 * u + v1 * v])
    return corners.astype(np.float32)


def get_minarea_rect_crop(img: np.ndarray, points) -> np.ndarray:
    """utility.py:695-716, faithful: int32-cast points → minAreaRect box
    corners → sort by x → the index_a..d reorder → C1 crop."""
    box_pts = min_area_box(np.array(points).astype(np.int32))
    pts = sorted(list(box_pts), key=lambda x: x[0])

    if pts[1][1] > pts[0][1]:
        index_a, index_d = 0, 1
    else:
        index_a, index_d = 1, 0
    if pts[3][1] > pts[2][1]:
        index_b, index_c = 2, 3
    else:
        index_b, index_c = 3, 2
    box = [pts[index_a], pts[index_b], pts[index_c], pts[index_d]]
    return get_rotate_crop_image(img, np.array(box))


# ---------------------------------------------------------------------------
# per-ref gate drivers (shared by the Spark queries and the committed
# fixture generator — the sanctioned "kernels imported twice" rule: exact
# float chains cannot be re-derived two ways without breaking bit-equality;
# everything around them IS re-derived in tools/make_fixtures.py)
# ---------------------------------------------------------------------------

#: P6 fixed-resize target for the tensor-op gate chain (h, w).
TENSOR_RESIZE = (16, 24)


def tensor_ops_for_ref(ref: str) -> list[tuple]:
    """P1→P6→P2→P5→P3 chain over one rendered blob; per-channel stats.

    Returns 3 rows (ref, channel, res_h, res_w, pad_h, pad_w, mean, vmin,
    vmax, ratio_h, ratio_w); float stats rounded with Python round(·, 4)
    INSIDE the kernel (both gate sides share the rounding site)."""
    from .imagecodecs import render_ref_image

    _, buf = render_ref_image(ref)
    img = decode_image_op(buf, "RGB")                     # P1
    resized, (rh, rw) = resize_op(img, TENSOR_RESIZE)     # P6
    norm = normalize_image(resized, order="hwc")          # P2
    padded = pad_image(norm)                              # P5 → 32×32
    chw = to_chw(padded)                                  # P3
    rows = []
    for c in range(3):
        plane = chw[c]
        rows.append((
            ref, c, resized.shape[0], resized.shape[1],
            padded.shape[0], padded.shape[1],
            round(float(plane.mean(dtype=np.float64)), 4),
            round(float(plane.min()), 4),
            round(float(plane.max()), 4),
            round(rh, 4), round(rw, 4)))
    return rows


def crops_for_ref(ref: str) -> list[tuple]:
    """C1 + C2 over one rendered blob with md5-derived geometry.

    c1: a rectangle centered in the image, rotated by (md5[7] % 8)·π/8,
    through :func:`get_rotate_crop_image` (exercises the homography, the
    replicate-border bicubic warp, and the ≥1.5 rot90 quirk when the rect
    is tall). c2: 4 scatter points (md5 bytes 8..15 mod W/H) through
    :func:`get_minarea_rect_crop` (hull → calipers → reorder → C1).
    Returns rows (ref, crop_id, out_h, out_w, pix_sum, first_val)."""
    import hashlib

    from .imagecodecs import render_ref_image

    h = hashlib.md5(ref.encode()).digest()
    _, buf = render_ref_image(ref)
    img = imread_color(buf)
    height, width = img.shape[:2]
    cx, cy = width / 2.0, height / 2.0
    hw, hh = max(2, width // 3), max(2, height // 4)
    th = (h[7] % 8) * (math.pi / 8)
    ct, st = math.cos(th), math.sin(th)
    base = [(-hw, -hh), (hw, -hh), (hw, hh), (-hw, hh)]
    quad = np.float32([[cx + bx * ct - by * st, cy + bx * st + by * ct]
                       for bx, by in base])
    c1 = get_rotate_crop_image(img, quad)
    pts = [(h[8 + 2 * i] % width, h[9 + 2 * i] % height) for i in range(4)]
    c2 = get_minarea_rect_crop(img, pts)
    rows = []
    for cid, arr in (("c1", c1), ("c2", c2)):
        a = np.asarray(arr)
        rows.append((ref, cid, int(a.shape[0]),
                     int(a.shape[1]) if a.ndim > 1 else 0,
                     int(a.sum()) if a.size else 0,
                     int(a.reshape(-1)[0]) if a.size else -1))
    return rows


def layout_preprocess_for_ref(ref: str) -> list[tuple]:
    """D6 LayoutPredictor preprocess chain
    (ppstructure/layout/predict_layout.py:38-57): Resize [800, 608] →
    NormalizeImage (ImageNet, scale 1/255, order hwc) → ToCHWImage →
    KeepKeys['image'] — the exact op list the reference wires for
    PicoDet layout inference, over one rendered blob. Returns 3 rows
    (ref, channel, out_h, out_w, mean, vmin, vmax) with stats rounded
    Python-round(·, 4) inside the kernel (shared rounding site with the
    fixture twin)."""
    from .imagecodecs import render_ref_image

    _, buf = render_ref_image(ref)
    img = decode_image_op(buf, "RGB")
    hist = resize_hist_u8(img, 800, 608)
    lut = _normalize_lut()
    rows = []
    for c in range(3):
        # Stats from the (bit-exact) resized-plane histogram + the D6
        # normalize LUT, never materializing the full tensor:
        #   vmin/vmax — normalize is monotone nondecreasing in the uint8
        #   value (affine, positive scale/std; float32 rounding preserves
        #   order), so plane.min() == lut[first occupied bin] exactly.
        #   mean — Σ count[v]·float64(lut[v]) / N, the histogram-weighted
        #   dot in fixed bin order. This is the CANONICAL definition of
        #   the gate's mean (the fixture twin imports this same kernel,
        #   SURVEY §5 "kernels imported twice"); it pins the identical
        #   semantic content as a positional mean — the full value
        #   histogram of the resized plane × the full normalize LUT —
        #   while reading 2 KB instead of 5.8 MB per channel.
        counts = hist[c]
        n = int(counts.sum())
        nz = np.flatnonzero(counts)
        lut64 = lut[c].astype(np.float64)
        rows.append((ref, c, 800, 608,
                     round(float(np.dot(counts.astype(np.float64),
                                        lut64) / n), 4),
                     round(float(lut[c][nz[0]]), 4),
                     round(float(lut[c][nz[-1]]), 4)))
    return rows


_NORM_LUT: list | None = None


def _normalize_lut() -> list:
    """Per-channel float32 LUT of the D6 normalize chain over all 256
    uint8 values, computed BY normalize_image (same scalar roundings)."""
    global _NORM_LUT
    if _NORM_LUT is None:
        ramp = np.broadcast_to(
            np.arange(256, dtype=np.uint8)[:, None, None],
            (256, 1, 3)).copy()
        full = normalize_image(ramp, order="hwc")
        _NORM_LUT = [np.ascontiguousarray(full[:, 0, c]) for c in range(3)]
    return _NORM_LUT


# ---------------------------------------------------------------------------
# SRMetric — PSNR + SSIM (ppocr/metrics/sr_metric.py:26-155)
# ---------------------------------------------------------------------------

def _ssim_window(window_size: int = 11, sigma: float = 1.5) -> np.ndarray:
    """SSIM.gaussian + create_window (sr_metric.py:34-45): normalized
    1-D gaussian; the 2-D window is its outer product, so the conv2d is
    separable into two 1-D passes."""
    g = np.exp(-((np.arange(window_size) - window_size // 2) ** 2)
               / (2.0 * sigma ** 2))
    return g / g.sum()


def _conv_sep(img: np.ndarray, g: np.ndarray) -> np.ndarray:
    """Zero-padded 'same' 2-D convolution with the separable gaussian —
    the F.conv2d(padding=window_size//2, groups=channel) of
    sr_metric.py:50-63, per 2-D plane. The 11-tap kernel is symmetric,
    so convolution == correlation; computed as 11 shifted-slice
    accumulations per axis (images here are tiny)."""
    k = g.shape[0]
    half = k // 2
    out = img
    for axis in (0, 1):
        pad = [(0, 0), (0, 0)]
        pad[axis] = (half, half)
        p = np.pad(out, pad)
        acc = np.zeros_like(img, dtype=np.float64)
        n = img.shape[axis]
        for t in range(k):
            sl = [slice(None), slice(None)]
            sl[axis] = slice(t, t + n)
            acc += g[t] * p[tuple(sl)]
        out = acc
    return out


def ssim_pair(img1: np.ndarray, img2: np.ndarray) -> float:
    """SSIM._ssim (sr_metric.py:48-75) over one [0, 1]-ranged grayscale
    plane: local means/variances/covariance via the gaussian window,
    C1 = 0.01^2, C2 = 0.03^2, mean of the ssim map."""
    g = _ssim_window()
    mu1 = _conv_sep(img1, g)
    mu2 = _conv_sep(img2, g)
    mu1_sq, mu2_sq, mu1_mu2 = mu1 * mu1, mu2 * mu2, mu1 * mu2
    s1 = _conv_sep(img1 * img1, g) - mu1_sq
    s2 = _conv_sep(img2 * img2, g) - mu2_sq
    s12 = _conv_sep(img1 * img2, g) - mu1_mu2
    c1, c2 = 0.01 ** 2, 0.03 ** 2
    ssim_map = ((2 * mu1_mu2 + c1) * (2 * s12 + c2)) / (
        (mu1_sq + mu2_sq + c1) * (s1 + s2 + c2))
    return float(ssim_map.mean())


def psnr_pair(img1: np.ndarray, img2: np.ndarray) -> float:
    """SRMetric.calculate_psnr (sr_metric.py:113-118): images in [0, 1],
    MSE in the 255 domain, 20 log10(255 / sqrt(mse)); inf when equal."""
    mse = float(((img1 * 255.0 - img2 * 255.0) ** 2).mean())
    if mse == 0:
        return float("inf")
    return float(20.0 * np.log10(255.0 / np.sqrt(mse)))


def sr_pair_for_ref(ref: str) -> tuple:
    """One SRMetric __call__ pair (sr_metric.py:126-134) over a rendered
    blob: hr = the gray [0, 1] 32x64 bilinear resize of the decoded
    image; sr = the same target re-upscaled from a 16x32 downscale (the
    deterministic super-resolution stand-in — the model's output is the
    only nondeterministic piece of the reference's SR path). Returns
    (ref, psnr, ssim) with the per-pair values 6dp-rounded the way
    get_metric rounds the averages, so the fixture twin is
    engine-portable."""
    from .imagecodecs import render_ref_image
    from .recresize import cvt_bgr2gray

    _, buf = render_ref_image(ref)
    gray = cvt_bgr2gray(imread_color(buf))
    hr = resize_bilinear(gray, 32, 64).astype(np.float64) / 255.0
    lr = resize_bilinear(gray, 16, 32)
    sr = resize_bilinear(lr, 32, 64).astype(np.float64) / 255.0
    return (ref, round(psnr_pair(sr, hr), 6), round(ssim_pair(sr, hr), 6))
