"""FCENetTargets (ppocr/data/imaug/fce_targets.py:25-686) — deterministic.

The FCE training-target generator: per-poly head/tail edge discovery,
sideline resampling, shrunk center-region boxes, Fourier-contour
signatures (numpy fft over the resampled boundary), and the three
FPN-level map stacks (text region, center region, effective mask,
2k+1 real + 2k+1 imaginary coefficient maps).

NO randomness anywhere — the operator is a pure function of the polys,
so unlike the augments family no seed threading is needed; the exec-ref
differential runs the reference class whole on the same inputs.

fillPoly axiom: every filled shape on the 4-point-rect path is
axis-aligned (original polys; center-region boxes interpolate between
the horizontal resampled top/bottom sidelines), so each int32 poly is
filled as its corner bbox — the documented bbox axiom.
cv2.boundingRect is transcribed as the inclusive bbox (w = max-min+1).

Quirks preserved:

* find_head_tail's 4-point arm picks head/tail by slope sums with the
  1e-8-guarded vector_slope and the orientation_thr x2 gate; the
  >4-point Gaussian-scored arm is transcribed verbatim (reached only
  through non-quad corpora);
* reorder_poly_edge's ``tail_inds[1] < 1 -> len(points)`` wrap and the
  y-mean sideline swap;
* generate_center_region_mask drops a poly when the two resampled
  sidelines differ in length (dead for same-n resampling, transcribed);
* the level gates are OPEN intervals (lo < proportion < hi) over the
  int32-truncated bounding box, and ranges overlap — a poly can land
  in two levels;
* generate_fourier_maps' k=0 channel stores coeff - pixel coordinate
  (argwhere order), other channels blend by mask;
* normalize_polygon's argmin over the 8 most-x-central points.

Shared helpers: the reference's drrg_targets.py copies vector_slope,
the vector-angle helper, find_head_tail and reorder_poly_edge verbatim
from fce_targets.py, adding only a 1e-8 to the >4-point arm's edge-distance normaliser, so
``drrg_gt`` imports them from here and passes that epsilon as
``dist_eps``. The text-region masks stay apart: FCE fills bboxes
(``kernels.fill_bboxes``), DRRG fills even-odd polygons.
"""

from __future__ import annotations

import numpy as np
from numpy.fft import fft
from numpy.linalg import norm

from .kernels import fill_bboxes

FCE_FOURIER_DEGREE = 5                 #: fce_targets.py:48
FCE_RESAMPLE_STEP = 4.0                #: :49
FCE_CENTER_SHRINK = 0.3                #: :50
FCE_LEVEL_DIVS = (8, 16, 32)           #: :51
FCE_LEVEL_RANGES = ((0, 0.25), (0.2, 0.65), (0.55, 1.0))   #: :52
FCE_ORIENT_THR = 2.0                   #: :53


def vector_slope(vec):
    """:25-27 verbatim."""
    assert len(vec) == 2
    return abs(vec[1] / (vec[0] + 1e-8))


def _bounding_rect(poly_i32: np.ndarray):
    """cv2.boundingRect inclusive bbox: (x, y, w, h) with w/h one past
    the extent difference."""
    p = poly_i32.reshape(-1, 2)
    x, y = int(p[:, 0].min()), int(p[:, 1].min())
    return (x, y, int(p[:, 0].max()) - x + 1, int(p[:, 1].max()) - y + 1)


def fce_vector_angle(vec1, vec2):
    """:68-79 verbatim."""
    if vec1.ndim > 1:
        unit_vec1 = vec1 / (norm(vec1, axis=-1) + 1e-8).reshape((-1, 1))
    else:
        unit_vec1 = vec1 / (norm(vec1, axis=-1) + 1e-8)
    if vec2.ndim > 1:
        unit_vec2 = vec2 / (norm(vec2, axis=-1) + 1e-8).reshape((-1, 1))
    else:
        unit_vec2 = vec2 / (norm(vec2, axis=-1) + 1e-8)
    return np.arccos(
        np.clip(np.sum(unit_vec1 * unit_vec2, axis=-1), -1.0, 1.0))


def resample_line(line: np.ndarray, n: int) -> np.ndarray:
    """:81-131 verbatim edge-walk resampling."""
    assert line.ndim == 2
    assert line.shape[0] >= 2
    assert line.shape[1] == 2
    assert isinstance(n, int)
    assert n > 0
    length_list = [
        norm(line[i + 1] - line[i]) for i in range(len(line) - 1)
    ]
    total_length = sum(length_list)
    length_cumsum = np.cumsum([0.0] + length_list)
    delta_length = total_length / (float(n) + 1e-8)
    current_edge_ind = 0
    resampled_line = [line[0]]
    for i in range(1, n):
        current_line_len = i * delta_length
        while current_edge_ind + 1 < len(length_cumsum) and \
                current_line_len >= length_cumsum[current_edge_ind + 1]:
            current_edge_ind += 1
        current_edge_end_shift = current_line_len - length_cumsum[
            current_edge_ind]
        if current_edge_ind >= len(length_list):
            break
        end_shift_ratio = current_edge_end_shift / length_list[
            current_edge_ind]
        current_point = line[current_edge_ind] + (
            line[current_edge_ind + 1] - line[current_edge_ind]
        ) * end_shift_ratio
        resampled_line.append(current_point)
    resampled_line.append(line[-1])
    return np.array(resampled_line)


def find_head_tail(points: np.ndarray, orientation_thr: float,
                   dist_eps: float = 0.0):
    """:174-271 verbatim (both arms). ``dist_eps`` guards the >4-point
    arm's edge-distance normaliser: DRRG's copy of this walk
    (drrg_targets.py:83-169) divides by ``max + 1e-8``, FCE's by the
    bare max (``max + 0.0`` is the same float)."""
    assert points.ndim == 2
    assert points.shape[0] >= 4
    assert points.shape[1] == 2
    assert isinstance(orientation_thr, float)
    if len(points) > 4:
        pad_points = np.vstack([points, points[0]])
        edge_vec = pad_points[1:] - pad_points[:-1]
        theta_sum = []
        adjacent_vec_theta = []
        for i, edge_vec1 in enumerate(edge_vec):
            adjacent_ind = [x % len(edge_vec) for x in [i - 1, i + 1]]
            adjacent_edge_vec = edge_vec[adjacent_ind]
            temp_theta_sum = np.sum(
                fce_vector_angle(edge_vec1, adjacent_edge_vec))
            temp_adjacent_theta = fce_vector_angle(adjacent_edge_vec[0],
                                                   adjacent_edge_vec[1])
            theta_sum.append(temp_theta_sum)
            adjacent_vec_theta.append(temp_adjacent_theta)
        theta_sum_score = np.array(theta_sum) / np.pi
        adjacent_theta_score = np.array(adjacent_vec_theta) / np.pi
        poly_center = np.mean(points, axis=0)
        edge_dist = np.maximum(
            norm(pad_points[1:] - poly_center, axis=-1),
            norm(pad_points[:-1] - poly_center, axis=-1))
        dist_score = edge_dist / (np.max(edge_dist) + dist_eps)
        position_score = np.zeros(len(edge_vec))
        score = 0.5 * theta_sum_score + 0.15 * adjacent_theta_score
        score += 0.35 * dist_score
        if len(points) % 2 == 0:
            position_score[(len(score) // 2 - 1)] += 1
            position_score[-1] += 1
        score += 0.1 * position_score
        pad_score = np.concatenate([score, score])
        score_matrix = np.zeros((len(score), len(score) - 3))
        x = np.arange(len(score) - 3) / float(len(score) - 4)
        gaussian = 1. / (np.sqrt(2. * np.pi) * 0.5) * np.exp(-np.power(
            (x - 0.5) / 0.5, 2.) / 2)
        gaussian = gaussian / np.max(gaussian)
        for i in range(len(score)):
            score_matrix[i, :] = score[i] + pad_score[
                (i + 2):(i + len(score) - 1)] * gaussian * 0.3
        head_start, tail_increment = np.unravel_index(
            score_matrix.argmax(), score_matrix.shape)
        tail_start = (head_start + tail_increment + 2) % len(points)
        head_end = (head_start + 1) % len(points)
        tail_end = (tail_start + 1) % len(points)
        if head_end > tail_end:
            head_start, tail_start = tail_start, head_start
            head_end, tail_end = tail_end, head_end
        head_inds = [head_start, head_end]
        tail_inds = [tail_start, tail_end]
    else:
        if vector_slope(points[1] - points[0]) + vector_slope(
                points[3] - points[2]) < vector_slope(
                    points[2] - points[1]) + vector_slope(
                        points[0] - points[3]):
            horizontal_edge_inds = [[0, 1], [2, 3]]
            vertical_edge_inds = [[3, 0], [1, 2]]
        else:
            horizontal_edge_inds = [[3, 0], [1, 2]]
            vertical_edge_inds = [[0, 1], [2, 3]]
        vertical_len_sum = norm(points[vertical_edge_inds[0][0]] - points[
            vertical_edge_inds[0][1]]) + norm(points[vertical_edge_inds[
                1][0]] - points[vertical_edge_inds[1][1]])
        horizontal_len_sum = norm(
            points[horizontal_edge_inds[0][0]] -
            points[horizontal_edge_inds[0][1]]) + norm(
                points[horizontal_edge_inds[1][0]] -
                points[horizontal_edge_inds[1][1]])
        if vertical_len_sum > horizontal_len_sum * orientation_thr:
            head_inds = horizontal_edge_inds[0]
            tail_inds = horizontal_edge_inds[1]
        else:
            head_inds = vertical_edge_inds[0]
            tail_inds = vertical_edge_inds[1]
    return head_inds, tail_inds


def reorder_poly_edge(points: np.ndarray,
                      orientation_thr: float = FCE_ORIENT_THR,
                      dist_eps: float = 0.0):
    """:133-172 verbatim (DRRG's drrg_targets.py:170-194 is the same
    walk; ``dist_eps`` as in :func:`find_head_tail`)."""
    assert points.ndim == 2
    assert points.shape[0] >= 4
    assert points.shape[1] == 2
    head_inds, tail_inds = find_head_tail(points, orientation_thr, dist_eps)
    head_edge, tail_edge = points[head_inds], points[tail_inds]
    pad_points = np.vstack([points, points])
    if tail_inds[1] < 1:
        tail_inds[1] = len(points)
    sideline1 = pad_points[head_inds[1]:tail_inds[1]]
    sideline2 = pad_points[tail_inds[1]:(head_inds[1] + len(points))]
    sideline_mean_shift = np.mean(
        sideline1, axis=0) - np.mean(sideline2, axis=0)
    if sideline_mean_shift[1] > 0:
        top_sideline, bot_sideline = sideline2, sideline1
    else:
        top_sideline, bot_sideline = sideline1, sideline2
    return head_edge, tail_edge, top_sideline, bot_sideline


def resample_sidelines(sideline1, sideline2, resample_step: float):
    """:273-311 verbatim."""
    assert sideline1.ndim == sideline2.ndim == 2
    assert sideline1.shape[1] == sideline2.shape[1] == 2
    assert sideline1.shape[0] >= 2
    assert sideline2.shape[0] >= 2
    assert isinstance(resample_step, float)
    length1 = sum([
        norm(sideline1[i + 1] - sideline1[i])
        for i in range(len(sideline1) - 1)
    ])
    length2 = sum([
        norm(sideline2[i + 1] - sideline2[i])
        for i in range(len(sideline2) - 1)
    ])
    total_length = (length1 + length2) / 2
    resample_point_num = max(int(float(total_length) / resample_step), 1)
    resampled_line1 = resample_line(sideline1, resample_point_num)
    resampled_line2 = resample_line(sideline2, resample_point_num)
    return resampled_line1, resampled_line2


def generate_center_region_mask(img_size, text_polys,
                                resample_step: float = FCE_RESAMPLE_STEP,
                                shrink: float = FCE_CENTER_SHRINK):
    """:313-371 verbatim (head/tail shrink counts, per-segment shrunk
    quads, one multi-poly fill)."""
    assert isinstance(img_size, tuple)
    h, w = img_size
    center_region_mask = np.zeros((h, w), np.uint8)
    center_region_boxes = []
    for poly in text_polys:
        polygon_points = poly.reshape(-1, 2)
        _, _, top_line, bot_line = reorder_poly_edge(polygon_points)
        resampled_top_line, resampled_bot_line = resample_sidelines(
            top_line, bot_line, resample_step)
        resampled_bot_line = resampled_bot_line[::-1]
        if len(resampled_top_line) != len(resampled_bot_line):
            continue
        center_line = (resampled_top_line + resampled_bot_line) / 2
        line_head_shrink_len = norm(resampled_top_line[0] -
                                    resampled_bot_line[0]) / 4.0
        line_tail_shrink_len = norm(resampled_top_line[-1] -
                                    resampled_bot_line[-1]) / 4.0
        head_shrink_num = int(line_head_shrink_len // resample_step)
        tail_shrink_num = int(line_tail_shrink_len // resample_step)
        if len(center_line) > head_shrink_num + tail_shrink_num + 2:
            center_line = center_line[head_shrink_num:len(center_line) -
                                      tail_shrink_num]
            resampled_top_line = resampled_top_line[head_shrink_num:len(
                resampled_top_line) - tail_shrink_num]
            resampled_bot_line = resampled_bot_line[head_shrink_num:len(
                resampled_bot_line) - tail_shrink_num]
        for i in range(0, len(center_line) - 1):
            tl = center_line[i] + (resampled_top_line[i] -
                                   center_line[i]) * shrink
            tr = center_line[i + 1] + (resampled_top_line[i + 1] -
                                       center_line[i + 1]) * shrink
            br = center_line[i + 1] + (resampled_bot_line[i + 1] -
                                       center_line[i + 1]) * shrink
            bl = center_line[i] + (resampled_bot_line[i] -
                                   center_line[i]) * shrink
            current_center_box = np.vstack([tl, tr, br,
                                            bl]).astype(np.int32)
            center_region_boxes.append(current_center_box)
    fill_bboxes(center_region_mask, center_region_boxes, 1)
    return center_region_mask


def resample_polygon(polygon: np.ndarray, n: int = 400) -> np.ndarray:
    """:373-413 verbatim (per-edge proportional int point counts; a
    zero-count edge contributes nothing, including its start point)."""
    length = []
    for i in range(len(polygon)):
        p1 = polygon[i]
        if i == len(polygon) - 1:
            p2 = polygon[0]
        else:
            p2 = polygon[i + 1]
        length.append(((p1[0] - p2[0]) ** 2 + (p1[1] - p2[1]) ** 2) ** 0.5)
    total_length = sum(length)
    n_on_each_line = (np.array(length) / (total_length + 1e-8)) * n
    n_on_each_line = n_on_each_line.astype(np.int32)
    new_polygon = []
    for i in range(len(polygon)):
        num = n_on_each_line[i]
        p1 = polygon[i]
        if i == len(polygon) - 1:
            p2 = polygon[0]
        else:
            p2 = polygon[i + 1]
        if num == 0:
            continue
        dxdy = (p2 - p1) / num
        for j in range(num):
            point = p1 + dxdy * j
            new_polygon.append(point)
    return np.array(new_polygon)


def normalize_polygon(polygon: np.ndarray) -> np.ndarray:
    """:415-430 verbatim (start at the most x-central of the top-8)."""
    temp_polygon = polygon - polygon.mean(axis=0)
    x = np.abs(temp_polygon[:, 0])
    y = temp_polygon[:, 1]
    index_x = np.argsort(x)
    index_y = np.argmin(y[index_x[:8]])
    index = index_x[index_y]
    new_polygon = np.concatenate([polygon[index:], polygon[:index]])
    return new_polygon


def poly2fourier(polygon: np.ndarray, fourier_degree: int) -> np.ndarray:
    """:432-445 verbatim."""
    points = polygon[:, 0] + polygon[:, 1] * 1j
    c_fft = fft(points) / len(points)
    c = np.hstack((c_fft[-fourier_degree:], c_fft[:fourier_degree + 1]))
    return c


def clockwise(c: np.ndarray, fourier_degree: int) -> np.ndarray:
    """:447-464 verbatim."""
    if np.abs(c[fourier_degree + 1]) > np.abs(c[fourier_degree - 1]):
        return c
    elif np.abs(c[fourier_degree + 1]) < np.abs(c[fourier_degree - 1]):
        return c[::-1]
    else:
        if np.abs(c[fourier_degree + 2]) > np.abs(c[fourier_degree - 2]):
            return c
        else:
            return c[::-1]


def cal_fourier_signature(polygon: np.ndarray,
                          fourier_degree: int) -> np.ndarray:
    """:466-486 verbatim."""
    resampled_polygon = resample_polygon(polygon)
    resampled_polygon = normalize_polygon(resampled_polygon)
    fourier_coeff = poly2fourier(resampled_polygon, fourier_degree)
    fourier_coeff = clockwise(fourier_coeff, fourier_degree)
    real_part = np.real(fourier_coeff).reshape((-1, 1))
    image_part = np.imag(fourier_coeff).reshape((-1, 1))
    return np.hstack([real_part, image_part])


def generate_fourier_maps(img_size, text_polys,
                          fourier_degree: int = FCE_FOURIER_DEGREE):
    """:488-526 verbatim (k=0 channel stores coeff - coordinate)."""
    assert isinstance(img_size, tuple)
    h, w = img_size
    k = fourier_degree
    real_map = np.zeros((k * 2 + 1, h, w), dtype=np.float32)
    imag_map = np.zeros((k * 2 + 1, h, w), dtype=np.float32)
    for poly in text_polys:
        mask = np.zeros((h, w), dtype=np.uint8)
        polygon = np.array(poly).reshape((1, -1, 2))
        fill_bboxes(mask, polygon.astype(np.int32), 1)
        fourier_coeff = cal_fourier_signature(polygon[0], k)
        # The reference blends FULL maps per channel:
        #   map = mask * c + (1 - mask) * map
        # With mask in {0, 1} that is exactly an indexed store: at
        # mask==1 the value becomes float32(c) (c + 0.0 cast on
        # assignment — same cast either way), at mask==0 the float64
        # round-trip of the old float32 value is exact. Indexed
        # assignment is bit-identical and O(mask px), not O(h*w)
        # per channel (exec-ref differential #47 compares full maps).
        yx = np.argwhere(mask > 0.5)
        y, x = yx[:, 0], yx[:, 1]
        for i in range(-k, k + 1):
            if i != 0:
                real_map[i + k, y, x] = fourier_coeff[i + k, 0]
                imag_map[i + k, y, x] = fourier_coeff[i + k, 1]
            else:
                real_map[k, y, x] = fourier_coeff[k, 0] - x
                imag_map[k, y, x] = fourier_coeff[k, 1] - y
    return real_map, imag_map


def generate_text_region_mask(img_size, text_polys):
    """:528-548 verbatim."""
    assert isinstance(img_size, tuple)
    h, w = img_size
    text_region_mask = np.zeros((h, w), dtype=np.uint8)
    for poly in text_polys:
        polygon = np.array(poly, dtype=np.int32).reshape((1, -1, 2))
        fill_bboxes(text_region_mask, polygon, 1)
    return text_region_mask


def generate_effective_mask(mask_size: tuple, polygons_ignore):
    """:550-569 verbatim."""
    mask = np.ones(mask_size, dtype=np.uint8)
    for poly in polygons_ignore:
        instance = poly.reshape(-1, 2).astype(np.int32).reshape(1, -1, 2)
        fill_bboxes(mask, instance, 0)
    return mask


def generate_level_targets(img_size, text_polys, ignore_polys,
                           level_size_divisors=FCE_LEVEL_DIVS,
                           level_proportion_range=FCE_LEVEL_RANGES,
                           fourier_degree: int = FCE_FOURIER_DEGREE):
    """:571-628 verbatim (open-interval, possibly-overlapping level
    gates over the int32 inclusive bounding box)."""
    h, w = img_size
    lv_size_divs = level_size_divisors
    lv_proportion_range = level_proportion_range
    lv_text_polys = [[] for i in range(len(lv_size_divs))]
    lv_ignore_polys = [[] for i in range(len(lv_size_divs))]
    level_maps = []
    for poly in text_polys:
        polygon = np.array(poly, dtype=np.int32).reshape((1, -1, 2))
        _, _, box_w, box_h = _bounding_rect(polygon)
        proportion = max(box_h, box_w) / (h + 1e-8)
        for ind, proportion_range in enumerate(lv_proportion_range):
            if proportion_range[0] < proportion < proportion_range[1]:
                lv_text_polys[ind].append(poly / lv_size_divs[ind])
    for ignore_poly in ignore_polys:
        polygon = np.array(ignore_poly, dtype=np.int32).reshape((1, -1, 2))
        _, _, box_w, box_h = _bounding_rect(polygon)
        proportion = max(box_h, box_w) / (h + 1e-8)
        for ind, proportion_range in enumerate(lv_proportion_range):
            if proportion_range[0] < proportion < proportion_range[1]:
                lv_ignore_polys[ind].append(ignore_poly / lv_size_divs[ind])
    for ind, size_divisor in enumerate(lv_size_divs):
        current_level_maps = []
        level_img_size = (h // size_divisor, w // size_divisor)
        text_region = generate_text_region_mask(
            level_img_size, lv_text_polys[ind])[None]
        current_level_maps.append(text_region)
        center_region = generate_center_region_mask(
            level_img_size, lv_text_polys[ind])[None]
        current_level_maps.append(center_region)
        effective_mask = generate_effective_mask(
            level_img_size, lv_ignore_polys[ind])[None]
        current_level_maps.append(effective_mask)
        fourier_real_map, fourier_image_maps = generate_fourier_maps(
            level_img_size, lv_text_polys[ind], fourier_degree)
        current_level_maps.append(fourier_real_map)
        current_level_maps.append(fourier_image_maps)
        level_maps.append(np.concatenate(current_level_maps))
    return level_maps


def fce_targets_doc(quads: np.ndarray, tags, h: int, w: int,
                    fourier_degree: int = FCE_FOURIER_DEGREE):
    """generate_targets (:630-665) for one document: split polys by
    ignore tag, build the three level stacks, return per-level
    observables — (text_px, center_px, effective_px, real channel sums,
    imag channel sums), each sum float64-exact over the float32 maps.

    Quirk (verbatim): the split tests ``tag is True`` — an np.bool_
    True is NOT ``is True``, so numpy-typed tags are silently treated
    as care polys. Callers must pass Python bools."""
    polygon_masks = []
    polygon_masks_ignore = []
    for tag, polygon in zip(tags, quads):
        if tag is True:
            polygon_masks_ignore.append(polygon)
        else:
            polygon_masks.append(polygon)
    level_maps = generate_level_targets((h, w), polygon_masks,
                                        polygon_masks_ignore,
                                        fourier_degree=fourier_degree)
    out = []
    k2 = 2 * fourier_degree + 1
    for maps in level_maps:
        text_px = int(maps[0].sum())
        center_px = int(maps[1].sum())
        eff_px = int(maps[2].sum())
        reals = [float(np.sum(maps[3 + c], dtype=np.float64))
                 for c in range(k2)]
        imags = [float(np.sum(maps[3 + k2 + c], dtype=np.float64))
                 for c in range(k2)]
        out.append((text_px, center_px, eff_px, reals, imags))
    return out
