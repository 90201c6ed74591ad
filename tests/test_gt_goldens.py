"""Regression pins for the five ground-truth target generators.

Each test runs one generator entry point on seeded inputs and compares
the md5 of its whole output (every array's dtype, shape and bytes,
every scalar's repr) with a digest recorded from the code before the
generators' shared geometry helpers were deduplicated. They need no
reference checkout; they pin behaviour, they do not re-prove it
against the reference.

The span-derived gate traffic only feeds axis-aligned 4-point rects,
so the inputs here add what the gate never reaches: quads rotated by
a seeded angle and 16-point curved polygons, wherever the entry point
accepts them (the >4-point minAreaRect quad fit, the vectorised TBO
fill on slanted quads, and the >4-point head/tail walk).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest


def _feed(h, obj) -> None:
    if isinstance(obj, dict):
        h.update(f"{{{len(obj)}".encode())
        for k in sorted(obj):
            h.update(repr(k).encode())
            _feed(h, obj[k])
    elif isinstance(obj, (list, tuple)):
        h.update(f"[{len(obj)}".encode())
        for v in obj:
            _feed(h, v)
    elif isinstance(obj, np.ndarray):
        a = np.ascontiguousarray(obj)
        h.update(f"<{a.dtype.str}{a.shape}".encode())
        h.update(a.tobytes())
    elif isinstance(obj, np.generic):
        h.update(f"{type(obj).__name__}:{obj.item()!r}".encode())
    else:
        h.update(f"{type(obj).__name__}:{obj!r}".encode())


def _md5(obj) -> str:
    h = hashlib.md5()
    _feed(h, obj)
    return h.hexdigest()


def _rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], np.float64)


def _rotated(cx, cy, w, h, theta):
    """A w x h rect centred at (cx, cy), turned by theta radians; corner
    order top-left, top-right, bottom-right, bottom-left as in the
    span rects."""
    c, s = np.cos(theta), np.sin(theta)
    base = np.array([[-w, -h], [w, -h], [w, h], [-w, h]]) / 2.0
    return base @ np.array([[c, s], [-s, c]]) + [cx, cy]


def _curved16(cx, cy, w, h, bend, theta):
    """16-point Total-Text-style polygon: 8 points left to right along
    a bent top edge, 8 right to left along the bottom, turned by
    theta."""
    xs = np.linspace(-w / 2.0, w / 2.0, 8)
    dy = bend * np.sin(np.linspace(0.0, np.pi, 8))
    top = np.stack([xs, -h / 2.0 + dy], axis=1)
    bot = np.stack([xs, h / 2.0 + dy], axis=1)[::-1]
    c, s = np.cos(theta), np.sin(theta)
    return np.vstack([top, bot]) @ np.array([[c, s], [-s, c]]) + [cx, cy]


def _quads(rng, n, h, w, kind):
    """``n`` seeded shapes inside an h x w canvas: 'rect', 'rot' (4
    points) or 'curved' (16 points)."""
    out = []
    for _ in range(n):
        bw = rng.uniform(0.25, 0.6) * w
        bh = rng.uniform(0.06, 0.14) * h
        cx = rng.uniform(0.35, 0.65) * w
        cy = rng.uniform(0.2, 0.8) * h
        theta = rng.uniform(-0.5, 0.5)
        if kind == "rect":
            out.append(_rect(cx - bw / 2, cy - bh / 2, cx + bw / 2,
                             cy + bh / 2))
        elif kind == "rot":
            out.append(_rotated(cx, cy, bw, bh, theta))
        else:
            out.append(_curved16(cx, cy, bw, bh, rng.uniform(-1, 1) * bh,
                                 theta))
    return np.array(out, np.float32)


KINDS = ("rect", "rot", "curved")
SEEDS = (3, 11, 29, 47, 58, 64, 71, 86, 92, 97)


def _digest_all(run) -> dict:
    return {kind: _md5([run(kind, seed) for seed in SEEDS])
            for kind in KINDS}


def test_pg_process_doc_goldens():
    from paddleocr_spark.pg_gt import PG_LEXICON, pg_process_doc

    def run(kind, seed):
        rng = np.random.RandomState(seed)
        h, w = 300, 400
        im = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        n = 3
        if kind == "curved":
            polys = _quads(rng, n, h, w, "curved")
        else:
            q = _quads(rng, n, h, w, kind)
            # 16 points along each quad's top and bottom edges
            t = np.linspace(0.0, 1.0, 8)[:, None]
            polys = np.array([np.vstack([p[0] + (p[1] - p[0]) * t,
                                         (p[3] + (p[2] - p[3]) * t)[::-1]])
                              for p in q], np.float32)
        tags = [bool(v) for v in rng.rand(n) < 0.2]
        texts = ["".join(rng.choice(list(PG_LEXICON), rng.randint(2, 9)))
                 for _ in range(n)]
        return pg_process_doc(im, polys, tags, texts, seed)

    assert _digest_all(run) == PG_GOLDEN


def test_sast_process_doc_goldens():
    from paddleocr_spark.sast_gt import sast_process_doc

    def run(kind, seed):
        rng = np.random.RandomState(seed)
        h, w = 420, 560
        q = _quads(rng, 4, h, w, kind)
        tags = rng.rand(4) < 0.2
        return sast_process_doc(seed, q, tags, h, w)

    assert _digest_all(run) == SAST_GOLDEN


def test_fce_targets_doc_goldens():
    from paddleocr_spark.fce_gt import fce_targets_doc

    def run(kind, seed):
        rng = np.random.RandomState(seed)
        h, w = 320, 320
        q = _quads(rng, 4, h, w, kind)
        tags = [bool(v) for v in rng.rand(4) < 0.25]
        return fce_targets_doc(q, tags, h, w)

    assert _digest_all(run) == FCE_GOLDEN


def test_drrg_targets_doc_goldens():
    from paddleocr_spark.drrg_gt import drrg_targets_doc

    def run(kind, seed):
        rng = np.random.RandomState(seed)
        h, w = 256, 384
        q = _quads(rng, 3, h, w, kind)
        tags = [bool(v) for v in rng.rand(3) < 0.25]
        return drrg_targets_doc(list(q), tags, h, w, seed)

    assert _digest_all(run) == DRRG_GOLDEN


@pytest.mark.parametrize("kind", ["rect", "rot"])
def test_east_process_doc_goldens(kind):
    from paddleocr_spark.augments import east_process_doc

    def run(seed):
        rng = np.random.RandomState(seed)
        h, w = 360, 480
        q = _quads(rng, 4, h, w, kind)
        tags = rng.rand(4) < 0.2
        return east_process_doc(seed, q, tags, h, w)

    assert _md5([run(s) for s in SEEDS]) == EAST_GOLDEN[kind]


#: md5 digests recorded before the helper deduplication.
PG_GOLDEN = {
    "curved": "f58b67d001024779cbcb71d5956baacf",
    "rect": "416b53887b0deb86aa3b7546bd0b30cd",
    "rot": "3b2d196369200447434991b038a07ec3",
}

SAST_GOLDEN = {
    "curved": "0c9e4986402389c57eceacc2c63014f7",
    "rect": "e4bb3cf68357c1b82dc48b60394c06eb",
    "rot": "ae30a4d5448d824e09792306d9a42237",
}

FCE_GOLDEN = {
    "curved": "ba096080eb1223e31b1e2b0e14839f07",
    "rect": "14d7121115e8683e4c4620ff85629df6",
    "rot": "aff5249ab31ed08f18bac6ae72fa1a89",
}

DRRG_GOLDEN = {
    "curved": "61bc7ad0e2bcc741b16414075846e529",
    "rect": "67f1b2f766fd26e2b3d1d7a35d7d8cdb",
    "rot": "770311e3bf046e46ebffb4e6af325100",
}

EAST_GOLDEN = {
    "rect": "95261895243d273ea29c3eee8bff46ae",
    "rot": "ba57352e2963e7b39d9322a9e90d9d1b",
}
