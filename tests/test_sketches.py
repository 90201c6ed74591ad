"""HyperLogLog sketch: Spark registers/estimate vs a literal Python
implementation of the published estimator."""

from __future__ import annotations

import hashlib
import math

import pytest

from paddleocr_spark.functions.sketches import (
    HLL_ALPHA,
    HLL_HASH_BITS,
    HLL_M,
    HLL_P,
    hll_cardinality,
    hll_error_bound,
)

SF_SMALL = "/root/testdata/sf0.001"

LOW = HLL_HASH_BITS - HLL_P


def py_hll(items) -> float:
    """Flajolet et al. (2007) with the module's register construction."""
    regs = [0] * HLL_M
    for it in items:
        h = int(hashlib.md5(it.encode()).hexdigest()[:15], 16)
        b = h >> LOW
        low = h % (1 << LOW)
        rho = LOW + 1 - low.bit_length()
        regs[b] = max(regs[b], rho)
    s = sum(2.0 ** -r for r in regs)
    raw = HLL_ALPHA * HLL_M * HLL_M / s
    v = regs.count(0)
    if raw <= 2.5 * HLL_M and v > 0:
        return HLL_M * math.log(HLL_M / v)
    return raw


def _shingles_by_lang():
    import duckdb
    rows = duckdb.sql(
        f"SELECT lang, text FROM '{SF_SMALL}/documents.parquet'").fetchall()
    out: dict[str, list] = {}
    for lang, text in rows:
        w = [x for x in (text or "").lower().split(" ") if x]
        out.setdefault(lang, []).extend(
            " ".join(w[i:i + 3]) for i in range(len(w) - 2))
    return out


def test_hll_matches_plain_python(spark):
    """Estimate and exact count per language both match the literal
    Python reimplementation (register-for-register semantics)."""
    sh = _shingles_by_lang()
    got = {r["lang"]: r for r in hll_cardinality(spark, SF_SMALL).collect()}
    assert set(got) == set(sh)
    for lang, items in sh.items():
        want_est = round(py_hll(items), 4)
        want_exact = len(set(items))
        assert got[lang]["exact"] == want_exact, lang
        assert abs(got[lang]["hll_estimate"] - want_est) <= 1e-3, (
            lang, got[lang]["hll_estimate"], want_est)


def test_hll_accuracy_within_published_bound(spark):
    """Every per-language estimate lands within 4 standard errors of the
    exact count (SE = 1.04/sqrt(m)); with m=4096 that is ~6.5%."""
    bound = 4 * hll_error_bound()
    for r in hll_cardinality(spark, SF_SMALL).collect():
        assert r["rel_err"] <= bound, (r["lang"], r["rel_err"], bound)
        assert r["exact"] > 0 and r["hll_estimate"] > 0


def test_hll_branches_both_reachable():
    """The linear-counting and raw-estimate branches both fire for
    realistic cardinalities (pure-Python; the corpus SFs then pin one
    branch each in the cross-engine gate)."""
    small = [f"s{i}" for i in range(500)]          # n << 2.5m
    large = [f"l{i}" for i in range(60_000)]       # n >> 2.5m
    e_small, e_large = py_hll(small), py_hll(large)
    assert abs(e_small - 500) / 500 < 0.05
    assert abs(e_large - 60_000) / 60_000 < 0.05
    # branch witnesses: small must have zero registers, large none-ish
    regs = [0] * HLL_M
    for it in small:
        h = int(hashlib.md5(it.encode()).hexdigest()[:15], 16)
        regs[h >> LOW] = 1
    assert regs.count(0) > 0


def py_cms(stream):
    """Literal CM sketch with the module's hashing."""
    from paddleocr_spark.functions.sketches import CMS_D, CMS_W
    rows = [[0] * CMS_W for _ in range(CMS_D)]
    for g in stream:
        for j in range(CMS_D):
            h = int(hashlib.md5(f"{j}|{g}".encode()).hexdigest()[:15], 16)
            rows[j][h % CMS_W] += 1

    def est(g):
        return min(rows[j][int(hashlib.md5(
            f"{j}|{g}".encode()).hexdigest()[:15], 16) % CMS_W]
            for j in range(CMS_D))
    return est


def _bigram_stream():
    import duckdb
    rows = duckdb.sql(
        f"SELECT text FROM '{SF_SMALL}/documents.parquet'").fetchall()
    out = []
    for (text,) in rows:
        w = [x for x in (text or "").lower().split(" ") if x]
        out.extend(f"{a} {b}" for a, b in zip(w, w[1:]))
    return out


def test_cms_matches_plain_python(spark):
    """Every bigram's estimate equals the literal Python sketch; the
    one-sided property and the no-false-negative guarantee hold."""
    from collections import Counter

    from paddleocr_spark.functions.sketches import (CMS_PHI,
                                                    cms_heavy_hitters)
    stream = _bigram_stream()
    est = py_cms(stream)
    exact = Counter(stream)
    thresh = CMS_PHI * len(stream)
    got = {r["bigram"]: r
           for r in cms_heavy_hitters(spark, SF_SMALL).collect()}
    assert set(got) == set(exact)
    collided = heavy_t = heavy_f = 0
    for g, r in got.items():
        assert r["exact"] == exact[g], g
        assert r["cms_est"] == est(g), g
        assert r["over"] == r["cms_est"] - r["exact"] and r["over"] >= 0
        assert r["heavy"] == (r["cms_est"] >= thresh), g
        # no false negatives: truly heavy items are always flagged
        if exact[g] >= thresh:
            assert r["heavy"], g
        collided += r["over"] > 0
        heavy_t += bool(r["heavy"])
        heavy_f += not r["heavy"]
    # the under-provisioned width makes collisions visible, and the
    # phi threshold splits the population both ways
    assert collided > 0
    assert heavy_t > 0 and heavy_f > 0


def py_qdigest(values, k):
    """Literal q-digest build + walk with the module's rules."""
    from collections import Counter

    from paddleocr_spark.functions.sketches import QD_L
    n = len(values)
    thr = math.ceil(n / k)
    nodes = {(QD_L, v): c for v, c in Counter(values).items()}
    for lvl in range(QD_L, 0, -1):
        children = {(lv, i): c for (lv, i), c in nodes.items() if lv == lvl}
        by_parent = {}
        for (_, i), c in children.items():
            by_parent[i // 2] = by_parent.get(i // 2, 0) + c
        for pidx, csum in sorted(by_parent.items()):
            s = csum + nodes.get((lvl - 1, pidx), 0)
            if s < thr:
                nodes[(lvl - 1, pidx)] = s
                for i in (2 * pidx, 2 * pidx + 1):
                    nodes.pop((lvl, i), None)
    walk = []
    for (lv, i), c in nodes.items():
        lo = i << (QD_L - lv)
        hi = ((i + 1) << (QD_L - lv)) - 1
        walk.append((hi, hi - lo, i, c))
    walk.sort()
    out = {}
    for q in (0.5, 0.9, 0.99):
        rk = math.ceil(q * n)
        cum = 0
        for hi, _, _, c in walk:
            cum += c
            if cum >= rk:
                out[q] = hi
                break
    return out


def test_qdigest_matches_plain_python(spark):
    """Per-language digest estimates equal the literal Python build, the
    estimate is always rank-conservative (true rank >= requested), and
    the rank error stays within the paper's L*n/k bound."""
    import duckdb

    from paddleocr_spark.functions.sketches import (QD_K, QD_L,
                                                    qdigest_quantiles)

    rows = duckdb.sql(
        f"SELECT lang, text FROM '{SF_SMALL}/documents.parquet'").fetchall()
    vals: dict[str, list] = {}
    for lang, text in rows:
        v = min(len([x for x in (text or "").lower().split(" ") if x]),
                (1 << QD_L) - 1)
        vals.setdefault(lang, []).append(v)
    got = {(r["lang"], r["q"]): r
           for r in qdigest_quantiles(spark, SF_SMALL).collect()}
    assert {lg for lg, _ in got} == set(vals)
    for lang, vs in vals.items():
        want = py_qdigest(vs, QD_K)
        n = len(vs)
        svals = sorted(vs)
        for q, est in want.items():
            r = got[(lang, q)]
            assert r["qd_est"] == est, (lang, q, r["qd_est"], est)
            assert r["n"] == n
            rk = math.ceil(q * n)
            true_rank = sum(1 for x in vs if x <= est)
            assert true_rank >= rk, (lang, q)          # conservative
            assert true_rank - rk <= QD_L * n / QD_K + 1, (lang, q)
            # exact column is the type-1 order statistic
            assert r["exact"] == svals[rk - 1], (lang, q)


def test_qdigest_edge_cases_match_plain_python(spark, tmp_path):
    """The digest equals the literal Python build on a seeded corpus
    built to hit the edges: a language with n <= QD_K (thr == 1, no
    pair ever merges), a single-value language, values clamped at 0 and
    at 2^QD_L - 1, and one heavily skewed language."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from paddleocr_spark.functions.sketches import (QD_K, QD_L,
                                                    qdigest_quantiles)

    top = (1 << QD_L) - 1
    rng = random.Random(20041103)
    lengths = {
        "tiny": [rng.randrange(0, top + 1) for _ in range(QD_K - 5)],
        "one": [17] * 300,
        "clamp": ([0] * 150 + [top + 1 + rng.randrange(0, 200)
                              for _ in range(110)]
                  + [rng.randrange(0, top + 1) for _ in range(40)]),
        "skew": ([3] * 900 + [rng.randrange(0, top + 1)
                              for _ in range(60)]),
    }
    langs, texts = [], []
    for lang, ls in lengths.items():
        for n_words in ls:
            words = [f"w{rng.randrange(50)}" for _ in range(n_words)]
            # doubled separators yield empty tokens, which are not words
            texts.append(("  " if rng.random() < 0.2 else " ").join(words))
            langs.append(lang)
    pq.write_table(pa.table({"doc_id": list(range(len(texts))),
                             "lang": langs, "text": texts}),
                   str(tmp_path / "documents.parquet"))

    got = {(r["lang"], r["q"]): r
           for r in qdigest_quantiles(spark, str(tmp_path)).collect()}
    assert {lg for lg, _ in got} == set(lengths)
    for lang, ls in lengths.items():
        vs = [min(x, top) for x in ls]
        n, svals = len(vs), sorted(vs)
        for q, est in py_qdigest(vs, QD_K).items():
            r = got[(lang, q)]
            exact = svals[math.ceil(q * n) - 1]
            assert (r["n"], r["qd_est"], r["exact"], r["err"]) == (
                n, est, exact, est - exact), (lang, q)
    # thr == 1 keeps every leaf, and a single-valued group is one leaf:
    # both digests are exact
    for lang in ("tiny", "one"):
        assert all(got[(lang, q)]["err"] == 0 for q in (0.5, 0.9, 0.99))
    assert got[("clamp", 0.5)]["exact"] == 0
    assert got[("clamp", 0.99)]["exact"] == top
