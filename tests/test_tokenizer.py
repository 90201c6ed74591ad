"""BPE merge training: plain-Python replay vs the Spark implementation.

The replay is the textbook algorithm (Sennrich et al. 2016 get_stats /
merge_vocab shape) — ground truth independent of both Spark and the
DuckDB twin.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from paddleocr_spark.functions.tokenizer import (BPE_MERGES, bpe_merges,
                                                 bpe_token_counts)

SF = "/root/testdata/sf0.001"


def _bpe_python(word_counts: dict[str, int], k: int):
    toks = {w: [c for c in w] for w in word_counts}
    merges = []
    for r in range(1, k + 1):
        stats: dict[tuple[str, str], int] = {}
        for w, t in toks.items():
            for a, b in zip(t, t[1:]):
                stats[(a, b)] = stats.get((a, b), 0) + word_counts[w]
        if not stats:
            continue
        (a, b), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, a + b, cnt))
        for w, t in toks.items():
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            toks[w] = out
    return merges, toks


def _corpus_counts(path: str) -> dict[str, int]:
    t = pq.read_table(f"{path}/documents.parquet", columns=["text"])
    counts: dict[str, int] = {}
    for x in t.column("text").to_pylist():
        for w in str(x).lower().split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    return counts


def test_bpe_matches_textbook_replay_on_corpus(spark):
    counts = _corpus_counts(SF)
    want_merges, want_toks = _bpe_python(counts, BPE_MERGES)
    got = [(r["merge_round"], r["left_tok"], r["right_tok"], r["merged"],
            r["pair_count"]) for r in bpe_merges(spark, SF).collect()]
    assert got == want_merges
    gtoks = {r["word"]: (r["n"], r["n_tokens"], r["tokens"])
             for r in bpe_token_counts(spark, SF).collect()}
    assert set(gtoks) == set(want_toks)
    for w, t in want_toks.items():
        assert gtoks[w] == (counts[w], len(t), "|".join(t)), w
    # the learned merges are real multi-round structure, not ties on 0
    assert len(got) == BPE_MERGES and got[0][4] > 1
    # apply step: per-doc totals under the learned tokenization
    from paddleocr_spark.functions.tokenizer import bpe_encode
    t = pq.read_table(f"{SF}/documents.parquet",
                      columns=["doc_id", "text"])
    genc = {r["doc_id"]: r for r in bpe_encode(spark, SF).collect()}
    for d, x in zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()):
        words = [w for w in str(x).lower().split(" ") if w]
        ntok = sum(len(want_toks[w]) for w in words)
        g = genc[int(d)]
        assert (g["n_words"], g["n_tokens"]) == (len(words), ntok), d
        # Spark/DuckDB round half AWAY from zero; python's round() is
        # banker's, and small-integer ratios DO hit exact .00005
        # boundaries (3.53125 here) — replicate half-up explicitly
        import math
        fert = (math.floor(ntok / len(words) * 10000 + 0.5) / 10000
                if words else 0.0)
        assert abs(g["fertility"] - fert) < 1e-9, d


def test_bpe_greedy_overlap_and_cascade(spark, tmp_path):
    """The adversarial shapes: overlapping pairs ('aaaa' → greedy
    left-to-right gives [aa, aa]), cascading merges onto earlier merged
    tokens, and a token that merely ENDS with the left element (the
    suffix guard: 'xa' must never merge with a following 'a' pair)."""
    rows = [(0, " ".join(["aaaa", "aaa", "xa", "a", "baba", "ab",
                          "aab"] * 2)),
            (1, "aaaaaaaa xaa abab")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    counts = _corpus_counts(str(tmp_path))
    want_merges, want_toks = _bpe_python(counts, BPE_MERGES)
    got = [(r["merge_round"], r["left_tok"], r["right_tok"], r["merged"],
            r["pair_count"])
           for r in bpe_merges(spark, str(tmp_path)).collect()]
    assert got == want_merges
    gtoks = {r["word"]: r["tokens"]
             for r in bpe_token_counts(spark, str(tmp_path)).collect()}
    assert gtoks == {w: "|".join(t) for w, t in want_toks.items()}


def test_wordpiece_matches_plain_python(spark):
    """WordPiece greedy longest-match: Spark unrolled matcher == a
    literal Python implementation of the published algorithm over the
    same corpus-derived vocabulary, every word type."""
    from collections import Counter

    from paddleocr_spark.functions.tokenizer import (WP_MAX_PIECE,
                                                     WP_REL_FREQ,
                                                     wordpiece_encode)

    import duckdb

    words = []
    for (text,) in duckdb.sql(
            f"SELECT text FROM '{SF}/documents.parquet'").fetchall():
        words.extend(x for x in (text or "").lower().split(" ") if x)
    freq = Counter(words)
    tot = sum(freq.values())
    pieces: Counter = Counter()
    for w, f in freq.items():
        for p in range(len(w)):
            for ln in range(2, WP_MAX_PIECE + 1):
                if p + ln <= len(w):
                    pieces[(w[p:p + ln], p == 0)] += f
    chars = {c for w in freq for c in w}
    vh = {pc for (pc, head), pf in pieces.items()
          if head and pf >= WP_REL_FREQ * tot} | chars
    vc = {pc for (pc, head), pf in pieces.items()
          if not head and pf >= WP_REL_FREQ * tot} | chars

    def encode(w: str) -> list[str]:
        out, pos = [], 0
        while pos < len(w):
            vocab = vh if pos == 0 else vc
            for ln in range(min(WP_MAX_PIECE, len(w) - pos), 0, -1):
                if w[pos:pos + ln] in vocab:
                    out.append(w[pos:pos + ln] if pos == 0
                               else "##" + w[pos:pos + ln])
                    pos += ln
                    break
        return out

    got = {r["word"]: r for r in wordpiece_encode(spark, SF).collect()}
    assert set(got) == set(freq)
    multi = 0
    for w, f in freq.items():
        want = encode(w)
        r = got[w]
        assert r["pieces"] == " ".join(want), (w, r["pieces"], want)
        assert r["n_pieces"] == len(want) and r["freq"] == f
        assert r["consumed"], w
        multi += len(want) > 1
    # the vocabulary threshold must actually split behavior: some words
    # stay whole (or near-whole), others fragment
    assert 0 < multi < len(freq)


def test_wordpiece_raises_on_a_word_the_steps_cannot_consume(spark,
                                                            tmp_path):
    """A word longer than WP_STEPS whose multi-char pieces all stay under
    WP_REL_FREQ takes one step per character: the unrolled matcher
    cannot consume it, and the query names it instead of emitting a
    truncated row."""
    from paddleocr_spark.functions.tokenizer import (WP_STEPS,
                                                     wordpiece_encode)

    long_word = "qwertyuiopzxcvbnm"               # 17 distinct chars
    assert len(long_word) > WP_STEPS
    rows = [(i, "ab cd ef ab cd") for i in range(60)]
    rows.append((60, f"ab {long_word}"))
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(Exception, match=long_word):
        wordpiece_encode(spark, str(tmp_path)).collect()
