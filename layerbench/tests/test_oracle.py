"""Hand checks of the benchmark's oracle and generator (no Spark, no engine).

Run from the repository root: ``python3 -m pytest layerbench/tests -q``.
"""

import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from layerbench import gen  # noqa: E402
from layerbench.oracle import Oracle, byte4_to_int, check_topk, int_to_byte4  # noqa: E402

STOP = gen.VOCAB_SIZE + gen.STOPWORDS.index("the")
f32 = np.float32


def tiny() -> Oracle:
    # doc 0: t0000 t0001 the t0000   (length 3)
    # doc 1: t0001 t0001             (length 2)
    # doc 2: t0002                   (length 1)
    toks = np.array([0, 1, STOP, 0, 1, 1, 2], dtype=np.int32)
    return Oracle([gen.Docs(np.array([10, 11, 12]), np.array([0, 4, 6, 7]), toks)])


def hand_score(df, n, sum_ttf, freq, length):
    """Lucene's BM25 expression, one float32 operation per line."""
    w = f32(math.log(1.0 + (n - df + 0.5) / (df + 0.5)))
    avgdl = f32(sum_ttf / float(n))
    inner = f32(f32(1) - f32(0.75)) + f32(f32(0.75) * f32(length)) / avgdl
    cache = f32(1) / f32(f32(1.2) * inner)
    return w - w / (f32(1) + f32(freq) * cache)


def test_collection_and_term_stats():
    o = tiny()
    assert o.collection() == (3, 6)
    assert o.term_stats() == {"t0000": (1, 2), "t0001": (2, 3), "t0002": (1, 1)}


def test_term_scores_match_hand_computation():
    o = tiny()
    g, s = o.topk(gen.Query("term", (0,)), 10)
    assert g.tolist() == [10]
    assert s[0] == hand_score(1, 3, 6, 2, 3)
    assert abs(float(s[0]) - 0.53745) < 1e-4
    g, s = o.topk(gen.Query("term", (1,)), 10)
    want = {10: hand_score(2, 3, 6, 1, 3), 11: hand_score(2, 3, 6, 2, 2)}
    assert g.tolist() == [11, 10]
    assert [s[0], s[1]] == [want[11], want[10]]


def test_boolean_sums_in_double_then_casts():
    o = tiny()
    a, b = hand_score(1, 3, 6, 2, 3), hand_score(2, 3, 6, 1, 3)
    g, s = o.topk(gen.Query("or", (0, 1)), 10)
    assert g.tolist() == [10, 11]
    assert s[0] == f32(float(a) + float(b))
    g, s = o.topk(gen.Query("and", (0, 1)), 10)
    assert g.tolist() == [10] and s[0] == f32(float(a) + float(b))
    g, _ = o.topk(gen.Query("and", (0, 2)), 10)
    assert g.tolist() == []


def test_phrase_respects_stopword_gap_and_sums_idf():
    o = tiny()
    g, s = o.topk(gen.Query("phrase", (0, 1)), 10)
    assert g.tolist() == [10]
    idf0 = f32(math.log(1 + (3 - 1 + 0.5) / 1.5))
    idf1 = f32(math.log(1 + (3 - 2 + 0.5) / 2.5))
    w = f32(float(idf0) + float(idf1))
    avgdl = f32(2.0)
    cache = f32(1) / (f32(1.2) * (f32(0.25) + (f32(0.75) * f32(3)) / avgdl))
    assert s[0] == w - w / (f32(1) + f32(1) * cache)
    # "t0001 t0000" only occurs across the stopword in doc 0
    assert o.topk(gen.Query("phrase", (1, 0)), 10)[0].tolist() == []
    # doc 1 holds "t0001 t0001" once
    assert o.topk(gen.Query("phrase", (1, 1)), 10)[0].tolist() == [11]


def test_prefix_scores_are_constant():
    g, s = tiny().topk(gen.Query("prefix", (), prefix="t000"), 10)
    assert g.tolist() == [10, 11, 12]
    assert s.tolist() == [1.0, 1.0, 1.0]


def test_deletes_keep_stats_until_purge():
    o = tiny()
    before = o.topk(gen.Query("term", (1,)), 10)[1][1]
    o.delete([11])
    assert o.collection() == (3, 6)
    g, s = o.topk(gen.Query("term", (1,)), 10)
    assert g.tolist() == [10] and s[0] == before
    o.purge()
    assert o.collection() == (2, 4)
    assert o.term_stats()["t0001"] == (1, 1)
    g, s = o.topk(gen.Query("term", (1,)), 10)
    assert s[0] == hand_score(1, 2, 4, 1, 3)


def test_smallfloat_norms():
    assert [byte4_to_int(int_to_byte4(i)) for i in (0, 1, 39, 40, 55, 56, 57, 100)] == \
        [0, 1, 39, 40, 54, 56, 56, 96]
    b = [int_to_byte4(i) for i in range(5000)]
    assert b == sorted(b) and max(b) < 256


def test_check_topk_flags_disagreements():
    o = tiny()
    q = gen.Query("term", (1,))
    g, s = o.topk(q, 10)
    keys = [o.key_of(x) for x in g]
    assert check_topk(o, q, 10, g, s, keys) is None
    assert "scored" in check_topk(o, q, 10, g, s + f32(1e-6), keys)
    assert "out of order" in check_topk(o, q, 10, g[::-1], s[::-1], keys[::-1])
    assert "hits" in check_topk(o, q, 10, g[:1], s[:1], keys[:1])
    o.delete([11])
    assert check_topk(o, q, 10, g, s, keys) is not None


def test_generator_rows_do_not_depend_on_chunking():
    whole = gen.docs(7, 3, 300)
    parts = [gen.docs(7, 3, 300, a, b) for a, b in ((0, 1), (1, 120), (120, 299), (299, 300))]
    assert np.array_equal(np.concatenate([p.gids for p in parts]), whole.gids)
    assert np.array_equal(np.concatenate([p.toks for p in parts]), whole.toks)
    lens = np.concatenate([np.diff(p.ptr) for p in parts])
    assert np.array_equal(lens, np.diff(whole.ptr))
    assert [t for p in parts for t in p.texts()] == whole.texts()
    assert not np.array_equal(gen.docs(8, 3, 300).toks[:1000], whole.toks[:1000])


def test_generator_shape():
    d = gen.docs(1, 0, 2000)
    stop = gen.is_stop(d.toks)
    assert 0.28 < stop.mean() < 0.32
    lens = np.diff(d.ptr)
    assert 120 < np.median(lens) < 180          # LogNormal(5, 1): median e^5 = 148
    assert lens.min() >= 1 and lens.max() <= 2000
    words = d.toks[~stop]
    assert (words == 0).mean() > 0.1             # Zipf head
    assert len(np.unique(words)) > 5000          # and a long tail


def test_html_page_words_are_the_token_stream():
    d = gen.docs(2, 1, 5, marker=3)
    page = gen.html_page(d, 0)
    assert "<script" in page and "<style>" in page and "&" in page
    words = [gen.term_name(int(t)) for t in d.tokens(0)]
    assert gen.term_name(gen.MARKER_BASE + 3) in words
