"""SpanPositionRangeQuery / SpanContainingQuery / SpanWithinQuery.

Oracle: a direct Python replay of the reference matchers —
SpanPositionRangeQuery.acceptPosition and ContainSpans'
twoPhaseCurrentDocMatches/nextStartPosition cursor loops
(queries/spans/SpanContainingQuery.java, SpanWithinQuery.java) — over the
raw token streams, scored with the engine's own BM25 pieces.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_spark.functions.analysis import ENGLISH_STOP_WORDS
from lucene_spark.operators import indexer
from lucene_spark.operators.search import Searcher
from lucene_spark.plans.query import (
    SpanContainingQ,
    SpanFirstQ,
    SpanNearQ,
    SpanNotQ,
    SpanOrQ,
    SpanPositionRangeQ,
    SpanWithinQ,
)

N_DOCS = 120


@pytest.fixture(scope="module")
def corpus_pdf():
    rng = np.random.RandomState(11)
    words = ["alpha", "beta", "gamma", "delta", "open", "close", "mid"]
    texts = [
        " ".join(rng.choice(words, size=rng.randint(6, 60)))
        for _ in range(N_DOCS)
    ]
    return pd.DataFrame({
        "gid": np.arange(N_DOCS, dtype=np.int64),
        "url": [f"u{i}" for i in range(N_DOCS)],
        "text": texts,
    })


@pytest.fixture(scope="module")
def index_dir(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_contain"))
    indexer.build_index(
        spark, spark.createDataFrame(corpus_pdf), d,
        key_col="url", text_col="text", gid_col="gid", n_segments=3,
    )
    return d


# ------------------------------------------------------------- brute spans

def _positions(text):
    out = {}
    for p, t in enumerate(text.split()):
        if t and t not in ENGLISH_STOP_WORDS:
            out.setdefault(t, []).append(p)
    return out


def _sub_spans(sub, pos_of):
    """Emitted (start, end, width) spans of a span source, start order."""
    if isinstance(sub, str):
        return [(p, p + 1, 0) for p in pos_of.get(sub, [])]
    if isinstance(sub, SpanOrQ):
        ps = sorted(p for t in sub.terms for p in pos_of.get(t, []))
        return [(p, p + 1, 0) for p in ps]
    assert isinstance(sub, SpanNearQ) and sub.in_order
    plists = [pos_of.get(t, []) for t in sub.terms]
    if any(not pl for pl in plists):
        return []
    spans = []
    for p0 in plists[0]:
        q = p0
        ok = True
        for pl in plists[1:]:
            nxt = [p for p in pl if p >= q + 1]
            if not nxt:
                ok = False
                break
            q = nxt[0]
        if ok:
            width = q - p0 - (len(plists) - 1)
            if width <= sub.slop:
                spans.append((p0, q + 1, width))
    return spans


def _contain_matches(big_spans, little_spans, within):
    """ContainSpans cursor replay: returns the accepted (start, end,
    width) spans — little ones for within, big ones for containing."""
    acc = []
    if within:
        bi = 0
        for (ls, le, lw) in little_spans:
            while bi < len(big_spans) and big_spans[bi][1] < le:
                bi += 1
            if bi >= len(big_spans):
                break
            if big_spans[bi][0] <= ls:
                acc.append((ls, le, lw))
    else:
        li = 0
        for (bs, be, bw) in big_spans:
            while li < len(little_spans) and little_spans[li][0] < bs:
                li += 1
            if li >= len(little_spans):
                break
            if be >= little_spans[li][1]:
                acc.append((bs, be, bw))
    return acc


def _position_check(spans, lo, hi):
    """SpanPositionCheckQuery.acceptPosition replay (SpanFirstQ: lo=0):
    YES when start >= lo and end <= hi; a span starting at or past hi ends
    the doc (NO_MORE_IN_CURRENT_DOC)."""
    acc = []
    for (s, e, w) in spans:
        if s >= hi:
            break
        if s >= lo and e <= hi:
            acc.append((s, e, w))
    return acc


def _brute_scores(corpus_pdf, node):
    """Per-doc float32 freq via the matcher replay; scored with the
    engine's own BM25 pieces (idf summed over the DISTINCT union of both
    sides' terms, SmallFloat-quantized length norm)."""
    from lucene_spark.functions.bm25 import avgdl, idf, norm_cache
    from lucene_spark.functions.smallfloat import int_to_byte4

    n_docs = len(corpus_pdf)
    dls, dfs, tok_lists = [], {}, []
    for text in corpus_pdf["text"]:
        pos_of = _positions(text)
        tok_lists.append(pos_of)
        dls.append(sum(len(v) for v in pos_of.values()))
        for t in pos_of:
            dfs[t] = dfs.get(t, 0) + 1
    cache = norm_cache(avgdl(sum(dls), n_docs))
    uniq = list(dict.fromkeys(node.terms))
    w = np.float32(sum(
        float(idf(dfs[t], n_docs)) for t in uniq if t in dfs
    ))
    out = {}
    for gid, pos_of, dl in zip(corpus_pdf["gid"], tok_lists, dls):
        spans = _clause_spans(node, pos_of)
        if not spans:
            continue
        freq = np.float32(0.0)
        for _s, _e, width in spans:
            freq = np.float32(
                freq + np.float32(1.0 / np.float64(1.0 + width))
            )
        norm_inv = cache[int_to_byte4(dl)]
        score = w - w / (np.float32(1.0) + np.float32(freq) * norm_inv)
        out[int(gid)] = float(np.float32(score))
    return out


def _got(spark, d, node, k=200):
    pdf = Searcher(spark, d).search(node, k=k, with_keys=False)
    return {int(g): float(s) for g, s in zip(pdf["gid"], pdf["score"])}


CASES = [
    SpanPositionRangeQ("alpha", 2, 9),
    SpanPositionRangeQ("beta", 0, 4),
    SpanContainingQ(SpanNearQ(("open", "close"), slop=6), "mid"),
    SpanWithinQ(SpanNearQ(("open", "close"), slop=6), "mid"),
    SpanContainingQ(SpanNearQ(("alpha", "beta"), slop=4),
                    SpanOrQ(("gamma", "delta"))),
    SpanWithinQ(SpanNearQ(("alpha", "gamma"), slop=8),
                SpanOrQ(("beta", "delta"))),
    SpanContainingQ(SpanNearQ(("open", "mid", "close"), slop=10), "beta"),
]


@pytest.mark.parametrize("node", CASES, ids=range(len(CASES)))
def test_vs_matcher_replay(spark, corpus_pdf, index_dir, node):
    want = _brute_scores(corpus_pdf, node)
    got = _got(spark, index_dir, node)
    assert set(got) == set(want)
    for g in want:
        assert got[g] == pytest.approx(want[g], abs=0.0), g


def test_span_first_is_position_range_zero(spark, corpus_pdf, index_dir):
    a = _got(spark, index_dir, SpanPositionRangeQ("alpha", 0, 5))
    b = _got(spark, index_dir, SpanFirstQ("alpha", 5))
    assert a == b and a


# ---------------------------------------------------------------------------
# SpanMultiTermQueryWrapper
# ---------------------------------------------------------------------------

def test_span_multi_rewrites_to_span_or(spark, corpus_pdf, index_dir):
    from lucene_spark.plans.query import PrefixQ, SpanMultiQ

    s = Searcher(spark, index_dir)
    # vocab terms starting 'de': delta; 'o': open; multi: 'al','be','ga'...
    node = SpanMultiQ(PrefixQ("g"))
    a = s.search(node, k=20, with_keys=False)
    b = s.search(SpanOrQ(("gamma",)), k=20, with_keys=False)
    # single expansion collapses to the term query == SpanOr of one
    assert a.values.tolist() == b.values.tolist()
    # multi-term expansion == explicit SpanOr over the matched vocabulary
    node2 = SpanMultiQ(PrefixQ("de"))
    got = s.search(node2, k=50, with_keys=False)
    want = s.search(SpanOrQ(("delta",)), k=50, with_keys=False)
    assert got.values.tolist() == want.values.tolist()


def test_span_multi_inside_contain(spark, corpus_pdf, index_dir):
    from lucene_spark.plans.query import PrefixQ, SpanMultiQ

    s = Searcher(spark, index_dir)
    node = SpanContainingQ(
        SpanNearQ(("open", "close"), slop=6), SpanMultiQ(PrefixQ("m"))
    )
    want_node = SpanContainingQ(SpanNearQ(("open", "close"), slop=6), "mid")
    a = s.search(node, k=50, with_keys=False)
    b = s.search(want_node, k=50, with_keys=False)
    assert a.values.tolist() == b.values.tolist() and len(a)


def test_span_multi_inside_filters(spark, index_dir):
    from lucene_spark.plans.query import BoolQ, PrefixQ, SpanMultiQ

    s = Searcher(spark, index_dir)
    wraps = [
        lambda src: SpanFirstQ(src, 10),
        lambda src: SpanPositionRangeQ(src, 2, 12),
        lambda src: SpanNotQ(SpanNearQ(("open", src), 4), "beta"),
        lambda src: SpanWithinQ(SpanNearQ(("open", "close"), 9),
                                SpanFirstQ(src, 30)),
    ]
    for wrap in wraps:
        assert s.rewrite(wrap(SpanMultiQ(PrefixQ("m")))) == wrap("mid")
        assert s.rewrite(wrap(SpanMultiQ(PrefixQ("zzz")))) == BoolQ()
    # an empty exclude filters nothing
    assert s.rewrite(SpanNotQ("open", SpanMultiQ(PrefixQ("zzz")))) == \
        SpanNotQ("open", SpanOrQ(()))


def test_span_multi_rewrite_keeps_unordered(spark, index_dir):
    from lucene_spark.plans.query import PrefixQ, SpanMultiQ

    s = Searcher(spark, index_dir)
    node = SpanNearQ((SpanMultiQ(PrefixQ("g")), "open"), slop=2,
                          in_order=False)
    assert s.rewrite(node) == SpanNearQ(("gamma", "open"), slop=2,
                                             in_order=False)


def test_span_multi_top_terms(spark, index_dir):
    from lucene_spark.plans.query import PrefixQ, SpanMultiQ

    s = Searcher(spark, index_dir)
    # alpha, (no 'ab'..), vs top_terms=1 keeps the term-order head
    full = s.rewrite(SpanMultiQ(PrefixQ("")))
    top1 = s.rewrite(SpanMultiQ(PrefixQ(""), top_terms=1))
    from lucene_spark.plans.query import SpanOrQ as _SO, TermQ as _TQ
    assert isinstance(full, _SO) and len(full.terms) >= 5
    assert isinstance(top1, _TQ) and top1.term == min(full.terms)


def test_span_multi_empty_expansion(spark, index_dir):
    from lucene_spark.plans.query import PrefixQ, SpanMultiQ

    s = Searcher(spark, index_dir)
    assert len(s.search(SpanMultiQ(PrefixQ("zzz")), k=5, with_keys=False)) == 0


# ---------------------------------------------------------------------------
# SpanNearQ — ordered near over span clauses (+ gaps)
# ---------------------------------------------------------------------------

from lucene_spark.plans.query import SpanGap


def _clause_spans(c, pos_of):
    """Emitted (start, end, width) spans of any span source, start
    order: the replays of the near chain, SpanNot's FilterSpans, the
    ContainSpans cursors and the position checks over their sources."""
    if isinstance(c, SpanNearQ):
        return _near_spans_replay(c, pos_of)
    if isinstance(c, SpanNotQ):
        return _not_spans_replay(c, pos_of)
    if isinstance(c, (SpanContainingQ, SpanWithinQ)):
        return _contain_matches(_clause_spans(c.big, pos_of),
                                _clause_spans(c.little, pos_of),
                                isinstance(c, SpanWithinQ))
    if isinstance(c, SpanFirstQ):
        return _position_check(_clause_spans(c.match, pos_of), 0, c.end)
    if isinstance(c, SpanPositionRangeQ):
        return _position_check(_clause_spans(c.match, pos_of), c.start,
                               c.end)
    return _sub_spans(c, pos_of)


def _scoring_terms(node):
    """The term states a span weight scores with (extractTermStates): a
    SpanNotQ brings its include side only, every other node all of its
    sources'."""
    if isinstance(node, str):
        return (node,)
    if isinstance(node, SpanOrQ):
        return node.terms
    if isinstance(node, SpanGap):
        return ()
    if isinstance(node, SpanNotQ):
        return _scoring_terms(node.include)
    if isinstance(node, SpanNearQ):
        parts = node.clauses
    elif isinstance(node, (SpanContainingQ, SpanWithinQ)):
        parts = (node.big, node.little)
    else:
        parts = (node.match,)
    return tuple(t for p in parts for t in _scoring_terms(p))


def _near_spans_replay(node, pos_of):
    """NearSpansOrdered over clauses, stateful-cursor replay in Python.
    Returns (start, end, width) triples so nested clauses compose."""
    spans = []
    firsts = _clause_spans(node.clauses[0], pos_of)
    for (s0, e0, _w) in firsts:
        q, width, ok = e0, 0, True
        for c in node.clauses[1:]:
            if isinstance(c, SpanGap):
                q += c.width
                continue
            nxt = [sp for sp in _clause_spans(c, pos_of) if sp[0] >= q]
            if not nxt:
                ok = False
                break
            width += nxt[0][0] - q
            q = nxt[0][1]
        if ok and width <= node.slop:
            spans.append((s0, q, width))
    return spans


def _brute_near_spans(corpus_pdf, node):
    from lucene_spark.functions.bm25 import avgdl, idf, norm_cache
    from lucene_spark.functions.smallfloat import int_to_byte4

    n_docs = len(corpus_pdf)
    dls, dfs, tok_lists = [], {}, []
    for text in corpus_pdf["text"]:
        pos_of = _positions(text)
        tok_lists.append(pos_of)
        dls.append(sum(len(v) for v in pos_of.values()))
        for t in pos_of:
            dfs[t] = dfs.get(t, 0) + 1
    cache = norm_cache(avgdl(sum(dls), n_docs))
    uniq = list(dict.fromkeys(node.terms))
    w = np.float32(sum(float(idf(dfs[t], n_docs)) for t in uniq if t in dfs))
    out = {}
    for gid, pos_of, dl in zip(corpus_pdf["gid"], tok_lists, dls):
        spans = _near_spans_replay(node, pos_of)
        if not spans:
            continue
        freq = np.float32(0.0)
        for _, _e, width in spans:
            freq = np.float32(freq + np.float32(1.0 / np.float64(1.0 + width)))
        score = w - w / (np.float32(1.0) + np.float32(freq)
                         * cache[int_to_byte4(dl)])
        out[int(gid)] = float(np.float32(score))
    return out


NEAR_SPANS_CASES = [
    SpanNearQ((SpanOrQ(("alpha", "beta")), "gamma"), slop=4),
    SpanNearQ(("open", SpanOrQ(("mid", "beta")), "close"), slop=8),
    SpanNearQ((SpanNearQ(("alpha", "beta"), slop=3), "delta"), slop=6),
    SpanNearQ(("open", SpanGap(2), "close"), slop=5),
    SpanNearQ(
        (SpanNearQ(("alpha", "gamma"), slop=5), SpanOrQ(("mid", "delta"))),
        slop=9,
    ),
]


@pytest.mark.parametrize("node", NEAR_SPANS_CASES,
                         ids=range(len(NEAR_SPANS_CASES)))
def test_near_spans_vs_replay(spark, corpus_pdf, index_dir, node):
    want = _brute_near_spans(corpus_pdf, node)
    got = _got(spark, index_dir, node)
    assert set(got) == set(want)
    for g in want:
        assert got[g] == pytest.approx(want[g], abs=0.0), g


def test_near_spans_term_clauses_equal_span_near(spark, index_dir):
    """Pure-term clauses: the general matcher's gap-sum width equals the
    classic chain's q_last - p0 - (n-1), so scores are float32-identical
    to SpanNearQ (idf dedup aside: terms here are distinct)."""
    a = _got(spark, index_dir,
             SpanNearQ(("open", "mid", "close"), slop=7))
    b = _got(spark, index_dir, SpanNearQ(("open", "mid", "close"), slop=7))
    assert a == b and a


def test_near_spans_leading_gap_rejected(spark, index_dir):
    s = Searcher(spark, index_dir)
    with pytest.raises(Exception, match="gap"):
        s.search(SpanNearQ((SpanGap(1), "open"), slop=3), k=5,
                 with_keys=False)


# ---------------------------------------------------------------------------
# SpanNotQ — SpanNot over span clauses
# ---------------------------------------------------------------------------


def _not_spans_replay(node, pos_of):
    """FilterSpans.accept replay: include spans survive unless the first
    exclude span with end > s - pre starts before e + post."""
    inc = _clause_spans(node.include, pos_of)
    exc = _clause_spans(node.exclude, pos_of)
    out = []
    for (s, e, w) in inc:
        ei = 0
        while ei < len(exc) and exc[ei][1] <= s - node.pre:
            ei += 1
        if ei < len(exc) and exc[ei][0] < e + node.post:
            continue
        out.append((s, e, w))
    return out


def _brute_not_spans(corpus_pdf, node):
    from lucene_spark.functions.bm25 import avgdl, idf, norm_cache
    from lucene_spark.functions.smallfloat import int_to_byte4

    n_docs = len(corpus_pdf)
    dls, dfs, tok_lists = [], {}, []
    for text in corpus_pdf["text"]:
        pos_of = _positions(text)
        tok_lists.append(pos_of)
        dls.append(sum(len(v) for v in pos_of.values()))
        for t in pos_of:
            dfs[t] = dfs.get(t, 0) + 1
    cache = norm_cache(avgdl(sum(dls), n_docs))
    uniq = list(dict.fromkeys(_scoring_terms(node)))
    w = np.float32(sum(float(idf(dfs[t], n_docs)) for t in uniq if t in dfs))
    out = {}
    for gid, pos_of, dl in zip(corpus_pdf["gid"], tok_lists, dls):
        spans = _not_spans_replay(node, pos_of)
        if not spans:
            continue
        freq = np.float32(0.0)
        for _s, _e, width in spans:
            freq = np.float32(freq + np.float32(1.0 / np.float64(1.0 + width)))
        score = w - w / (np.float32(1.0) + np.float32(freq)
                         * cache[int_to_byte4(dl)])
        out[int(gid)] = float(np.float32(score))
    return out


NOT_SPANS_CASES = [
    SpanNotQ(SpanNearQ(("open", "close"), slop=8), "mid"),
    SpanNotQ(SpanOrQ(("alpha", "beta")), SpanNearQ(("gamma", "delta"),
                                                        slop=4), pre=1, post=1),
    SpanNotQ("alpha", SpanOrQ(("beta", "gamma")), pre=2, post=2),
    SpanNotQ(SpanNearQ((SpanOrQ(("open", "alpha")), "close"),
                                 slop=6), "mid", post=1),
]


@pytest.mark.parametrize("node", NOT_SPANS_CASES,
                         ids=range(len(NOT_SPANS_CASES)))
def test_not_spans_vs_replay(spark, corpus_pdf, index_dir, node):
    want = _brute_not_spans(corpus_pdf, node)
    got = _got(spark, index_dir, node)
    assert set(got) == set(want)
    for g in want:
        assert got[g] == pytest.approx(want[g], abs=0.0), g


def test_not_spans_term_sides_equal_span_not(spark, index_dir):
    a = _got(spark, index_dir, SpanNotQ("alpha", "beta", pre=1, post=2))
    b = _got(spark, index_dir, SpanNotQ("alpha", "beta", pre=1, post=2))
    assert a == b and a


def test_not_spans_absent_exclude_passthrough(spark, index_dir):
    a = _got(spark, index_dir, SpanNotQ("alpha", "zzzmissing"))
    b = _got(spark, index_dir, SpanOrQ(("alpha",)))
    assert a == b and a


# ---------------------------------------------------------------------------
# SpanNearQ unordered (NearSpansUnordered over clauses)
# ---------------------------------------------------------------------------

import heapq


def _unordered_replay(node, pos_of):
    """The actual priority-queue algorithm (NearSpansUnordered.java):
    pops by (start, end); maxEnd/totalSpanLength maintained; accepted
    states fold 1/(1+width()) with width() = maxEnd - minStart."""
    clause_spans = [_clause_spans(c, pos_of) for c in node.clauses]
    if any(not cs for cs in clause_spans):
        return []
    heap = []
    max_end = -1
    tot_len = 0
    for i, cs in enumerate(clause_spans):
        s, e, _w = cs[0]
        heapq.heappush(heap, (s, e, i, 0))
        max_end = max(max_end, e)
        tot_len += e - s
    acc = []
    while True:
        s, e, i, ptr = heap[0]
        if (max_end - s - tot_len) <= node.slop:
            acc.append(max_end - s)          # width()
        heapq.heappop(heap)
        if ptr + 1 == len(clause_spans[i]):
            return acc
        s2, e2, _w2 = clause_spans[i][ptr + 1]
        tot_len += (e2 - s2) - (e - s)
        max_end = max(max_end, e2)
        heapq.heappush(heap, (s2, e2, i, ptr + 1))


def _brute_unordered(corpus_pdf, node):
    from lucene_spark.functions.bm25 import avgdl, idf, norm_cache
    from lucene_spark.functions.smallfloat import int_to_byte4

    n_docs = len(corpus_pdf)
    dls, dfs, tok_lists = [], {}, []
    for text in corpus_pdf["text"]:
        pos_of = _positions(text)
        tok_lists.append(pos_of)
        dls.append(sum(len(v) for v in pos_of.values()))
        for t in pos_of:
            dfs[t] = dfs.get(t, 0) + 1
    cache = norm_cache(avgdl(sum(dls), n_docs))
    uniq = list(dict.fromkeys(node.terms))
    w = np.float32(sum(float(idf(dfs[t], n_docs)) for t in uniq if t in dfs))
    out = {}
    for gid, pos_of, dl in zip(corpus_pdf["gid"], tok_lists, dls):
        widths = _unordered_replay(node, pos_of)
        if not widths:
            continue
        freq = np.float32(0.0)
        for sw in widths:
            freq = np.float32(freq + np.float32(1.0 / np.float64(1.0 + sw)))
        if freq == np.float32(0.0):
            continue
        score = w - w / (np.float32(1.0) + np.float32(freq)
                         * cache[int_to_byte4(dl)])
        out[int(gid)] = float(np.float32(score))
    return out


UNORDERED_CASES = [
    SpanNearQ((SpanOrQ(("alpha", "beta")), "gamma"), slop=4,
                   in_order=False),
    SpanNearQ(("close", SpanOrQ(("mid", "delta")), "open"), slop=8,
                   in_order=False),
    SpanNearQ((SpanNearQ(("alpha", "beta"), slop=3), "delta"), slop=6,
                   in_order=False),
    SpanNearQ(("gamma", "open"), slop=2, in_order=False),
]


@pytest.mark.parametrize("node", UNORDERED_CASES,
                         ids=range(len(UNORDERED_CASES)))
def test_unordered_spans_vs_replay(spark, corpus_pdf, index_dir, node):
    want = _brute_unordered(corpus_pdf, node)
    got = _got(spark, index_dir, node)
    assert set(got) == set(want)
    for g in want:
        assert got[g] == pytest.approx(want[g], abs=0.0), g


def test_unordered_spans_term_clauses_equal_span_near(spark, index_dir):
    a = _got(spark, index_dir,
             SpanNearQ(("open", "mid", "close"), slop=7, in_order=False))
    b = _got(spark, index_dir,
             SpanNearQ(("open", "mid", "close"), slop=7, in_order=False))
    assert a == b and a


def test_unordered_gap_rejected():
    with pytest.raises(ValueError, match="ordered near"):
        SpanNearQ(("a", SpanGap(1), "b"), slop=3, in_order=False)


def _postings(docs: dict):
    """One term's postings from {gid: [positions]}."""
    from lucene_spark.operators.search import TermPostings

    gids = np.array(sorted(docs), np.int64)
    freqs = np.array([len(docs[g]) for g in gids], np.int64)
    return TermPostings(
        gids, freqs, np.zeros(len(gids), np.uint8),
        np.concatenate([np.array(docs[g], np.int64) for g in gids]),
        np.concatenate(([0], np.cumsum(freqs))),
    )


def test_nested_unordered_near_spans_rejected():
    from lucene_spark.operators.search import _span_side_spans

    postings = {"a": _postings({0: [0]}), "b": _postings({0: [2]})}
    nested = SpanNearQ(("a", "b"), slop=2, in_order=False)
    with pytest.raises(NotImplementedError, match="ordered near"):
        _span_side_spans(nested, postings, np.array([0]))


def test_nested_unordered_near_in_filter_rejected(spark, index_dir):
    node = SpanFirstQ(SpanNearQ(("alpha", "beta"), 2, in_order=False), 30)
    with pytest.raises(NotImplementedError, match="ordered near"):
        Searcher(spark, index_dir).search(node, k=5, with_keys=False)


def test_unordered_near_spans_clause_exhausted_before_doc():
    """Doc 1 holds x and y, so the nested ordered near clause's docs admit
    it, but not adjacently: that clause has no span in doc 1, and doc 1
    must not match through the clause's span in doc 0."""
    from lucene_spark.operators.search import _near_spans_unordered_freqs

    postings = {
        "x": _postings({0: [0], 1: [0]}),
        "y": _postings({0: [1], 1: [10]}),
        "z": _postings({0: [3], 1: [5]}),
    }
    node = SpanNearQ((SpanNearQ(("x", "y"), slop=0), "z"), slop=3,
                          in_order=False)
    freqs = _near_spans_unordered_freqs(node, postings, np.array([0, 1]))
    assert freqs[0] > 0
    assert freqs[1] == 0


# ---------------------------------------------------------------------------
# Repeated terms: a span weight counts each distinct term once
# ---------------------------------------------------------------------------

def test_repeated_term_near_weight_is_distinct(spark, corpus_pdf, index_dir):
    node = SpanNearQ(("open", "open"), 3)
    want = _brute_near_spans(corpus_pdf, node)
    got = _got(spark, index_dir, node)
    assert got == want and want


def test_repeated_term_or_weight_is_distinct(spark, corpus_pdf, index_dir):
    node = SpanOrQ(("open", "open"))
    want = _brute_spans(corpus_pdf, node)
    got = _got(spark, index_dir, node)
    assert got == want and want


# ---------------------------------------------------------------------------
# Random span trees vs the replays, pruned and exhaustive
# ---------------------------------------------------------------------------

def _brute_spans(corpus_pdf, node):
    """Per-doc float32 scores of any span node the generator below builds,
    via the matching replay; weight = idf over the distinct scoring terms
    (a SpanNotQ, at any depth, brings its include side only)."""
    from lucene_spark.functions.bm25 import avgdl, idf, norm_cache
    from lucene_spark.functions.smallfloat import int_to_byte4

    def widths(pos_of):
        if isinstance(node, SpanNearQ) and not node.in_order:
            return _unordered_replay(node, pos_of)
        return [w for _s, _e, w in _clause_spans(node, pos_of)]

    n_docs = len(corpus_pdf)
    dls, dfs, tok_lists = [], {}, []
    for text in corpus_pdf["text"]:
        pos_of = _positions(text)
        tok_lists.append(pos_of)
        dls.append(sum(len(v) for v in pos_of.values()))
        for t in pos_of:
            dfs[t] = dfs.get(t, 0) + 1
    cache = norm_cache(avgdl(sum(dls), n_docs))
    uniq = list(dict.fromkeys(_scoring_terms(node)))
    w = np.float32(sum(float(idf(dfs[t], n_docs)) for t in uniq if t in dfs))
    out = {}
    for gid, pos_of, dl in zip(corpus_pdf["gid"], tok_lists, dls):
        freq = np.float32(0.0)
        for width in widths(pos_of):
            freq = np.float32(freq + np.float32(1.0 / np.float64(1.0 + width)))
        if freq == np.float32(0.0):
            continue
        score = w - w / (np.float32(1.0) + np.float32(freq)
                         * cache[int_to_byte4(dl)])
        out[int(gid)] = float(np.float32(score))
    return out


WORDS = ["alpha", "beta", "gamma", "delta", "open", "close", "mid"]


def _gen_side(rng, depth):
    """A span source: a term, a SpanOrQ or an ordered SpanNearQ; terms
    repeat freely."""
    r = rng.random()
    if r < 0.45:
        return rng.choice(WORDS)
    if r < 0.75 or depth == 0:
        return SpanOrQ(tuple(rng.choice(WORDS)
                             for _ in range(rng.randint(1, 3))))
    return _gen_near(rng, depth - 1)


def _gen_clause(rng, depth):
    """An ordered-near clause: mostly a plain source, else a span filter
    (SpanNotQ, containing, within, first, position range) over them."""
    if depth == 0 or rng.random() < 0.6:
        return _gen_side(rng, depth)
    return _gen_filter(rng, depth - 1)


def _gen_filter(rng, depth):
    """A span filter over a source: an ordered near (whose clauses may be
    filters again) half the time when ``depth`` allows, else a term or a
    SpanOrQ."""
    kind = rng.choice(["not", "containing", "within", "first", "range"])
    src = (_gen_near(rng, depth - 1) if depth and rng.random() < 0.5
           else _gen_side(rng, 0))
    if kind == "not":
        return SpanNotQ(src, _gen_side(rng, depth), pre=rng.randint(0, 3),
                        post=rng.randint(0, 3))
    if kind == "containing":
        return SpanContainingQ(src, _gen_side(rng, depth))
    if kind == "within":
        return SpanWithinQ(_gen_side(rng, depth), src)
    if kind == "first":
        return SpanFirstQ(src, rng.randint(1, 30))
    lo = rng.randint(0, 20)
    return SpanPositionRangeQ(src, lo, lo + rng.randint(1, 20))


def _gen_near(rng, depth):
    clauses = [_gen_clause(rng, depth)]
    for _ in range(rng.randint(1, 2)):
        if rng.random() < 0.2:
            clauses.append(SpanGap(rng.randint(1, 3)))
        clauses.append(_gen_clause(rng, depth))
    return SpanNearQ(tuple(clauses), rng.randint(0, 6))


def _gen_span_tree(rng):
    kind = rng.choice(["near", "near", "unordered", "not", "or", "filter",
                       "filter"])
    if kind == "near":
        return _gen_near(rng, 1)
    if kind == "filter":
        return _gen_filter(rng, 2)
    if kind == "unordered":
        # an unordered near takes no gaps and no nested unordered near, and
        # its clauses share no term
        w = rng.sample(WORDS, 5)
        clauses = [w[0], SpanOrQ((w[1], w[2])), SpanNearQ((w[3], w[4]), 2)]
        rng.shuffle(clauses)
        return SpanNearQ(tuple(clauses[:rng.randint(2, 3)]),
                         rng.randint(0, 6), in_order=False)
    if kind == "not":
        return SpanNotQ(_gen_side(rng, 1), _gen_side(rng, 1),
                        pre=rng.randint(0, 3), post=rng.randint(0, 3))
    return SpanOrQ(tuple(rng.choice(WORDS) for _ in range(rng.randint(1, 3))))


def _topk(scores, k):
    return sorted(scores.items(), key=lambda gs: (-gs[1], gs[0]))[:k]


def test_random_span_trees_vs_replay(spark, corpus_pdf, index_dir):
    import random

    rng = random.Random(20261019)
    s = Searcher(spark, index_dir)
    for i in range(40):
        node = _gen_span_tree(rng)
        want = _brute_spans(corpus_pdf, node)
        for prune, k in ((True, 10), (False, N_DOCS)):
            pdf = s.search(node, k=k, prune=prune, with_keys=False)
            got = [(int(g), float(sc))
                   for g, sc in zip(pdf["gid"], pdf["score"])]
            assert got == _topk(want, k), (i, node, prune)
