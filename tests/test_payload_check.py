"""SpanPayloadCheckQuery analog
(queries/payloads/SpanPayloadCheckQuery.java): spans survive only where
each position's payload matches the given value under a MatchOperation.

Brute-force replay: a pure-Python replay of the wrapped span source (a
term, a SpanOrQ, a greedy NearSpansOrdered chain over them) with the
payload check recomputes every doc's float32 freq from the raw text, and
the engine's distributed result must match rank- and score-exactly.
"""

import numpy as np
import pytest

from lucene_spark.functions.bm25 import idf as bm25_idf, idf_sum
from lucene_spark.functions.smallfloat import int_to_byte4_np
from lucene_spark.operators import indexer
from lucene_spark.operators.search import Searcher
from lucene_spark.plans.query import (
    BoostQ, SpanContainingQ, SpanFirstQ, SpanNearQ, SpanNotQ, SpanOrQ,
    SpanPayloadCheckQ, term_keys,
)
from lucene_spark.sources.webtext import generate_pages_pdf

N_DOCS = 240

_OPS = {
    "eq": lambda a, b: a == b,
    "lt": lambda a, b: a < b,
    "lte": lambda a, b: a <= b,
    "gt": lambda a, b: a > b,
    "gte": lambda a, b: a >= b,
}


@pytest.fixture(scope="module")
def corpus_pdf():
    pdf = generate_pages_pdf(0, N_DOCS, seed=23)
    pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    pdf["gid"] = np.arange(len(pdf), dtype=np.int64)

    def attach(text):
        toks = [t for t in text.split(" ") if t]
        return " ".join(
            f"{t}|{(i + len(t)) % 97 + 1}" for i, t in enumerate(toks)
        )

    pdf["ptext"] = pdf["text"].map(attach)
    return pdf


@pytest.fixture(scope="module")
def payload_index(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_paycheck"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "ptext"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="ptext", gid_col="gid",
        n_segments=4, with_payloads=True,
    )
    return d


def _doc_occurrences(corpus_pdf, term):
    """gid -> [(pos, payload)] recomputed from the raw (pre-delimiter)
    text, plus doc lens and collection stats (payload chain: no stops)."""
    occ, doc_lens = {}, {}
    for gid, text in zip(corpus_pdf["gid"], corpus_pdf["text"]):
        toks = [t for t in text.split(" ") if t]
        doc_lens[int(gid)] = len(toks)
        rows = [
            (pos, (pos + len(t)) % 97 + 1)
            for pos, t in enumerate(toks) if t == term
        ]
        if rows:
            occ[int(gid)] = rows
    return occ, doc_lens


def _src_spans(src, occ, gid):
    """(start, end, width, payloads) spans of a span source in one doc, in
    start order: a term's occurrences, a SpanOrQ's merged member
    occurrences (ties keep member order), or the greedy NearSpansOrdered
    chain, collecting each clause's payloads at the span it picked."""
    if isinstance(src, str):
        return [(p, p + 1, 0, (pl,)) for p, pl in occ[src].get(gid, [])]
    if isinstance(src, SpanOrQ):
        rows = sorted((r for t in src.terms for r in occ[t].get(gid, [])),
                      key=lambda r: r[0])
        return [(p, p + 1, 0, (pl,)) for p, pl in rows]
    if isinstance(src, SpanFirstQ):
        return [sp for sp in _src_spans(src.match, occ, gid)
                if sp[1] <= src.end]
    if isinstance(src, SpanNotQ):
        # FilterSpans over the include side: it collects the include's
        # payloads; the first exclude ending after start - pre vetoes
        exc = _src_spans(src.exclude, occ, gid)
        out = []
        for sp in _src_spans(src.include, occ, gid):
            ex = next((x for x in exc if x[1] > sp[0] - src.pre), None)
            if ex is None or ex[0] >= sp[1] + src.post:
                out.append(sp)
        return out
    assert isinstance(src, SpanNearQ) and src.in_order
    clauses = [_src_spans(c, occ, gid) for c in src.clauses]
    out = []
    for s0, e0, _w, pays in clauses[0]:
        q, width = e0, 0
        for spans in clauses[1:]:
            nxt = [sp for sp in spans if sp[0] >= q]
            if not nxt:
                return out
            width += nxt[0][0] - q
            q = nxt[0][1]
            pays = pays + nxt[0][3]
        if width <= src.slop:
            out.append((s0, q, width, pays))
    return out


def _scoring_terms(src):
    """extractTermStates: a SpanNotQ brings its include side only."""
    if isinstance(src, SpanNotQ):
        return _scoring_terms(src.include)
    if isinstance(src, (str, SpanOrQ)):
        return term_keys(src)
    parts = src.clauses if isinstance(src, SpanNearQ) else (src.match,)
    return tuple(t for p in parts for t in _scoring_terms(p))


def _brute_topk(corpus_pdf, node, k=10):
    """Source replay + payload check over the span as matched, float32
    freq accumulation in match order (SpanScorer.java:106), BM25 with
    idfs summed over the distinct scoring terms at full df."""
    cmp = _OPS[node.op]
    occ, doc_lens = {}, None
    for t in dict.fromkeys(node.terms):
        occ[t], doc_lens = _doc_occurrences(corpus_pdf, t)
    n_docs = sum(1 for v in doc_lens.values() if v > 0)
    sum_ttf = sum(doc_lens.values())
    # SpanWeight.buildSimWeight: idf summed over member term states with
    # FULL docFreqs (the payload filter never changes stats)
    w = idf_sum([bm25_idf(len(occ[t]), n_docs)
                 for t in dict.fromkeys(_scoring_terms(node.match))])
    rows = []
    for gid in sorted(doc_lens):
        freq = np.float32(0.0)
        for _s, _e, width, pays in _src_spans(node.match, occ, gid):
            if all(cmp(pl, want) for pl, want in zip(pays, node.payloads)):
                freq = np.float32(
                    freq + np.float32(1.0 / (1.0 + float(width)))
                )
        if freq > 0:
            norm_b = int_to_byte4_np(np.array([doc_lens[gid]], np.int64))
            cache = scorer_cache(sum_ttf, n_docs)
            s = np.float32(w) - np.float32(w) / (
                np.float32(1.0) + freq * cache[int(norm_b[0])]
            )
            rows.append((gid, float(np.float32(s))))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def scorer_cache(sum_ttf, n_docs):
    from lucene_spark.functions.bm25 import avgdl, norm_cache

    return norm_cache(avgdl(sum_ttf, n_docs))


def _got(spark, d, node, k=10):
    pdf = Searcher(spark, d).search(node, k=k, with_keys=False)
    return [(int(g), float(np.float32(s))) for g, s in zip(pdf.gid, pdf.score)]


def test_single_term_payload_eq(spark, corpus_pdf, payload_index):
    term = "t0002"
    occ, _ = _doc_occurrences(corpus_pdf, term)
    pays = [p for rows in occ.values() for _, p in rows]
    pay = max(set(pays), key=pays.count)  # a value with several hits
    node = SpanPayloadCheckQ(term, (pay,))
    want = _brute_topk(corpus_pdf, node)
    assert want
    assert _got(spark, payload_index, node) == want


def test_single_term_payload_ops(spark, corpus_pdf, payload_index):
    term = "t0005"
    for op, pay in (("gte", 49), ("lt", 30), ("lte", 12), ("gt", 80)):
        node = SpanPayloadCheckQ(term, (pay,), op=op)
        want = _brute_topk(corpus_pdf, node)
        assert _got(spark, payload_index, node) == want


def test_pair_adjacent_payload_check(spark, corpus_pdf, payload_index):
    # no stop filter in the payload chain, so "be" is indexed — the
    # fixture has hundreds of adjacent (t0000, be) pairs
    terms = ("t0000", "be")
    node = SpanPayloadCheckQ(SpanNearQ(terms, slop=0), (40, 40), op="gte")
    want = _brute_topk(corpus_pdf, node)
    assert want, "fixture should produce adjacent pairs"
    assert _got(spark, payload_index, node) == want


def test_pair_sloppy_payload_check(spark, corpus_pdf, payload_index):
    terms = ("t0000", "of")
    for slop in (1, 3):
        node = SpanPayloadCheckQ(SpanNearQ(terms, slop=slop), (30, 30),
                                 op="gte")
        want = _brute_topk(corpus_pdf, node)
        assert want
        assert _got(spark, payload_index, node) == want


@pytest.mark.parametrize("op", sorted(_OPS))
def test_payload_check_over_span_or(spark, corpus_pdf, payload_index, op):
    # a SpanOrQ span collects the payload of the member it matched
    node = SpanPayloadCheckQ(SpanOrQ(("t0002", "t0005")), (49,), op=op)
    want = _brute_topk(corpus_pdf, node)
    assert want
    assert _got(spark, payload_index, node) == want


NESTED = SpanNearQ((SpanNearQ(("t0000", "be"), slop=0),
                    SpanOrQ(("of", "to"))), slop=3)


def _matched_payloads(corpus_pdf, src):
    """The payloads the first span of ``src`` in the corpus collects."""
    occ = {t: _doc_occurrences(corpus_pdf, t)[0]
           for t in dict.fromkeys(term_keys(src))}
    return next(spans[0][3] for spans in (
        _src_spans(src, occ, gid) for gid in corpus_pdf["gid"]) if spans)


@pytest.mark.parametrize("op", sorted(_OPS))
def test_payload_check_over_nested_near(spark, corpus_pdf, payload_index,
                                        op):
    # the outer chain collects the nested near's two positions, then the
    # SpanOrQ's one, each at the span the chain picked
    pays = (_matched_payloads(corpus_pdf, NESTED) if op == "eq"
            else (40, 40, 40))
    node = SpanPayloadCheckQ(NESTED, pays, op=op)
    want = _brute_topk(corpus_pdf, node)
    assert want
    assert _got(spark, payload_index, node) == want


def test_payload_check_through_filters(spark, corpus_pdf, payload_index):
    # a SpanNotQ clause collects its include side; SpanFirstQ passes its
    # source's payloads through
    src = SpanFirstQ(SpanNearQ(("t0000", SpanNotQ("be", "t0001", post=1)),
                               slop=2), 300)
    node = SpanPayloadCheckQ(src, (30, 30), op="gte")
    want = _brute_topk(corpus_pdf, node)
    assert want
    assert _got(spark, payload_index, node) == want


def test_payload_check_over_containing_unsupported(spark, payload_index):
    # ContainSpans collects both sides' positions, which the pipeline
    # does not track
    src = SpanNearQ((SpanContainingQ(SpanNearQ(("t0000", "be"), slop=3),
                                     "of"), "to"), slop=5)
    with pytest.raises(NotImplementedError, match="containing"):
        Searcher(spark, payload_index).search(
            SpanPayloadCheckQ(src, (1, 1, 1, 1)), k=5)


def test_boost_over_payload_check(spark, corpus_pdf, payload_index):
    term = "t0002"
    node = SpanPayloadCheckQ(term, (49,), op="gte")
    base = _got(spark, payload_index, node, k=5)
    b2 = _got(spark, payload_index, BoostQ(node, 2.0), k=5)
    assert [g for g, _ in base] == [g for g, _ in b2]
    assert all(s2 > s1 for (_, s1), (_, s2) in zip(base, b2))


def test_requires_payload_index(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_nopay"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "ptext"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="ptext", gid_col="gid",
        n_segments=2, with_payloads=False,
    )
    with pytest.raises(ValueError, match="payloads-enabled"):
        Searcher(spark, d).search(SpanPayloadCheckQ("t0002", (5,)), k=5)


def test_bad_node_args():
    with pytest.raises(ValueError):
        SpanPayloadCheckQ(SpanNearQ(("a", "b")), (1,))
    with pytest.raises(ValueError):
        SpanPayloadCheckQ("a", (1,), op="ne")
