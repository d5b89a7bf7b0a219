"""Field-scoped indexing + search (multi-field document model).

Lucene keys postings/norms/stats by (field, term) — FieldInfos,
per-field CollectionStatistics. The engine scopes terms by key
qualification; these tests pin:
  - per-field BM25: ``head:term`` scores with the head field's own
    docFreq, docCount, avgdl and norms (== a brute-force index built over
    just the head texts),
  - cross-field boolean composition sums per-field float32 scores,
  - default-field multi-term expansion never leaks into qualified keys.
"""

import numpy as np
import pytest

from lucene_spark.operators import indexer
from lucene_spark.operators.oracle import BruteForceIndex
from lucene_spark.operators.search import Searcher
from lucene_spark.plans.fields import FIELD_SEP, qualify
from lucene_spark.plans.query import BoolQ, PrefixQ, TermQ, parse_query
from lucene_spark.sources.webtext import generate_pages_pdf

N_DOCS = 300
HEAD_TOKS = 8


@pytest.fixture(scope="module")
def corpus_pdf():
    pdf = generate_pages_pdf(0, N_DOCS, seed=23)
    pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    pdf["gid"] = np.arange(len(pdf), dtype=np.int64)
    pdf["head"] = pdf["text"].map(lambda t: " ".join(t.split(" ")[:HEAD_TOKS]))
    return pdf


@pytest.fixture(scope="module")
def text_oracle(corpus_pdf):
    return BruteForceIndex(corpus_pdf["gid"], corpus_pdf["url"], corpus_pdf["text"])


@pytest.fixture(scope="module")
def head_oracle(corpus_pdf):
    return BruteForceIndex(corpus_pdf["gid"], corpus_pdf["url"], corpus_pdf["head"])


@pytest.fixture(scope="module")
def searcher(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_fields"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "text", "head"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="text", gid_col="gid",
        n_segments=4, extra_fields={"head": "head"},
    )
    return Searcher(spark, d)


def test_field_stats_recorded(searcher, text_oracle, head_oracle):
    assert searcher.field_stats("text") == (text_oracle.doc_count, text_oracle.sum_ttf)
    assert searcher.field_stats("head") == (head_oracle.doc_count, head_oracle.sum_ttf)


def _hot(oracle):
    return max(oracle.postings, key=lambda t: (len(oracle.postings[t]), t))


def test_default_field_unchanged(searcher, text_oracle):
    t = _hot(text_oracle)
    want = text_oracle.search(TermQ(t), 10)
    got = searcher.search(TermQ(t), k=10)
    assert list(got["gid"].astype(int)) == [g for g, _, _ in want]
    for gs, (_, _, ws) in zip(got["score"], want):
        assert np.float32(gs) == np.float32(ws)


def test_field_term_scores_with_field_stats(searcher, head_oracle):
    t = _hot(head_oracle)
    want = head_oracle.search(TermQ(t), 10)
    for q in (TermQ(qualify("head", t)), parse_query(f"head:{t}")):
        got = searcher.search(q, k=10)
        assert list(got["gid"].astype(int)) == [g for g, _, _ in want], q
        for gs, (_, _, ws) in zip(got["score"], want):
            assert np.float32(gs) == np.float32(ws), q


def test_cross_field_boolean(searcher, text_oracle, head_oracle):
    th = _hot(head_oracle)
    tt = _hot(text_oracle)
    node = parse_query(f"head:{th} AND {tt}")
    got = searcher.search(node, k=10)
    # expected: docs matching both, score = f32(head_score + text_score)
    cache_h, cache_t = head_oracle._cache(), text_oracle._cache()
    hits = []
    for g in text_oracle.gids:
        sh = head_oracle._doc_score(TermQ(th), g, cache_h)
        st = text_oracle._doc_score(TermQ(tt), g, cache_t)
        if sh is not None and st is not None:
            hits.append((g, np.float32(float(sh) + float(st))))
    hits.sort(key=lambda x: (-float(x[1]), x[0]))
    want = hits[:10]
    assert list(got["gid"].astype(int)) == [g for g, _ in want]
    for gs, (_, ws) in zip(got["score"], want):
        assert np.float32(gs) == ws


def test_field_phrase_and_prefix(searcher, head_oracle, corpus_pdf):
    from lucene_spark.functions.analysis import analyze_batch

    b = analyze_batch([corpus_pdf["head"].iloc[0]])
    t1, t2 = b.tok_terms[0], b.tok_terms[1]
    node = parse_query(f'head:"{t1} {t2}"')
    got = searcher.search(node, k=10)
    from lucene_spark.plans.query import PhraseQ

    want = head_oracle.search(
        PhraseQ(terms=(t1, t2), offsets=(int(b.tok_positions[0]), int(b.tok_positions[1]))),
        10,
    )
    assert list(got["gid"].astype(int)) == [g for g, _, _ in want]
    # field prefix expands only within the field
    terms = searcher.expand_terms(PrefixQ(qualify("head", t1[0])))
    assert terms and all(t.startswith("head" + FIELD_SEP) for t in terms)


def test_default_expansion_excludes_qualified_keys(searcher):
    for letter in "abcdefgh":
        for t in searcher.expand_terms(PrefixQ(letter)):
            assert FIELD_SEP not in t
    # wildcard that would otherwise match "head<sep>..." keys
    from lucene_spark.plans.query import WildcardQ

    for t in searcher.expand_terms(WildcardQ("?e*")):
        assert FIELD_SEP not in t


def test_parse_multi_field(searcher, text_oracle, head_oracle):
    """MultiFieldQueryParser analog: query ORs across fields; score =
    f32(sum of per-field f32 scores) — equals the manual composition of
    the per-field oracles."""
    from lucene_spark.plans.query import parse_multi_field

    t = _hot(head_oracle)
    node = parse_multi_field(t, ["text", "head"])
    got = searcher.search(node, k=10)
    cache_t, cache_h = text_oracle._cache(), head_oracle._cache()
    hits = []
    for g in text_oracle.gids:
        st = text_oracle._doc_score(TermQ(t), g, cache_t)
        sh = head_oracle._doc_score(TermQ(t), g, cache_h)
        if st is None and sh is None:
            continue
        total = float(st or 0.0) + float(sh or 0.0)
        hits.append((g, np.float32(total)))
    hits.sort(key=lambda x: (-float(x[1]), x[0]))
    want = hits[:10]
    assert list(got["gid"].astype(int)) == [g for g, _ in want]
    for gs, (_, ws) in zip(got["score"], want):
        assert np.float32(gs) == ws

    import pytest as _pytest

    with _pytest.raises(ValueError):
        # "a" is a stopword and drops; use two real terms so the parse is
        # a composite boolean (boosts only support leaf queries)
        parse_multi_field("zz1 AND zz2", ["text", "head"], boosts={"head": 2.0})
    # leaf + boost works and scopes per field
    from lucene_spark.plans.query import BoostQ

    b = parse_multi_field(t, ["text", "head"], boosts={"head": 2.0})
    assert any(isinstance(c, BoostQ) for c in b.should)


def test_multifield_purge_rederives_field_stats(spark, corpus_pdf, tmp_path_factory):
    """Purge on a MULTI-FIELD index: each field's docCount/sumTotalTermFreq
    re-derives over the survivors (per-field deltas from the fdoc metadata
    rows, no postings decode), so field-scoped BM25 after the purge equals
    a fresh index built over the survivor corpus alone — float32-exact."""
    from lucene_spark.operators.check import check_index
    from lucene_spark.operators.merge import merge_index

    mod = 4
    d = str(tmp_path_factory.mktemp("idx_fpurge"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "text", "head"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="text", gid_col="gid",
        n_segments=4, extra_fields={"head": "head"},
    )
    indexer.delete_docs(spark, d, gids=range(0, N_DOCS, mod))
    merge_index(spark, d, purge=True)

    alive = corpus_pdf[corpus_pdf["gid"] % mod != 0].reset_index(drop=True)
    fresh = str(tmp_path_factory.mktemp("idx_fpurge_fresh"))
    indexer.build_index(
        spark, spark.createDataFrame(alive[["gid", "url", "text", "head"]]),
        fresh, key_col="url", text_col="text", gid_col="gid",
        n_segments=4, extra_fields={"head": "head"},
    )
    s_purged = Searcher(spark, d)
    s_fresh = Searcher(spark, fresh)
    assert s_purged.field_stats("text") == s_fresh.field_stats("text")
    assert s_purged.field_stats("head") == s_fresh.field_stats("head")

    head_surv = BruteForceIndex(alive["gid"], alive["url"], alive["head"])
    t = _hot(head_surv)
    for q in (f"head:{t}", t):
        want = s_fresh.search(q, k=10, with_keys=False)
        got = s_purged.search(q, k=10, with_keys=False)
        assert list(got["gid"].astype(int)) == list(want["gid"].astype(int)), q
        for gs, ws in zip(got["score"], want["score"]):
            assert np.float32(gs) == np.float32(ws), q

    report = check_index(spark, d)
    assert report["healthy"], report


def test_qualify_keeps_unordered_span_near(monkeypatch):
    from lucene_spark.plans import query

    node = query.SpanNearQ(("a", "b"), 2, in_order=False)
    q = query.qualify_node(node, "title")
    assert q.in_order is False
    assert q.clauses == (qualify("title", "a"), qualify("title", "b"))
    # the query parser emits no span syntax: hand parse_multi_field the node
    monkeypatch.setattr(query, "parse_query", lambda s: node)
    multi = query.parse_multi_field("a b", ["title", "body"])
    assert [c.in_order for c in multi.should] == [False, False]
