"""Round-2 scale-path execution: postings-targeted buckets, seeded θ,
block-level pruning, N-term proximity, cursor-driven deep paging.

The tiny-knob Searcher forces the multi-bucket + seeded-θ + block-filter
code paths on a 400-doc corpus; results must stay rank- and float32-score-
identical to the brute-force oracle (CheckHits contract) — pruning may only
ever change WORK, never results.
"""

from contextlib import nullcontext

import numpy as np
import pytest

from lucene_spark.functions.analysis import analyze_batch
from lucene_spark.operators import indexer
from lucene_spark.operators.oracle import BruteForceIndex
from lucene_spark.operators.search import Searcher
from lucene_spark.plans.query import (
    BoolQ,
    MatchAllQ,
    NearQ,
    PhraseQ,
    TermQ,
    parse_query,
)
from lucene_spark.sources.webtext import generate_pages_pdf
from tests.paths import distributed

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus_pdf():
    pdf = generate_pages_pdf(0, N_DOCS, seed=11)
    pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    pdf["gid"] = np.arange(len(pdf), dtype=np.int64)
    return pdf


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    return BruteForceIndex(corpus_pdf["gid"], corpus_pdf["url"], corpus_pdf["text"])


@pytest.fixture(scope="module")
def index_dir(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_scale"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "text"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="text", gid_col="gid", n_segments=4
    )
    return d


@pytest.fixture(scope="module")
def tiny_searcher(spark, index_dir):
    """Knobs shrunk so a 400-doc corpus runs ≥4 buckets, seeds θ on every
    query, and exercises the block-level slack + leapfrog filters."""
    return Searcher(
        spark, index_dir,
        target_bucket_postings=32, seed_min_df=1, seed_min_buckets=2,
    )


def _terms_by_df(oracle):
    return sorted(oracle.postings, key=lambda t: (len(oracle.postings[t]), t))


def _check(searcher, oracle, node, k=10, msg=""):
    want = oracle.search(node, k)
    for path in (distributed, nullcontext):  # Spark kernels, then the driver
        for prune in (False, True):
            with path():
                got = searcher.search(node, k=k, prune=prune)
            assert list(got["gid"].astype(int)) == [g for g, _, _ in want], (
                f"{msg} prune={prune} {path.__name__}"
            )
            for gs, (_, _, ws) in zip(got["score"], want):
                assert np.float32(gs) == np.float32(ws), f"{msg} prune={prune}"


def test_multibucket_seeded_matches_oracle(tiny_searcher, oracle):
    by_df = _terms_by_df(oracle)
    hot, mid, rare = by_df[-1], by_df[len(by_df) // 2], by_df[2]
    _check(tiny_searcher, oracle, TermQ(hot), msg="term")
    _check(tiny_searcher, oracle, BoolQ(must=(TermQ(hot), TermQ(mid))), msg="AND")
    _check(tiny_searcher, oracle, BoolQ(should=(TermQ(hot), TermQ(mid), TermQ(rare))), msg="OR3")
    _check(tiny_searcher, oracle, BoolQ(must=(TermQ(hot),), must_not=(TermQ(mid),)), msg="NOT")
    nested = BoolQ(must=(BoolQ(should=(TermQ(mid), TermQ(rare))), TermQ(hot)))
    _check(tiny_searcher, oracle, nested, msg="nested")


def test_phrase_and_near_multibucket(tiny_searcher, oracle, corpus_pdf):
    b = analyze_batch([corpus_pdf["text"].iloc[0]])
    t1, t2, t3 = b.tok_terms[0], b.tok_terms[1], b.tok_terms[2]
    p1, p2 = int(b.tok_positions[0]), int(b.tok_positions[1])
    _check(
        tiny_searcher, oracle, PhraseQ(terms=(t1, t2), offsets=(p1, p2)), msg="phrase"
    )
    _check(tiny_searcher, oracle, NearQ(terms=(t1, t2), slop=3), msg="near2")
    _check(tiny_searcher, oracle, NearQ(terms=(t1, t2, t3), slop=2), msg="near3")


def test_near_multiterm_matches_oracle(tiny_searcher, oracle):
    # 3 mid-frequency terms: ordered tuple counting across many docs
    by_df = _terms_by_df(oracle)
    a, b, c = by_df[-1], by_df[-2], by_df[-3]
    _check(tiny_searcher, oracle, NearQ(terms=(a, b), slop=4), msg="near2-hot")
    _check(tiny_searcher, oracle, NearQ(terms=(a, b, c), slop=4), msg="near3-hot")


def test_sloppy_matches_oracle(tiny_searcher, oracle):
    """Unordered sloppy phrase (SloppyPhraseMatcher semantics) vs the
    brute-force per-doc greedy sim, across the multi-bucket kernel path —
    including a repeated-term phrase (the initComplex/advanceRpts path)."""
    from lucene_spark.plans.query import SloppyQ

    by_df = _terms_by_df(oracle)
    a, b, c = by_df[-1], by_df[-2], by_df[-3]
    _check(tiny_searcher, oracle, SloppyQ(terms=(a, b), offsets=(0, 1), slop=3),
           msg="sloppy2")
    _check(tiny_searcher, oracle,
           SloppyQ(terms=(a, b, c), offsets=(0, 1, 2), slop=4), msg="sloppy3")
    _check(tiny_searcher, oracle,
           SloppyQ(terms=(a, b, c), offsets=(0, 2, 3), slop=2), msg="sloppy-holes")
    _check(tiny_searcher, oracle,
           SloppyQ(terms=(a, b, a), offsets=(0, 1, 2), slop=3), msg="sloppy-rpt")


def test_search_after_cursor_pages(tiny_searcher, oracle):
    by_df = _terms_by_df(oracle)
    hot, mid = by_df[-1], by_df[len(by_df) // 2]
    node = BoolQ(should=(TermQ(hot), TermQ(mid)))
    want = oracle.search(node, 100)
    k = 5
    page = tiny_searcher.search(node, k=k, with_keys=False)
    rank = k
    while rank < min(len(want), 4 * k):
        cursor = (float(page["score"].iloc[-1]), int(page["gid"].iloc[-1]))
        page = tiny_searcher.search_after(node, cursor, k=k)
        expect = want[rank : rank + k]
        assert list(page["gid"].astype(int)) == [g for g, _, _ in expect], rank
        for gs, (_, _, ws) in zip(page["score"], expect):
            assert np.float32(gs) == np.float32(ws)
        rank += k


def test_deeply_nested_matchall_raises(tiny_searcher):
    """Direct BooleanQuery MatchAll clauses are supported (folded into
    const_add / universe completion); BELOW the top boolean level the
    fail-fast plan error remains."""
    from lucene_spark.plans.query import DisMaxQ

    with pytest.raises(ValueError, match="MatchAllQ"):
        tiny_searcher.candidates(DisMaxQ(clauses=(TermQ("x"), MatchAllQ()), tie=0.0))
    with pytest.raises(ValueError, match="MatchAllQ"):
        tiny_searcher.candidates(
            BoolQ(must=(BoolQ(should=(MatchAllQ(), TermQ("x"))), TermQ("x")))
        )


def test_block_metrics_prune_reduces_decode(tiny_searcher, oracle):
    by_df = _terms_by_df(oracle)
    hot, mid = by_df[-1], by_df[len(by_df) // 2]
    node = BoolQ(should=(TermQ(hot), TermQ(mid)))
    m = tiny_searcher.enable_metrics()
    tiny_searcher.search(node, k=3, prune=True, with_keys=False)
    scanned, decoded = m["blocks_scanned"].value, m["blocks_decoded"].value
    tiny_searcher.metrics = None
    assert scanned > 0
    assert decoded <= scanned


def test_parse_fuzzy_variants():
    from lucene_spark.plans.query import FuzzyQ

    assert parse_query("merge~1") == FuzzyQ("merge", max_edits=1)
    # classic float syntax: (1 - 0.7) * 5 = 1.5 -> 1 edit
    assert parse_query("merge~0.7") == FuzzyQ("merge", max_edits=1)
    assert parse_query("merge~0.0") == FuzzyQ("merge", max_edits=2)
    with pytest.raises(ValueError):
        parse_query("merge~9")
    with pytest.raises(ValueError):
        parse_query("merge~abc")


def test_parse_sloppy_three_terms():
    from lucene_spark.plans.query import SloppyQ

    node = parse_query('"alpha beta gamma"~2')
    assert isinstance(node, SloppyQ)  # Lucene QueryParser: sloppy PhraseQuery
    assert node.terms == ("alpha", "beta", "gamma")
    assert node.offsets == (0, 1, 2)
    assert node.slop == 2


def _jobs_run(spark, fn) -> int:
    st = spark.sparkContext._jsc.sc().statusTracker()
    before = len(st.getJobIdsForGroup(None))
    fn()
    return len(st.getJobIdsForGroup(None)) - before


def test_warm_query_job_floor(spark, index_dir):
    """Interactive-latency contract: a WARM query costs a bounded number of
    Spark jobs. Cold costs (parquet listing, term-stats lookup) are paid
    once per searcher — the point-in-time reader model — so the steady
    state is: term scoring-only = 1 job, +1 for the stored-fields fetch,
    +1 per uncached term's stats lookup; booleans/phrases ≤ 3 (their
    per-bucket top-k adds one shuffle)."""
    s = Searcher(spark, index_dir)
    s.search("merge", k=5)  # warm: listing jobs + stats cache fills
    assert _jobs_run(spark, lambda: s.search(TermQ("merge"), k=5,
                                             with_keys=False)) <= 1
    assert _jobs_run(spark, lambda: s.search(TermQ("merge"), k=5)) <= 2
    # an unseen term pays exactly one extra stats-lookup job, once
    assert _jobs_run(spark, lambda: s.search(TermQ("scan"), k=5,
                                             with_keys=False)) <= 2
    assert _jobs_run(spark, lambda: s.search(TermQ("scan"), k=5,
                                             with_keys=False)) <= 1
    assert _jobs_run(spark, lambda: s.search(
        BoolQ(should=(TermQ("merge"), TermQ("scan"))), k=5, with_keys=False
    )) <= 3
