"""End-to-end: build index on Spark, search, compare to brute-force oracle.

Mirrors the reference's layered strategy (SURVEY.md §5):
  - randomized postings round-trip (BasePostingsFormatTestCase shape):
    decoded index == naive inverted index,
  - pruned == exhaustive == oracle, rank AND float32 score identical
    (TestWANDScorer / CheckHits shape),
  - kill-and-resume produces an identical index (north rule).
"""

import glob
import json
import os

import numpy as np
import pandas as pd
import pytest

from lucene_spark.operators import indexer
from lucene_spark.operators.oracle import BruteForceIndex
from lucene_spark.operators.search import Searcher, decode_term_blocks
from lucene_spark.plans.query import BoolQ, PhraseQ, TermQ, parse_query
from lucene_spark.sources.webtext import generate_pages_pdf

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus_pdf():
    pdf = generate_pages_pdf(0, N_DOCS, seed=7)
    # deterministic gid order: sort by url (FIXTURES.md docID rule)
    pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    pdf["gid"] = np.arange(len(pdf), dtype=np.int64)
    return pdf


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    return BruteForceIndex(corpus_pdf["gid"], corpus_pdf["url"], corpus_pdf["text"])


@pytest.fixture(scope="module")
def index_dir(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "text"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="text", gid_col="gid", n_segments=4
    )
    return d


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return Searcher(spark, index_dir)


def test_stats_match_oracle(searcher, oracle):
    assert searcher.stats["doc_count"] == oracle.doc_count
    assert searcher.stats["sum_total_term_freq"] == oracle.sum_ttf


def test_postings_round_trip(spark, index_dir, oracle):
    """Decoded postings == naive inverted index (docIDs, freqs, positions)."""
    post = spark.read.parquet(os.path.join(index_dir, "segments", "batch=*", "row_type=post"))
    pdf = post.toPandas()
    # pick a mix of hot and rare terms
    terms_df = spark.read.parquet(os.path.join(index_dir, "terms")).toPandas()
    terms_sorted = terms_df.sort_values("doc_freq")
    sample = (
        list(terms_sorted["term"].head(3))
        + list(terms_sorted["term"].tail(3))
        + list(terms_sorted["term"].iloc[len(terms_sorted) // 2 : len(terms_sorted) // 2 + 3])
    )
    for t in sample:
        tp = decode_term_blocks(pdf[pdf["term"] == t], need_positions=True)
        want = oracle.postings[t]
        assert tp.gids.tolist() == sorted(want.keys()), t
        assert tp.freqs.tolist() == [want[g] for g in sorted(want)], t
        assert (np.diff(tp.gids) > 0).all()
        for g, pos in zip(tp.gids, tp.positions):
            assert pos.tolist() == oracle.positions[(t, int(g))], (t, g)
        # norms ride along correctly
        expect_norms = [oracle.norm[g] for g in sorted(want)]
        assert tp.norms.tolist() == expect_norms, t

    # term stats
    for t in sample:
        row = terms_df[terms_df["term"] == t].iloc[0]
        assert row["doc_freq"] == len(oracle.postings[t])
        assert row["total_term_freq"] == sum(oracle.postings[t].values())


def _hot_mid_rare(oracle):
    by_df = sorted(oracle.postings, key=lambda t: len(oracle.postings[t]))
    return by_df[-1], by_df[len(by_df) // 2], by_df[2]


def _check_query(searcher, oracle, node, k=10, msg=""):
    want = oracle.search(node, k)
    for prune in (False, True):
        got = searcher.search(node, k=k, prune=prune)
        got_list = list(zip(got["gid"].astype(int), got["score"].astype(np.float32)))
        want_list = [(g, s) for g, _, s in want]
        assert [g for g, _ in got_list] == [g for g, _ in want_list], (
            f"{msg} prune={prune}: docs {got_list} != {want_list}"
        )
        for (gg, gs), (wg, ws) in zip(got_list, want_list):
            assert np.float32(gs) == np.float32(ws), (
                f"{msg} prune={prune} gid={gg}: {gs!r} != {ws!r}"
            )
        # keys joined correctly
        assert list(got["key"]) == [u for _, u, _ in want]


def test_single_term_queries(searcher, oracle):
    hot, mid, rare = _hot_mid_rare(oracle)
    for t in (hot, mid, rare):
        _check_query(searcher, oracle, TermQ(t), msg=f"term {t}")


def test_boolean_and(searcher, oracle):
    hot, mid, rare = _hot_mid_rare(oracle)
    _check_query(searcher, oracle, BoolQ(must=(TermQ(hot), TermQ(mid))), msg="AND")
    _check_query(
        searcher, oracle, BoolQ(must=(TermQ(hot), TermQ(mid), TermQ(rare))), msg="AND3"
    )


def test_boolean_or(searcher, oracle):
    hot, mid, rare = _hot_mid_rare(oracle)
    _check_query(searcher, oracle, BoolQ(should=(TermQ(mid), TermQ(rare))), msg="OR")
    _check_query(
        searcher, oracle, BoolQ(should=(TermQ(hot), TermQ(mid), TermQ(rare))), msg="OR3"
    )


def test_boolean_not_and_nested(searcher, oracle):
    hot, mid, rare = _hot_mid_rare(oracle)
    _check_query(
        searcher, oracle, BoolQ(must=(TermQ(hot),), must_not=(TermQ(mid),)), msg="NOT"
    )
    nested = BoolQ(must=(BoolQ(should=(TermQ(mid), TermQ(rare))), TermQ(hot)))
    _check_query(searcher, oracle, nested, msg="(a OR b) AND c")


def test_parsed_queries(searcher, oracle):
    hot, mid, rare = _hot_mid_rare(oracle)
    _check_query(searcher, oracle, parse_query(f"{hot} AND {mid}"), msg="parsed AND")
    _check_query(searcher, oracle, parse_query(f"{mid} OR {rare}"), msg="parsed OR")
    _check_query(searcher, oracle, parse_query(f"{hot} NOT {mid}"), msg="parsed NOT")
    _check_query(
        searcher, oracle, parse_query(f"({mid} OR {rare}) AND {hot}"), msg="parsed nested"
    )


def test_nested_negation_wrapper(searcher, oracle):
    """SimpleQueryParser's ``-token`` wrapper (BQ[SHOULD MatchAll,
    MUST_NOT branch], SimpleQueryParser.java:441-448) nested inside a
    bigger boolean — the searcher's _split_neg_wrappers desugar vs the
    brute-force doc-at-a-time oracle (scores f32-exact)."""
    from lucene_spark.plans.query import MatchAllQ

    hot, mid, rare = _hot_mid_rare(oracle)

    def W(c):
        return BoolQ(should=(MatchAllQ(),), must_not=(c,))

    # wrapper as an optional clause: `-mid rare` (default OR)
    _check_query(searcher, oracle,
                 BoolQ(should=(W(TermQ(mid)), TermQ(rare))), msg="-a b")
    # wrapper as a required clause: `hot + -mid`
    _check_query(searcher, oracle,
                 BoolQ(must=(TermQ(hot), W(TermQ(mid)))), msg="a + -b")
    # two wrappers, both optional: `-mid | -rare` (XOR-of-absence shape)
    _check_query(searcher, oracle,
                 BoolQ(should=(W(TermQ(mid)), W(TermQ(rare)))), msg="-a | -b")
    # two wrappers, both required: `-mid + -rare`
    _check_query(searcher, oracle,
                 BoolQ(must=(W(TermQ(mid)), W(TermQ(rare)))), msg="-a + -b")
    # wrapper beside several scoring clauses with an outer must_not
    _check_query(
        searcher, oracle,
        BoolQ(should=(W(TermQ(rare)), TermQ(mid), TermQ(hot)),
              must_not=(PhraseQ((hot, hot), (0, 1)),)),
        msg="-a b c NOT phrase",
    )


def test_matchall_with_dense_must_not(searcher, oracle):
    """Universe-fill exclusion must be EXHAUSTIVE: a MatchAll with a
    must_not whose match set far exceeds k (the hot term) — regression
    for the per-bucket-top-k-capped neg set in _bool_matchall."""
    from lucene_spark.plans.query import MatchAllQ

    hot, mid, _ = _hot_mid_rare(oracle)
    assert len(oracle.postings[hot]) > 10  # the bug needs |neg| > k
    _check_query(searcher, oracle,
                 BoolQ(should=(MatchAllQ(),), must_not=(TermQ(hot),)),
                 msg="* NOT hot")
    _check_query(searcher, oracle,
                 BoolQ(should=(MatchAllQ(),), must_not=(TermQ(hot), TermQ(mid))),
                 msg="* NOT hot NOT mid")


def test_duplicate_clause_boost_sum(searcher):
    """BooleanQuery.rewrite merges duplicate SHOULD (msm<=1) and MUST
    clauses by summing boosts (BooleanQuery.java:405-437): a doubled
    clause scores exactly like an explicit BoostQuery(clause, 2)."""
    from lucene_spark.plans.query import BoostQ

    import pyspark.sql.functions as F
    terms = (searcher.spark.read.parquet(searcher.index_dir + "/terms")
             .orderBy(F.desc("doc_freq")).limit(5).toPandas())
    hot = terms["term"].iloc[2]
    dup = searcher.search(BoolQ(should=(TermQ(hot), TermQ(hot))), k=10,
                          with_keys=False)
    boosted = searcher.search(BoostQ(TermQ(hot), boost=2.0), k=10,
                              with_keys=False)
    assert list(dup["gid"]) == list(boosted["gid"])
    assert [np.float32(s) for s in dup["score"]] == [
        np.float32(s) for s in boosted["score"]
    ]
    dup_m = searcher.search(BoolQ(must=(TermQ(hot), TermQ(hot))), k=10,
                            with_keys=False)
    assert list(dup_m["gid"]) == list(boosted["gid"])
    assert [np.float32(s) for s in dup_m["score"]] == [
        np.float32(s) for s in boosted["score"]
    ]


def test_no_match_and_stopword_queries(searcher, oracle):
    got = searcher.search("zzznope12345", k=10)
    assert len(got) == 0
    assert parse_query("the and of") is None
    got = searcher.search("the and of", k=10)
    assert len(got) == 0


def test_counts(searcher, oracle):
    hot, mid, rare = _hot_mid_rare(oracle)
    assert searcher.count(TermQ(mid)) == oracle.count(TermQ(mid))
    node = BoolQ(should=(TermQ(mid), TermQ(rare)))
    assert searcher.count(node) == oracle.count(node)


def test_phrase_query(searcher, oracle, corpus_pdf):
    # find a phrase that actually occurs: first two non-stop tokens of doc 0
    from lucene_spark.functions.analysis import analyze_batch

    b = analyze_batch([corpus_pdf["text"].iloc[0]])
    t1, t2 = b.tok_terms[0], b.tok_terms[1]
    p1, p2 = int(b.tok_positions[0]), int(b.tok_positions[1])
    node = PhraseQ(terms=(t1, t2), offsets=(p1, p2))
    _check_query(searcher, oracle, node, msg=f'phrase "{t1} {t2}"')


def test_resume_identical_index(spark, corpus_pdf, tmp_path_factory):
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "text"]])
    kw = dict(key_col="url", text_col="text", gid_col="gid", n_segments=4, batch_segments=1)

    d_full = str(tmp_path_factory.mktemp("idx_full"))
    indexer.build_index(spark, df, d_full, **kw)

    d_resume = str(tmp_path_factory.mktemp("idx_resume"))
    with pytest.raises(RuntimeError, match="injected failure"):
        indexer.build_index(spark, df, d_resume, fail_after_batches=2, **kw)
    assert len(indexer.read_manifest(d_resume)) == 2
    indexer.build_index(spark, df, d_resume, **kw)  # resume
    manifest = indexer.read_manifest(d_resume)
    assert [m["batch"] for m in manifest] == [0, 1, 2, 3]

    def content(d):
        post = (
            spark.read.parquet(os.path.join(d, "segments", "batch=*", "row_type=post"))
            .toPandas()
            .sort_values(["term", "seg", "block_ord"], kind="mergesort")
            .reset_index(drop=True)
        )
        return post[["term", "seg", "block_ord", "first_gid", "last_gid", "gids", "freqs", "norms"]]

    pd.testing.assert_frame_equal(content(d_full), content(d_resume))
    with open(os.path.join(d_full, "stats.json")) as f1, open(
        os.path.join(d_resume, "stats.json")
    ) as f2:
        assert json.load(f1) == json.load(f2)


def test_manifest_lineage_metrics(index_dir):
    manifest = indexer.read_manifest(index_dir)
    assert manifest, "manifest must exist"
    for rec in manifest:
        assert rec["status"] == "committed"
        assert rec["n_docs"] > 0
        assert rec["docs_per_sec"] > 0
        assert "per_segment" in rec and rec["per_segment"]
        for seg_stats in rec["per_segment"].values():
            assert set(seg_stats) == {"n_docs", "n_terms", "n_postings"}
