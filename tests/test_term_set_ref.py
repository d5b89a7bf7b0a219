"""Uncapped multi-term rewrites stay DISTRIBUTED: a match set larger than
BOOL_REWRITE_TERM_LIMIT never collects to the driver — the rewrite emits
ConstScoreQ(TermSetRefQ) whose matched-terms DataFrame PLAN semi-joins into
the postings scan, the Spark re-expression of the per-segment postings
union in ``AbstractMultiTermQueryConstantScoreWrapper``
(core/search/MultiTermQuery.java:197-236). Small sets keep the enumerated
TermInSet boolean rewrite (BOOLEAN_REWRITE_TERM_COUNT_THRESHOLD analog).

Also: deletes ride a Spark BROADCAST into kernels (shipped once per
executor), never pickled per-task — the round-3 scale-killer at north-rule
delete volumes (10^12 docs x 20% deletes ~ 1.6 TB of per-task closures).
"""

import contextlib
import io

import numpy as np
import pytest

from lucene_spark.operators import indexer
from lucene_spark.operators.search import BOOL_REWRITE_TERM_LIMIT, Searcher
from lucene_spark.plans.query import (
    BoolQ,
    ConstScoreQ,
    PrefixQ,
    TermInSetQ,
    TermQ,
    TermSetRefQ,
    WildcardQ,
    parse_query,
)
from lucene_spark.sources.webtext import generate_pages_pdf

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus_pdf():
    pdf = generate_pages_pdf(0, N_DOCS, seed=23)
    pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    pdf["gid"] = np.arange(len(pdf), dtype=np.int64)
    return pdf


@pytest.fixture(scope="module")
def searcher(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_setref"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "text"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="text", gid_col="gid", n_segments=4
    )
    return Searcher(spark, d)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_big_prefix_rewrites_to_set_ref(searcher):
    big = searcher.rewrite(PrefixQ("t0"))  # ~1000 matched terms
    assert isinstance(big, ConstScoreQ) and isinstance(big.child, TermSetRefQ)
    # a small set stays an enumerated TermInSet (IN-filter pushdown)
    small = searcher.rewrite(PrefixQ("t000"))  # t0000..t0009
    assert isinstance(small, ConstScoreQ) and isinstance(small.child, TermInSetQ)
    assert len(small.child.terms) <= BOOL_REWRITE_TERM_LIMIT


def test_set_ref_matches_enumerated_rewrite(searcher):
    """The lazy distributed path must produce the exact rows the driver-
    enumerated TermInSet path produces (same constant score, same page)."""
    terms = searcher.expand_terms(PrefixQ("t0"))
    assert len(terms) > BOOL_REWRITE_TERM_LIMIT
    lazy = searcher.search(PrefixQ("t0"), k=25)
    enum = searcher.search(ConstScoreQ(TermInSetQ(tuple(terms))), k=25)
    assert list(lazy["gid"]) == list(enum["gid"])
    assert list(lazy["score"]) == list(enum["score"])


def test_nested_set_ref_in_bool_matches_enumerated(searcher):
    """A TermSetRefQ nested as a scoring boolean clause (virtual postings
    key in the bucketed kernel) must score identically to the enumerated
    TermInSet clause — for both pruned and exhaustive execution."""
    terms = searcher.expand_terms(WildcardQ("t1*"))
    assert len(terms) > BOOL_REWRITE_TERM_LIMIT
    lazy_node = searcher.rewrite(parse_query("t0001 AND t1*"))
    enum_node = BoolQ(
        must=(TermQ("t0001"), ConstScoreQ(TermInSetQ(tuple(terms)))),
    )
    for prune in (False, True):
        lazy = searcher.search(lazy_node, k=15, prune=prune)
        enum = searcher.search(enum_node, k=15, prune=prune)
        assert list(lazy["gid"]) == list(enum["gid"]), f"prune={prune}"
        assert [np.float32(s) for s in lazy["score"]] == [
            np.float32(s) for s in enum["score"]
        ], f"prune={prune}"


def test_should_set_ref_matches_enumerated(searcher):
    terms = searcher.expand_terms(PrefixQ("t2"))
    assert len(terms) > BOOL_REWRITE_TERM_LIMIT
    lazy = searcher.search(parse_query("t0002 OR t2*"), k=15)
    enum = searcher.search(
        BoolQ(should=(TermQ("t0002"), ConstScoreQ(TermInSetQ(tuple(terms))))),
        k=15,
    )
    assert list(lazy["gid"]) == list(enum["gid"])
    assert [np.float32(s) for s in lazy["score"]] == [
        np.float32(s) for s in enum["score"]
    ]


def test_set_ref_plan_is_semijoin_without_driver_terms(searcher):
    """VERDICT r3 done-criterion: the wildcard/prefix plan contains a
    LeftSemi join against the terms-table plan and NO driver-side term
    list (no In-literal enumeration of matched terms)."""
    node = searcher.rewrite(PrefixQ("t0"))
    assert isinstance(node.child, TermSetRefQ)
    plan = _explain(searcher.candidates(node, prune=False))
    assert "LeftSemi" in plan
    # matched terms must not appear as literals anywhere in the plan —
    # they would only get there via a driver-side collect
    for t in ("t0099", "t0123", "t0500"):
        assert t not in plan
    # the set's own scan reads doc gaps only (constant score: no freqs/
    # norms/positions decode)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and all("positions" not in l for l in read_schema)


def test_nested_set_ref_plan_semijoin(searcher):
    node = searcher.rewrite(parse_query("t0001 AND t0*"))
    plan = _explain(searcher.candidates(node, prune=False))
    assert "LeftSemi" in plan
    for t in ("t0099", "t0123", "t0500"):
        assert t not in plan


def test_rewrite_never_collects_big_sets(searcher, monkeypatch):
    """rewrite() never collects the full match set (the r3 driver-OOM
    path): a prefix probe reads the term dictionary's footer-pruned row
    groups on the driver and returns at most LIMIT+1 matches, or, above the
    driver read cap, collects at most LIMIT+1 probe rows."""
    from pyspark.sql.classic.dataframe import DataFrame

    real_collect = DataFrame.collect
    sizes = []

    def counting_collect(self):
        rows = real_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    node = searcher.rewrite(PrefixQ("t0"))
    assert isinstance(node.child, TermSetRefQ)
    assert sizes == []
    assert len(searcher.term_dict().expand(PrefixQ("t0"), BOOL_REWRITE_TERM_LIMIT)) \
        == BOOL_REWRITE_TERM_LIMIT + 1
    # above the dictionary's driver read cap the probe runs on Spark and
    # collects at most LIMIT+1 rows
    from lucene_spark.operators import commit

    monkeypatch.setattr(commit, "MAX_DRIVER_READ_BYTES", 0)
    node = searcher.rewrite(PrefixQ("t0"))
    assert isinstance(node.child, TermSetRefQ)
    assert sizes and max(sizes) <= BOOL_REWRITE_TERM_LIMIT + 1


# --------------------------------------------------------------- deletes


def test_deletes_ride_broadcast_not_task_closures(searcher):
    """The delete set crosses to executors as ONE broadcast (torrent
    protocol), so what a task closure carries is the tiny handle — its
    pickled size must not grow with the delete count."""
    import pickle

    from pyspark.broadcast import Broadcast

    big = np.arange(0, 2_000_000, 2, dtype=np.int64)  # 1M deleted gids
    searcher._deleted = big
    searcher._deleted_bc = __import__(
        "lucene_spark.operators.search", fromlist=["_UNSET"]
    )._UNSET
    try:
        bc = searcher.deleted_bc()
        assert isinstance(bc, Broadcast)
        handle_size = len(pickle.dumps(bc))
        array_size = big.nbytes
        assert handle_size < 10_000, handle_size  # vs 8 MB of gids
        assert array_size > 1_000_000
        # kernels consume the broadcast: a pruned term search still works
        # and excludes every even gid
        got = searcher.search(TermQ("t0001"), k=10, prune=True)
        assert len(got) > 0
        assert all(int(g) % 2 == 1 for g in got["gid"])
    finally:
        searcher._deleted = None
        searcher._deleted_bc = None


def test_anti_join_deletes_never_cross_driver(searcher, monkeypatch):
    """DataFrame-level live filtering (counts, constant-score paths) anti-
    joins the delete-record parquet directly — no driver materialization
    of the delete set (no collect, no createDataFrame of gids)."""
    from pyspark.sql.classic.dataframe import DataFrame

    def boom(self, *a, **k):
        raise AssertionError("collect() during _anti_join_deleted")

    df = searcher._postings_df().select("first_gid").withColumnRenamed(
        "first_gid", "gid"
    )
    monkeypatch.setattr(DataFrame, "collect", boom)
    out = searcher._anti_join_deleted(df)  # plan-building must not collect
    assert out is not None
