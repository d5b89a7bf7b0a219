"""Physical-plan hygiene: the properties SCALE.md promises must show in
.explain — term filters push into the Parquet scan (term-dictionary seek)
and the positions column is pruned unless a phrase needs it."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def searcher(spark):
    import __spark_entry__ as entry
    from lucene_spark.operators.search import Searcher

    return Searcher(spark, entry._index_for(spark, "/root/testdata/sf0.001"))


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_filter_pushes_into_parquet_scan(searcher):
    scan = searcher._postings_df().filter(F.col("term").isin(["merge", "window"]))
    plan = _explain(scan)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("term" in l and "merge" in l for l in pushed), pushed


def test_positions_pruned_for_boolean_query(searcher):
    from lucene_spark.plans.query import parse_query

    cand = searcher.candidates(parse_query("merge AND window"), prune=False)
    plan = _explain(cand)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert all("positions" not in l for l in read_schema), read_schema


def test_positions_read_for_phrase_query(searcher):
    from lucene_spark.plans.query import parse_query

    cand = searcher.candidates(parse_query('"table scan"'), prune=False)
    plan = _explain(cand)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any("positions" in l for l in read_schema), read_schema


def test_facet_dim_join_is_broadcast(searcher, spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = searcher.facet_counts("merge", docs, "lang", key_col="doc_id")
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_term_in_set_large_set_uses_broadcast_semi_join(searcher):
    from lucene_spark.plans.query import TermInSetQ

    big = tuple(["merge", "window"] + [f"zz{i}" for i in range(3000)])
    df = searcher.candidates(TermInSetQ(terms=big))
    plan = _explain(df)
    # large sets must NOT build a 3000-literal In filter; a broadcast
    # LeftSemi join carries the set instead
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # and only doc-gap columns are read (no freqs/norms/positions decode)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("positions" not in l and "freqs" not in l for l in read_schema), (
        read_schema
    )


def test_wildcard_literal_prefix_pushes_startswith(searcher):
    """Multi-term expansion must not scan the whole dictionary: a wildcard
    with a literal prefix pushes StartsWith into the sorted-terms Parquet
    (row-group min/max pruning — the FST-intersect seek analog)."""
    from lucene_spark.plans.query import RegexpQ, WildcardQ

    tdf = searcher.terms_table().filter(F.col("term").startswith("me"))
    plan = _explain(tdf)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("StartsWith" in l for l in pushed), plan
    # engine-level: pushdown prunes the expansion's input, results identical
    assert searcher.expand_terms(WildcardQ("me*ge")) == ["merge"]
    assert searcher.expand_terms(RegexpQ("mer.*")) == ["merge"]
    assert searcher.expand_terms(WildcardQ("?erge")) == ["merge"]  # no prefix


def test_leading_wildcard_uses_reversed_dictionary(searcher):
    """VERDICT r3 ask #4: *ing-style patterns must seek the rterm-sorted
    dictionary (StartsWith on the reversed suffix pushed into Parquet),
    never full-scan the term dictionary."""
    from pyspark.sql import functions as F
    from lucene_spark.plans.query import RegexpQ, WildcardQ

    m = searcher.matched_terms_df(WildcardQ("*er"))
    plan = _explain(m)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("StartsWith" in l and "rterm" in l for l in pushed), plan
    # results identical to a brute endswith over the full dictionary
    vocab = [
        r["term"]
        for r in searcher.terms_table().select("term").collect()
    ]
    want = sorted(t for t in vocab if t.endswith("er") and "\x1f" not in t)
    assert searcher.expand_terms(WildcardQ("*er")) == want
    # regexp .*foo takes the same seek
    m2 = searcher.matched_terms_df(RegexpQ(".*er"))
    pushed2 = [l for l in _explain(m2).splitlines() if "PushedFilters" in l]
    assert any("StartsWith" in l and "rterm" in l for l in pushed2)
    assert searcher.expand_terms(RegexpQ(".*er")) == want


def test_regexp_alternation_anchors_whole_term(searcher):
    """^abc|xyz$ anchors each branch separately — RegexpQuery matches the
    ENTIRE term, so the engine wraps (?:...) and pushes NO prefix from an
    alternated pattern."""
    from lucene_spark.operators.search import (
        _regex_literal_prefix,
        _regex_literal_suffix,
    )
    from lucene_spark.plans.query import RegexpQ

    assert _regex_literal_prefix("abc|xyz") == ""
    assert _regex_literal_suffix("abc|xyz") == ""
    assert _regex_literal_prefix("ab(c|d)") == "ab"
    assert _regex_literal_suffix(".*ing") == "ing"
    assert _regex_literal_suffix("a.c") == "c"
    got = searcher.expand_terms(RegexpQ("scan|sort"))
    assert got == ["scan", "sort"]
    # branch must not partial-match: s.* would, s alone must not
    assert searcher.expand_terms(RegexpQ("merge|s")) == ["merge"]


def test_fuzzy_expansion_is_length_banded(searcher):
    """Fuzzy candidates are bounded by |len(term) - len(q)| <= maxEdits
    before any distance runs, and prefix_length pushes a StartsWith seek."""
    from lucene_spark.plans.query import FuzzyQ

    got = searcher.expand_terms(FuzzyQ("merge", max_edits=1))
    assert "merge" in got
    assert all(abs(len(t) - 5) <= 1 for t in got)
    pref = searcher.expand_terms(FuzzyQ("merge", max_edits=2, prefix_length=2))
    assert all(t.startswith("me") for t in pref)


def test_cross_doc_dup_ngrams_plan_shape(spark):
    """The dup-span plan must aggregate (no cartesian/broadcast-nested-loop)
    and read only the columns it needs from documents (doc_id, text)."""
    from lucene_spark.operators import textops

    plan = _explain(textops.cross_doc_dup_ngrams(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    doc_scans = [l for l in scans if "text" in l]
    assert doc_scans and all("lang" not in l and "source" not in l for l in doc_scans), scans


def test_pushdown_survives_live_unit_union(spark, tmp_path_factory):
    """After a tiered merge the scan is a union of live units; the term
    filter must still reach every branch's Parquet scan."""
    import numpy as np

    from lucene_spark.operators import indexer
    from lucene_spark.operators.merge import tiered_merge
    from lucene_spark.operators.search import Searcher
    from lucene_spark.sources.webtext import generate_pages_pdf

    d = str(tmp_path_factory.mktemp("idx_hyg"))
    for i in range(2):
        pdf = generate_pages_pdf(100 * i, 100 * i + 80, seed=9).sort_values(
            "url"
        ).reset_index(drop=True)
        pdf["gid"] = np.arange(5000 * i, 5000 * i + len(pdf), dtype=np.int64)
        df = spark.createDataFrame(pdf[["gid", "url", "text"]])
        indexer.build_index(
            spark, df, d, key_col="url", text_col="text", gid_col="gid",
            n_segments=2, batch_segments=1, append=(i > 0),
        )
    tiered_merge(spark, d, segs_per_tier=2, max_merge_at_once=2, floor_postings=10)
    s = Searcher(spark, d)
    scan = s._postings_df().filter(F.col("term") == "t0000")
    plan = _explain(scan)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and all("term" in l for l in pushed), plan


def test_cached_filter_plan_excludes_filter_terms(spark):
    """On a query-cache hit the FILTER clause's terms must vanish from the
    executed plan entirely — the clause is served from the broadcast gid
    set, so its postings are never scanned (the LRUQueryCache win)."""
    import __spark_entry__ as entry

    from lucene_spark.operators.query_cache import (
        LRUQueryCache, UsageTrackingPolicy,
    )
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans.query import BoolQ, TermInSetQ, TermQ

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    qc = LRUQueryCache(
        policy=UsageTrackingPolicy(min_freq_costly=1, min_freq_cheap=1)
    )
    s = Searcher(spark, idx, query_cache=qc)
    node = BoolQ(must=(TermQ("merge"),), filter=(TermInSetQ(("window", "scan")),))
    s.search(node, k=5, with_keys=False)  # fills the cache
    plan = s.candidates(node, k=5)._jdf.queryExecution().executedPlan().toString()
    assert qc.hit_count >= 1
    assert "merge" in plan
    assert "window" not in plan and "scan" not in plan, plan


def test_shape_contains_bbox_pushes_into_scan(spark):
    """CONTAINS' bbox-overlap prefilter must reach the triangle-table
    parquet scan (the BKD inner-node prune, expressed as row-group
    stats) and the verdict rollup must be a partial aggregation."""
    import __spark_entry__ as entry
    from lucene_spark.operators import shapes as sh

    tri = sh.read_shapes(
        spark, entry._shape_table_for(spark, "/root/testdata/sf0.001",
                                      "rects")
    )
    plan = _explain(sh.shape_box(tri, sh.CONTAINS, *entry.SHAPE_CBOX))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "GreaterThanOrEqual(max_y" in pushed[0]
    assert "LessThanOrEqual(min_x" in pushed[0]
    assert "HashAggregate" in plan  # partial+final verdict rollup


def test_taxonomy_dim_join_is_broadcast(spark):
    import os

    import __spark_entry__ as entry
    from lucene_spark.operators.search import Searcher

    s = Searcher(spark, entry._index_for(spark, "/root/testdata/sf0.001"))
    docs = spark.read.parquet(
        os.path.join("/root/testdata/sf0.001", "documents.parquet")
    )
    plan = _explain(s.taxonomy_facet_counts(
        entry.T_HOT, docs, ["lang", "source"], key_col="doc_id"
    ))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_line_shapes_have_no_python_stage(spark):
    """build_shape_lines is pure column work: the segment explode plan
    must contain no Python/Arrow eval nodes."""
    import __spark_entry__ as entry
    from lucene_spark.operators import shapes as sh

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    seg = sh.synth_lines(ev, "event_id")
    # reproduce the pre-write plan (everything before the morton UDF)
    df = seg.select(
        F.col("gid"),
        F.transform(F.col("lats"), sh.encode_lat_col).alias("eys"),
    )
    plan = _explain(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
