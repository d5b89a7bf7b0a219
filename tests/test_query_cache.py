"""LRUQueryCache analog over FILTER clauses.

Mirrors the contracts of ``core/search/LRUQueryCache.java`` (results are
identical with and without the cache; eviction honors the size bounds;
counters track hits/misses/inserts) and
``core/search/UsageTrackingQueryCachingPolicy.java`` (costly clauses cache
at 2 sightings, plain TermQuery never caches).
"""

import numpy as np
import pytest

from lucene_spark.operators.query_cache import (
    LRUQueryCache,
    UsageTrackingPolicy,
)
from lucene_spark.plans.query import (
    BoolQ,
    ConstScoreQ,
    PrefixQ,
    RangeQ,
    TermInSetQ,
    TermQ,
)
from tests.paths import distributed

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index_dir(spark):
    import __spark_entry__ as entry

    return entry._index_for(spark, SF_DIR)


def _searcher(spark, index_dir, **kw):
    from lucene_spark.operators.search import Searcher

    return Searcher(spark, index_dir, **kw)


def _eager_cache(**kw):
    """Cache whose policy admits on first sighting (test convenience)."""
    return LRUQueryCache(
        policy=UsageTrackingPolicy(min_freq_costly=1, min_freq_cheap=1), **kw
    )


FILTER_NODE = BoolQ(
    must=(TermQ("merge"),), filter=(TermInSetQ(("window", "scan")),)
)


def test_cached_filter_results_identical(spark, index_dir):
    plain = _searcher(spark, index_dir)
    cache = _eager_cache()
    cached = _searcher(spark, index_dir, query_cache=cache)
    want = plain.search(FILTER_NODE, k=10, with_keys=False)
    assert len(want)
    for _ in range(3):
        got = cached.search(FILTER_NODE, k=10, with_keys=False)
        assert list(got.gid) == list(want.gid)
        assert list(got.score) == list(want.score)
    assert cache.cache_count == 1
    assert cache.hit_count >= 2


def test_usage_tracking_policy_thresholds(spark, index_dir):
    cache = LRUQueryCache()  # defaults: costly@2, cheap@5, TermQ never
    s = _searcher(spark, index_dir, query_cache=cache)
    s.search(FILTER_NODE, k=5, with_keys=False)
    assert cache.cache_count == 0  # first sighting: tracked, not cached
    s.search(FILTER_NODE, k=5, with_keys=False)
    assert cache.cache_count == 1  # costly (TermInSet) caches at 2
    # plain TermQuery filters never cache (shouldNeverCache)
    tnode = BoolQ(must=(TermQ("merge"),), filter=(TermQ("window"),))
    for _ in range(6):
        s.search(tnode, k=5, with_keys=False)
    assert cache.cache_count == 1


def test_eviction_and_bounds(spark, index_dir):
    plain = _searcher(spark, index_dir)
    cache = _eager_cache(max_entries=1)
    s = _searcher(spark, index_dir, query_cache=cache)
    a = BoolQ(must=(TermQ("merge"),), filter=(TermInSetQ(("window",)),))
    b = BoolQ(must=(TermQ("merge"),), filter=(TermInSetQ(("scan",)),))
    for node in (a, b, a, b):
        got = s.search(node, k=10, with_keys=False)
        want = plain.search(node, k=10, with_keys=False)
        assert list(got.gid) == list(want.gid)
        assert list(got.score) == list(want.score)
    assert cache.eviction_count >= 1
    assert len(cache) == 1


def test_too_dense_entry_never_cached(spark, index_dir):
    plain = _searcher(spark, index_dir)
    cache = _eager_cache(max_entry_gids=1)
    s = _searcher(spark, index_dir, query_cache=cache)
    got = s.search(FILTER_NODE, k=10, with_keys=False)
    want = plain.search(FILTER_NODE, k=10, with_keys=False)
    assert list(got.gid) == list(want.gid)
    assert cache.cache_count == 0  # match set exceeds per-entry budget


def test_pure_filter_query_keeps_an_iterator(spark, index_dir):
    """A boolean of ONLY filter clauses must keep one executed clause (a
    candidate iterator); the rest mask. Results equal the uncached run."""
    plain = _searcher(spark, index_dir)
    cache = _eager_cache()
    s = _searcher(spark, index_dir, query_cache=cache)
    node = BoolQ(
        filter=(TermInSetQ(("merge", "window")), TermInSetQ(("scan",)))
    )
    want = plain.search(node, k=10, with_keys=False)
    assert len(want)
    for _ in range(2):
        got = s.search(node, k=10, with_keys=False)
        assert list(got.gid) == list(want.gid)
        assert list(got.score) == list(want.score)
    assert cache.cache_count == 1  # second clause cached, first reserved


def test_filter_only_docs_survive_cache_strip(spark, index_dir):
    """BoolQ(filter=[F], should=[S]): the filter is the only REQUIRED
    clause, so docs matching F but no S stay in the match set at score 0
    (BooleanWeight keeps SHOULD optional whenever a required clause
    exists). Stripping every filter into a cache mask used to leave a
    pure SHOULD disjunction that silently dropped those docs — visible
    as soon as k exceeds the should-matching count."""
    plain = _searcher(spark, index_dir)
    cache = _eager_cache()
    s = _searcher(spark, index_dir, query_cache=cache)
    node = BoolQ(
        should=(TermQ("merge"),),
        filter=(TermInSetQ(("window", "scan", "table")),),
    )
    k = 500  # the whole corpus: beyond any merge∩filter doc count
    want = plain.search(node, k=k, with_keys=False)
    n_zero = int((want.score == 0.0).sum())
    assert n_zero > 0  # the test is vacuous unless filter-only docs exist
    for _ in range(3):
        got = s.search(node, k=k, with_keys=False)
        assert list(got.gid) == list(want.gid)
        assert list(got.score) == list(want.score)


def test_cache_under_pruned_multibucket_execution(spark, index_dir):
    """Seeded-θ + multi-bucket + block-prune path with a cached filter:
    pruning must never promote a filtered-out doc into the top-k (the
    seed applies the keep-mask before offering its kth score)."""
    plain = _searcher(spark, index_dir)
    cache = _eager_cache()
    s = _searcher(
        spark, index_dir, query_cache=cache,
        target_bucket_postings=32, seed_min_df=1, seed_min_buckets=2,
    )
    node = BoolQ(
        should=(TermQ("merge"), TermQ("window")),
        filter=(TermInSetQ(("scan", "table")),),
    )
    want = plain.search(node, k=10, with_keys=False)
    for _ in range(2):
        with distributed():
            got = s.search(node, k=10, with_keys=False)
        assert list(got.gid) == list(want.gid)
        assert list(got.score) == list(want.score)
    assert cache.hit_count >= 1


def test_multiterm_filter_clause_cached(spark, index_dir):
    """Prefix/range filters (the costly class) cache and stay correct —
    the cached gid set replaces the whole multi-term semi-join plan."""
    plain = _searcher(spark, index_dir)
    cache = _eager_cache()
    s = _searcher(spark, index_dir, query_cache=cache)
    for filt in (PrefixQ("wi"), RangeQ("scan", "table", True, True)):
        node = BoolQ(must=(TermQ("merge"),), filter=(filt,))
        want = plain.search(node, k=10, with_keys=False)
        for _ in range(2):
            got = s.search(node, k=10, with_keys=False)
            assert list(got.gid) == list(want.gid)
            assert list(got.score) == list(want.score)
    assert cache.cache_count == 2


def test_generation_key_invalidates_on_delete(spark, index_dir, tmp_path):
    """A committed delete changes the cache generation, so stale entries
    (which embed pre-delete live docs) can never serve post-delete
    queries — the IndexReader.CacheKey contract."""
    import shutil

    from lucene_spark.operators.indexer import delete_docs

    idx = str(tmp_path / "idx")
    shutil.copytree(index_dir, idx)
    cache = _eager_cache()
    s = _searcher(spark, idx, query_cache=cache)
    gen0 = s._cache_generation()
    want = s.search(FILTER_NODE, k=10, with_keys=False)
    s.search(FILTER_NODE, k=10, with_keys=False)  # fills + hits
    victim = int(want.gid.iloc[0])
    delete_docs(spark, idx, gids=[victim])
    s2 = _searcher(spark, idx, query_cache=cache)
    assert s2._cache_generation() != gen0
    got = s2.search(FILTER_NODE, k=10, with_keys=False)
    assert victim not in set(got.gid)


def test_keep_mask_and_block_filter_kernels():
    """Unit-level: _keep_only intersects sorted sets; _block_keep_filter
    drops exactly the blocks whose gid range misses the cached set."""
    import pandas as pd

    from lucene_spark.operators.search import _block_keep_filter, _keep_only

    gids = np.array([1, 5, 9, 12], np.int64)
    scores = np.ones(4, np.float32)
    kp = np.array([5, 12], np.int64)
    g2, s2 = _keep_only(gids, scores, [kp])
    assert list(g2) == [5, 12] and len(s2) == 2
    g3, _ = _keep_only(gids, scores, [np.array([], np.int64)])
    assert len(g3) == 0
    pdf = pd.DataFrame({"first_gid": [0, 6, 13], "last_gid": [4, 11, 20]})
    # kp = {5, 12}: no block range [0,4] / [6,11] / [13,20] contains either
    assert list(_block_keep_filter(pdf, [kp]).first_gid) == []
    # one kept gid inside each range keeps every block
    out2 = _block_keep_filter(pdf, [np.array([3, 7, 15], np.int64)])
    assert list(out2.first_gid) == [0, 6, 13]
    # edges: a kept gid equal to first_gid or last_gid keeps the block
    out3 = _block_keep_filter(pdf, [np.array([4, 13], np.int64)])
    assert list(out3.first_gid) == [0, 13]
