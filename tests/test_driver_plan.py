"""Queries planned on the driver: the footer-pruned term dictionary
(``commit.TermDictionary``) against the Spark filter it replaces, and the
driver-scored path of ``Searcher.search`` against the distributed one."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lucene_spark.operators import commit
from lucene_spark.operators.commit import (
    FORMAT_VERSION, TERMS_SCHEMA, TermDictionary, read_table, write_stats,
)
from lucene_spark.operators.indexer import build_index, delete_docs
from lucene_spark.operators.query_cache import LRUQueryCache, UsageTrackingPolicy
from lucene_spark.operators.search import BOOL_REWRITE_TERM_LIMIT, Searcher
from lucene_spark.plans.fields import FIELD_SEP
from lucene_spark.plans.query import (
    BoolQ, MatchAllQ, PrefixQ, RangeQ, TermInSetQ, TermQ, TermSetRefQ, parse_query,
)
from lucene_spark.sources.webtext import generate_pages_pdf
from tests.paths import distributed


def _jobs(spark, fn) -> int:
    st = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = len(st.getJobIdsForGroup())
    fn()
    bus.waitUntilEmpty()
    return len(st.getJobIdsForGroup()) - before


# ---------------------------------------------------------- term dictionary

LIMIT = BOOL_REWRITE_TERM_LIMIT
HEAD = "head" + FIELD_SEP
TERMS = sorted(
    [f"p{i:02d}" for i in range(LIMIT)]           # prefix "p": exactly LIMIT
    + [f"q{i:02d}" for i in range(LIMIT + 1)]     # prefix "q": LIMIT + 1
    + ["alpha", "beta", "ça", "über", "übel", "日本", "日本語", "😀x", "zeta"]
    + [HEAD + t for t in ("p00", "p01", "über", "zeta")]
)
ABSENT = ["p", "q", "übe", "日", "zz", HEAD + "p02", HEAD, "", "alpha "]


@pytest.fixture(scope="module")
def dict_dir(tmp_path_factory):
    """A ``terms``-schema table as three term-sorted files with 3-row row
    groups; the last file carries no statistics. A bare ``stats.json``
    lets a ``Searcher`` open it."""
    d = str(tmp_path_factory.mktemp("tdict"))
    os.makedirs(os.path.join(d, "terms"))
    rng = np.random.default_rng(5)
    for i in range(3):
        part = sorted(TERMS[i::3])
        t = pa.table({
            "term": pa.array(part, pa.string()),
            "doc_freq": pa.array(rng.integers(1, 99, len(part)), pa.int64()),
            "total_term_freq": pa.array(rng.integers(99, 999, len(part)), pa.int64()),
        })
        pq.write_table(t, os.path.join(d, "terms", f"part-{i}.parquet"),
                       row_group_size=3, write_statistics=i < 2)
    write_stats(d, {"format": FORMAT_VERSION})
    return d


def test_dictionary_row_groups(dict_dir):
    td = TermDictionary.load(dict_dir)
    assert len(td.files) == 3 and len(td.rg) > 10
    assert (~td.known).sum() == len(td.rg[td.file == td.files.index(
        next(f for f in td.files if f.endswith("part-2.parquet")))])
    assert all(lo <= hi for lo, hi, k in zip(td.lo, td.hi, td.known) if k)
    assert (td.nbytes > 0).all()


def test_dictionary_stats_match_spark_filter(spark, dict_dir):
    tdf = read_table(spark, dict_dir, ["terms"], TERMS_SCHEMA)
    probe = TERMS + ABSENT
    want = {r["term"]: (r["doc_freq"], r["total_term_freq"])
            for r in tdf.filter(F.col("term").isin(probe)).collect()}
    got = TermDictionary.load(dict_dir).stats(probe)
    assert got == want
    assert set(got) == set(TERMS)
    assert TermDictionary.load(dict_dir).stats([]) == {}


def _matched(spark, dict_dir, node) -> list:
    """What the lazy term set of ``node`` matches at query time."""
    return sorted(r["term"] for r in Searcher(spark, dict_dir).matched_terms_df(node).collect())


EXPANSIONS = [
    PrefixQ("p"), PrefixQ("q"), PrefixQ("p0"), PrefixQ("ü"), PrefixQ("日本"),
    PrefixQ("😀"), PrefixQ("zz"), PrefixQ(HEAD), PrefixQ(HEAD + "p"), PrefixQ(""),
    RangeQ("p03", "p07"), RangeQ("p03", "p07", include_lo=False),
    RangeQ("p03", "p07", include_hi=False),
    RangeQ("p03", "p07", include_lo=False, include_hi=False),
    RangeQ("über", "日本"), RangeQ("übel", "über", include_lo=False),
    RangeQ(None, "beta"), RangeQ("zeta", None), RangeQ("zeta", None, include_lo=False),
    RangeQ(HEAD + "a", HEAD + "zz"), RangeQ("p0", "p0~"), RangeQ(None, None),
]


@pytest.mark.parametrize("node", EXPANSIONS, ids=repr)
def test_dictionary_expand_matches_lazy_term_set(spark, dict_dir, node):
    """A bounded expansion matches what the node's ``TermSetRefQ`` would
    match (``Searcher.matched_terms_df``), so both rewrites of one query
    agree."""
    want = _matched(spark, dict_dir, node)
    td = TermDictionary.load(dict_dir)
    assert td.expand(node, 10 ** 6) == want
    got = td.expand(node, LIMIT)
    if len(want) <= LIMIT:
        assert got == want
    else:
        assert len(got) == LIMIT + 1 and set(got) <= set(want)
    s = Searcher(spark, dict_dir)
    rewritten = s.rewrite(node).child
    if len(want) <= LIMIT:
        assert rewritten == TermInSetQ(tuple(want))
    else:
        assert rewritten == TermSetRefQ(source=node)


def test_expansion_limit_edges(dict_dir):
    td = TermDictionary.load(dict_dir)
    assert td.expand(PrefixQ("p"), LIMIT) == [f"p{i:02d}" for i in range(LIMIT)]
    assert len(td.expand(PrefixQ("q"), LIMIT)) == LIMIT + 1
    assert td.expand(PrefixQ("q"), LIMIT + 1) == [f"q{i:02d}" for i in range(LIMIT + 1)]


def _write_terms(d, files):
    """A ``terms/`` table of the given term-sorted files, each a list of
    row groups (lists of terms), with statistics; opens as a Searcher."""
    os.makedirs(os.path.join(d, "terms"))
    for i, groups in enumerate(files):
        with pq.ParquetWriter(os.path.join(d, "terms", f"part-{i}.parquet"),
                              pa.schema([("term", pa.string()), ("doc_freq", pa.int64()),
                                         ("total_term_freq", pa.int64())])) as w:
            for g in groups:
                n = len(g)
                w.write_table(pa.table({
                    "term": pa.array(g, pa.string()),
                    "doc_freq": pa.array(np.ones(n, np.int64)),
                    "total_term_freq": pa.array(np.full(n, 2, np.int64)),
                }))
    write_stats(d, {"format": FORMAT_VERSION})
    return d


@pytest.fixture(scope="module")
def wide_dir(tmp_path_factory):
    """Two hash-partitioned-like files of 40 row groups each (every file
    spans the term range), and one row group of 5,000 ``x`` terms."""
    terms = [f"t{i:05d}" for i in range(4000)]
    files = [[sorted(terms[j::2])[r * 50:(r + 1) * 50] for r in range(40)] for j in range(2)]
    files.append([[f"x{i:05d}" for i in range(5000)]])
    return _write_terms(str(tmp_path_factory.mktemp("wide")), files)


@pytest.fixture
def row_group_reads(monkeypatch):
    """Row groups the dictionary reads."""
    reads = []
    real = pq.ParquetFile.read_row_group

    def counting(self, i, *a, **kw):
        reads.append(i)
        return real(self, i, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counting)
    return reads


def test_probe_reads_only_holding_row_groups(wide_dir, row_group_reads):
    td = TermDictionary.load(wide_dir)
    assert len(td.rg) == 81
    assert td.stats(["t01234"]) == {"t01234": (1, 2)}
    # both files span the whole term range: one row group of each can hold it
    assert len(row_group_reads) == 2
    row_group_reads.clear()
    got = td.stats([f"t{i:05d}" for i in (0, 1, 1999, 3999)] + ["absent"])
    assert len(got) == 4
    assert len(row_group_reads) <= 4          # of 81
    row_group_reads.clear()
    assert td.stats(["u"]) == {}
    assert row_group_reads == []


def test_expansion_stops_inside_a_row_group(wide_dir, row_group_reads):
    """A broad prefix over one 5,000-term row group returns LIMIT + 1
    terms: the row group's matches are cut to the remaining budget, never
    materialized as a Python list."""
    td = TermDictionary.load(wide_dir)
    got = td.expand(PrefixQ("x"), LIMIT)
    assert got == [f"x{i:05d}" for i in range(LIMIT + 1)]
    assert len(row_group_reads) == 1
    row_group_reads.clear()
    # the first row groups of both t-files already hold LIMIT + 1 matches
    assert len(td.expand(PrefixQ("t0"), LIMIT)) == LIMIT + 1
    assert len(row_group_reads) == 1


def test_driver_read_cap_falls_back_to_spark(spark, wide_dir, monkeypatch):
    """Above ``MAX_DRIVER_READ_BYTES`` a probe reads nothing on the driver:
    term stats and the bounded expansion run as Spark jobs and give the
    same answers."""
    probe = {"t00007", "t02000", "x00001", "absent"}
    node = PrefixQ("t0001")
    want_stats = Searcher(spark, wide_dir).term_stats(probe)
    want_node = Searcher(spark, wide_dir).rewrite(node)
    assert _jobs(spark, lambda: Searcher(spark, wide_dir).term_stats(probe)) == 0
    td = TermDictionary.load(wide_dir)
    monkeypatch.setattr(commit, "MAX_DRIVER_READ_BYTES", 0)
    assert td.stats(probe) is None and td.expand(node, LIMIT) is None
    s = Searcher(spark, wide_dir)
    assert _jobs(spark, lambda: s.term_stats(probe)) >= 1
    assert s.term_stats(probe) == want_stats == {
        "t00007": (1, 2), "t02000": (1, 2), "x00001": (1, 2)}
    assert _jobs(spark, lambda: s.rewrite(node)) >= 1
    assert s.rewrite(node) == want_node
    assert want_node.child == TermInSetQ(tuple(f"t{i:05d}" for i in range(10, 20)))


# ------------------------------------------- driver path vs distributed path

KW = dict(key_col="url", text_col="text", gid_col="gid", n_segments=2)
DELETED = list(range(0, 300, 9))
QUERIES = {
    "term": "t0000",
    "or": "t0000 OR t0001",
    "and": "t0000 AND t0003",
    "phrase": '"t0004 t0000"',
    "prefix": "t001*",
}


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    """300 docs in two appended batches, with deletes."""
    d = str(tmp_path_factory.mktemp("driver_plan") / "idx")
    pdf = generate_pages_pdf(0, 300, seed=11)
    pdf["gid"] = np.arange(len(pdf), dtype=np.int64)
    for i in range(2):
        part = pdf.iloc[i * 150:(i + 1) * 150][["gid", "url", "text"]]
        build_index(spark, spark.createDataFrame(part), d, append=i > 0, **KW)
    delete_docs(spark, d, gids=DELETED)
    return d


def _same(a, b):
    assert a.gid.tolist() == b.gid.tolist()
    assert a.score.to_numpy(np.float32).tobytes() == b.score.to_numpy(np.float32).tobytes()


@pytest.mark.parametrize("kind", QUERIES)
def test_driver_path_matches_distributed(spark, idx, kind):
    """Same gids, float32 scores and order from both paths; the
    distributed side also runs many gid-range buckets."""
    local = Searcher(spark, idx)
    dist = Searcher(spark, idx, target_bucket_postings=1)
    node = parse_query(QUERIES[kind])
    assert local._plan(node, 10, True).local
    with distributed():
        assert not dist._plan(node, 10, True).local
    for k in (1, 3, 10, 1000):
        for prune in (True, False):
            a = local.search(node, k=k, prune=prune, with_keys=False)
            with distributed():
                b = dist.search(node, k=k, prune=prune, with_keys=False)
            _same(a, b)
    assert len(a) > 3
    assert not set(a.gid.tolist()) & set(DELETED)


def test_bucket_width_does_not_choose_the_path(spark, idx):
    """``target_bucket_postings`` sizes buckets only: a one-bucket-wide
    searcher still scores a small plan on the driver, over many buckets."""
    node = parse_query(QUERIES["or"])
    s = Searcher(spark, idx, target_bucket_postings=1)
    assert s._plan(node, 10, True).local
    _same(s.search(node, k=10, with_keys=False),
          Searcher(spark, idx).search(node, k=10, with_keys=False))


def _eager_cache():
    return LRUQueryCache(policy=UsageTrackingPolicy(min_freq_costly=1, min_freq_cheap=1))


def test_driver_path_matches_distributed_with_cached_filter(spark, idx):
    node = BoolQ(must=(TermQ("t0000"),), should=(TermQ("t0001"),),
                 filter=(TermInSetQ(("t0002", "t0004")),))
    with distributed():
        want = Searcher(spark, idx).search(node, k=10, with_keys=False)
    local = Searcher(spark, idx, query_cache=_eager_cache())
    dist = Searcher(spark, idx, target_bucket_postings=1, query_cache=_eager_cache())
    for _ in range(2):
        _same(local.search(node, k=10, with_keys=False), want)
        with distributed():
            _same(dist.search(node, k=10, with_keys=False), want)
    assert local.query_cache.hit_count >= 1 and dist.query_cache.hit_count >= 1
    plan = local._plan(node, 10, True)
    assert plan.local and plan.keep_bcs
    assert len(want) == 10


@pytest.mark.parametrize("kind", QUERIES)
@pytest.mark.parametrize("k", [0, -1])
def test_k_below_one_is_refused_before_any_job(spark, idx, kind, k):
    s = Searcher(spark, idx)
    node = parse_query(QUERIES[kind])

    def calls():
        with pytest.raises(ValueError, match="k must be at least 1"):
            s.search(node, k=k)
        with pytest.raises(ValueError, match="k must be at least 1"):
            s.search_after(node, after=(1.0, 0), k=k)

    assert _jobs(spark, calls) == 0


def test_repeated_deletes_leave_matchall_exact(spark, idx, tmp_path):
    """Two deletes naming the same gid: MatchAll counts and hits stay the
    live docs, and ``count`` runs no dedup shuffle over the delete files
    (3 jobs; 4 while ``deleted_df`` took a ``distinct``)."""
    import shutil

    d = str(tmp_path / "idx")
    shutil.copytree(idx, d)
    delete_docs(spark, d, gids=[1, 2])
    delete_docs(spark, d, gids=[2, 3])
    live = sorted(set(range(300)) - set(DELETED) - {1, 2, 3})
    s = Searcher(spark, d)
    assert s.count(MatchAllQ()) == len(live)
    hits = s.search(MatchAllQ(), k=1000, with_keys=False)
    assert sorted(hits.gid.tolist()) == live
    assert set(hits.score.tolist()) == {1.0}
    assert _jobs(spark, lambda: s.count(MatchAllQ())) <= 3
