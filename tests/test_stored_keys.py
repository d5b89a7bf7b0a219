"""Stored keys fetched on the driver (``commit.GidRowGroups``): only the
row groups whose footer gid range holds a hit are read, the keys are exact,
and a searcher reads the doc rows of its own commit."""

import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucene_spark.operators.commit import GidRowGroups
from lucene_spark.operators.indexer import build_index, delete_docs
from lucene_spark.operators.merge import merge_index
from lucene_spark.operators.search import Searcher
from lucene_spark.plans.query import parse_query
from lucene_spark.sources.webtext import generate_pages_pdf

KW = dict(key_col="url", text_col="text", n_segments=2)


def _rows(lo, n):
    gids = np.arange(lo, lo + n, dtype=np.int64)
    return pa.table({"gid": gids, "key": [f"k{g}" for g in gids]})


@pytest.fixture
def doc_dir(tmp_path):
    """Two files of 16-row groups: gids 100·i + j (j < 16) in the first,
    1000 + 100·i + j in the second, so gaps separate the row groups."""
    d = tmp_path / "docs"
    d.mkdir()
    for name, base in (("part-0.parquet", 0), ("part-1.parquet", 1000)):
        tbl = pa.concat_tables([_rows(base + 100 * i, 16) for i in range(3)])
        pq.write_table(tbl, str(d / name), row_group_size=16)
    return str(tmp_path)


def test_row_group_selector_reads_hit_groups_only(doc_dir, monkeypatch):
    groups = GidRowGroups.load(doc_dir, ["docs"])
    assert len(groups.lo) == 6
    assert sorted(zip(groups.lo.tolist(), groups.hi.tolist()))[:2] == [(0, 15), (100, 115)]

    read = []
    orig = pq.ParquetFile.read_row_groups

    def counting(self, row_groups, *a, **kw):
        read.extend(row_groups)
        return orig(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counting)
    # row-group edges (0, 15, 215, 1000, 1215), repeats, and absent gids
    # below, between and above the ranges
    want = [0, 15, 215, 1000, 1215]
    gids = [215, 0, 15, 15, -1, 50, 999, 1000, 1215, 1215, 10**9]
    got = groups.read(gids, ["gid", "key"])
    assert sorted(got["gid"].tolist()) == want
    assert dict(zip(got["gid"], got["key"])) == {g: f"k{g}" for g in want}
    # rows 0..15 and 200..215 of part-0, 1000..1015 and 1200..1215 of part-1
    assert len(read) == 4
    assert len(groups.holding(np.array([50, 999, 10**9]))) == 0
    assert groups.read([50], ["gid", "key"]).empty


@pytest.fixture(scope="module")
def purged_idx(spark, tmp_path_factory):
    """Three appended batches, a delete and a purge merge: the merge
    rewrites postings, the doc rows stay in the batch dirs."""
    d = str(tmp_path_factory.mktemp("keys") / "idx")
    pdf = generate_pages_pdf(0, 180, seed=11)
    for i in range(3):
        part = spark.createDataFrame(pdf.iloc[i * 60:(i + 1) * 60][["url", "text"]])
        build_index(spark, part, d, append=i > 0, **KW)
    delete_docs(spark, d, gids=list(range(0, 180, 9)))
    merge_index(spark, d, purge=True)
    return d


def _keys_of(searcher, gids):
    rows = searcher.doc_rows().select("gid", "key").toPandas()
    by_gid = dict(zip(rows["gid"].astype(int), rows["key"]))
    return [by_gid[int(g)] for g in gids]


@pytest.mark.parametrize("q", ["t0000", "t0001 OR t0003"])
def test_search_keys_match_doc_rows(spark, purged_idx, q):
    s = Searcher(spark, purged_idx)
    node = parse_query(q)
    n = s.count(node)
    assert n > 10
    for k in (1, 10, n + 5):
        got = s.search(node, k=k)
        assert len(got) == min(k, n)
        assert got["key"].tolist() == _keys_of(s, got["gid"])
        scored = s.search(node, k=k, with_keys=False)
        assert got["gid"].tolist() == scored["gid"].tolist()
        assert got["score"].tolist() == scored["score"].tolist()


def test_searcher_keeps_its_commit_keys(spark, purged_idx, tmp_path):
    d = str(tmp_path / "idx")
    shutil.copytree(purged_idx, d)
    node = parse_query("t0000")
    old = Searcher(spark, d)
    extra = generate_pages_pdf(500, 560, seed=12)
    build_index(spark, spark.createDataFrame(extra[["url", "text"]]), d, append=True, **KW)
    # the old searcher's first key fetch runs after the append
    got = old.search(node, k=1000)
    assert len(got) == old.count(node)
    assert got["key"].tolist() == _keys_of(old, got["gid"])
    assert not set(got["key"]) & set(extra["url"])

    fresh = Searcher(spark, d)
    new = fresh.search(node, k=1000)
    assert len(new) > len(got)
    assert set(new["key"]) & set(extra["url"])
    assert new["key"].tolist() == _keys_of(fresh, new["gid"])
