"""The index commit (``operators/commit.py``): format gate, one atomic
``stats.json`` per commit, point-in-time searchers and the Spark-job budget
of each public lifecycle call."""

import json
import os
import shutil

import numpy as np
import pytest

from lucene_spark.operators.check import check_index
from lucene_spark.operators.commit import FORMAT_VERSION
from lucene_spark.operators.indexer import build_index, delete_docs, finalize_index
from lucene_spark.operators.merge import merge_index
from lucene_spark.operators.search import Searcher
from lucene_spark.plans.query import parse_query
from lucene_spark.sources.webtext import generate_pages_pdf

KW = dict(key_col="url", text_col="text", gid_col="gid", n_segments=2)


def _frames(spark, n_batches: int, per_batch: int = 100):
    pdf = generate_pages_pdf(0, n_batches * per_batch, seed=7)
    pdf["gid"] = np.arange(len(pdf), dtype=np.int64)
    return [
        spark.createDataFrame(pdf.iloc[i * per_batch:(i + 1) * per_batch][["gid", "url", "text"]])
        for i in range(n_batches)
    ]


@pytest.fixture(scope="module")
def base_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("commit") / "idx")
    build_index(spark, _frames(spark, 1)[0], d, **KW)
    return d


def _copy(src, tmp_path, name="idx"):
    d = str(tmp_path / name)
    shutil.copytree(src, d)
    return d


def test_stats_carry_format(base_idx):
    with open(os.path.join(base_idx, "stats.json")) as f:
        assert json.load(f)["format"] == FORMAT_VERSION


def test_other_format_is_refused(spark, base_idx, tmp_path):
    d = _copy(base_idx, tmp_path)
    path = os.path.join(d, "stats.json")
    with open(path) as f:
        stats = json.load(f)
    stats["format"] = 3
    with open(path, "w") as f:
        json.dump(stats, f)
    pattern = f"format 3.*format {FORMAT_VERSION}"
    with pytest.raises(ValueError, match=pattern):
        Searcher(spark, d)
    with pytest.raises(ValueError, match=pattern):
        merge_index(spark, d)
    with pytest.raises(ValueError, match=pattern):
        check_index(spark, d)
    with pytest.raises(ValueError, match=pattern):
        build_index(spark, _frames(spark, 2)[1], d, append=True, **KW)


def test_finalize_keeps_build_config(spark, tmp_path):
    """A re-finalize keeps every build-config key, so the index still
    stores offsets and an append with the same arguments is accepted."""
    d = str(tmp_path / "idx")
    frames = _frames(spark, 2, per_batch=40)
    cfg = dict(with_offsets=True, char_filter="html", **KW)
    build_index(spark, frames[0], d, **cfg)
    finalize_index(spark, d)
    with open(os.path.join(d, "stats.json")) as f:
        stats = json.load(f)
    assert stats["with_offsets"] is True
    assert stats["char_filter"] == "html"
    assert stats["format"] == FORMAT_VERSION
    assert not os.path.exists(os.path.join(d, "stats.json.tmp"))
    build_index(spark, frames[1], d, append=True, **cfg)
    assert Searcher(spark, d).stats["n_rows"] == 80


def test_searcher_is_point_in_time(spark, base_idx, tmp_path):
    """An open searcher keeps answering from the commit it opened; a
    delete committed after it is seen by a new searcher only."""
    d = _copy(base_idx, tmp_path)
    node = parse_query("t0000")
    s = Searcher(spark, d)
    n = s.count(node)
    want = Searcher(spark, d).search(node, k=10, with_keys=False)
    v = int(want.gid.iloc[0])
    delete_docs(spark, d, gids=[v])
    assert s.count(node) == n
    got = s.search(node, k=10, with_keys=False)
    assert got.gid.tolist() == want.gid.tolist()
    assert got.score.tolist() == want.score.tolist()
    fresh = Searcher(spark, d)
    assert v not in set(fresh.search(node, k=10, with_keys=False).gid.astype(int))
    assert fresh.count(node) == n - 1


def _job_ids(spark, fn) -> set:
    """Ids of the Spark jobs one call runs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    fn()
    bus.waitUntilEmpty()
    return set(tracker.getJobIdsForGroup()) - before


def _jobs(spark, fn) -> int:
    """Spark jobs one call runs (job ids are allocated sequentially)."""
    return len(_job_ids(spark, fn))


# jobs per public call on the fixed 4 x 100-doc index below, local[4];
# before the schema-pinned index reads they were build batch 9, delete 4,
# purge merge 21, check 24 and first term query 6; the first term query
# ran 3 before stored keys were read on the driver and 2 before term stats
# came from the term dictionary and small plans were scored on the driver
JOB_BUDGET = {
    "build_batch": 7,
    "delete": 3,
    "purge_merge": 11,
    "check": 21,
    "first_term_query": 1,
}

# the description every job of each call carries (``commit.job_label``)
JOB_LABEL = {
    "build_batch": "indexer.build",
    "delete": "indexer.delete",
    "purge_merge": "merge.merge",
    "check": "check.check",
    "first_term_query": "search.scan",
}


def _labels(spark, ids) -> list:
    store = spark.sparkContext._jsc.sc().statusStore()
    descs = [store.job(j).description() for j in sorted(ids)]
    return [x.get() if x.isDefined() else None for x in descs]


@pytest.fixture(scope="module")
def budget_idx(spark, tmp_path_factory):
    """The fixed index, and the jobs each public call took to make it."""
    d = str(tmp_path_factory.mktemp("budget") / "idx")
    frames = _frames(spark, 4)
    for i, df in enumerate(frames[:3]):
        build_index(spark, df, d, append=i > 0, **KW)
    ids = {
        "build_batch": _job_ids(spark, lambda: build_index(spark, frames[3], d, append=True, **KW)),
        "delete": _job_ids(spark, lambda: delete_docs(spark, d, gids=list(range(0, 400, 7)))),
        "purge_merge": _job_ids(spark, lambda: merge_index(spark, d, purge=True)),
        "check": _job_ids(spark, lambda: check_index(spark, d)),
        "first_term_query": _job_ids(
            spark, lambda: Searcher(spark, d).search(parse_query("t0000"), k=10)),
    }
    return d, ids


def test_job_budget_per_public_call(spark, budget_idx):
    d, ids = budget_idx
    got = {k: len(v) for k, v in ids.items()}
    assert check_index(spark, d)["healthy"]
    over = {k: (v, JOB_BUDGET[k]) for k, v in got.items() if v > JOB_BUDGET[k]}
    assert not over, f"jobs over budget (got, budget): {over}; all: {got}"
    # every job names the public call that ran it
    for call, label in JOB_LABEL.items():
        assert _labels(spark, ids[call]) == [label] * got[call], call
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


# jobs of a warm query on the same index: term stats and the prefix
# expansion are read from the term dictionary's footers, and each plan is
# within DRIVER_PLAN_POSTINGS, so one scan job collects it for the driver
# to score (before: OR/AND/phrase 2, prefix 3)
WARM_JOBS = {
    "t0000": 1,
    "t0000 OR t0001": 1,
    "t0000 AND t0001": 1,
    '"t0000 t0002"': 1,
    "t000*": 1,
}


def test_warm_query_jobs_per_kind(spark, budget_idx):
    d, _ = budget_idx
    s = Searcher(spark, d)
    got = {}
    for q in WARM_JOBS:
        node = parse_query(q)
        s.search(node, k=10)
        got[q] = _jobs(spark, lambda: s.search(node, k=10))
    over = {q: (v, WARM_JOBS[q]) for q, v in got.items() if v > WARM_JOBS[q]}
    assert not over, f"warm jobs over budget (got, budget): {over}; all: {got}"
    # every job of a warm query says which search step ran it
    ids = _job_ids(spark, lambda: s.search(parse_query("t0000 OR t0001"), k=10))
    assert len(ids) == got["t0000 OR t0001"]
    labels = _labels(spark, ids)
    assert all(lab and lab.startswith("search.") for lab in labels), labels
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
