"""Live-docs layer (deletes): excluded from every result, scores of the
survivors UNCHANGED (stats include deleted docs until merge — exact
Lucene pre-merge semantics)."""

from contextlib import nullcontext

import numpy as np
import pandas as pd
import pytest

from lucene_spark.operators import indexer
from lucene_spark.operators.oracle import BruteForceIndex
from lucene_spark.operators.search import Searcher
from lucene_spark.plans.query import BoolQ, MatchAllQ, TermInSetQ, TermQ
from lucene_spark.sources.webtext import generate_pages_pdf
from tests.paths import distributed

N_DOCS = 300
DEL_MOD = 5


@pytest.fixture(scope="module")
def corpus_pdf():
    pdf = generate_pages_pdf(0, N_DOCS, seed=31)
    pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    pdf["gid"] = np.arange(len(pdf), dtype=np.int64)
    return pdf


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    return BruteForceIndex(corpus_pdf["gid"], corpus_pdf["url"], corpus_pdf["text"])


@pytest.fixture(scope="module")
def searcher(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_del"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "text"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="text", gid_col="gid", n_segments=4
    )
    indexer.delete_docs(spark, d, gids=range(0, N_DOCS, DEL_MOD))
    # tiny knobs: deletes must compose with multi-bucket + seeded-θ pruning
    return Searcher(spark, d, target_bucket_postings=32, seed_min_df=1,
                    seed_min_buckets=2)


def _want(oracle, node, k):
    full = oracle.search(node, N_DOCS)
    alive = [(g, s) for g, _, s in full if g % DEL_MOD != 0]
    return alive[:k]


def _check(searcher, oracle, node, k=10, msg=""):
    want = _want(oracle, node, k)
    for path in (distributed, nullcontext):  # Spark kernels, then the driver
        for prune in (False, True):
            with path():
                got = searcher.search(node, k=k, with_keys=False, prune=prune)
            assert list(got["gid"].astype(int)) == [g for g, _ in want], (
                f"{msg} prune={prune} {path.__name__}"
            )
            for gs, (_, ws) in zip(got["score"], want):
                # survivors score EXACTLY as before the delete
                assert np.float32(gs) == np.float32(ws), f"{msg} prune={prune}"


def test_deleted_docs_excluded_scores_unchanged(searcher, oracle):
    by_df = sorted(oracle.postings, key=lambda t: (len(oracle.postings[t]), t))
    hot, mid = by_df[-1], by_df[len(by_df) // 2]
    _check(searcher, oracle, TermQ(hot), msg="term")
    _check(searcher, oracle, BoolQ(must=(TermQ(hot), TermQ(mid))), msg="AND")
    _check(searcher, oracle, BoolQ(should=(TermQ(hot), TermQ(mid))), msg="OR")
    _check(searcher, oracle, BoolQ(must=(TermQ(hot),), must_not=(TermQ(mid),)),
           msg="NOT")


def test_counts_respect_deletes(searcher, oracle):
    by_df = sorted(oracle.postings, key=lambda t: (len(oracle.postings[t]), t))
    hot = by_df[-1]
    want = sum(1 for g in oracle.postings[hot] if g % DEL_MOD != 0)
    assert searcher.count(TermQ(hot)) == want
    n_alive = sum(1 for g in range(N_DOCS) if g % DEL_MOD != 0)
    assert searcher.count(MatchAllQ()) == n_alive


def test_term_in_set_respects_deletes(searcher, oracle):
    by_df = sorted(oracle.postings, key=lambda t: (len(oracle.postings[t]), t))
    hot, mid = by_df[-1], by_df[-2]
    got = searcher.candidates(TermInSetQ(terms=(hot, mid))).toPandas()
    want = {
        g for g in set(oracle.postings[hot]) | set(oracle.postings[mid])
        if g % DEL_MOD != 0
    }
    assert set(got["gid"].astype(int)) == want


def test_paging_respects_deletes(searcher, oracle):
    by_df = sorted(oracle.postings, key=lambda t: (len(oracle.postings[t]), t))
    hot, mid = by_df[-1], by_df[len(by_df) // 2]
    node = BoolQ(should=(TermQ(hot), TermQ(mid)))
    want = _want(oracle, node, 20)
    p1 = searcher.search(node, k=5, with_keys=False)
    cursor = (float(p1["score"].iloc[-1]), int(p1["gid"].iloc[-1]))
    p2 = searcher.search_after(node, cursor, k=5)
    assert list(p2["gid"].astype(int)) == [g for g, _ in want[5:10]]


def test_tiered_purge_reclaims_incrementally(spark, tmp_path_factory):
    """Purge on PARTIAL (tiered) merges: each merge reclaims exactly the
    deletes sitting in the units it folds (every Lucene merge reclaims its
    segments' deletes, SegmentMerger + MergeState liveDocs); deletes in
    untouched units keep counting toward stats until their own merge. Each
    doc's stats are subtracted exactly once across merge-of-merges
    (purged_gids records), and once every unit has been folded the index
    equals the survivor corpus exactly."""
    from lucene_spark.operators.check import check_index
    from lucene_spark.operators.merge import live_units, tiered_merge

    d = str(tmp_path_factory.mktemp("idx_tpurge"))
    frames = []
    base = 0
    for i in range(3):
        pdf = generate_pages_pdf(1000 * i, 1000 * i + 150, seed=11).sort_values(
            "url"
        ).reset_index(drop=True)
        pdf["gid"] = np.arange(base, base + len(pdf), dtype=np.int64)
        base += 10_000
        frames.append(pdf)
        df = spark.createDataFrame(pdf[["gid", "url", "text"]])
        indexer.build_index(
            spark, df, d, key_col="url", text_col="text", gid_col="gid",
            n_segments=2, batch_segments=1, append=(i > 0),
        )
    all_pdf = pd.concat(frames, ignore_index=True)
    deleted = {int(g) for g in all_pdf["gid"] if g % DEL_MOD == 0}
    indexer.delete_docs(spark, d, gids=sorted(deleted))
    assert len(live_units(d)) == 6

    import os

    import pyarrow.dataset as ds

    total_dc = int((all_pdf["text"].str.len() > 0).sum())
    seen_purged: set = set()
    recs = []
    while True:
        rec = tiered_merge(spark, d, segs_per_tier=2, max_merge_at_once=2,
                           floor_postings=10, purge=True)
        if rec is None:
            break
        recs.append(rec)
        assert rec["purged"] and rec["purged_gids"]
        got = set(
            ds.dataset(os.path.join(d, rec["purged_gids"]), format="parquet")
            .to_table(columns=["gid"]).column("gid").to_pylist()
        )
        # exactly-once: no doc reclaimed twice across the merge sequence
        assert not (got & seen_purged), rec["inputs"]
        seen_purged |= got
        assert got <= deleted
        # MIXED intermediate state: stats count everything except the docs
        # reclaimed so far (unpurged deletes still count — pre-merge view)
        s = Searcher(spark, d)
        assert s.stats["doc_count"] == total_dc - len(seen_purged)
        report = check_index(spark, d)
        assert report["healthy"], report

    assert len(recs) >= 3  # folds cascade through tiers
    assert any(any(u.startswith("m") for u in r["inputs"]) for r in recs), (
        "expected a purge merge consuming a previous merge's output"
    )
    if seen_purged != deleted:
        # tiers drifted apart before every unit folded: finish with a full
        # purge merge — same delta path, reclaims exactly the remainder
        from lucene_spark.operators.merge import merge_index

        rec = merge_index(spark, d, purge=True)
        got = set(
            ds.dataset(os.path.join(d, rec["purged_gids"]), format="parquet")
            .to_table(columns=["gid"]).column("gid").to_pylist()
        )
        assert not (got & seen_purged)
        seen_purged |= got
    assert seen_purged == deleted
    alive = all_pdf[all_pdf["gid"] % DEL_MOD != 0].reset_index(drop=True)
    surv = BruteForceIndex(alive["gid"], alive["url"], alive["text"])
    s = Searcher(spark, d)
    assert s.stats["doc_count"] == surv.doc_count
    assert s.stats["sum_total_term_freq"] == surv.sum_ttf
    by_df = sorted(surv.postings, key=lambda t: (len(surv.postings[t]), t))
    hot, mid = by_df[-1], by_df[len(by_df) // 2]
    for node in (TermQ(hot), BoolQ(should=(TermQ(hot), TermQ(mid)))):
        want = surv.search(node, 10)
        got = s.search(node, k=10, with_keys=False)
        assert list(got["gid"].astype(int)) == [g for g, _, _ in want], node
        for gs, (_, _, ws) in zip(got["score"], want):
            assert np.float32(gs) == np.float32(ws), node


def test_purge_merge_reclaims_and_rescores(spark, corpus_pdf, tmp_path_factory):
    """Full merge with purge: deleted postings vanish from disk and
    idf/avgdl/stats re-derive from survivors — results must now equal a
    brute-force index built over the survivor corpus alone (the post-merge
    Lucene view). Appends after the purge keep live-unit stats exact."""
    from lucene_spark.operators.check import check_index
    from lucene_spark.operators.merge import merge_index

    d = str(tmp_path_factory.mktemp("idx_purge"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "text"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="text", gid_col="gid", n_segments=4
    )
    indexer.delete_docs(spark, d, gids=range(0, N_DOCS, DEL_MOD))
    merge_index(spark, d, purge=True)

    alive = corpus_pdf[corpus_pdf["gid"] % DEL_MOD != 0].reset_index(drop=True)
    surv_oracle = BruteForceIndex(alive["gid"], alive["url"], alive["text"])
    s = Searcher(spark, d)
    assert s.stats["doc_count"] == surv_oracle.doc_count
    assert s.stats["sum_total_term_freq"] == surv_oracle.sum_ttf

    by_df = sorted(surv_oracle.postings, key=lambda t: (len(surv_oracle.postings[t]), t))
    hot, mid = by_df[-1], by_df[len(by_df) // 2]
    for node in (TermQ(hot), BoolQ(must=(TermQ(hot), TermQ(mid))),
                 BoolQ(should=(TermQ(hot), TermQ(mid)))):
        want = surv_oracle.search(node, 10)
        got = s.search(node, k=10, with_keys=False)
        assert list(got["gid"].astype(int)) == [g for g, _, _ in want], node
        for gs, (_, _, ws) in zip(got["score"], want):
            assert np.float32(gs) == np.float32(ws), node
    # the purged docs' postings are physically gone
    tp = s._postings_df().filter(f"term = '{hot}'").toPandas()
    from lucene_spark.operators.search import decode_term_blocks

    decoded = decode_term_blocks(tp)
    assert not any(int(g) % DEL_MOD == 0 for g in decoded.gids)

    report = check_index(spark, d)
    assert report["healthy"], report

    # append AFTER the purge: stats = survivors + new docs (live-unit view)
    extra = generate_pages_pdf(5000, 5100, seed=31).sort_values("url").reset_index(drop=True)
    extra["gid"] = np.arange(10_000, 10_000 + len(extra), dtype=np.int64)
    indexer.build_index(
        spark, spark.createDataFrame(extra[["gid", "url", "text"]]), d,
        key_col="url", text_col="text", gid_col="gid", n_segments=2, append=True,
    )
    both = pd.concat([alive, extra], ignore_index=True)
    full_oracle = BruteForceIndex(both["gid"], both["url"], both["text"])
    s2 = Searcher(spark, d)
    assert s2.stats["doc_count"] == full_oracle.doc_count
    assert s2.stats["sum_total_term_freq"] == full_oracle.sum_ttf
    want = full_oracle.search(TermQ(hot), 10)
    got = s2.search(TermQ(hot), k=10, with_keys=False)
    assert list(got["gid"].astype(int)) == [g for g, _, _ in want]
    for gs, (_, _, ws) in zip(got["score"], want):
        assert np.float32(gs) == np.float32(ws)


def test_update_documents(spark, corpus_pdf, tmp_path_factory):
    """IndexWriter.updateDocument analog: same key, new docID, new text;
    old copies leave results but still feed stats until a merge."""
    d = str(tmp_path_factory.mktemp("idx_upd"))
    df = spark.createDataFrame(corpus_pdf[["gid", "url", "text"]])
    indexer.build_index(
        spark, df, d, key_col="url", text_col="text", gid_col="gid", n_segments=4
    )
    upd = corpus_pdf[corpus_pdf["gid"] % 4 == 0][["gid", "url", "text"]].copy()
    upd["gid"] = upd["gid"] + 10_000
    upd["text"] = upd["text"] + " " + upd["text"]
    res = indexer.update_documents(
        spark, spark.createDataFrame(upd), d,
        key_col="url", text_col="text", gid_col="gid", n_segments=2,
    )
    assert res["n_deleted"] == len(upd)

    # oracle: stats over old+new copies, hits exclude the replaced old gids
    both = pd.concat([corpus_pdf[["gid", "url", "text"]], upd], ignore_index=True)
    oracle2 = BruteForceIndex(both["gid"], both["url"], both["text"])
    replaced = set(int(g) for g in corpus_pdf["gid"] if g % 4 == 0)
    s = Searcher(spark, d)
    assert s.stats["doc_count"] == oracle2.doc_count
    assert s.stats["sum_total_term_freq"] == oracle2.sum_ttf
    by_df = sorted(oracle2.postings, key=lambda t: (len(oracle2.postings[t]), t))
    hot, mid = by_df[-1], by_df[len(by_df) // 2]
    for node in (TermQ(hot), BoolQ(should=(TermQ(hot), TermQ(mid)))):
        want = [(g, sc) for g, _, sc in oracle2.search(node, N_DOCS)
                if g not in replaced][:10]
        got = s.search(node, k=10, with_keys=False)
        assert list(got["gid"].astype(int)) == [g for g, _ in want], node
        for gs, (_, ws) in zip(got["score"], want):
            assert np.float32(gs) == np.float32(ws), node

    # updating an unseen key is a plain add (upsert)
    new_doc = pd.DataFrame(
        {"gid": [20_000], "url": ["zz-new-doc"], "text": [f"{hot} {hot} {mid}"]}
    )
    res2 = indexer.update_documents(
        spark, spark.createDataFrame(new_doc), d,
        key_col="url", text_col="text", gid_col="gid", n_segments=1,
    )
    assert res2["n_deleted"] == 0
    assert 20_000 in set(
        s.__class__(spark, d).search(TermQ(hot), k=400,
                                     with_keys=False)["gid"].astype(int)
    )
