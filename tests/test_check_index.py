"""check_index (CheckIndex.java analog): healthy index passes; injected
corruption in postings payloads, term stats, and the manifest is caught."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from lucene_spark.operators.check import check_index
from lucene_spark.operators.indexer import build_index
from lucene_spark.sources.webtext import generate_pages_pdf


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("chk") / "idx")
    pages = spark.createDataFrame(generate_pages_pdf(0, 150))
    build_index(
        spark, pages, d, key_col="url", text_col="text", n_segments=4, batch_segments=2
    )
    return d


def test_healthy_index_passes(spark, idx):
    report = check_index(spark, idx)
    assert report["healthy"], report


def test_detects_corrupt_term_stats(spark, idx, tmp_path):
    bad = str(tmp_path / "bad_idx")
    shutil.copytree(idx, bad)
    terms_path = os.path.join(bad, "terms")
    t = spark.read.parquet(terms_path)
    corrupted = t.withColumn(
        "doc_freq",
        F.when(F.col("term") == "t0000", F.col("doc_freq") + 5).otherwise(F.col("doc_freq")),
    )
    corrupted.write.mode("overwrite").parquet(terms_path + "_new")
    shutil.rmtree(terms_path)
    os.rename(terms_path + "_new", terms_path)
    report = check_index(spark, bad)
    assert not report["healthy"]
    assert report["term_doc_freq_mismatch"] >= 1


def test_detects_missing_batch_dir(spark, idx, tmp_path):
    bad = str(tmp_path / "bad_idx2")
    shutil.copytree(idx, bad)
    batches = sorted(os.listdir(os.path.join(bad, "segments")))
    shutil.rmtree(os.path.join(bad, "segments", batches[0]))
    report = check_index(spark, bad)
    assert not report["healthy"]
    assert report["missing_batch_dirs"] >= 1


def test_detects_bad_stats(spark, idx, tmp_path):
    bad = str(tmp_path / "bad_idx3")
    shutil.copytree(idx, bad)
    with open(os.path.join(bad, "stats.json")) as f:
        stats = json.load(f)
    stats["sum_total_term_freq"] += 1
    with open(os.path.join(bad, "stats.json"), "w") as f:
        json.dump(stats, f)
    report = check_index(spark, bad)
    assert not report["healthy"]
    assert report["stats_ttf_mismatch"] == 1


def test_detects_truncated_payload_stream(spark, tmp_path_factory):
    """A payload stream whose decoded length disagrees with sum(freq) must
    be flagged (CheckIndex's positions/payload consistency pass)."""
    import numpy as np
    import pandas as pd

    d = str(tmp_path_factory.mktemp("chk_pay") / "idx")
    pdf = generate_pages_pdf(0, 120)
    pdf["ptext"] = pdf["text"].map(
        lambda t: " ".join(
            f"{w}|{i % 7 + 1}" for i, w in enumerate(t.split(" ")) if w
        )
    )
    pages = spark.createDataFrame(pdf[["url", "ptext"]])
    build_index(
        spark, pages, d, key_col="url", text_col="ptext", n_segments=2,
        with_payloads=True,
    )
    assert check_index(spark, d)["healthy"]

    # truncate one block's payload stream in place
    post_dir = None
    for root, dirs, files in os.walk(os.path.join(d, "segments")):
        if root.endswith("row_type=post"):
            post_dir = root
            break
    assert post_dir
    part = [f for f in os.listdir(post_dir) if f.endswith(".parquet")][0]
    path = os.path.join(post_dir, part)
    t = pd.read_parquet(path)
    i = next(j for j in range(len(t)) if t["payloads"].iloc[j] is not None)
    buf = t["payloads"].iloc[i]
    t.at[t.index[i], "payloads"] = buf[: max(1, len(buf) // 2)]
    t.to_parquet(path, index=False)
    for f in os.listdir(post_dir):  # drop stale Hadoop checksum sidecars
        if f.endswith(".crc"):
            os.remove(os.path.join(post_dir, f))

    report = check_index(spark, d)
    assert not report["healthy"]
    assert report["bad_streams"] >= 1


def test_merge_and_check_infer_udf_types(spark, idx, tmp_path):
    """Every grouped-map function merge and check hand to applyInPandas is
    fully type-hinted, so PySpark infers its eval type without warning."""
    import warnings

    from lucene_spark.operators.merge import merge_index

    d = str(tmp_path / "merged")
    shutil.copytree(idx, d)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        merge_index(spark, d, salt_docs=50)
        report = check_index(spark, d)
    assert report["healthy"], report
    msgs = [str(w.message) for w in caught]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs


def test_hnsw_and_dv_kernels_infer_udf_types(spark, tmp_path):
    """The HNSW build and query kernels and the doc-values-verify search
    kernel (``DocValuesRangeQ(strategy="dv")``, a co-grouped bucket
    kernel) are fully type-hinted too."""
    import warnings

    import numpy as np
    import pandas as pd

    from lucene_spark.operators.hnsw import ann_hnsw_topk
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans.query import BoolQ, DocValuesRangeQ, TermQ

    sf = tmp_path / "sf"
    sf.mkdir()
    rng = np.random.RandomState(3)
    pd.DataFrame({
        "vec_id": np.arange(40, dtype=np.int64),
        "embedding": [rng.randn(8).tolist() for _ in range(40)],
    }).to_parquet(str(sf / "embeddings.parquet"))
    d = str(tmp_path / "sorted")
    build_index(
        spark, spark.createDataFrame(generate_pages_pdf(0, 40)), d,
        key_col="url", text_col="text", n_segments=2,
        sort_by="length(text)",
    )
    node = BoolQ(must=(TermQ("t0000"),),
                 filter=(DocValuesRangeQ(0, 1 << 40, strategy="dv"),))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ann = ann_hnsw_topk(spark, str(sf), query_vec_id=0, k=3).collect()
        hits = Searcher(spark, d).search(node, k=5, with_keys=False)
    assert len(ann) == 3
    assert len(hits)
    msgs = [str(w.message) for w in caught]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs
