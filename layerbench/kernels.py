"""Kernel micro-measurements of ``lucene_spark.functions``, timed without Spark.

Each kernel runs on the workload's own generated data or on the block rows of
the index the workload built, read straight from its parquet files. A kernel
repeats until it has run for ``MIN_S`` seconds; the reported rate is the
median over the repeats.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

MIN_S = 0.4


def _rate(fn, work: float) -> float:
    """Median of ``work / seconds`` over repeats of ``fn`` (>= 3, >= MIN_S)."""
    rates, spent = [], 0.0
    while len(rates) < 3 or spent < MIN_S:
        t = time.perf_counter()
        fn()
        dt = time.perf_counter() - t
        spent += dt
        rates.append(work / dt)
    return statistics.median(rates)


def block_rows(index_dir: str) -> dict:
    """The index's live postings block rows: {column: list[bytes]}."""
    from lucene_spark.operators.merge import live_units

    cols = ["gids", "freqs", "norms"]
    out = {c: [] for c in cols}
    for u in live_units(index_dir):
        for f in sorted(glob.glob(os.path.join(index_dir, u["path"], "*.parquet"))):
            t = pq.read_table(f, columns=cols)
            for c in cols:
                out[c].extend(t.column(c).to_pylist())
    return out


def measure(texts: "list[str]", index_dir: str, html: "list[str]") -> dict:
    """{metric: (value, unit)} for each kernel."""
    from lucene_spark.functions.analysis import analyze_batch
    from lucene_spark.functions.bm25 import BM25Scorer
    from lucene_spark.functions.html import html_strip_batch
    from lucene_spark.functions.pfor import batch_decode_streams, batch_encode_streams

    m = {}
    mb = sum(len(h.encode()) for h in html) / 1e6
    m["html.strip_mb_per_s"] = (_rate(lambda: html_strip_batch(html), mb), "MB/s")
    mb = sum(len(t.encode()) for t in texts) / 1e6
    m["analysis.analyze_mb_per_s"] = (_rate(lambda: analyze_batch(texts), mb), "MB/s")

    rows = block_rows(index_dir)
    bufs = rows["gids"] + rows["freqs"] + rows["norms"]
    values, counts = batch_decode_streams(bufs)
    mvals = len(values) / 1e6
    m["pfor.decode_mvalues_per_s"] = (
        _rate(lambda: batch_decode_streams(bufs), mvals), "Mvalues/s")
    m["pfor.encode_mvalues_per_s"] = (
        _rate(lambda: batch_encode_streams(values, counts), mvals), "Mvalues/s")

    freqs, _ = batch_decode_streams(rows["freqs"])
    norms, _ = batch_decode_streams(rows["norms"])
    with open(os.path.join(index_dir, "stats.json")) as f:
        st = json.load(f)
    scorer = BM25Scorer.build(doc_freq=max(1, st["doc_count"] // 10), doc_count=st["doc_count"],
                              sum_total_term_freq=st["sum_total_term_freq"])
    m["bm25.score_mpostings_per_s"] = (_rate(
        lambda: scorer.score(freqs.astype(np.int64), norms.astype(np.uint8)), len(freqs) / 1e6),
        "Mpostings/s")
    return m
