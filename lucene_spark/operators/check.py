"""Index integrity checker (CheckIndex analog, core/index/CheckIndex.java).

Verifies, distributed (one pass over postings + docs, no collect of data):

  1. postings well-formed per block: decoded doc count == doc_count column,
     gids strictly ascending WITHIN each block and no doc repeated across a
     term's blocks (block RANGES may interleave after tiered partial
     merges; the reader restores global order), freqs >= 1, every
     (freq, norm) bounded by the block's impact frontier; the position
     stream decodes to exactly sum(freq) entries, and any offset/payload
     streams are position-aligned (CheckIndex.checkFields' postings/
     positions/payload consistency pass);
  2. term stats consistent: sum of per-block doc counts == terms.doc_freq,
     sum of freqs == terms.total_term_freq;
  3. docs table: gids unique, norm_b == int_to_byte4(doc_len);
  4. collection stats: stats.json doc_count/sum_ttf match the docs table;
  5. manifest: every committed batch and merge-output directory exists.

Returns a dict of violation counts (all zeros == healthy). Runs after
merges and on resume (the north rule's lineage/metrics audit hook).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession, functions as F, types as T

from ..functions.blocks import gids_from_gaps
from ..functions.pfor import batch_decode_streams
from ..functions.smallfloat import int_to_byte4_np
from .commit import batch_path, labelled, read_gids
from .merge import bucket_count

_BLOCK_REPORT = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_count_sum", T.LongType()),
        T.StructField("freq_sum", T.LongType()),
        T.StructField("bad_doc_count", T.LongType()),
        T.StructField("bad_order", T.LongType()),
        T.StructField("bad_freq", T.LongType()),
        T.StructField("bad_impact", T.LongType()),
        T.StructField("bad_streams", T.LongType()),
    ]
)


def _decode_checked(bufs: list) -> "tuple[np.ndarray, np.ndarray]":
    """``batch_decode_streams`` where a corrupt stream gets count -1 and no
    values instead of failing its whole column: when the batch raises, the
    column's rows are re-decoded one at a time."""
    try:
        return batch_decode_streams(bufs)
    except ValueError:
        vals, cnts = [np.empty(0, np.uint64)], [np.empty(0, np.int64)]
        for b in bufs:
            try:
                v, c = batch_decode_streams([b])
            except ValueError:
                v, c = np.empty(0, np.uint64), np.array([-1])
            vals.append(v)
            cnts.append(c)
        return np.concatenate(vals), np.concatenate(cnts)


def _run_sums(vals: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Exact int64 sums of consecutive runs of ``vals``."""
    cs = np.concatenate(([0], np.cumsum(vals, dtype=np.int64)))
    ends = np.cumsum(lengths)
    return cs[ends] - cs[ends - lengths]


def _check_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Audit every block row of one bucket of terms; one report row per term.

    Counts are per block (bad_order adds one per term holding a doc twice);
    a gids/freqs/norms stream that does not decode counts as a bad stream
    and contributes no postings.
    """
    pdf = pdf.sort_values(["term", "first_gid"], kind="mergesort")
    n_rows = len(pdf)
    terms = pdf["term"].to_numpy(object)
    new_term = np.ones(n_rows, dtype=bool)
    new_term[1:] = terms[1:] != terms[:-1]
    t_row = np.cumsum(new_term) - 1
    rows_per_term = np.bincount(t_row)
    rows = np.arange(n_rows)

    def per_term(row_vals: np.ndarray) -> np.ndarray:
        return _run_sums(row_vals.astype(np.int64), rows_per_term)

    gaps, gap_cnt = _decode_checked(list(pdf["gids"]))
    f, f_cnt = _decode_checked(list(pdf["freqs"]))
    n, n_cnt = _decode_checked(list(pdf["norms"]))
    f, n = f.astype(np.int64), n.astype(np.int64)
    g_ok = gap_cnt >= 0
    doc_cnt = np.where(g_ok, gap_cnt + 1, 0)
    gid = gids_from_gaps(pdf["first_gid"].to_numpy(np.int64)[g_ok], gaps, gap_cnt[g_ok])
    gid_row = np.repeat(rows, doc_cnt)
    f_row = np.repeat(rows, np.maximum(f_cnt, 0))
    row_fsum = _run_sums(f, np.maximum(f_cnt, 0))

    bad_doc_count = ((doc_cnt != pdf["doc_count"].to_numpy(np.int64))
                     | (f_cnt != doc_cnt) | (n_cnt != doc_cnt))
    bad_streams = (~g_ok | (f_cnt < 0) | (n_cnt < 0)).astype(np.int64)
    # within-block order must be strict; ACROSS blocks ranges may
    # interleave (tiered partial merges re-cut across gid holes other live
    # units occupy — the reader restores global order), but no doc may
    # appear twice for one term
    bad_order = np.zeros(n_rows, dtype=bool)
    step_down = (gid_row[1:] == gid_row[:-1]) & (np.diff(gid) <= 0)
    bad_order[gid_row[1:][step_down]] = True
    g_term = t_row[gid_row]
    o = np.lexsort((gid, g_term))
    twice = (g_term[o][1:] == g_term[o][:-1]) & (gid[o][1:] == gid[o][:-1])
    dup_term = np.zeros(len(rows_per_term), dtype=np.int64)
    dup_term[g_term[o][1:][twice]] = 1
    bad_freq = np.zeros(n_rows, dtype=bool)
    bad_freq[f_row[f < 1]] = True

    # impact frontier must dominate every (freq, norm) in the block: some
    # entry has freq' >= freq and norm' <= norm (CompetitiveImpactAccumulator
    # contract). Sort entries and postings by (block, freq), postings first
    # on ties; a posting is covered iff the least norm among the entries
    # after it in its block is <= its norm (norms compared by rank).
    paired = (f_cnt == n_cnt) & (f_cnt >= 0)
    pf = f[np.repeat(paired, np.maximum(f_cnt, 0))]
    pn = n[np.repeat(paired, np.maximum(n_cnt, 0))]
    p_row = np.repeat(rows[paired], f_cnt[paired])
    imp_f = [np.asarray(x, dtype=np.int64) for x in pdf["imp_freqs"]]
    imp_n = [np.asarray(x, dtype=np.int64) for x in pdf["imp_norms"]]
    e_len = np.array([len(x) for x in imp_f], dtype=np.int64)
    bad_impact = e_len != np.array([len(x) for x in imp_n], dtype=np.int64)
    e_len[bad_impact] = 0
    ef = np.concatenate([x for x, bad in zip(imp_f, bad_impact) if not bad] + [pf[:0]])
    en = np.concatenate([x for x, bad in zip(imp_n, bad_impact) if not bad] + [pn[:0]])
    blk = np.concatenate((np.repeat(rows, e_len), p_row))
    is_post = np.repeat([False, True], [len(ef), len(pf)])
    uniq, rank = np.unique(np.concatenate((en, pn)), return_inverse=True)
    span = len(uniq) + 1
    o = np.lexsort((~is_post, np.concatenate((ef, pf)), blk))[::-1]
    key = blk[o] * span + np.where(is_post[o], span - 1, rank[o])
    least_after = np.minimum.accumulate(key) - blk[o] * span
    uncovered = is_post[o] & (least_after > rank[o])
    bad_impact[blk[o][uncovered]] = True

    # position-aligned streams must decode to exactly sum(freq) entries
    for names in (("positions",), ("off_starts", "off_lens"), ("payloads",)):
        if names[0] not in pdf.columns:
            continue
        on = pdf[names[0]].notna().to_numpy()
        bad = np.zeros(n_rows, dtype=bool)
        for name in names:
            col = pdf[name].to_numpy(object)
            have = on & pd.notna(col)
            cnt = np.full(n_rows, -1, dtype=np.int64)
            cnt[have] = _decode_checked(list(col[have]))[1]
            bad |= on & (cnt != row_fsum)
        bad_streams += bad

    return pd.DataFrame(
        {
            "term": terms[new_term],
            "doc_count_sum": per_term(doc_cnt),
            "freq_sum": per_term(row_fsum),
            "bad_doc_count": per_term(bad_doc_count),
            "bad_order": per_term(bad_order) + dup_term,
            "bad_freq": per_term(bad_freq),
            "bad_impact": per_term(bad_impact),
            "bad_streams": per_term(bad_streams),
        }
    )


@labelled("check.check")
def check_index(spark: SparkSession, index_dir: str) -> dict:
    from .search import Searcher

    s = Searcher(spark, index_dir)
    commit = s.commit
    report: dict = {}

    # 0: manifest ↔ directories FIRST — the postings scan reads each live
    # unit's path directly (no glob), so a missing dir must be diagnosed
    # here, not crash the audit below
    dirs = [batch_path(b) for b in commit.batches]
    dirs += [r["out"] for r in commit.merges.values()]
    missing = sum(not os.path.isdir(os.path.join(index_dir, d)) for d in dirs)
    report["missing_batch_dirs"] = missing
    if missing:
        report.update(
            {k: -1 for k in (
                "bad_doc_count", "bad_order", "bad_freq", "bad_impact",
                "bad_streams",
                "term_doc_freq_mismatch", "term_ttf_mismatch", "dup_gids",
                "bad_norms", "stats_doc_count_mismatch", "stats_ttf_mismatch",
            )}
        )
        report["healthy"] = False
        return report

    # 1+2: per-term block audit, then join against the terms table
    audit_cols = ["term", "doc_count", "first_gid", "gids", "freqs",
                  "norms", "positions", "imp_freqs", "imp_norms"]
    if s.stats.get("with_offsets"):
        audit_cols += ["off_starts", "off_lens"]
    if s.stats.get("with_payloads"):
        audit_cols.append("payloads")
    n_buckets = bucket_count(spark, commit.live_units)

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _check_bucket(pdf)

    per_term = (
        s._postings_df()
        .select(*audit_cols)
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
        .groupBy("bucket")
        .applyInPandas(fn, schema=_BLOCK_REPORT)
    )
    joined = per_term.join(s.terms_table(), "term", "full_outer")
    agg = joined.agg(
        F.sum("bad_doc_count").alias("bad_doc_count"),
        F.sum("bad_order").alias("bad_order"),
        F.sum("bad_freq").alias("bad_freq"),
        F.sum("bad_impact").alias("bad_impact"),
        F.sum("bad_streams").alias("bad_streams"),
        F.sum(
            (F.coalesce("doc_count_sum", F.lit(-1)) != F.coalesce("doc_freq", F.lit(-2)))
            .cast("long")
        ).alias("term_doc_freq_mismatch"),
        F.sum(
            (F.coalesce("freq_sum", F.lit(-1)) != F.coalesce("total_term_freq", F.lit(-2)))
            .cast("long")
        ).alias("term_ttf_mismatch"),
    ).collect()[0]
    report.update({k: int(agg[k] or 0) for k in agg.asDict()})

    # 3: docs table. Doc rows of PURGED deletes still exist on disk (only
    # postings + stats were reclaimed), so exclude exactly the docs purging
    # merges reclaimed (their ``purged_gids``) before comparing against
    # stats.json; unpurged deletes still count in stats (Lucene pre-merge
    # semantics). Every merge is in some live unit's input chain.
    docs = s.doc_rows()
    purged = commit.purged_gid_paths(commit.live_units)
    if purged:
        gids = read_gids(index_dir, purged)
        ddf = spark.createDataFrame(pd.DataFrame({"gid": gids.astype("int64")}))
        docs = docs.join(F.broadcast(ddf), "gid", "left_anti")
    n_docs = docs.count()
    report["dup_gids"] = int(n_docs - docs.select("gid").distinct().count())
    # doc_len domain is small, so precompute the norm mapping driver-side
    # and check JVM-side via a literal map (no UDF)
    lens = [r["doc_len"] for r in docs.select("doc_len").distinct().collect()]
    mapping = {int(dl): int(int_to_byte4_np(np.array([dl]))[0]) for dl in lens}
    map_expr = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    report["bad_norms"] = int(
        docs.filter(map_expr[F.col("doc_len")] != F.col("norm_b")).count()
    )

    # 4: collection stats
    stats = s.stats
    actual = docs.agg(
        F.sum((F.col("doc_len") > 0).cast("long")).alias("dc"),
        F.sum("doc_len").alias("ttf"),
    ).collect()[0]
    report["stats_doc_count_mismatch"] = int(stats["doc_count"] != int(actual["dc"] or 0))
    report["stats_ttf_mismatch"] = int(
        stats["sum_total_term_freq"] != int(actual["ttf"] or 0)
    )

    report["healthy"] = all(
        v == 0 for k, v in report.items() if k not in ("healthy",)
    )
    return report
