"""Global segment merge: salted repartition-by-term into a merged postings
table.

Lucene merges segments by streaming each term's postings through a docID
remapper (``core/index/SegmentMerger.java:104-145``, ``DocIDMerger``). Here
segment gid ranges are disjoint by construction, so a term's blocks across
segments are non-overlapping sorted runs — the merge is a re-chunk, not a
k-way interleave: concatenate blocks in first_gid order and re-cut at 128-doc
boundaries (tails from many small segments fuse into full blocks).

Skew (the north rule's explicit concern): term frequency is Zipfian, so a
plain repartition-by-term puts "the" — present in nearly every document — on
one reducer. Hot terms (global doc_freq above ``salt_docs``) are therefore
*salted* by gid range: salt = first_gid // ceil(gid_span / n_salts(term)),
n_salts = ceil(doc_freq / salt_docs). Salt ranges are disjoint in gid, so
per-(term, salt) re-blocking still yields a globally sorted posting list;
only the (≤128-doc) block at each salt boundary can be partial. Hot-term
detection comes from the global ``terms`` table (TieredMergePolicy-style
planning is driver-side Python, ``core/index/TieredMergePolicy.java:89-95``).

The merged table is written sorted by (term, first_gid) within partitions so
Parquet row-group min/max stats give term seeks. The manifest records the
merge; the searcher reads merged postings plus any batches committed after.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession, functions as F, types as T

from ..functions.blocks import Postings, read_blocks, sort_postings, write_blocks
from ..plans.fields import DEFAULT_FIELD
from .commit import (
    DOC_SCHEMA, FDOC_SCHEMA, GID_SCHEMA, MERGED_SCHEMA, POSTINGS_SCHEMA,
    PURGED_SCHEMA, TERMS_SCHEMA, Commit, append_manifest, batch_path, labelled,
    read_gids, read_table,
)
from .indexer import _finalize

# default postings per (term, salt) reducer group; merge and check also
# size their buckets of groups by it (``bucket_count``)
SALT_DOCS = 1_000_000


def bucket_count(spark: SparkSession, units: "list[dict]") -> int:
    """Buckets of (term, salt) groups for one merge or CheckIndex pass:
    about SALT_DOCS postings per Python call, and at least one bucket per
    core. Independent of a merge's ``salt_docs``, which only splits hot
    terms."""
    return max(spark.sparkContext.defaultParallelism,
               -(-sum(u["n_postings"] for u in units) // SALT_DOCS))


def _empty_merged_frame() -> pd.DataFrame:
    """Typed empty frame (a purge can empty a whole (term, salt) group)."""
    data = {}
    for f in MERGED_SCHEMA.fields:
        if isinstance(f.dataType, (T.ArrayType, T.BinaryType, T.StringType)):
            data[f.name] = pd.Series(dtype=object)
        elif isinstance(f.dataType, T.IntegerType):
            data[f.name] = pd.Series(dtype=np.int32)
        else:
            data[f.name] = pd.Series(dtype=np.int64)
    return pd.DataFrame(data)


def _merge_bucket(pdf: pd.DataFrame, deleted: "np.ndarray | None",
                  streams: "tuple[str, ...]") -> pd.DataFrame:
    """Re-chunk every (term, salt) group of one bucket into full 128-doc
    blocks, one batched decode and one shared-writer pass for the bucket.

    ``deleted``: sorted gid array — those docs' postings are DROPPED
    (purge: the SegmentMerger path that skips non-live docs,
    ``core/index/SegmentMerger.java`` via MergeState liveDocs).
    ``streams``: the position-aligned columns the index stores; their
    per-doc delta runs are self-contained, so the permuted/filtered streams
    re-cut losslessly.
    """
    pdf = pdf.sort_values(["term", "salt", "first_gid"], kind="mergesort")
    terms = pdf["term"].to_numpy(object)
    salts = pdf["salt"].to_numpy(np.int64)
    new_group = np.ones(len(pdf), dtype=bool)
    new_group[1:] = (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])
    p, doc_cnt = read_blocks(pdf, streams)
    group = np.repeat(np.cumsum(new_group) - 1, doc_cnt)
    # inputs may interleave in gid space (a prior partial merge's blocks
    # span holes occupied by other units) — restore (group, gid) order
    p, group = sort_postings(p, group)
    if deleted is not None and len(deleted) and len(p.gid):
        di = np.minimum(np.searchsorted(deleted, p.gid), len(deleted) - 1)
        live = deleted[di] != p.gid
        pos_keep = np.repeat(live, p.freq)
        p = Postings(p.gid[live], p.freq[live], p.norm[live],
                     {k: v[pos_keep] for k, v in p.streams.items()})
        group = group[live]
    if not len(p.gid):
        return _empty_merged_frame()
    block_start, cols = write_blocks(group, p)
    n_blocks = len(block_start)
    out = {"term": terms[new_group][group[block_start]], "seg": np.int64(-1)}  # merged
    for f in MERGED_SCHEMA.fieldNames()[2:]:
        out[f] = cols.get(f, [None] * n_blocks)
    return pd.DataFrame(out)


def live_units(index_dir: str) -> "list[dict]":
    """Live merge units with sizes: [{uid, path, n_postings}] (see
    ``commit.py`` for the unit model)."""
    return list(Commit.load(index_dir).live_units)


def _purge_delta(
    spark: SparkSession, commit: Commit, units: "list[dict]", mid: int
) -> "tuple[str, dict, dict]":
    """Identify + record the docs this purging merge actually reclaims.

    newly-purged = (committed delete set) ∩ (doc rows of the inputs'
    transitively covered batches) − (gids already reclaimed by purging
    merges in the input chain). Their gids are written to
    ``purged_gids_m<mid>`` so a later merge-of-merges subtracts each doc
    exactly once. Returns (rel_path, doc-stat delta, per-field delta) —
    the per-field delta for EXTRA fields comes from the batches' fdoc
    rows (one metadata row per (doc, field), no postings decode).
    """
    index_dir = commit.index_dir
    cov = commit.covered_batches(units)
    rel = f"purged_gids_m{mid}"
    docs = read_table(
        spark, index_dir, [batch_path(b, "doc") for b in cov], DOC_SCHEMA
    ).select("gid", "doc_len")
    if commit.delete_paths:
        dels = read_table(spark, index_dir, commit.delete_paths, GID_SCHEMA).distinct()
        newly = docs.join(dels, "gid", "left_semi")
    else:
        newly = docs.limit(0)
    prior = commit.purged_gid_paths(units)
    if prior:
        newly = newly.join(read_table(spark, index_dir, prior, GID_SCHEMA), "gid", "left_anti")
    newly.write.mode("overwrite").parquet(os.path.join(index_dir, rel))
    newly = read_table(spark, index_dir, [rel], PURGED_SCHEMA)
    agg = newly.agg(
        F.count("*").alias("n_rows"),
        F.coalesce(F.sum((F.col("doc_len") > 0).cast("long")), F.lit(0)).alias("dc"),
        F.coalesce(F.sum("doc_len"), F.lit(0)).alias("dl"),
    ).collect()[0]
    ddelta = {
        "n_rows": int(agg["n_rows"]),
        "doc_count": int(agg["dc"]),
        "sum_dl": int(agg["dl"]),
    }
    fdelta: dict[str, dict] = {
        DEFAULT_FIELD: {"doc_count": ddelta["doc_count"], "sum_ttf": ddelta["sum_dl"]}
    }
    fd = commit.fdoc_paths(cov)
    if fd and ddelta["n_rows"]:
        frows = (
            read_table(spark, index_dir, fd, FDOC_SCHEMA)
            .select(F.col("term").alias("field"), "gid", "doc_len")
            .join(newly.select("gid"), "gid", "left_semi")
            .groupBy("field")
            .agg(
                F.count("*").alias("dc"),
                F.coalesce(F.sum("doc_len"), F.lit(0)).alias("dl"),
            )
            .collect()
        )
        for r in frows:
            fdelta[str(r["field"])] = {
                "doc_count": int(r["dc"]), "sum_ttf": int(r["dl"])
            }
    return rel, ddelta, fdelta


def _merge_units(
    spark: SparkSession,
    commit: Commit,
    units: "list[dict]",
    *,
    salt_docs: int,
    with_positions: bool,
    purge: bool = False,
) -> dict:
    """Merge the given live units into one new merge unit (commits it).

    ``purge=True`` additionally DROPS deleted docs' postings found in the
    inputs (SegmentMerger skipping non-live docs via MergeState liveDocs)
    and re-derives the terms table + collection/field stats over the live
    units — reclaimed docs stop counting toward idf/avgdl, while deleted
    docs still sitting in unmerged units keep counting (Lucene's
    per-segment reclaim semantics). Works for PARTIAL (tiered) merges:
    each doc's stats are subtracted exactly once via per-merge
    ``purged_gids`` records.
    """
    t0 = time.time()
    index_dir = commit.index_dir
    stats = commit.stats
    deleted = read_gids(index_dir, commit.delete_paths) if purge else None
    streams = ("positions",) * with_positions
    if stats.get("with_offsets"):
        streams += ("off_starts", "off_lens")
    if stats.get("with_payloads"):
        streams += ("payloads",)
    cols = ["term", "first_gid", "gids", "freqs", "norms", *streams]
    post = read_table(
        spark, index_dir, [u["path"] for u in units], POSTINGS_SCHEMA
    ).select(*cols)

    # hot-term salt map from the global term stats (Zipf skew defusal)
    terms_df = read_table(spark, index_dir, ["terms"], TERMS_SCHEMA)
    hot = (
        terms_df.filter(F.col("doc_freq") > salt_docs)
        .select("term", "doc_freq")
        .collect()
    )
    gid_span = max(stats.get("max_gid", 0), 0) + 1
    n_salts = {r["term"]: int(-(-r["doc_freq"] // salt_docs)) for r in hot}
    if n_salts:
        salt_items = [x for kv in n_salts.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
        salt_map = F.create_map(*salt_items)
        width = F.floor(F.lit(gid_span) / salt_map[F.col("term")])
        salt = F.when(
            salt_map[F.col("term")].isNotNull(),
            F.floor(F.col("first_gid") / F.greatest(width, F.lit(1))),
        ).otherwise(F.lit(0))
    else:
        salt = F.lit(0)
    n_buckets = bucket_count(spark, units)
    post = post.withColumn("salt", salt.cast("long")).withColumn(
        "bucket", F.pmod(F.xxhash64("term", "salt"), F.lit(n_buckets)))

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _merge_bucket(pdf, deleted, streams)

    merged = post.groupBy("bucket").applyInPandas(fn, schema=MERGED_SCHEMA)
    mid = commit.next_merge_id
    out_rel = f"postings_merged_m{mid}"
    out_path = os.path.join(index_dir, out_rel)
    merged.sortWithinPartitions("term", "first_gid").write.mode("overwrite").parquet(out_path)

    # driver arithmetic: the unit's stat contribution = Σ inputs' (minus,
    # for a purge, exactly the docs this merge reclaimed) — keeps finalize
    # able to re-derive global stats from live units without re-scanning
    unit_doc_stats = commit.doc_stats(units)
    unit_fields = commit.field_stats(units)
    purged_rel = None
    n_newly = 0
    if purge:
        purged_rel, ddelta, fdelta = _purge_delta(spark, commit, units, mid)
        n_newly = ddelta["n_rows"]
        for k in unit_doc_stats:
            unit_doc_stats[k] -= ddelta[k]
        for f, d in fdelta.items():
            if f in unit_fields:
                unit_fields[f]["doc_count"] -= d["doc_count"]
                unit_fields[f]["sum_ttf"] -= d["sum_ttf"]

    wall = time.time() - t0
    rec = {
        "type": "merge",
        "status": "committed",
        "merge_id": mid,
        "inputs": [u["uid"] for u in units],
        "out": out_rel,
        "n_postings": int(sum(u["n_postings"] for u in units)),
        # batches covered transitively (merge-of-merges inputs expanded)
        "merged_batches": commit.covered_batches(units),
        "salt_docs": salt_docs,
        "n_hot_terms": len(n_salts),
        "purged": bool(purge),
        "n_deleted_purged": int(n_newly),
        "purged_gids": purged_rel,
        "unit_doc_stats": unit_doc_stats,
        "unit_field_stats": unit_fields,
        "wall_sec": round(wall, 3),
        "ts": time.time(),
    }
    append_manifest(index_dir, rec)
    if purge:
        # global terms table + collection/field stats re-derive from the
        # post-merge live units (idf/avgdl drop the reclaimed docs)
        _finalize(spark, index_dir, {})
    return rec


@labelled("merge.merge")
def merge_index(
    spark: SparkSession,
    index_dir: str,
    *,
    salt_docs: int = SALT_DOCS,
    with_positions: bool = True,
    purge: bool = False,
) -> dict:
    """Full merge: fold ALL live units into one global postings table.

    ``salt_docs``: max postings per (term, salt) reducer group — hot terms
    are split into gid-range salts of roughly this many docs each.

    ``purge=True`` reclaims deleted docs' postings during the rewrite and
    re-derives the terms table + collection/field stats from the survivors
    (idf/avgdl change accordingly — the post-merge Lucene view).
    Multi-field indexes purge too: per-field docCount/sumTotalTermFreq
    deltas come from the batches' fdoc metadata rows.
    """
    commit = Commit.load(index_dir)
    units = commit.live_units
    if not units:
        raise ValueError("nothing to merge: no committed batches")
    return _merge_units(
        spark, commit, units, salt_docs=salt_docs,
        with_positions=with_positions, purge=purge,
    )


@labelled("merge.tiered")
def tiered_merge(
    spark: SparkSession,
    index_dir: str,
    *,
    segs_per_tier: int = 10,
    max_merge_at_once: int = 10,
    floor_postings: int = 100_000,
    salt_docs: int = SALT_DOCS,
    with_positions: bool = True,
    purge: bool = False,
) -> "dict | None":
    """One incremental tiered-merge step (TieredMergePolicy.java:89-95).

    Live units are binned into size tiers (log base ``segs_per_tier`` of
    postings count, floored at ``floor_postings`` — the 2MB-floor analog);
    when a tier holds ≥ ``segs_per_tier`` units, the smallest
    ``max_merge_at_once`` of them merge into ONE unit of the next tier.
    Returns the merge record, or None when the index is already within
    budget — so a continuously appended 100-TB index re-merges only a
    bounded tier per refresh instead of the whole index, and each unit is
    rewritten O(log_tier(total)) times over its life.

    ``purge=True`` reclaims deleted docs found in the merged tier's units
    (every Lucene merge reclaims its segments' deletes); deletes in
    untouched units keep counting toward stats until their own merge.
    """
    commit = Commit.load(index_dir)
    units = commit.live_units
    if len(units) < segs_per_tier:
        return None
    import math

    tiers: dict[int, list[dict]] = {}
    for u in units:
        size = max(int(u["n_postings"]), 1)
        tier = 0 if size <= floor_postings else int(
            math.log(size / floor_postings, segs_per_tier)
        ) + 1
        tiers.setdefault(tier, []).append(u)
    for tier in sorted(tiers):
        group = tiers[tier]
        if len(group) >= segs_per_tier:
            group.sort(key=lambda u: u["n_postings"])
            picked = group[:max_merge_at_once]
            return _merge_units(
                spark, commit, picked,
                salt_docs=salt_docs, with_positions=with_positions,
                purge=purge,
            )
    return None
