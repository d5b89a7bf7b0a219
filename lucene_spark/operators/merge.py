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

import json
import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.blocks import Postings, read_blocks, sort_postings, write_blocks
from .indexer import _append_manifest, finalize_index, read_manifest

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

MERGED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("seg", T.LongType()),
        T.StructField("block_ord", T.IntegerType()),
        T.StructField("doc_count", T.IntegerType()),
        T.StructField("first_gid", T.LongType()),
        T.StructField("last_gid", T.LongType()),
        T.StructField("gids", T.BinaryType()),
        T.StructField("freqs", T.BinaryType()),
        T.StructField("norms", T.BinaryType()),
        T.StructField("positions", T.BinaryType()),
        # offsets mode: char-offset delta + length streams (null otherwise)
        T.StructField("off_starts", T.BinaryType()),
        T.StructField("off_lens", T.BinaryType()),
        # payloads mode: per-occurrence integer payload stream (null otherwise)
        T.StructField("payloads", T.BinaryType()),
        T.StructField("imp_freqs", T.ArrayType(T.LongType())),
        T.StructField("imp_norms", T.ArrayType(T.IntegerType())),
        # per-block freq sum: lets survivor term stats (totalTermFreq) be
        # re-derived from merged postings without decoding payloads
        T.StructField("freq_sum", T.LongType()),
    ]
)


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


# -------------------------------------------------------------- unit model
#
# A merge *unit* is either a committed build batch ("b<N>", postings at
# segments/batch=N/row_type=post) or a committed merge output ("m<K>",
# postings at postings_merged_m<K>). A unit is LIVE until a later committed
# merge lists it in `inputs` — the SegmentInfos view of the index. The
# searcher reads exactly the live units; tiered_merge folds one tier of
# live units at a time (TieredMergePolicy.java:89-95 analog), so a
# continuously appended index pays O(tier) per refresh, never O(index).


def live_units(index_dir: str) -> "list[dict]":
    """Live merge units with sizes: [{uid, path, n_postings}]."""
    manifest = read_manifest(index_dir)
    consumed: set = set()
    merges = []
    for i, rec in enumerate(manifest):
        if rec.get("type") == "merge" and rec.get("status") == "committed":
            inputs = rec.get("inputs")
            if inputs is None:  # legacy full-merge record
                inputs = [f"b{b}" for b in rec.get("merged_batches", [])]
            consumed |= set(inputs)
            merges.append(
                {
                    "uid": f"m{rec.get('merge_id', i)}",
                    "path": rec.get("out", "postings_merged"),
                    "n_postings": int(rec.get("n_postings", 0)),
                }
            )
    units = []
    for rec in manifest:
        if rec.get("status") == "committed" and rec.get("batch") is not None:
            uid = f"b{rec['batch']}"
            if uid in consumed:
                continue
            n_post = sum(
                int(s.get("n_postings", 0)) for s in rec.get("per_segment", {}).values()
            )
            units.append(
                {
                    "uid": uid,
                    "path": os.path.join("segments", f"batch={rec['batch']}", "row_type=post"),
                    "n_postings": n_post,
                }
            )
    units.extend(m for m in merges if m["uid"] not in consumed)
    return units


def _next_merge_id(index_dir: str) -> int:
    """Next collision-free merge id.

    Legacy merge records (no ``merge_id`` field) take their MANIFEST INDEX
    as uid suffix in ``live_units``; a new id must clear those too, or two
    units could share a uid and `inputs` consumption would silently drop a
    live unit from every search."""
    ids = [-1]
    for i, r in enumerate(read_manifest(index_dir)):
        if r.get("type") == "merge" and r.get("status") == "committed":
            ids.append(int(r.get("merge_id", i)))
    return max(ids) + 1


def read_delete_paths(index_dir: str, paths: "list[str]") -> "np.ndarray | None":
    """Sorted unique gid array from the given delete-record paths."""
    if not paths:
        return None
    import pyarrow.dataset as ds

    arrs = [
        ds.dataset(os.path.join(index_dir, p), format="parquet")
        .to_table(columns=["gid"]).column("gid").to_numpy()
        for p in paths
    ]
    return np.unique(np.concatenate(arrs)).astype(np.int64)


def load_deleted_gids(index_dir: str) -> "np.ndarray | None":
    """Sorted array of deleted gids from ALL committed delete records
    (the single source of truth for searchers, merges, and audits)."""
    from .indexer import read_manifest

    return read_delete_paths(index_dir, [
        r["path"] for r in read_manifest(index_dir)
        if r.get("type") == "delete" and r.get("status") == "committed"
    ])


def _covered_batches(index_dir: str, units: "list[dict]") -> "list[int]":
    """Batches covered TRANSITIVELY by the given units (a merge-of-merges
    input expands through its own inputs)."""
    recs = {}
    for i, r in enumerate(read_manifest(index_dir)):
        if r.get("type") == "merge" and r.get("status") == "committed":
            recs[f"m{r.get('merge_id', i)}"] = r
    out: set[int] = set()

    def walk(uid: str) -> None:
        if uid.startswith("b"):
            out.add(int(uid[1:]))
            return
        rec = recs.get(uid, {})
        inputs = rec.get("inputs")
        if inputs is None:
            out.update(int(b) for b in rec.get("merged_batches", []))
            return
        for u in inputs:
            walk(u)

    for u in units:
        walk(u["uid"])
    return sorted(out)


def _prior_purged_paths(index_dir: str, units: "list[dict]") -> "list[str]":
    """purged_gids parquet rel-paths of every purging merge in the units'
    transitive input chains — docs those purges reclaimed must not be
    subtracted (or dropped from stats) a second time."""
    recs = {}
    for i, r in enumerate(read_manifest(index_dir)):
        if r.get("type") == "merge" and r.get("status") == "committed":
            recs[f"m{r.get('merge_id', i)}"] = r
    paths: list[str] = []

    def walk(uid: str) -> None:
        rec = recs.get(uid)
        if rec is None:
            return
        if rec.get("purged") and rec.get("purged_gids"):
            paths.append(rec["purged_gids"])
        for u in rec.get("inputs") or []:
            walk(u)

    for u in units:
        walk(u["uid"])
    return paths


def _sum_unit_field_stats(index_dir: str, units: "list[dict]") -> "dict[str, dict]":
    from .indexer import _sum_field_stats, unit_field_stats

    out: dict[str, dict] = {}
    for u in units:
        _sum_field_stats(out, unit_field_stats(index_dir, u))
    return out


def _purge_delta(
    spark: SparkSession, index_dir: str, units: "list[dict]", mid: int
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
    from .indexer import fdoc_paths

    cov = _covered_batches(index_dir, units)
    del_paths = [
        os.path.join(index_dir, r["path"])
        for r in read_manifest(index_dir)
        if r.get("type") == "delete" and r.get("status") == "committed"
    ]
    rel = f"purged_gids_m{mid}"
    out_path = os.path.join(index_dir, rel)
    doc_dirs = [
        os.path.join(index_dir, "segments", f"batch={b}", "row_type=doc")
        for b in cov
    ]
    docs = spark.read.parquet(*doc_dirs).select("gid", "doc_len")
    if del_paths:
        dels = spark.read.parquet(*del_paths).select("gid").distinct()
        newly = docs.join(dels, "gid", "left_semi")
    else:
        newly = docs.limit(0)
    prior = _prior_purged_paths(index_dir, units)
    if prior:
        pg = spark.read.parquet(*[os.path.join(index_dir, p) for p in prior])
        newly = newly.join(pg.select("gid"), "gid", "left_anti")
    newly.write.mode("overwrite").parquet(out_path)
    newly = spark.read.parquet(out_path)
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
    from ..plans.fields import DEFAULT_FIELD

    fdelta: dict[str, dict] = {
        DEFAULT_FIELD: {"doc_count": ddelta["doc_count"], "sum_ttf": ddelta["sum_dl"]}
    }
    fd = fdoc_paths(index_dir, cov)
    if fd and ddelta["n_rows"]:
        frows = (
            spark.read.parquet(*fd)
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
    index_dir: str,
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
    deleted = load_deleted_gids(index_dir) if purge else None
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    streams = ("positions",) * with_positions
    if stats.get("with_offsets"):
        streams += ("off_starts", "off_lens")
    if stats.get("with_payloads"):
        streams += ("payloads",)
    cols = ["term", "first_gid", "gids", "freqs", "norms", *streams]
    parts = [spark.read.parquet(os.path.join(index_dir, u["path"])).select(*cols)
             for u in units]
    post = parts[0]
    for p in parts[1:]:
        post = post.unionByName(p)

    # hot-term salt map from the global term stats (Zipf skew defusal)
    terms_df = spark.read.parquet(os.path.join(index_dir, "terms"))
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
    mid = _next_merge_id(index_dir)
    out_rel = f"postings_merged_m{mid}"
    out_path = os.path.join(index_dir, out_rel)
    merged.sortWithinPartitions("term", "first_gid").write.mode("overwrite").parquet(out_path)

    # driver arithmetic: the unit's stat contribution = Σ inputs' (minus,
    # for a purge, exactly the docs this merge reclaimed) — keeps finalize
    # able to re-derive global stats from live units without re-scanning
    unit_doc_stats = _sum_unit_doc_stats(index_dir, units)
    unit_fields = _sum_unit_field_stats(index_dir, units)
    purged_rel = None
    n_newly = 0
    if purge:
        purged_rel, ddelta, fdelta = _purge_delta(spark, index_dir, units, mid)
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
        "merged_batches": _covered_batches(index_dir, units),
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
    _append_manifest(index_dir, rec)
    if purge:
        # global terms table + collection/field stats re-derive from the
        # post-merge live units (idf/avgdl drop the reclaimed docs)
        finalize_index(spark, index_dir)
    return rec


def _batch_doc_stats(index_dir: str, batch: int) -> dict:
    from .indexer import _read_segstats

    seg = _read_segstats(os.path.join(index_dir, "segments", f"batch={batch}"))
    return {
        "n_rows": int(seg["s_n_docs"].sum()),
        "doc_count": int(seg["s_doc_count"].sum()),
        "sum_dl": int(seg["s_sum_dl"].sum()),
    }


def _merge_rec_by_uid(index_dir: str, uid: str) -> "dict | None":
    from .indexer import read_manifest

    for i, r in enumerate(read_manifest(index_dir)):
        if r.get("type") == "merge" and r.get("status") == "committed":
            if f"m{r.get('merge_id', i)}" == uid:
                return r
    return None


def _sum_unit_doc_stats(index_dir: str, units: "list[dict]") -> dict:
    out = {"n_rows": 0, "doc_count": 0, "sum_dl": 0}
    for u in units:
        if u["uid"].startswith("b"):
            s = _batch_doc_stats(index_dir, int(u["uid"][1:]))
        else:
            rec = _merge_rec_by_uid(index_dir, u["uid"])
            s = (rec or {}).get("unit_doc_stats")
            if s is None:
                # legacy merge record: its covered batches' stats
                s = {"n_rows": 0, "doc_count": 0, "sum_dl": 0}
                for b in (rec or {}).get("merged_batches", []):
                    bs = _batch_doc_stats(index_dir, int(b))
                    for k in s:
                        s[k] += bs[k]
        for k in out:
            out[k] += s[k]
    return out


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
    units = live_units(index_dir)
    if not units:
        raise ValueError("nothing to merge: no committed batches")
    return _merge_units(
        spark, index_dir, units, salt_docs=salt_docs,
        with_positions=with_positions, purge=purge,
    )


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
    units = live_units(index_dir)
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
                spark, index_dir, picked,
                salt_docs=salt_docs, with_positions=with_positions,
                purge=purge,
            )
    return None
