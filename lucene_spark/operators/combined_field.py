"""CombinedFieldQuery — BM25F-style cross-field scoring
(lucene/sandbox/src/java/org/apache/lucene/sandbox/search/
CombinedFieldQuery.java).

The reference pretends there is one synthetic field whose term frequency
is the per-field-weighted sum of each field's freq and whose length is
the weighted sum of the fields' (SmallFloat-decoded) lengths, then runs
plain BM25 over those pseudo statistics:

- pseudo term stats (java:325-345): docFreq = max over (term, field)
  pairs; totalTermFreq accumulates ``long += (double) weight * ttf``
  (the Java long truncation per step is replicated);
- pseudo collection stats (java:352-370): docCount = max over fields,
  sumTotalTermFreq the same weighted long accumulation;
- per-doc freq (java:479-489): float32 chain-sum of
  ``weight * freq(term, field)`` over the matched pairs in a pinned
  (field asc, term order) sequence — the reference's queue order is
  arbitrary, so results are bit-identical whenever the weighted freqs
  are exactly representable (integer weights), which the reference
  itself only guarantees up to ulps;
- per-doc norm (MultiNormsLeafSimScorer.java:130-155): float32
  chain-accumulate ``weight * LENGTH_TABLE[byte4(field_len)]`` over the
  fields that have the doc, then re-encode
  ``intToByte4(Math.round(normValue))``.

Spark-first plan: ONE pushed-down postings scan over the qualified
(field, term) keys (Arrow block decode), per-field doc lengths from the
doc/fdoc metadata rows semi-joined to the matched docs, one shuffle by
gid into an Arrow scoring kernel, distributed top-k. The driver holds
only the pair statistics (|terms| x |fields| rows via the cached
term_stats probe), never postings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.bm25 import avgdl as _avgdl, idf as _idf, norm_cache
from ..functions.smallfloat import LENGTH_TABLE, int_to_byte4_np
from ..plans.fields import DEFAULT_FIELD, qualify


def combined_field_topk(
    searcher,
    terms: "list[str] | tuple[str, ...]",
    field_weights: "dict[str, float]",
    k: int = 10,
    *,
    boost: float = 1.0,
) -> DataFrame:
    """Top-k (gid, score) under CombinedFieldQuery semantics over the
    searcher's multi-field index. ``field_weights`` maps field name to
    its weight (>= 1, java:120-124)."""
    for f, w in field_weights.items():
        if w < 1:
            raise ValueError(f"weight must be >= 1, got {w} for {f}")
        if f not in searcher.stats.get("fields", {}):
            raise ValueError(f"unknown field: {f}")
    fields = sorted(field_weights)
    pairs = [(f, t) for f in fields for t in terms]
    keys = [qualify(f, t) for f, t in pairs]

    # ---- pseudo term statistics (java:325-345)
    tstats = searcher.term_stats(set(keys))
    doc_freq = 0
    ttf = 0  # long accumulation with per-step (long)(long + double) cast
    for (f, t), key in zip(pairs, keys):
        st = tstats.get(key)
        if st is None:
            continue
        doc_freq = max(doc_freq, st[0])
        ttf = int(ttf + float(field_weights[f]) * st[1])
    if doc_freq == 0:
        return searcher.spark.createDataFrame(
            [], schema="gid long, score double"
        )
    ttf = max(1, ttf)

    # ---- pseudo collection statistics (java:352-370)
    fstats = searcher.stats["fields"]
    doc_count = max(int(fstats[f]["doc_count"]) for f in fields)
    sum_ttf = 0
    for f in fields:
        sum_ttf = int(
            sum_ttf + float(field_weights[f]) * int(fstats[f]["sum_ttf"])
        )

    weight = np.float32(boost) * _idf(doc_freq, doc_count)
    cache = norm_cache(
        _avgdl(sum_ttf, doc_count), searcher.k1, searcher.b
    )

    # ---- matched-pair freq rows: one pruned scan + Arrow decode
    from .search import decode_term_blocks

    key_ord = {key: i for i, key in enumerate(keys)}
    pair_w = np.array(
        [np.float32(field_weights[f]) for f, _t in pairs], dtype=np.float32
    )
    scan = searcher._postings_df().select(
        "term", "first_gid", "gids", "freqs", "norms"
    ).filter(F.col("term").isin(keys))

    def decode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            for key, grp in pdf.groupby("term", sort=False):
                tp = decode_term_blocks(grp)
                yield pd.DataFrame({
                    "gid": tp.gids,
                    "ord": np.int32(key_ord[key]),
                    "val": tp.freqs.astype(np.int64),
                })

    freq_rows = scan.mapInPandas(
        decode, schema="gid long, ord int, val long"
    )

    # ---- per-field length rows for the matched docs (norms source)
    matched = freq_rows.select("gid").distinct()
    field_ord = {f: i for i, f in enumerate(fields)}
    norm_parts = []
    if DEFAULT_FIELD in field_ord:
        norm_parts.append(
            searcher.doc_rows().select(
                "gid",
                F.lit(-1 - field_ord[DEFAULT_FIELD]).cast("int")
                .alias("ord"),
                F.col("doc_len").cast("long").alias("val"),
            )
        )
    extra = [f for f in fields if f != DEFAULT_FIELD]
    if extra:
        fdoc = searcher.fdoc_rows()
        for f in extra:
            norm_parts.append(
                fdoc.filter(F.col("term") == f).select(
                    "gid",
                    F.lit(-1 - field_ord[f]).cast("int").alias("ord"),
                    F.col("doc_len").cast("long").alias("val"),
                )
            )
    rows = freq_rows
    for p in norm_parts:
        rows = rows.union(p.join(matched, "gid", "left_semi"))

    field_w = np.array(
        [np.float32(field_weights[f]) for f in fields], dtype=np.float32
    )
    w32, one = np.float32(weight), np.float32(1.0)
    n_pairs, n_fields = len(pairs), len(fields)

    def score_part(batches):
        """Vectorized per-partition scoring: the float32 chains iterate
        over the (constant, tiny) pair/field axes, each step one numpy
        op across EVERY doc in the partition — no per-doc Python."""
        parts = [p for p in batches if not p.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        piv = pdf.pivot_table(
            index="gid", columns="ord", values="val",
            aggfunc="sum", fill_value=0,
        )
        n = len(piv)
        zeros = np.zeros(n, dtype=np.int64)

        def col(o):
            return (piv[o].to_numpy(dtype=np.int64)
                    if o in piv.columns else zeros)

        # freq: float32 chain in pinned pair order (java:479-489);
        # a non-matching pair contributes +0.0f, a no-op
        freq = np.zeros(n, dtype=np.float32)
        for o in range(n_pairs):
            freq = (freq + (pair_w[o] * col(o).astype(np.float32))
                    .astype(np.float32)).astype(np.float32)
        # norm: float32 chain over fields asc (MultiNorms...:143-152);
        # missing field length 0 decodes to 0, a no-op contribution
        norm_val = np.zeros(n, dtype=np.float32)
        for fi in range(n_fields):
            dec = LENGTH_TABLE[int_to_byte4_np(col(-1 - fi))] \
                .astype(np.float32)
            norm_val = (norm_val + (field_w[fi] * dec)
                        .astype(np.float32)).astype(np.float32)
        byte_c = int_to_byte4_np(
            np.floor(norm_val + np.float32(0.5)).astype(np.int64)
        )
        norm_inv = cache[byte_c]
        score = (w32 - (w32 / (one + (freq * norm_inv)
                               .astype(np.float32)).astype(np.float32))
                 .astype(np.float32)).astype(np.float32)
        keep = freq > 0
        yield pd.DataFrame({
            "gid": piv.index.to_numpy(dtype=np.int64)[keep],
            "score": score[keep],
        })

    schema = T.StructType([
        T.StructField("gid", T.LongType()),
        T.StructField("score", T.FloatType()),
    ])
    scored = (
        rows.repartition("gid")
        .mapInPandas(score_part, schema=schema)
    )

    deleted = searcher.deleted_gids()
    if deleted is not None and len(deleted):
        ddf = searcher.spark.createDataFrame(
            pd.DataFrame({"gid": deleted}), "gid long"
        )
        scored = scored.join(F.broadcast(ddf), "gid", "left_anti")
    return scored.orderBy(F.desc("score"), F.asc("gid")).limit(k)
