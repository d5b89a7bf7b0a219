"""Segment-based inverted index build.

Spark-first shape of Lucene's indexing dataflow (SURVEY.md §3a):

  - A *segment* is the unit of checkpoint/commit: one ``applyInPandas``
    group builds one segment (Spark tasks are the DocumentsWriterPerThreads;
    ``core/index/DocumentsWriterPerThreadPool.java:85-125``).
  - Per segment we emit, as one union-schema DataFrame written
    ``partitionBy("row_type")``:
      * ``post`` rows — one per (term, 128-doc block): PFOR-compressed doc
        gaps / freqs / norms / position deltas + the block's competitive
        (freq, norm) impact frontier (mirrors ``Lucene90PostingsWriter`` +
        ``CompetitiveImpactAccumulator``; norms ride along per block so
        query-time scoring needs no join).
      * ``term`` rows — per-segment term stats (doc_freq, total_term_freq),
        the term-dictionary analog (blocktree+FST replaced by a sorted
        Parquet table with min/max stats).
      * ``doc`` rows — (gid, key, doc_len, norm_b), the docs/norms tables.
  - A JSONL *manifest* (``core/index/SegmentInfos.java`` analog) commits one
    line per build batch with per-segment lineage + metrics; a killed build
    resumes from the last committed line.

Global docIDs (``gid``) are dense int64s. When the corpus has no natural id,
segment assignment is ``xxhash64(key) % n_segments`` and gids are
``segment_base + rank_within_segment(key)`` — deterministic, and the
in-segment sort by key mirrors Lucene's index-time docID assignment
(FIXTURES.md pins doc order = url order).
"""

from __future__ import annotations

import os
import time
from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.analysis import analyze_batch
from ..functions.bm25 import BM25Scorer  # noqa: F401 (re-export convenience)
from ..functions.blocks import Postings, write_blocks
from ..functions.smallfloat import int_to_byte4_np
from ..plans.fields import DEFAULT_FIELD, FIELD_SEP
from .commit import (  # noqa: F401 (read_manifest re-exported)
    BUILD_CONFIG_KEYS, FORMAT_VERSION, GID_SCHEMA, MERGED_SCHEMA, STAGING_SCHEMA,
    TERMS_SCHEMA, Commit, append_manifest, batch_path, labelled, read_manifest,
    read_segstats, read_table, write_stats,
)

def _resolve_char_filters(char_filter):
    """Normalize the ``char_filter`` argument into a chain of
    (single-doc-with-offsets unavailable? no —) triples
    ``(fingerprint, strip_offsets_fn, strip_batch_fn)``.

    Accepted: ``"html"`` (HTMLStripCharFilter, ``functions/html.py``), a
    ``functions/charfilter.NormalizeCharMap`` (MappingCharFilter), or a
    list/tuple chaining them in application order (the reference nests
    CharFilters the same way — initReader wraps readers outermost-last).
    """
    from ..functions.charfilter import NormalizeCharMap
    from ..functions.html import html_strip_batch, html_strip_offsets

    items = (
        list(char_filter) if isinstance(char_filter, (list, tuple))
        else [char_filter]
    )
    out = []
    for it in items:
        if it == "html":
            out.append(("html", html_strip_offsets, html_strip_batch))
        elif isinstance(it, NormalizeCharMap):
            out.append((f"map:{it.fingerprint()}", it.strip_offsets,
                        it.strip_batch))
        else:
            raise ValueError(f"unknown char_filter: {it!r}")
    return out


def char_filter_fingerprint(char_filter) -> "str | None":
    """Stable id of a char_filter chain for stats.json / append guard."""
    if char_filter is None:
        return None
    return "+".join(fp for fp, _o, _b in _resolve_char_filters(char_filter))


def invert_segment(
    seg_id: int,
    gids: np.ndarray,
    keys: np.ndarray,
    texts: pd.Series,
    with_positions: bool = True,
    field: str = DEFAULT_FIELD,
    sort_vals: "np.ndarray | None" = None,
    with_offsets: bool = False,
    with_payloads: bool = False,
    token_filter=None,
    char_filter: "str | None" = None,
    synonyms=None,
    stream_filter=None,
) -> pd.DataFrame:
    """Analyze + invert one segment's docs into union-schema staging rows.

    ``synonyms``: optional ``functions/synonyms.SynonymMap`` — index-time
    synonym expansion (SynonymGraphFilter + flatten semantics: outputs
    stacked at the match's start position, norms overlap-discounted).
    Applied BEFORE ``token_filter`` (synonyms on surface forms, stemming
    over the union — the usual EnglishAnalyzer chain order).

    ``char_filter="html"`` runs HTMLStripCharFilter (``functions/html.py``)
    ahead of the tokenizer, the initReader position of a CharFilter in the
    reference's analyzer chain (``core/analysis/Analyzer.java`` initReader;
    ``HTMLStripCharFilter.jflex``). With ``with_offsets`` the per-token
    offsets are mapped through the filter's BaseCharFilter correction map,
    so stored offsets point into the ORIGINAL html — what the reference's
    offset-based highlighting does over char-filtered fields.

    ``token_filter``: optional per-term mapping (e.g. the Porter stem of
    ``functions/stem.py``) applied at the VOCABULARY level — the batch is
    dictionary-encoded anyway, so each distinct surface form maps once
    and colliding stems re-unify before term-ordering (the indexing-chain
    position of PorterStemFilter in EnglishAnalyzer.createComponents).
    Queries against such an index must map their terms with the same
    filter (``plans/query.py map_terms``), the analyzer contract.

    Pure pandas/numpy — runs inside applyInPandas but unit-testable without
    Spark. ``gids`` must be sorted ascending (docID order within segment).

    ``field``: which index field this text belongs to (FieldInfos analog).
    Non-default fields store QUALIFIED term keys (``plans/fields.py``) and
    emit only postings + term-stat + fieldstat rows — the doc/segstat rows
    belong to the default field's pass. Norms are per (doc, field) by
    construction: each field's pass encodes its own doc lengths into its
    blocks (``core/index/IndexingChain.java:1103-1117``).
    """
    gids = np.asarray(gids, dtype=np.int64)
    assert len(gids) == 0 or (np.diff(gids) > 0).all(), "gids must be strictly increasing"
    is_default = field == DEFAULT_FIELD
    prefix = "" if is_default else f"{field}{FIELD_SEP}"
    if with_offsets and not with_positions:
        raise ValueError("with_offsets requires with_positions")
    if with_payloads and not with_positions:
        raise ValueError("with_payloads requires with_positions")
    if char_filter is not None:
        filters = _resolve_char_filters(char_filter)
        if with_offsets:
            # per-doc strips with BaseCharFilter correction maps (one per
            # filter, composed right-to-left on the token offsets below)
            vals = (
                texts.astype("string").fillna("").tolist()
                if isinstance(texts, pd.Series)
                else ["" if v is None else str(v) for v in list(texts)]
            )
            corr_maps = []
            stripped = []
            for v in vals:
                maps = []
                for _, strip_off, _b in filters:
                    v, cpos, cdiff = strip_off(v)
                    maps.append((cpos, cdiff))
                stripped.append(v)
                corr_maps.append(maps)
            texts = pd.Series(stripped, dtype="string")
        else:
            for _, _o, strip_batch in filters:
                texts = strip_batch(texts)
    batch = analyze_batch(
        texts, with_offsets=with_offsets, payload_delim=with_payloads
    )
    if char_filter is not None and with_offsets and len(batch.tok_doc_idx):
        # correctOffset per token: corrected = off + diff of the last map
        # entry at position <= off (monotone, so delta encoding stays
        # valid); with a filter chain, maps compose innermost-first
        # (reversed application order), the nested-CharFilter semantics
        st = batch.tok_starts.astype(np.int64)
        en = batch.tok_ends.astype(np.int64)
        for d in np.unique(batch.tok_doc_idx):
            sel = batch.tok_doc_idx == d
            for cpos, cdiff in reversed(corr_maps[int(d)]):
                if not len(cpos):
                    continue
                ix = np.searchsorted(cpos, st[sel], side="right") - 1
                st[sel] += np.where(ix >= 0, cdiff[np.maximum(ix, 0)], 0)
                ix = np.searchsorted(cpos, en[sel], side="right") - 1
                en[sel] += np.where(ix >= 0, cdiff[np.maximum(ix, 0)], 0)
        batch.tok_starts = st
        batch.tok_ends = en
    if synonyms is not None:
        from ..functions.synonyms import expand_synonyms

        batch = expand_synonyms(batch, synonyms)
    if stream_filter is not None:
        # stream-level token filter (e.g. functions/ngram.NGramFilter):
        # any object with .apply(AnalyzedBatch) -> AnalyzedBatch
        batch = stream_filter.apply(batch)
    doc_lens = batch.doc_lens.astype(np.int64)
    norms_by_doc = int_to_byte4_np(doc_lens)

    # ---- token -> (term, gid) pair aggregation, fully vectorized.
    # Dictionary-encode in Arrow: per-token work stays on int codes; term
    # strings materialize once per unique term (PyUnicode churn is the
    # multi-core scaling killer at millions of tokens per task).
    import pyarrow.compute as pc

    dict_enc = pc.dictionary_encode(batch.tok_terms_pa)
    codes = dict_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dict_vals = np.asarray(dict_enc.dictionary.to_numpy(zero_copy_only=False), dtype=object)
    if token_filter is not None:
        # stem each DISTINCT surface form once, re-unify colliding stems
        mapped = np.array([token_filter(t) for t in dict_vals], dtype=object)
        dict_vals, inv = np.unique(mapped, return_inverse=True)
        codes = inv[codes]
    sort_perm = np.argsort(dict_vals)  # code-point order == UTF-8 byte order
    rank = np.empty(len(dict_vals), dtype=np.int64)
    rank[sort_perm] = np.arange(len(dict_vals))
    tc = rank[codes]
    uniq_terms = dict_vals[sort_perm]
    if prefix:
        # constant prefix preserves the sorted term order within the field
        uniq_terms = np.array([prefix + t for t in uniq_terms], dtype=object)
    tok_gid = gids[batch.tok_doc_idx]
    tok_doc = batch.tok_doc_idx
    # lexsort by (term, gid); stable, so within a (term, doc) pair tokens
    # keep ascending position order
    order = np.lexsort((tok_gid, tc))
    tc_s = tc[order]
    gid_s = tok_gid[order]
    doc_s = tok_doc[order]
    pos_s = batch.tok_positions[order].astype(np.int64)

    n_tok = len(tc_s)
    n_pairs_total = 0
    n_terms_total = 0
    rows: list[pd.DataFrame] = []
    if n_tok:
        new_pair = np.empty(n_tok, dtype=bool)
        new_pair[0] = True
        new_pair[1:] = (tc_s[1:] != tc_s[:-1]) | (gid_s[1:] != gid_s[:-1])
        pair_start = np.nonzero(new_pair)[0]
        n_pairs = len(pair_start)
        pair_id = np.cumsum(new_pair) - 1
        freq_p = np.bincount(pair_id, minlength=n_pairs).astype(np.int64)
        tc_p = tc_s[pair_start]
        gid_p = gid_s[pair_start]
        norm_p = norms_by_doc[doc_s[pair_start]].astype(np.int64)

        # position deltas (first = absolute position, then gaps)
        pos_delta = pos_s.copy()
        pos_delta[1:] -= pos_s[:-1]
        pos_delta[pair_start] = pos_s[pair_start]

        # ---- per-term stats
        new_term = np.empty(n_pairs, dtype=bool)
        new_term[0] = True
        new_term[1:] = tc_p[1:] != tc_p[:-1]
        term_start = np.nonzero(new_term)[0]
        term_id_of_pair = np.cumsum(new_term) - 1
        doc_freq_t = np.bincount(term_id_of_pair).astype(np.int64)
        ttf_t = np.bincount(term_id_of_pair, weights=freq_p).astype(np.int64)
        term_codes_present = tc_p[term_start]
        n_pairs_total = n_pairs
        n_terms_total = len(term_start)

        # ---- blocks: the shared writer cuts 128 docs per term and encodes
        streams = {}
        if with_positions:
            streams["positions"] = pos_delta
        if with_offsets:
            # start offsets ascend with positions within a (term, doc) pair,
            # so the same delta-with-per-pair-absolute-reset encoding applies
            # (Lucene90PostingsWriter startOffset deltas + length stream)
            st_s = batch.tok_starts[order].astype(np.int64)
            en_s = batch.tok_ends[order].astype(np.int64)
            st_delta = st_s.copy()
            st_delta[1:] -= st_s[:-1]
            st_delta[pair_start] = st_s[pair_start]
            streams["off_starts"] = st_delta
            streams["off_lens"] = en_s - st_s
        if with_payloads:
            # raw per-occurrence values, position-aligned — no delta (values
            # are arbitrary, not monotone; PFOR handles small ints directly)
            streams["payloads"] = batch.tok_payloads[order]
        block_start, blk = write_blocks(
            tc_p, Postings(gid_p, freq_p, norm_p, streams)
        )
        post_cols = {
            "row_type": "post",
            "seg": np.int64(seg_id),
            "term": pd.Series(uniq_terms[tc_p[block_start]], dtype="string"),
            **{c: blk[c] for c in ("block_ord", "doc_count", "first_gid",
                                   "last_gid", "gids", "freqs", "norms")},
            "positions": blk.get("positions", [None] * len(block_start)),
            "imp_freqs": blk["imp_freqs"],
            "imp_norms": blk["imp_norms"],
        }
        for c in ("off_starts", "off_lens", "payloads"):
            if c in blk:
                post_cols[c] = blk[c]
        post = pd.DataFrame(post_cols)
        term_rows = pd.DataFrame(
            {
                "row_type": "term",
                "seg": np.int64(seg_id),
                "term": pd.Series(uniq_terms[term_codes_present], dtype="string"),
                "doc_freq": doc_freq_t,
                "total_term_freq": ttf_t,
            }
        )
        rows.extend([post, term_rows])

    if is_default:
        doc_cols = {
            "row_type": "doc",
            "seg": np.int64(seg_id),
            "gid": gids,
            "key": pd.Series(np.asarray(keys, dtype=object), dtype="string"),
            "doc_len": doc_lens.astype(np.int32),
            "norm_b": norms_by_doc.astype(np.int32),
        }
        if sort_vals is not None:
            # index-sort key per doc: gids were assigned in sort order, so
            # gid order within the segment IS sort order (IndexSorter)
            doc_cols["sort_val"] = np.asarray(sort_vals, dtype=np.int64)
        doc_rows = pd.DataFrame(doc_cols)
        rows.append(doc_rows)
        seg_stat = pd.DataFrame(
            {
                "row_type": ["segstat"],
                "seg": [np.int64(seg_id)],
                "s_n_docs": [np.int64(len(gids))],
                "s_doc_count": [np.int64(int((doc_lens > 0).sum()))],
                "s_sum_dl": [np.int64(int(doc_lens.sum()))],
                "s_max_gid": [np.int64(int(gids.max())) if len(gids) else np.int64(-1)],
                "s_n_terms": [np.int64(n_terms_total)],
                "s_n_postings": [np.int64(n_pairs_total)],
            }
        )
        rows.append(seg_stat)
    else:
        # per-(doc, field) length rows for EXTRA fields (docs with >=1 token
        # only): lets a purging merge subtract exactly the reclaimed docs'
        # contribution from the field's docCount/sumTotalTermFreq without
        # decoding postings (the per-field liveDocs stats the SegmentMerger
        # recomputes by streaming; here a tiny metadata row instead)
        nz = doc_lens > 0
        if nz.any():
            fdoc_rows = pd.DataFrame(
                {
                    "row_type": "fdoc",
                    "seg": np.int64(seg_id),
                    "gid": gids[nz],
                    "term": pd.Series(
                        np.full(int(nz.sum()), field, dtype=object), dtype="string"
                    ),  # column reused: field name
                    "doc_len": doc_lens[nz].astype(np.int32),
                }
            )
            rows.append(fdoc_rows)
    # per-field collection stats (idf docCount + avgdl inputs are PER FIELD:
    # BM25Similarity.computeWeight uses the field's CollectionStatistics)
    field_stat = pd.DataFrame(
        {
            "row_type": ["fieldstat"],
            "seg": [np.int64(seg_id)],
            "term": pd.Series([field], dtype="string"),  # column reused: field name
            "s_doc_count": [np.int64(int((doc_lens > 0).sum()))],
            "s_sum_dl": [np.int64(int(doc_lens.sum()))],
        }
    )
    rows.append(field_stat)
    # Assemble the union-schema frame column-by-column, bypassing pd.concat:
    # object-None padded columns made concat run elementwise NA checks over
    # every cell (~14% of invert wall). Integer columns become nullable
    # Int64 arrays built straight from (values, mask) — exact for gids
    # beyond 2^53 and null-preserving through Arrow; the rest pad with
    # object None.
    numeric = {
        "seg", "block_ord", "doc_count", "first_gid", "last_gid", "gid",
        "doc_len", "norm_b", "doc_freq", "total_term_freq",
        "s_n_docs", "s_doc_count", "s_sum_dl", "s_max_gid", "s_n_terms",
        "s_n_postings", "sort_val",
    }
    out: dict = {}
    sizes = [len(f) for f in rows]
    total = sum(sizes)
    for name in STAGING_SCHEMA.fieldNames():
        if name in numeric:
            vals = np.zeros(total, dtype=np.int64)
            mask = np.ones(total, dtype=bool)  # True = missing
            at = 0
            for frame, n in zip(rows, sizes):
                if name in frame.columns:
                    vals[at : at + n] = frame[name].to_numpy(dtype=np.int64)
                    mask[at : at + n] = False
                at += n
            out[name] = pd.arrays.IntegerArray(vals, mask)
        else:
            parts = [
                np.asarray(frame[name], dtype=object)
                if name in frame.columns
                else np.full(n, None, dtype=object)
                for frame, n in zip(rows, sizes)
            ]
            out[name] = np.concatenate(parts) if len(parts) > 1 else parts[0]
    return pd.DataFrame(out)


# --------------------------------------------------------------------- build


SEG_SHIFT = 40  # sparse gid = (seg << SEG_SHIFT) | rank_within_segment


def prepare_corpus(
    corpus: DataFrame,
    *,
    key_col: str,
    text_col: str,
    gid_col: str | None = None,
    n_segments: int = 8,
    dense_gids: bool = False,
    extra_fields: "dict[str, str] | None" = None,
    sort_by: "str | None" = None,
) -> tuple[DataFrame, dict]:
    """Attach deterministic (seg, gid) columns to a corpus.

    With ``gid_col``: segments are contiguous gid ranges (Parquet min/max
    stats prune resumed batches). Without: seg = xxhash64(key) % n_segments
    and gid orders docs by (segment, key). Default is *sparse* gids
    (seg << 40 | rank) which need no extra pass; ``dense_gids=True`` adds a
    count pass for Lucene-style dense numbering (DocIDMerger offset add) —
    within-segment doc gaps are identical either way.
    """
    xf_cols = [
        F.col(c).alias(f"xf_{f}") for f, c in sorted((extra_fields or {}).items())
    ]
    if gid_col is not None:
        bounds = corpus.agg(
            F.min(gid_col).alias("lo"), F.max(gid_col).alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        lo, hi = int(bounds["lo"]), int(bounds["hi"])
        span = hi - lo + 1
        per = max(1, -(-span // n_segments))  # ceil
        df = corpus.select(
            ((F.col(gid_col) - F.lit(lo)) / F.lit(per)).cast("long").alias("seg"),
            F.col(gid_col).cast("long").alias("gid"),
            F.col(key_col).cast("string").alias("key"),
            F.col(text_col).alias("text"),
            *xf_cols,
        )
        meta = {"mode": "gid", "lo": lo, "hi": hi, "n_docs": int(bounds["n"])}
        return df, meta

    sv_cols = (
        [F.expr(sort_by).cast("long").alias("sv")] if sort_by is not None else []
    )
    with_seg = corpus.select(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_segments)).cast("long").alias("seg"),
        F.col(key_col).cast("string").alias("key"),
        F.col(text_col).alias("text"),
        *sv_cols,
        *xf_cols,
    )
    if not dense_gids:
        df = with_seg.withColumn("base", (F.col("seg") * F.lit(1 << SEG_SHIFT)).cast("long"))
        return df, {"mode": "hash", "dense": False}
    counts = {int(r["seg"]): int(r["n"]) for r in with_seg.groupBy("seg").agg(F.count("*").alias("n")).collect()}
    bases, acc = {}, 0
    for s in range(n_segments):
        bases[s] = acc
        acc += counts.get(s, 0)
    base_expr = F.create_map(*[F.lit(x) for kv in bases.items() for x in kv])
    df = with_seg.withColumn("base", base_expr[F.col("seg")])
    meta = {"mode": "hash", "dense": True, "counts": counts, "bases": bases, "n_docs": acc}
    return df, meta


@labelled("indexer.build")
def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    *,
    key_col: str,
    text_col: str,
    gid_col: str | None = None,
    n_segments: int = 8,
    batch_segments: int | None = None,
    with_positions: bool = True,
    with_offsets: bool = False,
    with_payloads: bool = False,
    dense_gids: bool = False,
    append: bool = False,
    fail_after_batches: int | None = None,
    extra_fields: "dict[str, str] | None" = None,
    sort_by: "str | None" = None,
    sort_ascending: bool = True,
    token_filter=None,
    char_filter: "str | None" = None,
    synonyms=None,
    stream_filter=None,
) -> dict:
    """Build (or resume) the index. Returns summary metrics.

    ``stream_filter``: a stream-level token filter applied after synonyms
    (e.g. ``functions/ngram.NGramFilter`` / ``EdgeNGramFilter``); must
    expose ``.apply(AnalyzedBatch)`` and ``.fingerprint()`` (recorded in
    stats.json; appends must present the same filter).

    ``char_filter="html"``: run HTMLStripCharFilter over ``text_col`` (and
    every extra field) before tokenization — index web pages straight off
    the raw html column. See ``invert_segment``.

    ``synonyms``: a ``functions/synonyms.SynonymMap`` applied at invert
    time (index-time SynonymGraphFilter); its fingerprint is recorded in
    stats.json and appends must present the same map (analyzer contract).

    ``extra_fields``: additional indexed text fields, ``{field: column}``
    (``text_col`` is the default field). Each field gets its own postings
    (qualified term keys), norms, and collection stats — the multi-field
    document model (``core/index/FieldInfos.java``); query with
    ``field:term`` syntax.

    ``append=True`` adds the corpus as NEW segments to an existing index
    (NRT-style incremental refresh, DirectoryReader.openIfChanged analog):
    batch and segment ids continue after the committed ones. With the
    default sparse gids, appended docIDs can never collide; with
    ``gid_col`` the caller must supply non-overlapping gids.

    ``fail_after_batches`` injects a crash after N committed batches — the
    kill/resume test hook (FIXTURES.md §6).

    ``sort_by``: index-time sort (IndexWriterConfig.setIndexSort,
    ``core/index/IndexSorter.java``): a corpus column (or SQL expression
    over the corpus) cast to long; each segment's docs are sorted by
    (sort value, key) and gids assigned in that order, so gid order
    within a segment IS sort order. The per-doc key is stored as
    ``sort_val`` on the doc rows, and the first k docs of every segment
    are exactly its k best by the sort — the early-terminating sorted
    collection Lucene gets from TopFieldCollector over a sorted index
    (``Searcher.sorted_index_topk``). Requires engine-assigned gids
    (hash mode): an explicit ``gid_col`` fixes docID order and conflicts
    with the sort. Merges preserve the invariant (gids never change and
    doc rows are left in place); appends must pass the same ``sort_by``.
    """
    if sort_by is not None and gid_col is not None:
        raise ValueError("sort_by requires engine-assigned gids (no gid_col)")
    if sort_by is not None and dense_gids:
        raise ValueError(
            "sort_by requires sparse gids (seg << SEG_SHIFT bases): the "
            "early-terminating reader derives per-segment head ranges from "
            "them"
        )
    t_start = time.time()
    # stats.json build config: fixed at creation (IndexOptions per field,
    # the analyzer chain, IndexWriterConfig.setIndexSort), so a mismatched
    # append is rejected BEFORE any batch is built/committed
    config = {k: v for k, v in {
        "index_sort": sort_by is not None and {
            "field": sort_by, "ascending": bool(sort_ascending)},
        "with_offsets": bool(with_offsets),
        "with_payloads": bool(with_payloads),
        "char_filter": char_filter_fingerprint(char_filter),
        "synonyms_fp": synonyms is not None and synonyms.fingerprint(),
        "stream_filter_fp": stream_filter is not None and stream_filter.fingerprint(),
    }.items() if v}
    commit = Commit.load(index_dir)
    prior = commit.stats
    if prior is not None:
        for key, arg in (("with_offsets", "with_offsets"), ("with_payloads", "with_payloads"),
                         ("char_filter", "char_filter"), ("synonyms_fp", "synonyms"),
                         ("stream_filter_fp", "stream_filter")):
            if prior.get(key) != config.get(key):
                raise ValueError(
                    f"{arg} must match the existing index (IndexOptions and the "
                    "analyzer chain are fixed at creation)"
                )
        if prior.get("index_sort") != config.get("index_sort"):
            raise ValueError(
                f"index is sorted by {prior.get('index_sort')}; this call sorts "
                f"by {config.get('index_sort')}: sort_by/sort_ascending must "
                "match (IndexWriterConfig.setIndexSort is fixed at creation)"
            )
    batch_offset = 0
    seg_offset = 0
    if append and commit.batches:
        if batch_segments is None:
            batch_segments_eff = n_segments
        else:
            batch_segments_eff = batch_segments
        n_batches_job = -(-n_segments // batch_segments_eff)
        last = commit.append_jobs[-1] if commit.append_jobs else None
        if last is not None and not all(
            b in commit.batches
            for b in range(last["batch_offset"], last["batch_offset"] + last["n_batches"])
        ):
            # resume the crashed append job at its original offsets
            batch_offset = last["batch_offset"]
            seg_offset = last["seg_offset"]
        else:
            batch_offset = max(commit.batches) + 1
            seg_offset = 1 + max(commit.segments, default=-1)
            append_manifest(
                index_dir,
                {
                    "type": "append_job",
                    "batch_offset": batch_offset,
                    "seg_offset": seg_offset,
                    "n_batches": n_batches_job,
                    "ts": time.time(),
                },
            )
    df, meta = prepare_corpus(
        corpus, key_col=key_col, text_col=text_col, gid_col=gid_col,
        n_segments=n_segments, dense_gids=dense_gids, extra_fields=extra_fields,
        sort_by=sort_by,
    )
    if seg_offset:
        df = df.withColumn("seg", F.col("seg") + F.lit(seg_offset))
        if meta.get("dense") is False and gid_col is None:
            df = df.withColumn("base", (F.col("seg") * F.lit(1 << SEG_SHIFT)).cast("long"))
    mode = meta["mode"]
    if batch_segments is None:
        batch_segments = n_segments

    seg_batches = [
        (batch_offset + bi, [seg_offset + s for s in range(b, min(b + batch_segments, n_segments))])
        for bi, b in enumerate(range(0, n_segments, batch_segments))
    ]

    def make_builder(with_positions: bool, mode: str):
        fields = sorted((extra_fields or {}).keys())

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            seg = int(pdf["seg"].iloc[0])
            if sort_by is not None:
                # index sort: docID order within the segment = sort order
                pdf = pdf.sort_values(
                    ["sv", "key"], ascending=[sort_ascending, True],
                    kind="mergesort",
                )
            else:
                pdf = pdf.sort_values(
                    "key" if mode == "hash" else "gid", kind="mergesort"
                )
            if mode == "hash":
                gids = (np.arange(len(pdf), dtype=np.int64) + int(pdf["base"].iloc[0]))
            else:
                gids = pdf["gid"].to_numpy(dtype=np.int64)
            keys = pdf["key"].to_numpy()
            sv = (
                pdf["sv"].to_numpy(dtype=np.int64)
                if sort_by is not None else None
            )
            frames = [invert_segment(
                seg, gids, keys, pdf["text"],
                with_positions=with_positions,
                sort_vals=sv, with_offsets=with_offsets,
                with_payloads=with_payloads, token_filter=token_filter,
                char_filter=char_filter, synonyms=synonyms,
                stream_filter=stream_filter,
            )]
            for f in fields:
                frames.append(invert_segment(
                    seg, gids, keys, pdf[f"xf_{f}"],
                    with_positions=with_positions, field=f,
                    with_offsets=with_offsets, with_payloads=with_payloads,
                    token_filter=token_filter, char_filter=char_filter,
                    synonyms=synonyms, stream_filter=stream_filter,
                ))
            return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)

        return fn

    total_new = 0
    for bi, segs in seg_batches:
        if bi in commit.batches:
            continue
        t0 = time.time()
        sub = df.filter(F.col("seg").isin([int(s) for s in segs]))
        out_path = os.path.join(index_dir, batch_path(bi))
        builder = make_builder(with_positions, mode)
        staged = sub.groupBy("seg").applyInPandas(builder, schema=STAGING_SCHEMA)
        staged.write.mode("overwrite").partitionBy("row_type").parquet(out_path)
        wall = time.time() - t0
        # lineage + metrics from the tiny segstat rows (driver-side pyarrow
        # read of a handful of rows — no extra Spark job)
        seg_pdf = read_segstats(out_path)
        seg_stats = {
            int(r.seg): {
                "n_docs": int(r.s_n_docs),
                "n_terms": int(r.s_n_terms),
                "n_postings": int(r.s_n_postings),
            }
            for r in seg_pdf.itertuples(index=False)
        }
        n_docs_batch = sum(s["n_docs"] for s in seg_stats.values())
        append_manifest(
            index_dir,
            {
                "batch": bi,
                "status": "committed",
                "segments": segs,
                "per_segment": seg_stats,
                "n_docs": n_docs_batch,
                "wall_sec": round(wall, 3),
                "docs_per_sec": round(n_docs_batch / wall, 1) if wall > 0 else None,
                "lineage": {"mode": mode, "n_segments": n_segments, "batch_segments": batch_segments},
                "ts": time.time(),
            },
        )
        total_new += n_docs_batch
        if fail_after_batches is not None and bi + 1 >= fail_after_batches:
            raise RuntimeError(f"injected failure after batch {bi}")

    _finalize(spark, index_dir, config)
    return {
        "n_docs_new": total_new,
        "n_batches": len(seg_batches),
        "wall_sec": time.time() - t_start,
        "meta": meta,
    }


def _write_terms_tables(terms, index_dir: str) -> None:
    """Write the sorted term dictionary AND its reversed twin, each via
    write-to-temp + atomic rename.

    ``terms/``      term-sorted   -> prefix seeks prune parquet row groups
    ``terms_rev/``  rterm-sorted  -> suffix seeks (leading wildcards: *ing,
                                     .*foo) become prefix seeks on rterm

    The reversed table is the Spark analog of indexing reversed terms for
    leading-wildcard queries (Lucene's ReversedWildcardFilter trade — pay
    a second small dictionary to avoid a full-dictionary scan per query;
    the blocktree automaton intersect has no Parquet analog).

    The twin is derived by READING BACK the just-written ``terms`` parquet
    — never by re-executing the caller's ``terms`` plan. That plan is the
    groupBy shuffle over every segment's term rows; running it twice
    doubled finalize (the round-4 high-parallelism build regression). The
    read-back job is a projection + within-partition sort over the compact
    vocab table, O(|vocab|) with no shuffle."""
    import shutil

    def _commit(df, name: str) -> None:
        tmp = os.path.join(index_dir, f"{name}_new")
        df.write.mode("overwrite").parquet(tmp)
        final = os.path.join(index_dir, name)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)

    _commit(terms, "terms")
    rev = (
        read_table(terms.sparkSession, index_dir, ["terms"], TERMS_SCHEMA)
        .withColumn("rterm", F.reverse(F.col("term")))
        .select("rterm", "term", "doc_freq", "total_term_freq")
        .sortWithinPartitions("rterm")
    )
    _commit(rev, "terms_rev")


@labelled("indexer.finalize")
def finalize_index(spark: SparkSession, index_dir: str) -> None:
    """Re-derive the global terms table and ``stats.json`` from the live
    units, keeping the build config of the prior ``stats.json``."""
    _finalize(spark, index_dir, {})


def _finalize(spark: SparkSession, index_dir: str, config: dict) -> None:
    """Global term stats + collection stats (idf/avgdl inputs are GLOBAL),
    over the LIVE units (the SegmentInfos view).

    Batch units contribute their per-segment term rows, segstat and
    fieldstat rows (deleted-but-unpurged docs still count — Lucene
    pre-merge semantics); merge units contribute survivor aggregates of
    their block metadata and their recorded ``unit_doc_stats`` /
    ``unit_field_stats``. A non-purging merge keeps every posting, so its
    view equals its inputs'; a purging one drops the docs it reclaimed.

    The terms table is the only Spark job (one groupBy shuffle), written
    sorted-within-partition so Parquet row-group min/max stats act as the
    term index (the FST analog). ``stats.json`` is written once, atomically:
    the prior file's build-config keys, then ``config`` (the caller's build
    config), then the derived stats and the format number.
    """
    commit = Commit.load(index_dir)
    units = commit.live_units
    batches = [batch_path(int(u["uid"][1:]), "term") for u in units if u["uid"].startswith("b")]
    merged = [u["path"] for u in units if u["uid"] in commit.merges]
    parts = []
    if batches:
        parts.append(read_table(spark, index_dir, batches, TERMS_SCHEMA))
    if merged:
        parts.append(
            read_table(spark, index_dir, merged, MERGED_SCHEMA).select(
                "term",
                F.col("doc_count").cast("long").alias("doc_freq"),
                F.col("freq_sum").alias("total_term_freq"),
            )
        )
    rows = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    terms = (
        rows.groupBy("term")
        .agg(
            F.sum("doc_freq").alias("doc_freq"),
            F.sum("total_term_freq").alias("total_term_freq"),
        )
        .sortWithinPartitions("term")
    )
    _write_terms_tables(terms, index_dir)

    prior = commit.stats or {}
    stats = {k: prior[k] for k in BUILD_CONFIG_KEYS if k in prior}
    stats.update(config)
    doc_stats = commit.doc_stats(units)
    stats.update(
        {
            "format": FORMAT_VERSION,
            "n_rows": doc_stats["n_rows"],
            "doc_count": doc_stats["doc_count"],
            "sum_total_term_freq": doc_stats["sum_dl"],
            "max_gid": commit.max_gid(),
            "fields": commit.field_stats(units),
        }
    )
    write_stats(index_dir, stats)


@labelled("indexer.delete")
def delete_docs(
    spark: SparkSession,
    index_dir: str,
    *,
    gids: "Iterable[int] | None" = None,
    query=None,
) -> dict:
    """Mark docs deleted (live-docs layer, Lucene90LiveDocsFormat analog).

    Deletes by explicit docIDs or by query (IndexWriter.deleteDocuments).
    Semantics are exactly Lucene's pre-merge behavior: deleted docs vanish
    from every search/count result, while collection stats, docFreq and
    norms still include them until a merge reclaims the space — so
    surviving docs' scores are UNCHANGED by a delete.

    The delete set is written as a parquet of gids + a manifest commit
    (the ``.liv`` bitset analog; append-only, unioned at read time).
    """
    from ..operators.search import Searcher

    if (gids is None) == (query is None):
        raise ValueError("exactly one of gids / query required")
    rel = Commit.load(index_dir).next_delete_path
    if gids is not None:
        df = spark.createDataFrame([(int(g),) for g in gids], "gid long")
    else:
        s = Searcher(spark, index_dir)
        node = query
        if isinstance(query, str):
            from ..plans.query import parse_query

            node = parse_query(query)
        df = s.candidates(node, k=1 << 62, prune=False).select("gid").distinct()
    return _commit_delete_df(spark, index_dir, df, rel)


def _commit_delete_df(spark, index_dir: str, df: DataFrame, rel: str) -> dict:
    """Write a gid DataFrame as a committed delete record (.liv analog)."""
    df.write.mode("overwrite").parquet(os.path.join(index_dir, rel))
    n = read_table(spark, index_dir, [rel], GID_SCHEMA).count()
    rec = {
        "type": "delete",
        "status": "committed",
        "path": rel,
        "n_docs": int(n),
        "ts": time.time(),
    }
    append_manifest(index_dir, rec)
    return rec


def update_documents(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    key_col: str,
    text_col: str,
    gid_col: str | None = None,
    n_segments: int = 4,
    with_positions: bool = True,
    with_offsets: bool = False,
    with_payloads: bool = False,
    extra_fields: "dict[str, str] | None" = None,
    sort_by: "str | None" = None,
    sort_ascending: bool = True,
) -> dict:
    """IndexWriter.updateDocument analog: replace every indexed doc whose
    key matches an incoming row's key, then add the incoming rows as new
    segments (``core/index/IndexWriter.java`` updateDocument = atomic
    delete-by-term + add; the replaced doc keeps its application key but
    gets a NEW docID, and its old copy stays deleted-but-counted in
    collection stats until a merge reclaims it).

    Keys absent from the index are plain adds (upsert semantics). The old
    gids are resolved DISTRIBUTED — incoming keys broadcast against the
    doc table, no collect — so an update batch of any size works.

    Crash window: the delete commits before the append job. A crash
    between them leaves the keys absent until the same call is re-run
    (the append resumes from its manifest record); Lucene's single-writer
    commit makes the pair atomic, this two-record form is the documented
    deviation.
    """
    from ..operators.search import Searcher

    keys = docs.select(
        F.col(key_col).cast("string").alias("key")
    ).distinct()
    searcher = Searcher(spark, index_dir)
    old_gids = (
        searcher.doc_rows()
        .join(F.broadcast(keys), on="key", how="left_semi")
        .select("gid")
        .distinct()
    )
    del_rec = _commit_delete_df(
        spark, index_dir, old_gids, searcher.commit.next_delete_path
    )
    add_stats = build_index(
        spark, docs, index_dir,
        key_col=key_col, text_col=text_col, gid_col=gid_col,
        n_segments=n_segments, with_positions=with_positions,
        with_offsets=with_offsets, with_payloads=with_payloads,
        extra_fields=extra_fields, append=True,
        sort_by=sort_by, sort_ascending=sort_ascending,
    )
    return {"n_deleted": del_rec["n_docs"], "add": add_stats}
