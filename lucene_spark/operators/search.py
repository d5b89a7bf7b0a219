"""Top-k BM25 search over the segment index.

Spark shape of Lucene's search lifecycle (SURVEY.md §3b):

  1. Driver plans the query (parse + rewrite, ``plans/query.py``) and pins
     GLOBAL stats — docCount/avgdl from ``stats.json``, per-term docFreq from
     the ``terms`` table (TermStates.build analog), read on the driver from
     the row groups whose footer term range can hold the term
     (``commit.TermDictionary``). idf/avgdl therefore match a single-index
     Lucene search exactly.
  2. The postings scan is a plain DataFrame filter ``term IN (...)`` over the
     block-row Parquet — predicate pushdown + column pruning do the term-
     dictionary seek (positions column only read for phrase queries). A
     ``search`` whose scan holds at most ``DRIVER_PLAN_POSTINGS`` postings
     collects it in one JVM-only job and runs the kernels below on the
     driver.
  3. Scoring runs in vectorized Arrow kernels:
       - single-term: ``mapInPandas`` straight over block rows (no shuffle);
       - boolean/phrase: blocks are exploded onto gid-range *buckets* and
         ``applyInPandas`` aligns all query terms' postings per bucket —
         the conjunction/disjunction/exclusion set ops are numpy sorted-array
         ops (ConjunctionDISI / DisjunctionSumScorer / ReqExclScorer).
     Bucket width is postings-volume targeted: ~``target_bucket_postings``
     query-term postings per bucket (from global docFreq stats), so bucket
     count grows linearly with corpus + query volume — the unit of scoring
     parallelism on a 1000-core cluster. Positional (phrase/proximity)
     frequencies run over flat candidate-keyed position arrays — global
     searchsorted passes, zero per-candidate Python.
     Score composition is float32-exact: each scorer node returns float32,
     parents sum children in double and cast to float32 once — the same cast
     points as ConjunctionScorer/DisjunctionSumScorer/ReqOptSumScorer.
  4. Block-max pruning (WANDScorer / ImpactsDISI analog), three levels, all
     before payload decode:
       a. seeded cross-partition θ (MaxScoreAccumulator analog): the driver
          exactly scores the single most-promising bucket — picked from an
          impact-metadata-only pass — and broadcasts its kth score into
          every kernel closure, so executors start warm;
       b. bucket-level: the plan's upper bound from per-term block-max
          frontiers vs θ = max(seeded θ, worker-local top-k heap);
       c. block-level, inside the bucket: per-term score-slack filtering
          for flat boolean trees + a required-term block-interval leapfrog
          (BlockMaxConjunction advanceShallow at block grain).
     θ from any k true scores is ≤ the global kth score, so pruning never
     changes results (CheckHits contract, tested pruned == exhaustive).
  5. Global top-k = orderBy(score desc, gid asc).limit(k) — Spark's
     TakeOrdered is exactly TopDocs.merge with Lucene's tie-break
     (HitQueue.java:78-84: score desc, docID asc); a driver-scored plan
     sorts the same way. searchAfter threads the cursor into the kernels,
     so deep pages stay pruned.
"""

from __future__ import annotations

import heapq
import math
import uuid
from dataclasses import dataclass, fields, replace

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.bm25 import BM25Scorer, avgdl as _avgdl, idf as _idf, norm_cache
from ..functions.similarity import BM25Sim
from ..functions.blocks import decode_gid_rows, read_blocks, sort_postings
from ..plans.fields import (
    DEFAULT_FIELD, FIELD_SEP, field_of as _field_of, local_term,
)
from ..plans.query import (
    BlendedQ,
    BoolQ,
    BoostQ,
    ConstScoreQ,
    DisMaxQ,
    DocValuesRangeQ,
    FuzzyQ,
    MatchAllQ,
    MultiPhraseQ,
    NearQ,
    PhraseQ,
    PrefixQ,
    RangeQ,
    RegexpQ,
    SloppyQ,
    SpanFirstQ,
    SpanNearQ,
    SpanPayloadCheckQ,
    SpanPositionRangeQ,
    SpanContainingQ,
    SpanWithinQ,
    SpanMultiQ,
    SpanGap,
    FunctionScoreQ,
    IntervalQ,
    IntervalExprQ,
    SpanNotQ,
    SpanOrQ,
    SynonymQ,
    TermInSetQ,
    TermQ,
    TermSetRefQ,
    WildcardQ,
    children,
    parse_query,
    query_terms,
    subtree,
    term_keys,
)
from .commit import (
    DOC_SCHEMA, FDOC_SCHEMA, GID_SCHEMA, POSTINGS_SCHEMA, TERMS_REV_SCHEMA,
    TERMS_SCHEMA, Commit, GidRowGroups, TermDictionary, job_label, read_gids,
    read_table,
)

__all__ = ["Searcher", "TermPostings", "eval_plan", "decode_term_blocks"]


# span nodes: one evaluation (_eval_span; SpanOrQ keeps a position-free
# fast path), one rewrite arm, one weight rule (_span_terms in make_ctx)
# and one span-source pruning rule (_span_needs)
_SPANS = (SpanFirstQ, SpanPositionRangeQ, SpanContainingQ, SpanWithinQ,
          SpanNearQ, SpanNotQ, SpanOrQ, SpanPayloadCheckQ)
# nodes scored through ScoreCtx.phrase_weights
_PHRASE_LIKE = (PhraseQ, MultiPhraseQ, NearQ, SloppyQ, IntervalQ,
                IntervalExprQ) + _SPANS

# BooleanQuery clause cap for scoring rewrites (IndexSearcher.java:81)
MAX_CLAUSE_COUNT = 1024

# constant-score multi-term rewrites enumerate at most this many terms into
# a driver-side TermInSet (AbstractMultiTermQueryConstantScoreWrapper
# BOOLEAN_REWRITE_TERM_COUNT_THRESHOLD = 16); bigger match sets stay a
# DataFrame plan (TermSetRefQ) and semi-join into the postings scan
BOOL_REWRITE_TERM_LIMIT = 16

# bucket sizing: target query-term postings per bucket task (the unit of
# boolean/phrase scoring parallelism) and the floor below which extra
# buckets are pure overhead
TARGET_BUCKET_POSTINGS = 1 << 19
MIN_BUCKET_POSTINGS = 1 << 10

# Searcher.search scores a plan on the driver when its postings volume
# (Σ docFreq, Σ totalTermFreq when positions are read) is at most this: one
# JVM-only scan job, then the kernel runs locally. On a 4-core host
# (local[4]) that beat the distributed plan at every volume measured: single
# term plans up to 1.3e5 postings, OR and phrase plans up to 4.7e5 (CHANGES.md
# has the figures); the layerbench ``search`` queries reach 7.5e4. Larger
# volumes are unmeasured and stay distributed. It is independent of
# ``target_bucket_postings``, which sizes buckets only.
DRIVER_PLAN_POSTINGS = 1 << 17

# a postings scan names at most this many terms in an IN filter; more go
# through a broadcast semi-join (an In expression with 100k literals blows
# up plan build, like TermInSetQuery's bulk path)
MAX_IN_TERMS = 64

_UNSET = object()  # deleted-gids cache sentinel

_REGEX_META = set("\\.^$*+?()[]{}|")


def _has_toplevel_alternation(pattern: str) -> bool:
    """True when an unescaped ``|`` sits at group depth 0 — then NO edge
    of the pattern is a sound pushdown anchor (``abc|xyz`` constrains
    neither prefix nor suffix)."""
    depth = 0
    esc = False
    for ch in pattern:
        if esc:
            esc = False
        elif ch == "\\":
            esc = True
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(0, depth - 1)
        elif ch == "|" and depth == 0:
            return True
    return False


def _wildcard_lex(pattern: str) -> "list[tuple[str, str]]":
    """Lex a wildcard pattern into (kind, char) pairs, kind in ``* ? lit``.
    ``\\X`` is the literal X whatever X is — Lucene WildcardQuery's
    WILDCARD_ESCAPE (core/search/WildcardQuery.java:42-76 toAutomaton)."""
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(("lit", pattern[i + 1]))
            i += 2
        elif ch in "*?":
            out.append((ch, ch))
            i += 1
        else:
            out.append(("lit", ch))
            i += 1
    return out


def _regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix of a regex — chars up to the first metachar,
    excluding a char modified by a following quantifier. Used to push a
    StartsWith into the sorted-terms scan before the full rlike (the FST
    automaton-intersection seek analog). A top-level alternation voids the
    anchor (``abc|xyz`` matches terms not starting with abc)."""
    if _has_toplevel_alternation(pattern):
        return ""
    out = []
    for i, ch in enumerate(pattern):
        if ch in _REGEX_META:
            break
        if i + 1 < len(pattern) and pattern[i + 1] in "*+?{":
            break
        out.append(ch)
    return "".join(out)


def _regex_literal_suffix(pattern: str) -> str:
    """Longest literal SUFFIX of a regex — the leading-wildcard seek key:
    reversed, it pushes a StartsWith into the rterm-sorted dictionary
    (``terms_rev``), the Spark analog of indexing reversed terms for
    ``.*foo`` patterns (Lucene's ReversedWildcardFilter / the blocktree
    automaton intersect running the suffix backward)."""
    if _has_toplevel_alternation(pattern):
        return ""
    out = []
    i = len(pattern) - 1
    while i >= 0:
        ch = pattern[i]
        if ch in _REGEX_META:
            break
        # a preceding backslash makes this char an escape payload, and a
        # preceding metachar region is unknown — stop conservatively
        if i > 0 and pattern[i - 1] == "\\":
            break
        out.append(ch)
        i -= 1
    return "".join(reversed(out))


@dataclass
class TermPostings:
    """Decoded postings of one term, flat-columnar.

    Positions are stored FLAT (one concatenated array + per-doc offsets) so
    the phrase/proximity kernels are pure vectorized numpy — no per-doc
    Python objects (the round-1 per-candidate loop was the scale killer
    flagged for ``ExactPhraseMatcher``-style workloads).
    """

    gids: np.ndarray  # int64, sorted asc
    freqs: np.ndarray  # int64
    norms: np.ndarray  # uint8
    pos_flat: "np.ndarray | None" = None  # int64, all docs' positions concat'd
    pos_starts: "np.ndarray | None" = None  # int64[n_docs+1] offsets into pos_flat
    # offsets mode only (IndexOptions ..._AND_OFFSETS): char offsets per
    # occurrence, aligned with pos_flat
    off_start_flat: "np.ndarray | None" = None
    off_end_flat: "np.ndarray | None" = None
    # payloads mode only: integer payload per occurrence, aligned with
    # pos_flat (PostingsEnum.getPayload analog)
    pay_flat: "np.ndarray | None" = None

    @property
    def positions(self) -> "list[np.ndarray] | None":
        """Per-doc position arrays (compat view over the flat storage)."""
        if self.pos_flat is None:
            return None
        return np.split(self.pos_flat, self.pos_starts[1:-1])

    def slice(self, lo: int, hi: int) -> "TermPostings":
        """Restrict to gid range [lo, hi) — a contiguous slice (gids sorted)."""
        a = int(np.searchsorted(self.gids, lo))
        b = int(np.searchsorted(self.gids, hi))
        if self.pos_flat is None:
            return TermPostings(self.gids[a:b], self.freqs[a:b], self.norms[a:b])
        pa, pb = int(self.pos_starts[a]), int(self.pos_starts[b])
        return TermPostings(
            self.gids[a:b], self.freqs[a:b], self.norms[a:b],
            self.pos_flat[pa:pb], self.pos_starts[a : b + 1] - pa,
            None if self.off_start_flat is None else self.off_start_flat[pa:pb],
            None if self.off_end_flat is None else self.off_end_flat[pa:pb],
            None if self.pay_flat is None else self.pay_flat[pa:pb],
        )


def decode_term_blocks(block_rows: pd.DataFrame, need_positions: bool = False,
                       need_offsets: bool = False,
                       need_payloads: bool = False) -> TermPostings:
    """Decode all block rows of ONE term into flat posting arrays.

    Rows are concatenated in first_gid order; if unit gid ranges interleave
    (tiered partial merges), ``sort_postings`` restores global order.
    Decoding is the shared block reader: one ``batch_decode_streams`` pass
    per column, no per-block Python.

    ``need_offsets`` additionally decodes the char-offset streams of an
    offsets-enabled index (same delta math as positions: per-doc runs are
    self-contained, so one global cumsum minus each doc's base suffices).
    ``need_payloads`` decodes the per-occurrence payload stream (raw
    values, no delta).
    """
    block_rows = block_rows.sort_values("first_gid", kind="mergesort")
    if not len(block_rows):
        return TermPostings(
            np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.uint8),
            np.empty(0, np.int64) if need_positions else None,
            np.zeros(1, np.int64) if need_positions else None,
            np.empty(0, np.int64) if need_offsets else None,
            np.empty(0, np.int64) if need_offsets else None,
            np.empty(0, np.int64) if need_payloads else None,
        )
    streams = ("positions",) * need_positions
    for need, cols, what in ((need_offsets, ("off_starts", "off_lens"), "offsets"),
                             (need_payloads, ("payloads",), "payloads")):
        if not need:
            continue
        if cols[0] not in block_rows.columns or block_rows[cols[0]].isna().any():
            raise ValueError(f"index stores no {what} (build with with_{what}=True)")
        streams += cols
    p, _ = sort_postings(read_blocks(block_rows, streams)[0])
    freqs = p.freq
    starts = np.empty(len(freqs) + 1, dtype=np.int64)
    starts[0] = 0
    np.cumsum(freqs, out=starts[1:])

    def _undelta(deltas: np.ndarray) -> np.ndarray:
        # per-doc delta runs: a global cumsum minus the value at each doc's
        # start reproduces per-doc values
        cs = np.cumsum(deltas)
        base = np.where(starts[:-1] > 0, cs[starts[:-1] - 1], 0)
        return cs - np.repeat(base, freqs)

    pos_flat = _undelta(p.streams["positions"]) if need_positions else None
    off_start = off_end = None
    if need_offsets:
        off_start = _undelta(p.streams["off_starts"])
        off_end = off_start + p.streams["off_lens"]
    return TermPostings(p.gid, freqs, p.norm.astype(np.uint8), pos_flat,
                        starts if need_positions else None, off_start, off_end,
                        p.streams.get("payloads"))


# ------------------------------------------------------------ plan evaluation


@dataclass
class ScoreCtx:
    weights: dict  # term key -> np.float32 weight (boost * idf, per-field stats)
    cache: np.ndarray  # float32[256] default-field norm-inverse cache
    phrase_weights: dict  # PhraseQ -> np.float32
    syn_weights: dict = None  # SynonymQ -> np.float32 (blended stats)
    boost_weights: dict = None  # BoostQ -> np.float32 (boost * idf, f32 mult)
    blended_weights: dict = None  # BlendedQ -> tuple[np.float32] per member
    doc_freqs: dict = None  # term key -> global docFreq (bucket-width targeting)
    caches: dict = None  # field -> float32[256] cache (per-field avgdl)
    sim: object = None  # Similarity (functions/similarity.py); BM25Sim default
    aux: dict = None  # term key -> per-term similarity constant (e.g. LM mu*p)
    # collection-model composites (SimilarityBase.scorer builds one
    # BasicSimScorer per TermStatistics; MultiSimilarity.MultiSimScorer
    # float32-sums them at the shared freq/norm):
    phrase_aux: dict = None  # phrase-like node -> tuple of per-term aux
    syn_aux: dict = None  # SynonymQ -> aux of (max df, summed ttf) pseudo-stats
    blended_aux: dict = None  # BlendedQ -> aux of (max df, summed ttf)

    def aux_for(self, term_key: str):
        return None if not self.aux else self.aux.get(term_key)

    def cache_for(self, term_key: str) -> np.ndarray:
        """Norm-inverse cache of the term's field (per-field avgdl —
        BM25Similarity uses the field's own CollectionStatistics)."""
        if not self.caches:
            return self.cache
        return self.caches.get(_field_of(term_key), self.cache)


def _score_term(tp: TermPostings, weight: np.float32, cache: np.ndarray,
                sim, aux=None) -> np.ndarray:
    return sim.score(tp.freqs, weight, cache[tp.norms], aux)


def eval_plan(node, postings: dict, ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate a query node -> (sorted gids, float32 scores).

    ``postings`` maps term -> TermPostings restricted to the current range.
    """
    if node is None:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    if isinstance(node, TermQ):
        tp = postings.get(node.term)
        if tp is None or not len(tp.gids):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        return tp.gids, _score_term(tp, ctx.weights[node.term],
                                    ctx.cache_for(node.term), ctx.sim,
                                    ctx.aux_for(node.term))
    if isinstance(node, PhraseQ):
        return _eval_phrase(node, postings, ctx)
    if isinstance(node, NearQ):
        return _eval_near(node, postings, ctx)
    if isinstance(node, SloppyQ):
        return _eval_sloppy(node, postings, ctx)
    if isinstance(node, IntervalQ):
        return _eval_interval(node, postings, ctx)
    if isinstance(node, IntervalExprQ):
        return _eval_interval_expr(node, postings, ctx)
    if isinstance(node, MultiPhraseQ):
        return _eval_multiphrase(node, postings, ctx)
    if isinstance(node, SpanOrQ):
        return _eval_span_or(node, postings, ctx)
    if isinstance(node, _SPANS):
        return _eval_span(node, postings, ctx)
    if isinstance(node, BoolQ):
        return _eval_bool(node, postings, ctx)
    if isinstance(node, SynonymQ):
        return _eval_synonym(node, postings, ctx)
    if isinstance(node, BlendedQ):
        return _eval_blended(node, postings, ctx)
    if isinstance(node, DisMaxQ):
        return _eval_dismax(node, postings, ctx)
    if isinstance(node, ConstScoreQ):
        gids, _ = eval_plan(node.child, postings, ctx)
        return gids, np.full(len(gids), np.float32(node.boost), dtype=np.float32)
    if isinstance(node, TermInSetQ):
        # nested TermInSetQuery: constant-score union of member postings
        gs = [
            tp.gids
            for tp in (postings.get(t) for t in node.terms)
            if tp is not None and len(tp.gids)
        ]
        if not gs:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        gids = np.unique(np.concatenate(gs))
        return gids, np.full(len(gids), np.float32(node.boost), dtype=np.float32)
    if isinstance(node, TermSetRefQ):
        # lazy constant-score set: all member postings arrive pre-unioned
        # under the node's virtual key (blocks of different member terms may
        # interleave/duplicate gids; unique gives the match set)
        tp = postings.get(node.name)
        if tp is None or not len(tp.gids):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        gids = np.unique(tp.gids)
        return gids, np.full(len(gids), np.float32(node.boost), dtype=np.float32)
    if isinstance(node, BoostQ):
        return _eval_boost(node, postings, ctx)
    if isinstance(node, FunctionScoreQ):
        return _eval_function_score(node, postings, ctx)
    raise TypeError(f"unknown node {node!r}")


# DoubleValuesSource tables: per-norm-byte factor in DOUBLE (Lucene's
# DoubleValues are double; the single float cast happens on the product)
def _fs_tables():
    from ..functions.smallfloat import LENGTH_TABLE

    dec = LENGTH_TABLE.astype(np.float64)
    return {
        "log1p_len": np.log(1.0 + dec),
        "inv_len": 1.0 / (1.0 + dec),
    }


_FS_TABLES = _fs_tables()


def _eval_function_score(node: FunctionScoreQ, postings: dict,
                         ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """FunctionScoreQuery.boostByValue: child scores times a per-doc
    double value, one float cast on the product
    (queries/function/FunctionScoreQuery.java MultiplicativeBoostValues-
    Source). The per-doc value derives from the norm-decoded length, so
    the multiply happens INSIDE the kernel before per-bucket top-k —
    reranking is exact without a second pass over the index."""
    gids, scores = eval_plan(node.child, postings, ctx)
    if not len(gids):
        return gids, scores
    # norm bytes are per (doc, field): restrict the lookup pool to the
    # node's declared field so a multi-field child can't make the factor
    # depend on which field's term happens to sort first. Virtual set
    # keys ("\x00set:…") are excluded — their field is unknowable here.
    parts = [
        (tp.gids, tp.norms)
        for key, tp in postings.items()
        if len(tp.gids)
        and isinstance(key, str) and not key.startswith("\x00")
        and _field_of(key) == node.field
    ]
    if not parts:
        # no scanned term belongs to the declared field: every hit's
        # value is "missing" → norm byte 0 (DoubleValuesSource.fromField
        # semantics for absent per-doc values)
        factor = np.full(len(gids), _FS_TABLES[node.value][0])
        return gids, (factor * scores.astype(np.float64)).astype(np.float32)
    all_g = np.concatenate([g for g, _ in parts])
    all_n = np.concatenate([n for _, n in parts])
    order = np.argsort(all_g, kind="mergesort")
    sg, sn = all_g[order], all_n[order]
    idx = np.minimum(np.searchsorted(sg, gids), len(sg) - 1)
    found = sg[idx] == gids
    norms = np.where(found, sn[idx], 0).astype(np.uint8)
    factor = _FS_TABLES[node.value][norms]
    return gids, (factor * scores.astype(np.float64)).astype(np.float32)


def _eval_boost(node: BoostQ, postings: dict, ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """BoostQuery over a leaf: score with weight = boost * idf (the same
    float32 fold as BM25Scorer's ctor), so rounding matches Lucene's."""
    w = ctx.boost_weights[node]
    child = node.child
    if isinstance(child, TermQ):
        tp = postings.get(child.term)
        if tp is None or not len(tp.gids):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        return tp.gids, _score_term(tp, w, ctx.cache_for(child.term),
                                    ctx.sim, ctx.aux_for(child.term))
    if isinstance(child, _PHRASE_LIKE + (SynonymQ, BlendedQ)):
        # temporarily rebind the child's weight to the boosted one
        sub = ScoreCtx(
            weights=ctx.weights,
            cache=ctx.cache,
            phrase_weights={**ctx.phrase_weights, child: w}
            if isinstance(child, _PHRASE_LIKE) else ctx.phrase_weights,
            syn_weights={**(ctx.syn_weights or {}), child: w}
            if isinstance(child, SynonymQ) else ctx.syn_weights,
            boost_weights=ctx.boost_weights,
            blended_weights={**(ctx.blended_weights or {}), child: w}
            if isinstance(child, BlendedQ) else ctx.blended_weights,
            caches=ctx.caches,
            sim=ctx.sim,
            aux=ctx.aux,
            phrase_aux=ctx.phrase_aux,
            syn_aux=ctx.syn_aux,
            blended_aux=ctx.blended_aux,
        )
        return eval_plan(child, postings, sub)
    raise TypeError(f"BoostQ supports leaf scoring nodes, got {child!r}")


def _eval_synonym(node: SynonymQ, postings: dict, ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """SynonymQuery kernel: member postings merge into one pseudo-term —
    per-doc freq = Σ member freqs, one score with the blended weight
    (SynonymQuery.java SynonymWeight/SynonymScorer)."""
    tps = [postings.get(t) for t in node.terms]
    tps = [tp for tp in tps if tp is not None and len(tp.gids)]
    if not tps:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    all_g = np.concatenate([tp.gids for tp in tps])
    all_f = np.concatenate([tp.freqs for tp in tps])
    all_n = np.concatenate([tp.norms for tp in tps])
    gids, inv = np.unique(all_g, return_inverse=True)
    freqs = np.zeros(len(gids), dtype=np.int64)
    np.add.at(freqs, inv, all_f)
    norms = np.zeros(len(gids), dtype=np.uint8)
    norms[inv] = all_n  # per-doc norm, identical across member terms
    w = ctx.syn_weights[node]
    saux = None if ctx.syn_aux is None else ctx.syn_aux.get(node)
    scores = ctx.sim.score(freqs, w, ctx.cache_for(node.terms[0])[norms], saux)
    return gids, scores


def _eval_blended(node: BlendedQ, postings: dict, ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """BlendedTermQuery BOOLEAN_REWRITE kernel: each member scored as its
    own TermQuery with the blended weight (boost_i * idf(max member df),
    folded float32 in make_ctx), per-term float32 scores summed as SHOULD
    clauses — double accumulate, one float32 cast
    (BlendedTermQuery.java:269-301 + DisjunctionSumScorer)."""
    ws = ctx.blended_weights[node]
    baux = None if ctx.blended_aux is None else ctx.blended_aux.get(node)
    evs = []
    for t, w in zip(node.terms, ws):
        tp = postings.get(t)
        if tp is None or not len(tp.gids):
            continue
        evs.append((tp.gids, _score_term(tp, w, ctx.cache_for(t), ctx.sim, baux)))
    if not evs:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    all_g = np.concatenate([g for g, _ in evs])
    all_s = np.concatenate([s for _, s in evs]).astype(np.float64)
    gids, inv = np.unique(all_g, return_inverse=True)
    if node.dismax:
        # DisjunctionMaxRewrite (BlendedTermQuery.java:150-186): max +
        # tie * (sum - max), double composed, one float32 cast
        smax = np.full(len(gids), -np.inf)
        np.maximum.at(smax, inv, all_s)
        ssum = np.zeros(len(gids))
        np.add.at(ssum, inv, all_s)
        return gids, (smax + (ssum - smax) * float(node.tie)).astype(
            np.float32
        )
    total = np.zeros(len(gids))
    np.add.at(total, inv, all_s)
    return gids, total.astype(np.float32)


def _eval_dismax(node: DisMaxQ, postings: dict, ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """DisjunctionMaxQuery kernel: per doc, max clause score plus
    tie * (sum - max), composed in double and cast to float32 once
    (DisjunctionMaxScorer.score)."""
    evals = [eval_plan(c, postings, ctx) for c in node.clauses]
    evals = [(g, s) for g, s in evals if len(g)]
    if not evals:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    all_g = np.concatenate([g for g, _ in evals])
    all_s = np.concatenate([s for _, s in evals]).astype(np.float64)
    gids, inv = np.unique(all_g, return_inverse=True)
    smax = np.full(len(gids), -np.inf)
    np.maximum.at(smax, inv, all_s)
    ssum = np.zeros(len(gids))
    np.add.at(ssum, inv, all_s)
    scores = (smax + (ssum - smax) * float(node.tie)).astype(np.float32)
    return gids, scores


def _eval_bool(node: BoolQ, postings: dict, ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    # evaluate children. const_add / n_free_opt carry folded MatchAll
    # scoring clauses: +const_add on every matching doc's double sum,
    # n_free_opt free optional matches toward msm (docs matching NO real
    # clause are completed DataFrame-side by the searcher's universe fill).
    musts = [eval_plan(c, postings, ctx) for c in node.must]
    shoulds = [eval_plan(c, postings, ctx) for c in node.should]
    nots = [eval_plan(c, postings, ctx) for c in node.must_not]
    msm = max(int(node.msm), 0)
    if msm > len(node.should) + int(node.n_free_opt):
        return np.empty(0, np.int64), np.empty(0, np.float32)

    if node.must:
        gids = musts[0][0]
        for g, _ in musts[1:]:
            gids = np.intersect1d(gids, g, assume_unique=True)
        if not len(gids):
            return gids, np.empty(0, np.float32)
        total = np.full(len(gids), float(node.const_add), dtype=np.float64)
        n_opt = np.full(len(gids), int(node.n_free_opt), dtype=np.int64)
        for g, s in musts:
            idx = np.searchsorted(g, gids)
            total += s[idx].astype(np.float64)
        for g, s in shoulds:
            if not len(g):
                continue
            idx = np.searchsorted(g, gids)
            idx_c = np.minimum(idx, len(g) - 1)
            hit = g[idx_c] == gids
            total[hit] += s[idx_c[hit]].astype(np.float64)
            n_opt[hit] += 1
        if msm > 0:
            keep = n_opt >= msm
            gids, total = gids[keep], total[keep]
    else:
        if not shoulds:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        all_g = np.concatenate([g for g, _ in shoulds])
        all_s = np.concatenate([s for _, s in shoulds]).astype(np.float64)
        if not len(all_g):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        gids, inv = np.unique(all_g, return_inverse=True)
        total = np.full(len(gids), float(node.const_add), dtype=np.float64)
        np.add.at(total, inv, all_s)
        msm_eff = msm - int(node.n_free_opt)
        if msm_eff > 1:
            # WANDScorer's minShouldMatch mode: keep docs matching >= msm
            # optional clauses (TestWANDScorer's brute-force contract)
            cnt = np.zeros(len(gids), dtype=np.int64)
            np.add.at(cnt, inv, 1)
            keep = cnt >= msm_eff
            gids, total = gids[keep], total[keep]

    for g, _ in nots:
        if len(g):
            keep = ~np.isin(gids, g, assume_unique=True)
            gids, total = gids[keep], total[keep]
    return gids, total.astype(np.float32)


# Candidate-keyed position encoding: key = cand_idx * 2^33 + pos + PAD.
# PAD keeps offset-shifted / slop-window arithmetic inside one candidate's
# key range (positions < 2^31, phrase offsets/slops << 2^20), so a single
# sorted flat array encodes every candidate doc's positions at once and all
# per-doc work collapses into global searchsorted passes.
_POS_SHIFT = 33
_POS_PAD = 1 << 20


def _gather_positions(tp: TermPostings, idx: np.ndarray):
    """Flat positions of the selected docs, their candidate indices and
    their indices into ``pos_flat`` (which also align the payload stream
    ``pay_flat``).

    Vectorized gather: no per-doc Python. Returned positions are globally
    sorted by (candidate, position) because ``idx`` is ascending and
    positions ascend within a doc.
    """
    starts = tp.pos_starts
    lengths = starts[idx + 1] - starts[idx]
    total = int(lengths.sum())
    if total == 0:
        e = np.empty(0, np.int64)
        return e, e, e
    out_starts = np.cumsum(lengths) - lengths
    flat_ids = (
        np.arange(total, dtype=np.int64)
        - np.repeat(out_starts, lengths)
        + np.repeat(starts[idx], lengths)
    )
    cand = np.repeat(np.arange(len(idx), dtype=np.int64), lengths)
    return tp.pos_flat[flat_ids], cand, flat_ids


def phrase_freqs(tps: "list[TermPostings]", idxs: "list[np.ndarray]",
                 offsets: "tuple[int, ...]") -> np.ndarray:
    """Per-candidate exact-phrase frequency, fully vectorized.

    freq_j = |∩_i (positions_i[j] - offset_i)| computed as one flat sorted-
    array intersection per term (ExactPhraseMatcher's leapfrog, de-looped).
    """
    ncand = len(idxs[0])
    keys = None
    for tp, idx, off in zip(tps, idxs, offsets):
        pos, cand, _ = _gather_positions(tp, idx)
        k = (cand << _POS_SHIFT) + (pos - int(off) + _POS_PAD)
        if keys is None:
            keys = k
        else:
            if not len(k):
                return np.zeros(ncand, np.int64)
            loc = np.minimum(np.searchsorted(k, keys), len(k) - 1)
            keys = keys[k[loc] == keys]
        if not len(keys):
            return np.zeros(ncand, np.int64)
    return np.bincount(keys >> _POS_SHIFT, minlength=ncand)


def near_freqs(tps: "list[TermPostings]", idxs: "list[np.ndarray]", slop: int) -> np.ndarray:
    """Per-candidate ordered-proximity frequency (N terms), vectorized.

    freq_j = number of tuples (p_1 < ... < p_n) with every consecutive gap
    in [1, slop+1]. Dynamic program over the flat candidate-keyed position
    arrays: level i carries, per position, the count of valid prefixes
    ending there; one prefix-sum + two searchsorteds per level
    (NearSpansOrdered's advance, de-looped)."""
    ncand = len(idxs[0])
    pos, cand, _ = _gather_positions(tps[0], idxs[0])
    keys = (cand << _POS_SHIFT) + pos + _POS_PAD
    cnt = np.ones(len(keys), dtype=np.int64)
    for tp, idx in zip(tps[1:], idxs[1:]):
        if not len(keys):
            return np.zeros(ncand, np.int64)
        csum = np.concatenate(([0], np.cumsum(cnt)))
        p2, c2, _ = _gather_positions(tp, idx)
        k2 = (c2 << _POS_SHIFT) + p2 + _POS_PAD
        lo = np.searchsorted(keys, k2 - (slop + 1))
        hi = np.searchsorted(keys, k2 - 1, side="right")
        c = csum[hi] - csum[lo]
        keep = c > 0
        keys, cnt = k2[keep], c[keep]
    if not len(keys):
        return np.zeros(ncand, np.int64)
    return np.bincount(keys >> _POS_SHIFT, weights=cnt, minlength=ncand).astype(np.int64)


def sloppy_freqs(tps: "list[TermPostings]", idxs: "list[np.ndarray]",
                 offsets: "tuple[int, ...]", slop: int) -> np.ndarray:
    """Per-candidate sloppy-phrase freq (float32) for DISTINCT-term phrases.

    Lock-step vectorized simulation of SloppyPhraseMatcher's greedy
    min-position traversal (``core/search/SloppyPhraseMatcher.java:174-206``
    semantics): every round advances exactly one PhrasePositions per active
    candidate, so each round is a handful of numpy ops over all candidates
    at once — no per-doc Python. freq accumulates match weights
    1/(1+matchLength) in float32, in match order, exactly as
    PhraseScorer.score() does.
    """
    n = len(tps)
    ncand = len(idxs[0])
    if ncand == 0:
        return np.zeros(0, np.float32)
    one = np.float32(1.0)
    flats: list[np.ndarray] = []
    ptr = np.empty((n, ncand), np.int64)  # absolute index into flats[i]
    lim = np.empty((n, ncand), np.int64)
    cur = np.empty((n, ncand), np.int64)
    for i, (tp, idx, off) in enumerate(zip(tps, idxs, offsets)):
        pos, _, _ = _gather_positions(tp, idx)
        lengths = tp.pos_starts[idx + 1] - tp.pos_starts[idx]
        cstart = np.concatenate(([0], np.cumsum(lengths)))
        flats.append(pos - int(off))  # pp.position = tpPos - offset
        ptr[i] = cstart[:-1]
        lim[i] = cstart[1:]
        cur[i] = flats[i][ptr[i]]  # every candidate has >=1 position per term
    rows = np.arange(ncand)
    end = cur.max(axis=0)
    # pq order is (position, offset, ord); pp index == offset order == ord,
    # so numpy's first-wins argmin IS the PhraseQueue pop (PhraseQueue.java)
    p = np.argmin(cur, axis=0)
    # next = the min among the remaining pps = the 2nd order statistic
    nxt = np.partition(cur, 1, axis=0)[1]
    ml = end - cur[p, rows]
    freq = np.zeros(ncand, np.float32)
    active = np.ones(ncand, bool)

    def _count_match(docs, ok):
        hit = docs[ok]
        if len(hit):
            w = one / (one + ml[hit].astype(np.float32))
            freq[hit] = freq[hit] + w  # float32 += float32, match order

    while active.any():
        d = rows[active]
        pi = p[d]
        np_ptr = ptr[pi, d] + 1
        exhausted = np_ptr >= lim[pi, d]
        fin = d[exhausted]
        if len(fin):
            # positioned=false path: the last window is a match iff ml<=slop
            _count_match(fin, ml[fin] <= slop)
            active[fin] = False
        live = d[~exhausted]
        if not len(live):
            continue
        pl = pi[~exhausted]
        newptr = np_ptr[~exhausted]
        ptr[pl, live] = newptr
        newcur = np.empty(len(live), np.int64)
        for i in range(n):
            m = pl == i
            if m.any():
                newcur[m] = flats[i][newptr[m]]
        cur[pl, live] = newcur
        end[live] = np.maximum(end[live], newcur)
        gt = newcur > nxt[live]
        g = live[gt]
        if len(g):
            # done minimizing this window: count the match, pop the next min
            _count_match(g, ml[g] <= slop)
            cg = cur[:, g]
            p[g] = np.argmin(cg, axis=0)
            nxt[g] = np.partition(cg, 1, axis=0)[1]
            ml[g] = end[g] - cg[p[g], np.arange(len(g))]
        s = live[~gt]
        if len(s):
            ml[s] = np.minimum(ml[s], end[s] - newcur[~gt])
    return freq


def _sloppy_freq_doc(plists: "list[np.ndarray]", offsets: "tuple[int, ...]",
                     group_of: "list[int]", slop: int) -> np.float32:
    """One doc's sloppy freq with REPEATING phrase terms — the
    initComplex/advanceRpts path (SloppyPhraseMatcher.java:286-467, simple
    single-term-per-PP case). plists are ADJUSTED (pos - offset) arrays;
    PPs of the same term share a repeat group id in ``group_of`` (-1 = not
    repeating). Python per doc, used only for the rare repeated-term phrase."""
    n = len(plists)
    ptr = [0] * n

    def pos(i):
        return int(plists[i][ptr[i]])

    groups: dict[int, list[int]] = {}
    for i, g in enumerate(group_of):
        if g >= 0:
            groups.setdefault(g, []).append(i)
    # advanceRepeatGroups (no multi-term): the j-th member by query offset
    # starts j positions in, so the group begins collision-free
    for rg in groups.values():
        rg.sort(key=lambda i: offsets[i])
        for j in range(1, len(rg)):
            for _ in range(j):
                ptr[rg[j]] += 1
                if ptr[rg[j]] >= len(plists[rg[j]]):
                    return np.float32(0.0)  # PPs exhausted: no match
    end = max(pos(i) for i in range(n))

    def collide(i):
        g = group_of[i]
        if g < 0:
            return None
        tp = pos(i) + offsets[i]
        for j in groups[g]:
            if j != i and pos(j) + offsets[j] == tp:
                return j
        return None

    def advance(i):
        nonlocal end
        ptr[i] += 1
        if ptr[i] >= len(plists[i]):
            return False
        if pos(i) > end:
            end = pos(i)
        return True

    def advance_rpts(i):
        # a collision advances the LESSER of the colliding pair, repeatedly
        c = i
        while True:
            k = collide(c)
            if k is None:
                return True
            c = c if (pos(c), offsets[c]) < (pos(k), offsets[k]) else k
            if not advance(c):
                return False

    def key(i):
        return (pos(i), offsets[i], i)

    freq = np.float32(0.0)
    one = np.float32(1.0)
    p = min(range(n), key=key)
    ml = end - pos(p)
    nxt = min(pos(i) for i in range(n) if i != p)
    while True:
        if not advance(p) or (groups and not advance_rpts(p)):
            break
        if pos(p) > nxt:
            if ml <= slop:
                freq = np.float32(freq + one / (one + np.float32(ml)))
            p = min(range(n), key=key)
            nxt = min(pos(i) for i in range(n) if i != p)
            ml = end - pos(p)
        else:
            ml = min(ml, end - pos(p))
    if ml <= slop:
        freq = np.float32(freq + one / (one + np.float32(ml)))
    return freq


def sloppy_freqs_rpts(tps, idxs, offsets, terms, slop) -> np.ndarray:
    """Per-candidate sloppy freqs for phrases with repeated terms (per-doc
    reference simulation over the candidate set)."""
    ncand = len(idxs[0])
    first_of: dict[str, int] = {}
    group_of = []
    gid = 0
    for t in terms:
        if t in first_of:
            i = first_of[t]
            if group_of[i] < 0:
                group_of[i] = gid
                gid += 1
            group_of.append(group_of[i])
        else:
            first_of[t] = len(group_of)
            group_of.append(-1)
    freqs = np.zeros(ncand, np.float32)
    for c in range(ncand):
        plists = []
        for tp, idx, off in zip(tps, idxs, offsets):
            r = int(idx[c])
            s, e = int(tp.pos_starts[r]), int(tp.pos_starts[r + 1])
            plists.append(tp.pos_flat[s:e] - int(off))
        freqs[c] = _sloppy_freq_doc(plists, offsets, group_of, slop)
    return freqs


def interval_freqs(tps: "list[TermPostings]", idxs: "list[np.ndarray]",
                   ordered: bool, max_gaps: int) -> np.ndarray:
    """Per-candidate interval freq (float32) for ordered/unordered minimal
    intervals over DISTINCT term sources.

    Semantics: the reference's interval iterators
    (``queries/intervals/OrderedIntervalsSource.java`` /
    ``UnorderedIntervalsSource.java``) enumerate, per doc, the ANTICHAIN of
    minimal intervals — every returned interval contains one occurrence of
    each source (in query order when ordered), and no returned interval
    contains another. For width-1 term sources that antichain has a closed
    form this kernel computes with NO per-doc Python:

    * candidate start keys: ordered → the first term's occurrences;
      unordered → the merged occurrences of every term (a minimal window's
      left edge is always some member occurrence);
    * minimal end per start, one global ``searchsorted`` pass per term over
      flat ``(cand << 33) + pos`` keys — ordered chains take the first
      strictly-greater occurrence per step (OrderedIntervalIterator's
      ``start() <= prev.end()`` skip), unordered windows the first
      at-or-after occurrence per term, max across terms;
    * start maximization == minimality: ends are non-decreasing in start,
      so keeping the LAST start of each distinct-end run yields exactly the
      minimal antichain (the iterator's "minimizing" loop,
      OrderedIntervalsSource.java nextInterval).

    ``max_gaps`` >= 0 filters the emitted stream — gaps = width − Σ source
    widths = (end − start + 1) − n ≤ max_gaps — AFTER minimization, the
    ``FilteredIntervalsSource.MaxGaps`` wrapping order. freq accumulates
    1 / max(length − minExtent + 1, 1) per accepted interval (minExtent =
    n, ``IntervalScorer.ensureFreq``) in ascending-start order; like the
    sloppy kernel, each increment is rounded to float32 before the float32
    running sum (exact for every 1/k with k < 2^24 either way).
    """
    n = len(tps)
    ncand = len(idxs[0])
    freqs = np.zeros(ncand, np.float32)
    if ncand == 0:
        return freqs
    keys: list[np.ndarray] = []
    for tp, idx in zip(tps, idxs):
        pos, cand, _ = _gather_positions(tp, idx)
        keys.append((cand << _POS_SHIFT) + pos)
    if ordered:
        starts = keys[0]
        valid = np.ones(len(starts), dtype=bool)
        cur = starts
        for k in range(1, n):
            kk = keys[k]
            if not len(kk):
                return freqs
            j = np.searchsorted(kk, cur, side="right")
            ok = j < len(kk)
            nxt = kk[np.minimum(j, len(kk) - 1)]
            valid &= ok & ((nxt >> _POS_SHIFT) == (starts >> _POS_SHIFT))
            cur = nxt
        ends = cur
    else:
        starts = np.concatenate(keys)
        starts.sort(kind="mergesort")
        valid = np.ones(len(starts), dtype=bool)
        ends = starts.copy()
        for k in range(n):
            kk = keys[k]
            if not len(kk):
                return freqs
            j = np.searchsorted(kk, starts, side="left")
            ok = j < len(kk)
            nxt = kk[np.minimum(j, len(kk) - 1)]
            valid &= ok & ((nxt >> _POS_SHIFT) == (starts >> _POS_SHIFT))
            ends = np.maximum(ends, np.where(valid, nxt, ends))
    s, e = starts[valid], ends[valid]
    if not len(s):
        return freqs
    # ends are non-decreasing (per doc, and cand high bits order docs):
    # last start of each distinct-end run = the minimal antichain
    keep = np.ones(len(s), dtype=bool)
    keep[:-1] = e[1:] != e[:-1]
    s, e = s[keep], e[keep]
    if max_gaps >= 0:
        gap_ok = (e - s + 1 - n) <= max_gaps
        s, e = s[gap_ok], e[gap_ok]
        if not len(s):
            return freqs
    denom = np.maximum(e - s + 2 - n, 1)  # length - minExtent + 1
    inc = (np.float32(1.0) / denom.astype(np.float32)).astype(np.float32)
    cids = s >> _POS_SHIFT
    # strict LEFT-TO-RIGHT float32 running sum per doc (ensureFreq's
    # accumulator; np.add.reduceat would sum pairwise): round r adds every
    # doc's r-th interval at once, so rounding order matches the iterator
    bounds = np.flatnonzero(
        np.concatenate(([True], cids[1:] != cids[:-1]))
    )
    lens = np.diff(np.append(bounds, len(inc)))
    rank = np.arange(len(inc)) - np.repeat(bounds, lens)
    for r in range(int(lens.max())):
        m = rank == r
        freqs[cids[m]] = freqs[cids[m]] + inc[m]
    return freqs


def _positional_candidates(node, postings: dict):
    """Shared prologue of the positional kernels: conjunction of the node's
    terms + per-term row indices of the surviving candidates."""
    tps = [postings.get(t) for t in node.terms]
    if any(tp is None or not len(tp.gids) for tp in tps):
        return None
    gids = tps[0].gids
    for tp in tps[1:]:
        gids = np.intersect1d(gids, tp.gids, assume_unique=True)
    if not len(gids):
        return None
    idxs = [np.searchsorted(tp.gids, gids) for tp in tps]
    return tps, gids, idxs


def _score_positional(node, gids, freqs, norms, ctx) -> tuple[np.ndarray, np.ndarray]:
    hit = freqs > 0
    gids, freqs, norms = gids[hit], freqs[hit], norms[hit]
    w = ctx.phrase_weights[node]
    nv = ctx.cache_for(node.terms[0])[norms]
    paux = None if ctx.phrase_aux is None else ctx.phrase_aux.get(node)
    if paux is not None:
        # SimilarityBase composite: one BasicSimScorer per term stat, the
        # MultiSimScorer float32 RUNNING sum at the shared phrase freq
        # (MultiSimilarity.java:63-70)
        scores = np.zeros(len(gids), dtype=np.float32)
        for a in paux:
            scores = scores + ctx.sim.score(freqs, w, nv, a)
        return gids, scores
    scores = ctx.sim.score(freqs, w, nv)
    return gids, scores


def _eval_phrase(node: PhraseQ, postings: dict, ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """Exact phrase (ExactPhraseMatcher analog): candidate docs = conjunction
    of the phrase terms; freq = flat offset-shifted position intersection;
    scored like a term with the summed idf weight (PhraseWeight/BM25)."""
    c = _positional_candidates(node, postings)
    if c is None:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    tps, gids, idxs = c
    freqs = phrase_freqs(tps, idxs, node.offsets)
    return _score_positional(node, gids, freqs, tps[0].norms[idxs[0]], ctx)


def _eval_near(node: NearQ, postings: dict, ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """Ordered N-term proximity: freq = count of position tuples with every
    consecutive gap in [1, slop+1], scored like a phrase. This is the
    EXPLICIT ordered-span API (NearSpansOrdered flavor); the parser's
    ``"..."~N`` builds SloppyQ — Lucene's unordered sloppy matcher."""
    c = _positional_candidates(node, postings)
    if c is None:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    tps, gids, idxs = c
    freqs = near_freqs(tps, idxs, node.slop)
    return _score_positional(node, gids, freqs, tps[0].norms[idxs[0]], ctx)


def _eval_sloppy(node: SloppyQ, postings: dict, ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """Sloppy PhraseQuery (SloppyPhraseMatcher analog): candidates = the
    terms' conjunction (ConjunctionUtils.intersectIterators); freq = the
    greedy matcher's float32 sum of 1/(1+matchLength) match weights; scored
    like a phrase with the summed-idf weight."""
    c = _positional_candidates(node, postings)
    if c is None:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    tps, gids, idxs = c
    if len(set(node.terms)) == len(node.terms):
        freqs = sloppy_freqs(tps, idxs, node.offsets, node.slop)
    else:
        freqs = sloppy_freqs_rpts(tps, idxs, node.offsets, node.terms, node.slop)
    return _score_positional(node, gids, freqs, tps[0].norms[idxs[0]], ctx)


def _eval_interval(node: IntervalQ, postings: dict,
                   ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """IntervalQuery (queries/intervals/IntervalQuery.java): candidates =
    conjunction of the sources' docs (ConjunctionIntervalsSource approximates
    with a doc-level conjunction); a doc matches iff ≥1 minimal interval
    survives the maxgaps filter. Scoring is similarity-INDEPENDENT —
    IntervalQuery binds its own saturation SimScorer, not the searcher's:
    score = weight * (1 − pivot / (pivot + freq)), every op float32
    (IntervalScoreFunction.SaturationFunction.scorer). weight = 1 at the
    top level; a wrapping BoostQ rebinds it to the raw boost
    (IntervalScorer ctor's ``scoreFunction.scorer(boost)``)."""
    c = _positional_candidates(node, postings)
    if c is None:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    tps, gids, idxs = c
    freqs = interval_freqs(tps, idxs, node.ordered, node.max_gaps)
    hit = freqs > 0
    gids, freqs = gids[hit], freqs[hit]
    w = ctx.phrase_weights[node]
    pivot = np.float32(node.pivot)
    one = np.float32(1.0)
    return gids, (w * (one - pivot / (pivot + freqs))).astype(np.float32)


def _interval_doc_candidates(node, postings: dict):
    """Doc-level approximation of an interval tree (a SUPERSET of the
    matching docs, like the reference's DISI approximations): conjunction
    sources intersect (ConjunctionIntervalsSource), disjunctions union
    (DisjunctionIntervalsSource), filters with a required positive side
    (containing/containedBy/overlapping are ConjunctionIntervalsSource
    subclasses — both operands must be present) intersect, difference
    filters (not*/nonOverlapping, DifferenceIntervalsSource) need only the
    minuend, atLeast counts membership across >= minShouldMatch children.
    Returns a sorted unique gid array."""
    from ..plans import intervals as IV

    if isinstance(node, IV.ITerm):
        tp = postings.get(node.term)
        if tp is None:
            return np.empty(0, np.int64)
        return tp.gids
    if isinstance(node, IV.INoMatch):
        return np.empty(0, np.int64)
    if isinstance(node, (IV.IOrdered, IV.IUnordered, IV.IBlock)):
        gids = None
        for c in node.children:
            g = _interval_doc_candidates(c, postings)
            gids = g if gids is None else np.intersect1d(
                gids, g, assume_unique=True)
            if not len(gids):
                break
        return gids
    if isinstance(node, IV.IOr):
        out = np.empty(0, np.int64)
        for c in node.children:
            out = np.union1d(out, _interval_doc_candidates(c, postings))
        return out
    if isinstance(node, IV.IAtLeast):
        parts = [_interval_doc_candidates(c, postings)
                 for c in node.children]
        parts = [p for p in parts if len(p)]
        if len(parts) < node.min_should_match:
            return np.empty(0, np.int64)
        u, cnt = np.unique(np.concatenate(parts), return_counts=True)
        return u[cnt >= node.min_should_match]
    if isinstance(node, (IV.IMaxGaps, IV.IMaxWidth, IV.IExtend, IV.IOffset)):
        return _interval_doc_candidates(node.child, postings)
    if isinstance(node, IV.IContaining):
        return np.intersect1d(
            _interval_doc_candidates(node.big, postings),
            _interval_doc_candidates(node.small, postings),
            assume_unique=True,
        )
    if isinstance(node, IV.IContainedBy):
        return np.intersect1d(
            _interval_doc_candidates(node.small, postings),
            _interval_doc_candidates(node.big, postings),
            assume_unique=True,
        )
    if isinstance(node, IV.IOverlapping):
        return np.intersect1d(
            _interval_doc_candidates(node.source, postings),
            _interval_doc_candidates(node.reference, postings),
            assume_unique=True,
        )
    if isinstance(node, (IV.INotContaining, IV.INotContainedBy,
                         IV.INonOverlapping)):
        m = node.minuend if hasattr(node, "minuend") else node.small
        return _interval_doc_candidates(m, postings)
    raise TypeError(f"not an interval source: {node!r}")


def _eval_interval_expr(node: IntervalExprQ, postings: dict,
                        ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """Compositional IntervalQuery: candidate docs from the tree's DISI
    approximation, per-term point streams gathered over the shared
    candidate keying, the tree evaluated bottom-up by the vectorized
    antichain algebra (functions/interval_algebra.py), and the same
    similarity-independent saturation scoring as the flat path — with
    minExtent taken from the tree (IntervalScorer.java:72)."""
    from ..functions.interval_algebra import eval_stream, stream_freqs
    from ..plans.intervals import min_extent

    gids = _interval_doc_candidates(node.root, postings)
    if gids is None or not len(gids):
        return np.empty(0, np.int64), np.empty(0, np.float32)
    e = np.empty(0, np.int64)
    term_streams = {}
    for t in node.terms:
        tp = postings.get(t)
        if tp is None or not len(tp.gids):
            term_streams[t] = (e, e, e)
            continue
        idx = np.minimum(np.searchsorted(tp.gids, gids), len(tp.gids) - 1)
        pres = tp.gids[idx] == gids
        cand_ids = np.nonzero(pres)[0]
        pos, sub, _ = _gather_positions(tp, idx[pres])
        k = (cand_ids[sub] << _POS_SHIFT) + pos
        term_streams[t] = (k, k.copy(), np.zeros(len(k), np.int64))
    ks, ke, _ = eval_stream(node.root, term_streams)
    freqs = stream_freqs(ks, ke, len(gids), min_extent(node.root))
    hit = freqs > 0
    gids, freqs = gids[hit], freqs[hit]
    w = ctx.phrase_weights[node]
    pivot = np.float32(node.pivot)
    one = np.float32(1.0)
    return gids, (w * (one - pivot / (pivot + freqs))).astype(np.float32)


def _slot_union(tps: "list[TermPostings]", gids: np.ndarray,
                offset: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Union one MultiPhrase slot's postings over the candidate set.

    Returns (sorted offset-shifted (cand,pos) keys, per-candidate presence
    mask, per-candidate norms where present) — the UnionPostingsEnum merge
    (MultiPhraseQuery.java:419-465) collapsed to array passes. Positions
    are distinct within a (doc, slot): two terms cannot occupy one token
    position, so the merged stream needs no dedup.
    """
    parts = []
    present = np.zeros(len(gids), dtype=bool)
    norms = np.zeros(len(gids), dtype=np.int64)
    for tp in tps:
        if tp is None or not len(tp.gids):
            continue
        idx = np.minimum(np.searchsorted(tp.gids, gids), len(tp.gids) - 1)
        pres = tp.gids[idx] == gids
        if not pres.any():
            continue
        cand_ids = np.nonzero(pres)[0]
        present[cand_ids] = True
        norms[cand_ids] = tp.norms[idx[pres]]
        pos, sub_cand, _ = _gather_positions(tp, idx[pres])
        parts.append(
            (cand_ids[sub_cand] << _POS_SHIFT) + (pos - int(offset) + _POS_PAD)
        )
    if not parts:
        return np.empty(0, np.int64), present, norms
    keys = np.concatenate(parts)
    keys.sort()
    return keys, present, norms


def _eval_multiphrase(node: MultiPhraseQ, postings: dict,
                      ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """MultiPhraseQuery: per slot, the member postings merge into one
    positions stream (UnionPostingsEnum); candidates = docs with at least
    one member present per slot; freq = the exact-phrase flat intersection
    over the merged streams; scored like a phrase whose weight is the idf
    sum over every termArrays entry (MultiPhraseQuery.java:221-246)."""
    empty = np.empty(0, np.int64), np.empty(0, np.float32)
    slot_tps = []
    for slot in node.termss:
        tps = [postings.get(t) for t in slot]
        tps = [tp for tp in tps if tp is not None and len(tp.gids)]
        if not tps:
            return empty
        slot_tps.append(tps)
    # candidate docs: intersection over slots of the union of member gids
    gids = None
    for tps in slot_tps:
        u = (
            tps[0].gids
            if len(tps) == 1
            else np.unique(np.concatenate([tp.gids for tp in tps]))
        )
        gids = u if gids is None else np.intersect1d(gids, u, assume_unique=True)
        if not len(gids):
            return empty
    keys = None
    norms0 = None
    for tps, off in zip(slot_tps, node.offsets):
        k, present, norms = _slot_union(tps, gids, off)
        if norms0 is None:
            norms0 = norms
        if keys is None:
            keys = k
        else:
            if not len(k):
                return empty
            loc = np.minimum(np.searchsorted(k, keys), len(k) - 1)
            keys = keys[k[loc] == keys]
        if not len(keys):
            return empty
    freqs = np.bincount(keys >> _POS_SHIFT, minlength=len(gids))
    return _score_positional(node, gids, freqs, norms0, ctx)


_NO_SPANS = (np.empty(0, np.int64),) * 3 + (None,)


def _span_parts(src) -> tuple:
    """The span sources a span node matches through: a near's clauses,
    both containment sides, a SpanNotQ's include side (its exclude only
    filters) and a filter's ``match``."""
    if isinstance(src, SpanNearQ):
        return src.clauses
    if isinstance(src, (SpanContainingQ, SpanWithinQ)):
        return (src.big, src.little)
    if isinstance(src, SpanNotQ):
        return (src.include,)
    return (src.match,)


def _span_terms(src) -> tuple:
    """Scoring term keys of a span source, in order with repeats: a term,
    a SpanOrQ's members, a gap none, any other node its parts' — so a
    SpanNotQ anywhere counts its include side only (SpanNotQuery.java:
    97-99 builds the exclude weight with COMPLETE_NO_SCORES) and a filter
    its source."""
    if isinstance(src, (str, SpanOrQ, SpanGap)):
        return term_keys(src)
    return tuple(t for part in _span_parts(src) for t in _span_terms(part))


def _span_side_docs(sub, postings) -> "np.ndarray | None":
    """Docs where a span source can match: a term's postings docs, a
    SpanOrQ's union, any other node the conjunction of its parts."""
    if isinstance(sub, str):
        tp = postings.get(sub)
        return None if tp is None or not len(tp.gids) else tp.gids
    if isinstance(sub, SpanOrQ):
        gs = [postings[t].gids for t in sub.terms
              if postings.get(t) is not None and len(postings[t].gids)]
        return np.unique(np.concatenate(gs)) if gs else None
    if isinstance(sub, SpanNearQ):
        _require_ordered(sub)
    return _conj_docs(_span_parts(sub), postings)


def _require_ordered(sub: SpanNearQ) -> None:
    # unordered emission is not start-monotone: the cursor replays over
    # nested spans do not hold for it
    if not sub.in_order:
        raise NotImplementedError(
            "nested span clauses accept ordered near spans only"
        )


def _conj_docs(parts, postings) -> "np.ndarray | None":
    """ConjunctionSpans: docs where every part can match (gaps match
    everywhere)."""
    out = None
    for c in parts:
        if isinstance(c, SpanGap):
            continue
        d = _span_side_docs(c, postings)
        if d is None:
            return None
        out = d if out is None else np.intersect1d(out, d)
    return out if out is not None and len(out) else None


def _span_side_spans(sub, postings, cands: np.ndarray, pays: bool = False):
    """(start_keys, end_keys, widths, payloads) of ``sub``'s spans over
    candidate ordinals, in emission (start) order. ``payloads`` is None
    unless ``pays`` and a span matched; then row i holds the payloads
    span i collected, in collection order. Every source emits a
    (start, end)-monotone sequence — the property that makes the
    reference's forward-only cursors (the near chain, the SpanNot exclude
    cursor, ContainSpans) replayable with one searchsorted each."""
    if isinstance(sub, (str, SpanOrQ)):
        return _term_spans(sub, postings, cands, pays)
    if isinstance(sub, SpanNearQ):
        _require_ordered(sub)
        return _near_spans_chain(sub, postings, cands, pays)
    if isinstance(sub, SpanNotQ):
        return _not_spans(sub, postings, cands, pays)
    if isinstance(sub, (SpanContainingQ, SpanWithinQ)):
        if pays:
            raise NotImplementedError(
                "payload checks over containing/within spans are not "
                "supported: they collect both sides' positions"
            )
        return _contain_spans(sub, postings, cands)
    check = isinstance(sub, SpanPayloadCheckQ)
    s, e, w, p = _span_side_spans(sub.match, postings, cands, pays or check)
    if not len(s):
        return _NO_SPANS
    if check:
        # PayloadChecker over the span as matched: every collected payload
        # compares true against its position's value
        keep = _PAY_OPS[sub.op](p, np.asarray(sub.payloads)).all(axis=1)
    else:
        # SpanPositionCheckQuery.acceptPosition; SpanFirstQ is start=0
        lo = sub.start if isinstance(sub, SpanPositionRangeQ) else 0
        base = ((s >> _POS_SHIFT) << _POS_SHIFT) + _POS_PAD
        keep = (s - base >= lo) & (e - base <= sub.end)
    return s[keep], e[keep], w[keep], p[keep] if pays else None


def _term_spans(sub, postings, cands: np.ndarray, pays: bool):
    """Width-0 spans of a term, or of a SpanOrQ's members merged in start
    order (members tied at one position keep member order)."""
    keys, rows = [], []
    for t in term_keys(sub):
        tp = postings.get(t)
        if tp is None or not len(tp.gids):
            continue
        loc = np.minimum(np.searchsorted(tp.gids, cands), len(tp.gids) - 1)
        pres = tp.gids[loc] == cands
        ords = np.nonzero(pres)[0]
        pos, c, fids = _gather_positions(tp, loc[pres])
        keys.append((ords[c] << _POS_SHIFT) + pos + _POS_PAD)
        if pays:
            if tp.pay_flat is None:
                raise ValueError(
                    "SpanPayloadCheckQ needs a payloads-enabled index")
            rows.append(tp.pay_flat[fids])
    if not keys:
        return _NO_SPANS
    keys = np.concatenate(keys)
    p = None
    if pays:
        order = np.argsort(keys, kind="stable")
        keys, p = keys[order], np.concatenate(rows)[order][:, None]
    else:
        keys = np.sort(keys)
    return keys, keys + 1, np.zeros(len(keys), np.int64), p


def _near_spans_chain(node: SpanNearQ, postings: dict,
                      cands: np.ndarray, pays: bool = False):
    """NearSpansOrdered.stretchToOrder over span clauses, state-free:
    (start_keys, end_keys, widths, payloads) of accepted matches in start
    order. matchWidth sums the inter-clause gaps only (NearSpansOrdered.
    java:48-77); a SpanGap contributes start = prev_end, end = prev_end +
    width (GapSpans.skipToPosition). A match collects each clause's
    payloads at the clause span the chain picked (``jc``)."""
    s0, e0, _w0, p0 = _span_side_spans(node.clauses[0], postings, cands,
                                       pays)
    if not len(s0):
        return _NO_SPANS
    starts = s0
    q_end = e0.copy()
    width = np.zeros(len(s0), dtype=np.int64)
    alive = np.ones(len(s0), dtype=bool)
    picked = [p0]
    for c in node.clauses[1:]:
        if isinstance(c, SpanGap):
            q_end = q_end + int(c.width)
            continue
        cs, ce, _cw, cp = _span_side_spans(c, postings, cands, pays)
        if not len(cs):
            return _NO_SPANS
        j = np.searchsorted(cs, q_end)
        ok = j < len(cs)
        jc = np.minimum(j, len(cs) - 1)
        same = (cs[jc] >> _POS_SHIFT) == (starts >> _POS_SHIFT)
        alive &= ok & same
        width = np.where(alive, width + (cs[jc] - q_end), width)
        q_end = np.where(alive, ce[jc], q_end)
        if pays:
            picked.append(cp[jc])
    good = alive & (width <= node.slop)
    return (starts[good], q_end[good], width[good],
            np.hstack(picked)[good] if pays else None)


def _not_spans(node: SpanNotQ, postings: dict, cands: np.ndarray,
               pays: bool):
    """SpanNotQuery (FilterSpans.accept replay, SpanNotQuery.java:
    110-158): include spans survive unless the first exclude span with
    end > include.start − pre has start < include.end + post; in a doc
    with no exclude span the include passes through untouched (getSpans
    null handling)."""
    i_s, i_e, i_w, i_p = _span_side_spans(node.include, postings, cands,
                                          pays)
    if not len(i_s):
        return _NO_SPANS
    e_s, e_e, _ew, _ep = _span_side_spans(node.exclude, postings, cands)
    if not len(e_s):
        return i_s, i_e, i_w, i_p
    # first exclude with end > include.start - pre (key space; exclude
    # ends are monotone for every source)
    j = np.searchsorted(e_e, i_s - int(node.pre), side="right")
    ok = j < len(e_s)
    jc = np.minimum(j, len(e_s) - 1)
    same = (e_e[jc] >> _POS_SHIFT) == (i_s >> _POS_SHIFT)
    keep = ~(ok & same & (e_s[jc] < i_e + int(node.post)))
    return i_s[keep], i_e[keep], i_w[keep], i_p[keep] if pays else None


def _contain_spans(node, postings: dict, cands: np.ndarray):
    """SpanContainingQuery / SpanWithinQuery — the reference's streaming
    ContainSpans matchers (see the plan nodes' docstrings for the exact
    cursor semantics replayed here): Containing emits the accepted big
    spans, Within the accepted little ones."""
    b_s, b_e, b_w, _bp = _span_side_spans(node.big, postings, cands)
    l_s, l_e, l_w, _lp = _span_side_spans(node.little, postings, cands)
    if not len(b_s) or not len(l_s):
        return _NO_SPANS
    if isinstance(node, SpanContainingQ):
        # little cursor: first little with start >= big.start (same doc)
        j = np.searchsorted(l_s, b_s)
        ok = j < len(l_s)
        jc = np.minimum(j, len(l_s) - 1)
        acc = ok & ((l_s[jc] >> _POS_SHIFT) == (b_s >> _POS_SHIFT)) \
            & (b_e >= l_e[jc])
        return b_s[acc], b_e[acc], b_w[acc], None
    # big cursor: first big with end >= little.end (same doc)
    j = np.searchsorted(b_e, l_e)
    ok = j < len(b_e)
    jc = np.minimum(j, len(b_e) - 1)
    acc = ok & ((b_e[jc] >> _POS_SHIFT) == (l_e >> _POS_SHIFT)) \
        & (b_s[jc] <= l_s)
    return l_s[acc], l_e[acc], l_w[acc], None


_PAY_OPS = {
    # SpanPayloadCheckQuery.MatchOperation, vectorized
    "eq": np.equal, "lt": np.less, "lte": np.less_equal,
    "gt": np.greater, "gte": np.greater_equal,
}


def _near_spans_unordered_freqs(node: SpanNearQ, postings: dict,
                                cands: np.ndarray) -> np.ndarray:
    """NearSpansUnordered over span CLAUSES, state-free: states are the
    merged clause spans in (start, end) pop order up to (and including)
    each doc's first clause-final span; at a state every clause's
    current = its first span >=lex the state (forward-only cursors +
    monotone emission), maxEnd = max current end (ends are monotone per
    clause, so the running max equals the current max), totalSpanLength
    = sum of current lengths. Match iff maxEnd - minStart -
    totalSpanLength <= slop (atMatch); freq folds 1/(1 + width()) with
    width() = maxEnd - minStart (NearSpansUnordered.java width vs
    atMatch)."""
    sides = [_span_side_spans(c, postings, cands)[:3] for c in node.clauses]
    if any(not len(s) for s, _e, _w in sides):
        return np.zeros(len(cands), np.float32)
    flags = []
    for s, _e, _w in sides:
        cid = s >> _POS_SHIFT
        last = np.empty(len(s), dtype=bool)
        last[:-1] = cid[1:] != cid[:-1]
        last[-1] = True
        flags.append(last)
    all_s = np.concatenate([s for s, _e, _w in sides])
    all_e = np.concatenate([e for _s, e, _w in sides])
    all_f = np.concatenate(flags)
    order = np.lexsort((all_e, all_s))
    ms, mf = all_s[order], all_f[order]
    mc = ms >> _POS_SHIFT
    # in-doc pops up to (inclusive) the first clause-final span
    csum = np.cumsum(mf)
    doc_start = np.empty(len(ms), dtype=bool)
    doc_start[0] = True
    doc_start[1:] = mc[1:] != mc[:-1]
    seg = np.cumsum(doc_start) - 1
    before = csum - mf
    prior = before - before[np.nonzero(doc_start)[0]][seg]
    st_s = ms[prior == 0]
    if not len(st_s):
        return np.zeros(len(cands), np.float32)
    max_end = None
    tot_len = None
    same_doc = np.ones(len(st_s), dtype=bool)
    for s, e, _w in sides:
        j = np.minimum(np.searchsorted(s, st_s), len(s) - 1)
        ce, cs_ = e[j], s[j]
        # a clause exhausted before this doc clamps to an earlier doc's
        # span: that state is no match
        same_doc &= (cs_ >> _POS_SHIFT) == (st_s >> _POS_SHIFT)
        max_end = ce if max_end is None else np.maximum(max_end, ce)
        ln = ce - cs_
        tot_len = ln if tot_len is None else tot_len + ln
    span_w = max_end - st_s
    good = same_doc & ((span_w - tot_len) <= node.slop)
    acc = np.zeros(len(cands), dtype=np.float32)
    if good.any():
        w = (1.0 / (1.0 + span_w[good].astype(np.float64))).astype(np.float32)
        np.add.at(acc, st_s[good] >> _POS_SHIFT, w)
    return acc


def _fold_widths(starts: np.ndarray, widths: np.ndarray,
                 n_cands: int) -> np.ndarray:
    """Per-candidate span freq: float32 1/(1+width) per accepted span,
    accumulated in start order (SpanScorer.java:106 — ``freq`` is a
    float, so the sum is float32 step-wise); the weight is computed in
    double then narrowed once."""
    freqs = np.zeros(n_cands, dtype=np.float32)
    if len(starts):
        w = (1.0 / (1.0 + widths.astype(np.float64))).astype(np.float32)
        np.add.at(freqs, starts >> _POS_SHIFT, w)
    return freqs


def _doc_norms(terms, postings: dict, cands: np.ndarray) -> np.ndarray:
    """Per-candidate norm byte from any present term (identical per doc
    within a field)."""
    norms = np.zeros(len(cands), dtype=np.uint8)
    for t in terms:
        tp = postings.get(t)
        if tp is None or not len(tp.gids):
            continue
        loc = np.minimum(np.searchsorted(tp.gids, cands), len(tp.gids) - 1)
        pres = tp.gids[loc] == cands
        norms[pres] = tp.norms[loc[pres]]
    return norms


def _eval_span(node, postings: dict,
               ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """Every span node but SpanOrQ: candidates (_span_side_docs), spans
    (_span_side_spans), per-doc freq (_fold_widths), norms and the
    positional score. A top-level unordered near is the one node that is
    no span source (its emission is not start-monotone): its candidates
    are its clauses' conjunction and it folds 1/(1+width()) per accepted
    state itself."""
    unordered = isinstance(node, SpanNearQ) and not node.in_order
    cands = (_conj_docs(node.clauses, postings) if unordered
             else _span_side_docs(node, postings))
    if cands is None:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    if unordered:
        if len(set(node.terms)) != len(node.terms):
            raise NotImplementedError(
                "SpanNearQ(in_order=False) requires distinct terms"
            )
        freqs = _near_spans_unordered_freqs(node, postings, cands)
    else:
        st, _en, width, _p = _span_side_spans(node, postings, cands)
        freqs = _fold_widths(st, width, len(cands))
    return _score_positional(node, cands, freqs,
                             _doc_norms(_span_terms(node), postings, cands),
                             ctx)


def _eval_span_or(node: SpanOrQ, postings: dict,
                  ctx: ScoreCtx) -> tuple[np.ndarray, np.ndarray]:
    """SpanOrQuery over term spans: the union of member spans — freq =
    float32 count of all member positions per doc; weight = idf summed
    over the members (SpanWeight.buildSimWeight, no df blending)."""
    tps = [postings.get(t) for t in node.terms]
    tps = [tp for tp in tps if tp is not None and len(tp.gids)]
    if not tps:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    gids = (
        tps[0].gids
        if len(tps) == 1
        else np.unique(np.concatenate([tp.gids for tp in tps]))
    )
    freqs = np.zeros(len(gids), dtype=np.int64)
    norms = np.zeros(len(gids), dtype=np.int64)
    for tp in tps:
        idx = np.minimum(np.searchsorted(tp.gids, gids), len(tp.gids) - 1)
        pres = tp.gids[idx] == gids
        freqs[pres] += tp.freqs[idx[pres]]
        norms[pres] = tp.norms[idx[pres]]
    return _score_positional(node, gids, freqs, norms, ctx)


def _max_score_of_impacts(imp_freqs, imp_norms, weight, cache, sim,
                          aux=None) -> float:
    f = np.asarray(imp_freqs, dtype=np.int64)
    n = np.asarray(imp_norms, dtype=np.int64).astype(np.uint8)
    if not len(f):
        return float("inf")
    s = sim.score(f, weight, cache[n], aux)
    return float(s.max())


def _float_safe_ub(ub: float) -> float:
    """Float-safe score-sum upper bound, the MaxScoreSumPropagator
    discipline (core/search/MaxScoreSumPropagator.java:80-105 /
    MathUtil.sumUpperBound): per-clause bounds accumulate here in double,
    but the kernels' final per-doc score is cast to float32, and that cast
    can round UP past the double sum. Widening the bound by one float32
    ulp before any theta comparison restores a true bound over every
    representable score — monotone, so it can only prune less, never a
    float32-tied competitor."""
    if not math.isfinite(ub):
        return ub
    return float(np.nextafter(np.float32(ub), np.float32(np.inf)))


def _float_safe_ub_arr(ub: np.ndarray) -> np.ndarray:
    """Vector form of :func:`_float_safe_ub` for per-block bound arrays."""
    f = ub.astype(np.float32)
    out = np.nextafter(f, np.float32(np.inf)).astype(np.float64)
    return np.where(np.isfinite(ub), out, ub)


def _plan_upper_bound(node, term_maxes: dict, ctx: ScoreCtx) -> float:
    """Conservative max score of a node given per-term max scores in range.

    A missing must term makes the node impossible (-inf).
    """
    if node is None:
        return float("-inf")
    if isinstance(node, TermQ):
        return term_maxes.get(node.term, float("-inf"))
    if isinstance(node, MultiPhraseQ):
        # impossible only when an entire slot is absent from the range
        if any(all(t not in term_maxes for t in slot) for slot in node.termss):
            return float("-inf")
        return float("inf")
    if isinstance(node, FunctionScoreQ):
        # function scores carry no impacts (like Lucene's): unbounded
        # unless the child provably matches nothing
        b = _plan_upper_bound(node.child, term_maxes, ctx)
        return b if b == float("-inf") else float("inf")
    if isinstance(node, _SPANS):
        # no cheap bound for span freq; impossible when a doc in range
        # cannot hold a needed term
        req, one_of = _span_needs(node)
        if any(t not in term_maxes for t in req) or not all(
            any(t in term_maxes for t in alts) for alts in one_of
        ):
            return float("-inf")
        return float("inf")
    if isinstance(node, (PhraseQ, NearQ, SloppyQ)):
        if any(t not in term_maxes for t in node.terms):
            return float("-inf")
        # no cheap bound for phrase/proximity freq (the reference gives
        # sloppy phrases dummy impacts too, SloppyPhraseMatcher.java:105-135)
        return float("inf")
    if isinstance(node, IntervalQ):
        if any(t not in term_maxes for t in node.terms):
            return float("-inf")
        # saturation score < weight for any freq (IntervalScorer.getMaxScore
        # returns the boost) — a TIGHT bound, unlike phrase/span nodes
        return float(ctx.phrase_weights[node])
    if isinstance(node, IntervalExprQ):
        # the tree may be a disjunction, so a missing term is not
        # disqualifying; the saturation bound (== weight) is always valid
        if not any(t in term_maxes for t in node.terms):
            return float("-inf")
        return float(ctx.phrase_weights[node])
    if isinstance(node, BoolQ):
        ub = float(node.const_add)  # folded MatchAll clauses score 1.0 each
        if node.must:
            for c in node.must:
                b = _plan_upper_bound(c, term_maxes, ctx)
                if b == float("-inf"):
                    return float("-inf")
                ub += b
            for c in node.should:
                b = _plan_upper_bound(c, term_maxes, ctx)
                if b > 0:
                    ub += b
            return ub
        any_present = False
        for c in node.should:
            b = _plan_upper_bound(c, term_maxes, ctx)
            if b != float("-inf"):
                any_present = True
                ub += max(b, 0.0)
        return ub if any_present else float("-inf")
    if isinstance(node, SynonymQ):
        present = [t for t in node.terms if t in term_maxes]
        if not present:
            return float("-inf")
        if getattr(ctx.sim, "weight_bounded", True):
            # score is bounded above by the blended weight (w - w/(1+x) < w)
            return float(ctx.syn_weights[node])
        # unbounded-tf sims (Classic sqrt-tf, LM logs): score is concave in
        # freq with score(0)=0, so score(Σ member freqs) ≤ Σ per-member
        # maxes; member maxes use per-term idf ≥ the blended (max-df) idf
        return sum(float(term_maxes[t]) for t in present)
    if isinstance(node, BlendedQ):
        ws = (ctx.blended_weights or {}).get(node)
        if ws is None or not any(t in term_maxes for t in node.terms):
            return float("-inf")
        if getattr(ctx.sim, "weight_bounded", True):
            # SHOULD sum of member terms, each bounded by its blended weight
            return sum(
                float(w) for t, w in zip(node.terms, ws) if t in term_maxes
            )
        # unbounded-tf sims: member max scaled by its RAW boost — score is
        # linear in the weight slot and term_maxes already carries the
        # per-term idf (≥ the blended max-df idf) or the LM unit weight
        return sum(
            float(b) * float(term_maxes[t])
            for t, b in zip(node.terms, node.boosts) if t in term_maxes
        )
    if isinstance(node, DisMaxQ):
        bounds = [_plan_upper_bound(c, term_maxes, ctx) for c in node.clauses]
        bounds = [b for b in bounds if b != float("-inf")]
        if not bounds:
            return float("-inf")
        # exclude exactly ONE occurrence of the max (duplicate clauses may
        # produce equal bounds; excluding all of them under-estimates and
        # theta-pruning could then drop true top-k buckets)
        mi = bounds.index(max(bounds))
        return bounds[mi] + node.tie * sum(
            max(b, 0.0) for i, b in enumerate(bounds) if i != mi
        )
    if isinstance(node, ConstScoreQ):
        child = _plan_upper_bound(node.child, term_maxes, ctx)
        return float("-inf") if child == float("-inf") else float(node.boost)
    if isinstance(node, TermInSetQ):
        if not any(t in term_maxes for t in node.terms):
            return float("-inf")
        return float(node.boost)
    if isinstance(node, TermSetRefQ):
        # the virtual key appears in term_maxes iff any member postings
        # block overlaps this bucket
        if node.name not in term_maxes:
            return float("-inf")
        return float(node.boost)
    if isinstance(node, BoostQ):
        child = _plan_upper_bound(node.child, term_maxes, ctx)
        if child == float("-inf"):
            return float("-inf")
        w = ctx.boost_weights[node]
        if isinstance(w, tuple):  # BoostQ(BlendedQ): per-member weights
            return sum(
                float(x) for t, x in zip(node.child.terms, w) if t in term_maxes
            )
        return float(w)  # score < weight always
    return float("inf")


# --------------------------------------------- block-level pruning helpers


def _term_block_slack(node, term_maxes: dict) -> "dict[str, float] | None":
    """Per-term additive slack for block-level score filtering.

    For flat term-only boolean trees, returns S_t such that any doc in a
    block B of term t scores at most blockmax(B) + S_t; blocks with
    blockmax + S_t < θ are dropped BEFORE decoding (the WANDScorer /
    BlockMaxConjunctionScorer advanceShallow analog,
    ``core/search/WANDScorer.java:313-427`` at block grain). Returns None
    for shapes where the bound isn't a per-term sum (DisMax, Synonym,
    Boost, nested bools, positional nodes) — those fall back to the
    bucket-level bound. must_not clauses never score-filter.
    """
    if isinstance(node, TermQ):
        return {node.term: 0.0}
    if not isinstance(node, BoolQ):
        return None
    leaves = node.must + node.should
    if any(not isinstance(c, TermQ) for c in leaves):
        return None
    all_terms = [c.term for c in leaves] + [
        c.term for c in node.must_not if isinstance(c, TermQ)
    ]
    if len(set(all_terms)) != len(all_terms):
        return None  # a term feeds several clauses: contribution not additive
    const = float(node.const_add)  # folded MatchAll clauses add to every doc
    if node.must:
        must_sum = 0.0
        for c in node.must:
            m = term_maxes.get(c.term)
            if m is None:
                return {}  # required term absent: bucket bound is -inf anyway
            must_sum += m
        should_pos = sum(
            max(term_maxes[c.term], 0.0) for c in node.should if c.term in term_maxes
        )
        slack = {
            c.term: const + must_sum - term_maxes[c.term] + should_pos
            for c in node.must
        }
        for c in node.should:
            if c.term in term_maxes:
                slack[c.term] = (
                    const + must_sum + should_pos - max(term_maxes[c.term], 0.0)
                )
        return slack
    should_pos = sum(
        max(term_maxes[c.term], 0.0) for c in node.should if c.term in term_maxes
    )
    return {
        c.term: const + should_pos - max(term_maxes[c.term], 0.0)
        for c in node.should
        if c.term in term_maxes
    }


def _span_needs(src) -> "tuple[set, list[set]]":
    """What every match of a span source needs in its doc: the terms it
    always contains, and sets of terms of which it contains at least one
    (a SpanOrQ's alternatives). Any other node needs what all its parts
    need (_span_parts: a SpanNotQ's include side only)."""
    if isinstance(src, str):
        return {src}, []
    if isinstance(src, SpanGap):
        return set(), []
    if isinstance(src, SpanOrQ):
        alts = set(src.terms)
        return (alts, []) if len(alts) == 1 else (set(), [alts])
    req: set = set()
    one_of: list = []
    for part in _span_parts(src):
        r, o = _span_needs(part)
        req |= r
        one_of += o
    return req, one_of


def _req_terms(node) -> set:
    """Terms that EVERY matching doc must contain (conjunctive closure)."""
    if isinstance(node, TermQ):
        return {node.term}
    if isinstance(node, (PhraseQ, NearQ, SloppyQ)):
        return set(node.terms)
    if isinstance(node, MultiPhraseQ):
        # only single-alternative slots are required in every match
        return {slot[0] for slot in node.termss if len(slot) == 1}
    if isinstance(node, _SPANS):
        return _span_needs(node)[0]
    if isinstance(node, BoolQ):
        out: set = set()
        for c in node.must:
            out |= _req_terms(c)
        return out
    if isinstance(node, (ConstScoreQ, BoostQ, FunctionScoreQ)):
        return _req_terms(node.child)
    if isinstance(node, TermSetRefQ):
        # every matching doc contains SOME member term, and the virtual
        # key's blocks union ALL member postings — so at block grain the
        # virtual key behaves like one required term
        return {node.name}
    return set()


def _intersect_block_filter(pdf: pd.DataFrame, req: set) -> pd.DataFrame:
    """Drop blocks whose gid interval cannot co-occur with every required
    term (block-grain conjunction leapfrog). Any doc matching the query
    carries all req terms, so EVERY term's blocks — scoring, optional and
    prohibited alike — are useless outside req-term block coverage."""
    if len(req) < 2:
        return pdf
    groups = {t: grp for t, grp in pdf.groupby("term", sort=False)}
    if any(t not in groups for t in req):
        return pdf.iloc[0:0]
    ivals = {}
    for t in req:
        g = groups[t].sort_values("first_gid")
        f = g["first_gid"].to_numpy(np.int64)
        ivals[t] = (f, np.maximum.accumulate(g["last_gid"].to_numpy(np.int64)))
    f_all = pdf["first_gid"].to_numpy(np.int64)
    l_all = pdf["last_gid"].to_numpy(np.int64)
    t_all = pdf["term"].to_numpy()
    keep = np.ones(len(pdf), dtype=bool)
    for t, (fs, lmax) in ivals.items():
        idx = np.searchsorted(fs, l_all, side="right") - 1
        ok = (idx >= 0) & (lmax[np.maximum(idx, 0)] >= f_all)
        keep &= ok | (t_all == t)
    return pdf[keep]


def _row_block_maxes(pdf: pd.DataFrame, weights: dict, caches: dict,
                     sim, auxes: "dict | None" = None) -> np.ndarray:
    """Per-block max possible score from the stored impact frontier.

    ``caches`` maps term key -> that term's FIELD norm cache (per-field
    avgdl); for single-field queries every value is the same array.
    Vectorized per term: one concatenated pass over all of a term's impact
    frontiers + a reduceat per-row max (no per-block Python).
    """
    out = np.full(len(pdf), float("inf"), dtype=np.float64)
    row_pos = np.arange(len(pdf))
    t_arr = pdf["term"].to_numpy()
    one = np.float32(1.0)
    for t in pd.unique(t_arr):
        w = weights.get(t)
        if w is None:
            continue
        sel = row_pos[t_arr == t]
        fl = pdf["imp_freqs"].iloc[sel]
        lens = np.fromiter((len(x) for x in fl), np.int64, len(sel))
        if not lens.sum():
            continue
        f = np.concatenate([np.asarray(x, dtype=np.int64) for x in fl])
        n = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["imp_norms"].iloc[sel]]
        ).astype(np.uint8)
        s = sim.score(
            f, w, caches[t][n], None if auxes is None else auxes.get(t)
        ).astype(np.float64)
        nz = lens > 0
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        out[sel[nz]] = np.maximum.reduceat(s, starts[nz])
    return out


def _after_mask(gids: np.ndarray, scores: np.ndarray,
                after: "tuple[float, int] | None"):
    """Keep candidates strictly after the (score, gid) cursor."""
    if after is None:
        return gids, scores
    a_s = np.float32(after[0])
    keep = (scores < a_s) | ((scores == a_s) & (gids > after[1]))
    return gids[keep], scores[keep]


def _live_mask(gids: np.ndarray, scores: np.ndarray,
               deleted: "np.ndarray | None"):
    """Drop deleted docs (liveDocs filter, Lucene90LiveDocsFormat analog).

    Runs BEFORE per-bucket top-k truncation and θ offers, so pruning never
    promotes a deleted doc's score into the competition. Collection stats
    and norms intentionally still include deleted docs — exactly Lucene's
    semantics until a merge reclaims them.
    """
    if deleted is None or not len(gids):
        return gids, scores
    idx = np.minimum(np.searchsorted(deleted, gids), len(deleted) - 1)
    keep = deleted[idx] != gids
    return gids[keep], scores[keep]


def _keep_only(gids: np.ndarray, scores: np.ndarray,
               keeps: "list[np.ndarray] | None"):
    """Intersect candidates with cached FILTER-clause gid sets (the
    BitSet-apply point of LRUQueryCache hits). Runs at the same spot as
    :func:`_live_mask` — before per-bucket top-k and θ offers — so pruning
    never competes on a doc the cached filter excludes."""
    if not keeps:
        return gids, scores
    for kp in keeps:
        if not len(gids):
            break
        if not len(kp):
            return gids[:0], scores[:0]
        idx = np.minimum(np.searchsorted(kp, gids), len(kp) - 1)
        ok = kp[idx] == gids
        gids, scores = gids[ok], scores[ok]
    return gids, scores


def _block_keep_filter(pdf: pd.DataFrame,
                       keeps: "list[np.ndarray] | None") -> pd.DataFrame:
    """Drop postings blocks whose [first_gid, last_gid] range contains no
    cached-filter gid — the block-grain analog of leapfrogging a cached
    BitSetIterator against the postings (LRUQueryCache's CachingWrapper
    scorer advances through the cached DocIdSet)."""
    if not keeps or pdf.empty:
        return pdf
    fg = pdf["first_gid"].to_numpy()
    lg = pdf["last_gid"].to_numpy()
    ok = np.ones(len(pdf), dtype=bool)
    for kp in keeps:
        if not len(kp):
            return pdf.iloc[:0]
        pos = np.minimum(np.searchsorted(kp, fg), len(kp) - 1)
        # kp[pos] is the first cached gid >= first_gid (clamped): the block
        # intersects the set iff that gid exists and is <= last_gid
        ok &= (kp[pos] >= fg) & (kp[pos] <= lg)
    return pdf[ok]


def _set_refs(node) -> "list[TermSetRefQ]":
    """All TermSetRefQ nodes in a rewritten tree (dedup, stable order)."""
    return list(dict.fromkeys(
        n for n in subtree(node) if isinstance(n, TermSetRefQ)
    ))


def _contains_matchall(node) -> bool:
    return any(isinstance(n, MatchAllQ) for n in subtree(node))


def _is_ma_clause(c) -> bool:
    """Direct MatchAll boolean clause, bare or boost-folded
    (ConstantScoreQuery(MatchAllDocsQuery) — what _distribute_boost and
    the duplicate-SHOULD merge produce)."""
    return isinstance(c, MatchAllQ) or (
        isinstance(c, ConstScoreQ) and isinstance(c.child, MatchAllQ)
    )


# ------------------------------------------------------------------ searcher

# worker-local top-k heaps: query id -> min-heap of scores. Python workers
# are long-lived across queries, so the map is bounded: oldest entries drop
# once more than _MAX_LIVE_QUERIES distinct queries have touched this worker
# (dict preserves insertion order; dropping only ever loses pruning
# opportunity, never correctness).
_LOCAL_HEAPS: dict = {}
_MAX_LIVE_QUERIES = 64


def _theta(qid: str, k: int) -> float:
    heap = _LOCAL_HEAPS.get(qid)
    if heap is None or len(heap) < k:
        return float("-inf")
    return heap[0]


def _offer(qid: str, k: int, scores: np.ndarray) -> None:
    heap = _LOCAL_HEAPS.setdefault(qid, [])
    while len(_LOCAL_HEAPS) > _MAX_LIVE_QUERIES:
        _LOCAL_HEAPS.pop(next(iter(_LOCAL_HEAPS)))
    scores = np.asarray(scores)
    if len(scores) > k:  # only the batch's top-k can matter
        scores = scores[np.argpartition(-scores, k - 1)[:k]]
    for s in scores:
        s = float(s)
        if len(heap) < k:
            heapq.heappush(heap, s)
        elif s > heap[0]:
            heapq.heapreplace(heap, s)


RESULT_SCHEMA = T.StructType(
    [T.StructField("gid", T.LongType()), T.StructField("score", T.FloatType())]
)

# "collect every match" sentinel k for cache-entry materialization: large
# enough that per-bucket top-k truncation and argpartition never fire
_ALL_K = 1 << 62


def _check_k(k: int) -> None:
    """TopScoreDocCollector requires numHits > 0."""
    if k < 1:
        raise ValueError(f"k must be at least 1, got {k}")


@dataclass(frozen=True)
class _ScanPlan:
    """A query planned down to one postings scan and one kernel: handed to
    Spark by ``Searcher.candidates``, or run on the driver by
    ``Searcher.search`` when ``local``."""

    node: object  # the rewritten node the kernel scores
    cols: tuple  # postings columns the scan reads
    terms: tuple  # terms the scan reads
    refs: tuple  # lazy term sets (TermSetRefQ) the scan semi-joins
    ctx: "ScoreCtx | None"  # None: a constant-score term set
    boost: float  # the constant score of a term set
    k: int
    prune: bool = True
    after: "tuple[float, int] | None" = None
    need_positions: bool = False
    need_payloads: bool = False
    keep_bcs: tuple = ()  # cached FILTER gid sets (broadcasts)
    dv_df: "DataFrame | None" = None  # doc-value verify rows (dv strategy)
    cache_fill: bool = False  # complete filter-only docs from the masks
    local: bool = False  # at most DRIVER_PLAN_POSTINGS: score on the driver


def _bucket_groups(pdf: pd.DataFrame, width: int):
    """(bucket, block rows) of the scan's blocks exploded onto gid-range
    buckets of ``width``, in ascending bucket order: the driver-side twin of
    the ``explode(sequence(first_gid / width, last_gid / width))`` Spark
    plan (same double division, same truncation)."""
    if pdf.empty:
        return
    b0 = (pdf["first_gid"].to_numpy(np.float64) / width).astype(np.int64)
    b1 = (pdf["last_gid"].to_numpy(np.float64) / width).astype(np.int64)
    n = b1 - b0 + 1
    row = np.repeat(np.arange(len(pdf)), n)
    bucket = np.repeat(b0 - (np.cumsum(n) - n), n) + np.arange(int(n.sum()))
    order = np.argsort(bucket, kind="stable")
    row, bucket = row[order], bucket[order]
    cuts = np.flatnonzero(np.diff(bucket)) + 1
    for r, b in zip(np.split(row, cuts), bucket[np.r_[0, cuts]]):
        yield int(b), pdf.iloc[r]


class Searcher:
    """Searches one finalized index directory."""

    def __init__(self, spark: SparkSession, index_dir: str, *,
                 target_bucket_postings: int = TARGET_BUCKET_POSTINGS,
                 seed_min_df: int = 1 << 17, seed_min_buckets: int = 4,
                 k1: float = 1.2, b: float = 0.75, similarity=None,
                 query_cache=None, dv_index_lead_cap: int = 1 << 18):
        # IndexSearcher.setSimilarity analog. Default BM25Similarity(k1, b)
        # (BM25Similarity.java ctor; idf is k1/b-independent); pass
        # ``similarity=`` for any other functions/similarity.py
        # implementation (e.g. ClassicSim) — it feeds the idf weights, the
        # norm tables, AND the impact-pruning bounds uniformly.
        self.k1 = np.float32(k1)
        self.b = np.float32(b)
        self.sim = similarity if similarity is not None else BM25Sim(float(k1), float(b))
        self.spark = spark
        self.index_dir = index_dir
        # point-in-time, like Lucene's IndexSearcher over one IndexReader:
        # the commit (live units, deletes, stats) is loaded once here, and
        # commits made after it are seen by a new Searcher only
        self.commit = Commit.load(index_dir)
        if self.commit.stats is None:
            raise FileNotFoundError(f"{index_dir} holds no finalized index")
        self.stats = self.commit.stats
        # warm-query caches: the scan DataFrames and per-term stats are
        # pinned per searcher
        self._terms_df = None
        self._terms_rev_df = None
        self._term_dict = None  # TermDictionary of terms/, first stats read
        self._tstats_cache: dict = {}  # term -> (df, ttf) | None (absent)
        self._postings = None
        self._scans: dict = {}  # column tuple -> pinned postings projection
        self._docs_raw = None
        self._doc_groups = None  # GidRowGroups of the doc rows, first key fetch
        # scale knobs (defaults sized for cluster runs; tests shrink them to
        # exercise the multi-bucket + seeded-θ paths on tiny corpora)
        self.target_bucket_postings = int(target_bucket_postings)
        self.seed_min_df = int(seed_min_df)
        self.seed_min_buckets = int(seed_min_buckets)
        self.metrics: "dict | None" = None
        self._deleted = _UNSET
        self._deleted_bc = _UNSET
        self._deleted_df = _UNSET
        # IndexSearcher.setQueryCache analog: an operators.query_cache
        # LRUQueryCache, shareable across Searchers (entry keys embed the
        # index generation). None = caching off, like setQueryCache(null).
        self.query_cache = query_cache
        # IndexOrDocValuesQuery: ceiling on the estimated range cardinality
        # the "index" (lead) strategy may materialize as a broadcast mask;
        # above it the dv (co-grouped verify) strategy is forced even when
        # the reference's cost rule would lead — a driver/broadcast-memory
        # bound the single-node reference doesn't need.
        self.dv_index_lead_cap = int(dv_index_lead_cap)
        self._dv_minmax_cache: "tuple | None" = None
        # observability for tests/benchmarks: strategy of the last
        # DocValuesRangeQ execution ("index" | "dv" | "scan")
        self.last_dv_strategy: "str | None" = None

    # ---- planning -----------------------------------------------------
    def deleted_gids(self) -> "np.ndarray | None":
        """Sorted array of deleted docIDs, or None when the index has no
        deletes. Deletes are
        memory-resident like Lucene's per-segment live-docs bitsets; at 8
        bytes per deleted doc the budget matches Lucene's own RAM model —
        but ONLY driver-side paths read this. Kernels take
        :meth:`deleted_bc` (a Spark broadcast: shipped once per executor
        over the torrent protocol, never pickled into task closures — the
        r3 scale-killer at north-rule delete volumes)."""
        if self._deleted is not _UNSET:
            return self._deleted
        self._deleted = read_gids(self.index_dir, self.commit.delete_paths)
        return self._deleted

    def deleted_bc(self):
        """Broadcast handle over the sorted deleted-gid array, or None.
        The handle itself serializes to a few hundred bytes regardless of
        delete count (SparkContext.broadcast — TorrentBroadcast); workers
        materialize the array once per executor on first ``.value``."""
        if self._deleted_bc is not _UNSET:
            return self._deleted_bc
        arr = self.deleted_gids()
        self._deleted_bc = (
            None if arr is None else self.spark.sparkContext.broadcast(arr)
        )
        return self._deleted_bc

    def has_deletes(self) -> bool:
        """Manifest-only check — never materializes the delete set."""
        return bool(self.commit.delete_paths)

    def deleted_df(self) -> "DataFrame | None":
        """Deleted gids as a DataFrame straight off the delete-record
        parquet (no driver round-trip), for DataFrame-level live filters."""
        if self._deleted_df is not _UNSET:
            return self._deleted_df
        paths = self.commit.delete_paths
        # duplicate gids (two deletes naming one doc) change nothing on
        # the right of a left_anti join, so no distinct (and no shuffle)
        self._deleted_df = (
            None if not paths
            else read_table(self.spark, self.index_dir, paths, GID_SCHEMA)
        )
        return self._deleted_df

    def _postings_df(self) -> DataFrame:
        """Postings scan over the LIVE merge units (SegmentInfos view):
        committed merge outputs + batches no merge has consumed yet. With
        tiered merging the unit count stays O(segs_per_tier · log(total)),
        so this one multi-path scan is bounded on a continuously appended
        index."""
        if self._postings is not None:
            return self._postings
        cols = [
            "term", "seg", "block_ord", "doc_count", "first_gid", "last_gid",
            "gids", "freqs", "norms", "positions", "imp_freqs", "imp_norms",
        ]
        if self.stats.get("with_offsets"):
            cols += ["off_starts", "off_lens"]
        if self.stats.get("with_payloads"):
            cols.append("payloads")
        self._postings = read_table(
            self.spark, self.index_dir,
            [u["path"] for u in self.commit.live_units], POSTINGS_SCHEMA,
        ).select(*cols)
        return self._postings

    def term_dict(self) -> TermDictionary:
        """Footer term ranges of this searcher's ``terms/`` row groups,
        read once on first use."""
        if self._term_dict is None:
            self._term_dict = TermDictionary.load(self.index_dir)
        return self._term_dict

    def term_stats(self, terms: set[str]) -> dict[str, tuple[int, int]]:
        """(doc_freq, total_term_freq) per term present in the index.

        Read on the driver from the ``terms/`` row groups whose footer term
        range can hold a probe (``commit.TermDictionary``): no Spark job.
        A probe whose row groups exceed the dictionary's driver read cap
        collects the matching rows of a filtered ``terms/`` scan instead
        (the ``search.term_stats`` job). Results are cached per searcher,
        misses included (TermStates-style snapshot: Lucene resolves term
        states once per query against a point-in-time reader)."""
        if not terms:
            return {}
        missing = sorted(t for t in terms if t not in self._tstats_cache)
        if missing:
            found = self.term_dict().stats(missing)
            if found is None:
                with job_label(self.spark, "search.term_stats"):
                    rows = self._in_terms(self.terms_table(), missing).collect()
                found = {r["term"]: (int(r["doc_freq"]), int(r["total_term_freq"]))
                         for r in rows}
            for t in missing:
                self._tstats_cache[t] = found.get(t)
        return {
            t: self._tstats_cache[t] for t in terms
            if self._tstats_cache.get(t) is not None
        }

    # ---- multi-term rewrite (MultiTermQuery.java rewrite methods) ------
    def terms_table(self) -> DataFrame:
        if self._terms_df is None:
            self._terms_df = read_table(
                self.spark, self.index_dir, ["terms"], TERMS_SCHEMA
            )
        return self._terms_df

    def terms_rev_table(self) -> DataFrame:
        """The REVERSED term dictionary (rterm, term, doc_freq,
        total_term_freq), sorted by rterm: leading-wildcard / suffix
        patterns push a StartsWith(reverse(suffix)) into it — the Spark
        analog of Lucene's solr.ReversedWildcardFilter trade (index the
        reversed form; a ``*ing`` seek becomes a prefix seek)."""
        if self._terms_rev_df is None:
            self._terms_rev_df = read_table(
                self.spark, self.index_dir, ["terms_rev"], TERMS_REV_SCHEMA
            )
        return self._terms_rev_df

    def matched_terms_df(self, node) -> DataFrame:
        """Matched-terms DATAFRAME for one multi-term node — a filter over
        the sorted terms Parquet (min/max row-group pruning = the
        blocktree/FST seek analog). Nothing collects to the driver: callers
        semi-join this plan into the postings scan, the Spark re-expression
        of the per-segment postings union in
        ``AbstractMultiTermQueryConstantScoreWrapper``
        (core/search/MultiTermQuery.java:197-236). Columns: at least
        (term, doc_freq)."""
        tdf = self.terms_table()
        # default-field patterns must not leak into qualified keys of other
        # fields (e.g. wildcard ?a* would match "head\x1f..." otherwise)
        probe = {
            PrefixQ: lambda n: n.prefix, WildcardQ: lambda n: n.pattern,
            FuzzyQ: lambda n: n.term, RegexpQ: lambda n: n.pattern,
            RangeQ: lambda n: (n.lo or "") + (n.hi or ""),
        }.get(type(node))
        default_field_only = probe is not None and FIELD_SEP not in probe(node)
        if default_field_only:
            tdf = tdf.filter(~F.col("term").contains(FIELD_SEP))
        elif isinstance(node, FuzzyQ) and FIELD_SEP in node.term:
            # unanchored edit-distance scan: pin it to the node's field
            tdf = tdf.filter(
                F.col("term").startswith(node.term.split(FIELD_SEP, 1)[0] + FIELD_SEP)
            )
        if isinstance(node, PrefixQ):
            matched = tdf.filter(F.col("term").startswith(node.prefix))
        elif isinstance(node, WildcardQ):
            import re as _re

            # lex the pattern backslash-aware first: ``\*`` is a literal
            # star, not a wildcard (WildcardQuery.WILDCARD_ESCAPE)
            lexed = _wildcard_lex(node.pattern)
            wilds = [i for i, (kind, _) in enumerate(lexed) if kind != "lit"]
            # longest literal prefix before the first wildcard pushes a
            # StartsWith into the sorted-terms Parquet scan (row-group
            # min/max pruning) — the blocktree/FST automaton-intersection
            # seek analog (Lucene90BlockTreeTermsReader.intersect); the
            # rlike then only sees the pruned candidate range
            cut = wilds[0] if wilds else len(lexed)
            if cut:
                prefix = "".join(ch for _, ch in lexed[:cut])
                tdf = tdf.filter(F.col("term").startswith(prefix))
            elif wilds:
                # leading wildcard (*ing / ?erge): the longest literal
                # SUFFIX, reversed, is a prefix seek into the rterm-sorted
                # dictionary — no full-dictionary scan
                suffix = "".join(ch for _, ch in lexed[wilds[-1] + 1:])
                if suffix:
                    tdf = self.terms_rev_table().filter(
                        F.col("rterm").startswith(suffix[::-1])
                    )
                    if default_field_only:
                        tdf = tdf.filter(~F.col("term").contains(FIELD_SEP))
            rx = "".join(
                ".*" if kind == "*" else "." if kind == "?" else _re.escape(ch)
                for kind, ch in lexed
            )
            matched = tdf.filter(F.col("term").rlike(f"^{rx}$"))
        elif isinstance(node, RegexpQ):
            lit = _regex_literal_prefix(node.pattern)
            if lit:
                tdf = tdf.filter(F.col("term").startswith(lit))
            else:
                sfx = _regex_literal_suffix(node.pattern)
                if sfx:
                    tdf = self.terms_rev_table().filter(
                        F.col("rterm").startswith(sfx[::-1])
                    )
                    if default_field_only:
                        tdf = tdf.filter(~F.col("term").contains(FIELD_SEP))
            # (?:...) keeps full-term anchoring across top-level
            # alternations (RegexpQuery matches the WHOLE term;
            # ^abc|xyz$ would anchor each branch separately)
            matched = tdf.filter(F.col("term").rlike(f"^(?:{node.pattern})$"))
        elif isinstance(node, RangeQ):
            c = F.lit(True)
            if node.lo is not None:
                c = c & (
                    F.col("term") >= node.lo if node.include_lo else F.col("term") > node.lo
                )
            if node.hi is not None:
                c = c & (
                    F.col("term") <= node.hi if node.include_hi else F.col("term") < node.hi
                )
            matched = tdf.filter(c)
        else:
            raise TypeError(f"not a multi-term node: {node!r}")
        return matched

    def expand_terms(self, node, capped: bool = False) -> list[str]:
        """Materialized term expansion — ONLY for bounded uses (tests,
        SCORING boolean rewrites where ``capped`` applies maxClauseCount).
        The query path never calls this uncapped on user patterns: rewrite
        enumerates at most BOOL_REWRITE_TERM_LIMIT terms and otherwise keeps
        the match set distributed (TermSetRefQ)."""
        if isinstance(node, FuzzyQ):
            # fuzzy candidate collection is already bounded + distributed
            # (TakeOrdered keeps only max_expansions on the driver)
            return sorted(t for t, _ in self._fuzzy_candidates(node))
        matched = self.matched_terms_df(node)
        if capped:
            terms = [
                r["term"]
                for r in matched.select("term").limit(MAX_CLAUSE_COUNT + 1).collect()
            ]
            if len(terms) > MAX_CLAUSE_COUNT:
                raise ValueError(
                    f"multi-term query expands to >{MAX_CLAUSE_COUNT} terms "
                    "(maxClauseCount, IndexSearcher.java:81)"
                )
        else:
            terms = [r["term"] for r in matched.select("term").collect()]
        return sorted(terms)

    def _fuzzy_candidates(self, node: FuzzyQ, tdf=None) -> "list[tuple[str, float]]":
        """FuzzyQuery candidate collection: (term, boost) pairs in
        TopTermsRewrite priority order.

        Candidate generation is bounded BEFORE any distance runs:
        |len(term) - len(q)| <= maxEdits (true for Levenshtein and Damerau
        alike), and a non-zero prefixLength pushes a StartsWith seek with
        the distance on the remainders (FuzzyQuery.java prefixLength).
        Each candidate's boost is float32 ``1 - ed / min(|term|, |query|)``
        — exact match 1.0, lengths of the field-local terms
        (FuzzyTermsEnum.java:247-255) — and the top ``max_expansions``
        (capped by maxClauseCount) are kept by (boost desc, term asc), the
        TopTermsRewrite queue order (TopTermsRewrite.java:109-155); the
        build truncates negative boosts to 0 (TopTermsRewrite.java:169-171).
        """
        if tdf is None:
            tdf = self.terms_table()
            if FIELD_SEP not in node.term:
                tdf = tdf.filter(~F.col("term").contains(FIELD_SEP))
            else:
                tdf = tdf.filter(F.col("term").startswith(
                    node.term.split(FIELD_SEP, 1)[0] + FIELD_SEP
                ))
        plen = int(getattr(node, "prefix_length", 0) or 0)
        q = node.term
        if plen > 0:
            plen = min(plen, len(q))
            tdf = tdf.filter(F.col("term").startswith(q[:plen]))
        band = tdf.select("term", "doc_freq").filter(
            F.length(F.col("term")).between(
                len(q) - node.max_edits, len(q) + node.max_edits
            )
        )
        if getattr(node, "transpositions", True):
            # OSA (restricted Damerau) in an Arrow-vectorized kernel —
            # one batched DP per partition, no per-term Python
            from ..functions.editdist import osa_distances

            qs, pl, me = q, plen, node.max_edits

            def dist_kernel(batches):
                for pdf in batches:
                    if pdf.empty:
                        continue
                    suf = [t[pl:] for t in pdf["term"]]
                    d = osa_distances(suf, qs[pl:])
                    keep = d <= me
                    if keep.any():
                        out = pdf[keep].copy()
                        out["ed"] = d[keep]
                        yield out

            cand = band.mapInPandas(
                dist_kernel, schema="term string, doc_freq long, ed long"
            )
        else:
            # classic Levenshtein stays JVM-side
            suffix = F.col("term").substr(plen + 1, 1 << 20)
            cand = band.withColumn(
                "ed", F.levenshtein(suffix, F.lit(q[plen:]))
            ).filter(F.col("ed") <= node.max_edits)
        # Top-k selection runs distributed (TakeOrdered), so the driver
        # only ever sees max_expansions rows — no unbounded collect at a
        # billion-term dictionary. All candidates share one field prefix
        # (tdf is pre-filtered), so the field-local length is
        # length(term) - const, and the boost float32 arithmetic is IEEE
        # single-precision on the JVM exactly as np.float32 is here.
        prefix_len = len(q) - len(local_term(q))
        min_len = F.greatest(
            F.least(
                F.length("term") - F.lit(prefix_len),
                F.lit(len(local_term(q))),
            ),
            F.lit(1),
        )
        boost_col = (
            F.lit(1.0).cast("float")
            - F.col("ed").cast("float") / min_len.cast("float")
        ).cast("float")
        rows = (
            cand.withColumn("boost", boost_col)
            .select("term", "boost")
            .orderBy(F.desc("boost"), F.asc("term"))
            .limit(min(int(node.max_expansions), MAX_CLAUSE_COUNT))
            .collect()
        )
        return [
            (r["term"], float(max(np.float32(0.0), np.float32(r["boost"]))))
            for r in rows
        ]

    def _rewrite_interval_tree(self, root):
        """Expand IPrefix/IWildcard interval leaves against the term
        dictionary (MultiTermIntervalsSource.intervals: enumerate the
        automaton's TermsEnum, throwing once the count passes
        maxExpansions — MultiTermIntervalsSource.java:63-77). Zero
        matches → INoMatch, one → ITerm, else IOr. Unchanged subtrees are
        returned identically so the common no-multiterm case stays a
        no-op."""
        import dataclasses as _dc

        from ..plans import intervals as IV

        if isinstance(root, (IV.IPrefix, IV.IWildcard)):
            if isinstance(root, IV.IPrefix):
                probe, pat = PrefixQ(root.prefix), root.prefix + "*"
            else:
                probe, pat = WildcardQ(root.pattern), root.pattern
            cap = int(root.max_expansions)
            rows = (
                self.matched_terms_df(probe)
                .select("term").limit(cap + 1).collect()
            )
            if len(rows) > cap:
                raise ValueError(
                    f"Automaton [{pat}] expanded to too many terms "
                    f"(limit {cap})"
                )
            terms = sorted(r["term"] for r in rows)
            if not terms:
                # empty expansion: the reference keeps the multi-term
                # source (minExtent 1) with an empty iterator
                return IV.INoMatch(pat, min_ext=1)
            if len(terms) == 1:
                return IV.ITerm(terms[0])
            return IV.IOr(tuple(IV.ITerm(t) for t in terms))
        if isinstance(root, (IV.ITerm, IV.INoMatch)):
            return root
        changed = False
        kids = {f.name: getattr(root, f.name) for f in _dc.fields(root)}
        for k, v in kids.items():
            if isinstance(v, tuple) and v and IV._is_source(v[0]):
                nv = tuple(self._rewrite_interval_tree(c) for c in v)
                if any(a is not b for a, b in zip(nv, v)):
                    kids[k] = nv
                    changed = True
            elif IV._is_source(v):
                nv = self._rewrite_interval_tree(v)
                if nv is not v:
                    kids[k] = nv
                    changed = True
        return type(root)(**kids) if changed else root

    def rewrite(self, node):
        """Resolve multi-term nodes against the term dictionary
        (Query.rewrite fixpoint, IndexSearcher.java:761-768).

        Prefix/wildcard/regexp/range → CONSTANT_SCORE_BLENDED_REWRITE, the
        reference default (PrefixQuery.java:32-34, AutomatonQuery.java:79,
        TermRangeQuery.newStringRange): every doc containing ANY matched
        term scores the boost (1.0), with NO clause cap — the match set
        executes through the TermInSet semi-join machinery (the bitset/
        postings-union execution of
        MultiTermQueryConstantScoreBlendedWrapper, re-expressed as a scan
        semi-join). Fuzzy rewrites to the reference-default
        TopTermsBlendedFreqScoringRewrite (MultiTermQuery.java:197-236):
        the top-boost expansion becomes a BlendedQ — every member scored
        with the blended max docFreq times its distance boost, summed as a
        boolean. An empty expansion matches nothing (MatchNoDocsQuery
        analog).
        """
        if node is None or isinstance(
            node,
            (TermQ, PhraseQ, MultiPhraseQ, NearQ, SloppyQ, SynonymQ,
             SpanOrQ, IntervalQ, MatchAllQ, TermInSetQ, TermSetRefQ,
             BlendedQ, DocValuesRangeQ),
        ):
            return node
        if isinstance(node, IntervalExprQ):
            root2 = self._rewrite_interval_tree(node.root)
            if root2 is node.root:
                return node
            return IntervalExprQ(root=root2, pivot=node.pivot)
        if isinstance(node, SpanMultiQ):
            # SpanMultiTermQueryWrapper SCORING_SPAN_QUERY_REWRITE: expand
            # the pattern against the dictionary into a SpanOrQuery;
            # maxClauseCount-guarded (an unbounded driver term list is the
            # scale anti-pattern this engine refuses), top_terms=k for the
            # TopTermsSpanBooleanQueryRewrite variant
            terms = self.expand_terms(node.pattern,
                                      capped=node.top_terms is None)
            if node.top_terms is not None:
                terms = terms[: node.top_terms]
            if not terms:
                return BoolQ()
            if len(terms) == 1:
                return TermQ(terms[0])
            return SpanOrQ(terms=tuple(terms))
        if isinstance(node, _SPANS):
            # every span-source field rewrites, so a SpanMultiQ expands
            # under any span node. An empty source matches nothing, except
            # a SpanNotQ's exclude: the include then passes unfiltered
            changes = {}
            for f in fields(node):
                if "walk" not in f.metadata:
                    continue
                v = getattr(node, f.name)
                nv = (tuple(map(self._rewrite_span_side, v))
                      if isinstance(v, tuple) else self._rewrite_span_side(v))
                if nv is None and f.name == "exclude":
                    nv = SpanOrQ(terms=())
                if nv is None or (isinstance(nv, tuple) and None in nv):
                    return BoolQ()
                if nv != v:
                    changes[f.name] = nv
            return replace(node, **changes) if changes else node
        if isinstance(node, FuzzyQ):
            pairs = self._fuzzy_candidates(node)
            if not pairs:
                return BoolQ()
            if len(pairs) == 1 and pairs[0][1] == 1.0:
                # single exact match: BlendedTermQuery over one term with
                # boost 1 collapses to the plain TermQuery
                return TermQ(pairs[0][0])
            return BlendedQ(
                terms=tuple(t for t, _ in pairs),
                boosts=tuple(b for _, b in pairs),
            )
        if isinstance(node, (PrefixQ, WildcardQ, RegexpQ, RangeQ)):
            # bounded enumeration probe: at most LIMIT+1 matches. Small sets
            # become a TermInSet whose IN-filter pushes into the Parquet
            # scan — AbstractMultiTermQueryConstantScoreWrapper's
            # BOOLEAN_REWRITE_TERM_COUNT_THRESHOLD=16 boolean rewrite.
            # Bigger sets stay a DataFrame plan (TermSetRefQ): the matched
            # terms semi-join into the postings scan, never materializing on
            # the driver (the r3 scale-killer at billion-term dictionaries).
            # Prefix and range probes read the term dictionary's footers on
            # the driver; wildcard and regexp keep a Spark probe, because
            # Java and Python regex differ, and so does a prefix or range
            # probe past the dictionary's driver read cap.
            head = None
            if isinstance(node, (PrefixQ, RangeQ)):
                head = self.term_dict().expand(node, BOOL_REWRITE_TERM_LIMIT)
            if head is None:
                with job_label(self.spark, "search.expand"):
                    head = [
                        r["term"]
                        for r in self.matched_terms_df(node)
                        .select("term").limit(BOOL_REWRITE_TERM_LIMIT + 1).collect()
                    ]
            if len(head) <= BOOL_REWRITE_TERM_LIMIT:
                return ConstScoreQ(TermInSetQ(tuple(sorted(head))), boost=1.0)
            return ConstScoreQ(TermSetRefQ(source=node), boost=1.0)
        if isinstance(node, BoolQ):
            # Occur.FILTER desugars to a required non-scoring clause
            # (BooleanWeight's non-scoring iterator == MUST ConstantScore(0)):
            # candidate generation, leapfrog and positions see a normal MUST,
            # while its score contribution and pruning upper bound are 0.0
            filt = tuple(
                ConstScoreQ(self.rewrite(c), boost=0.0) for c in node.filter
            )
            out = BoolQ(
                must=tuple(self.rewrite(c) for c in node.must) + filt,
                should=tuple(self.rewrite(c) for c in node.should),
                must_not=tuple(self.rewrite(c) for c in node.must_not),
                msm=node.msm,
                const_add=node.const_add,
                n_free_opt=node.n_free_opt,
            ).simplified()
            # simplified's duplicate-clause merge (BooleanQuery.java:405-437)
            # can surface BoostQ wrappers — fold them into scorer weights
            # like any other boost (so e.g. a doubled MatchAll SHOULD clause
            # becomes ConstScore(MatchAll, 2) the matchall fold understands)
            if isinstance(out, BoostQ):
                return self._distribute_boost(out.child, np.float32(out.boost))
            if isinstance(out, BoolQ) and any(
                isinstance(c, BoostQ) for c in out.must + out.should
            ):
                def dist(c):
                    if isinstance(c, BoostQ):
                        return self._distribute_boost(c.child, np.float32(c.boost))
                    return c

                out = BoolQ(
                    must=tuple(dist(c) for c in out.must),
                    should=tuple(dist(c) for c in out.should),
                    must_not=out.must_not,
                    msm=out.msm,
                    const_add=out.const_add,
                    n_free_opt=out.n_free_opt,
                )
            return out
        if isinstance(node, DisMaxQ):
            return DisMaxQ(
                clauses=tuple(self.rewrite(c) for c in node.clauses), tie=node.tie
            )
        if isinstance(node, ConstScoreQ):
            return ConstScoreQ(self.rewrite(node.child), boost=node.boost)
        if isinstance(node, FunctionScoreQ):
            return FunctionScoreQ(self.rewrite(node.child), value=node.value,
                                  field=node.field)
        if isinstance(node, BoostQ):
            return self._distribute_boost(
                self.rewrite(node.child), np.float32(node.boost)
            )
        raise TypeError(f"unknown node {node!r}")

    def _rewrite_span_side(self, c):
        """A span clause or side after rewrite: SpanMultiQ expands against
        the dictionary (nested near clauses included) to a term or a
        SpanOrQ; None when the expansion is empty."""
        if isinstance(c, (str, SpanGap)):
            return c
        c = self.rewrite(c)
        if isinstance(c, BoolQ):
            return None
        return c.term if isinstance(c, TermQ) else c

    def _distribute_boost(self, node, boost: "np.float32"):
        """BoostQuery over ANY clause: Lucene propagates boost through
        Weight creation (BoostQuery.java createWeight passes
        ``boost * this.boost``, a float multiply) so it folds
        multiplicatively into every scoring leaf's float32 weight. The same
        fold here as a plan rewrite: composites distribute to their scoring
        children; leaves keep a BoostQ wrapper whose weight the scorer
        builds as float32(boost * idf)."""
        if isinstance(node, BoostQ):
            return self._distribute_boost(
                node.child, np.float32(boost * np.float32(node.boost))
            )
        if isinstance(node, ConstScoreQ):
            # ConstantScoreQuery's weight scores the accumulated boost
            return ConstScoreQ(
                node.child, boost=float(np.float32(boost * np.float32(node.boost)))
            )
        if isinstance(node, MatchAllQ):
            return ConstScoreQ(node, boost=float(boost))
        if isinstance(node, BoolQ):
            # must_not never scores (COMPLETE_NO_SCORES); each folded
            # MatchAll clause scores float32(boost) instead of 1.0
            return BoolQ(
                must=tuple(self._distribute_boost(c, boost) for c in node.must),
                should=tuple(self._distribute_boost(c, boost) for c in node.should),
                must_not=node.must_not,
                msm=node.msm,
                const_add=node.const_add * float(boost),
                n_free_opt=node.n_free_opt,
                filter=node.filter,
            )
        if isinstance(node, DisMaxQ):
            return DisMaxQ(
                clauses=tuple(self._distribute_boost(c, boost) for c in node.clauses),
                tie=node.tie,
            )
        return BoostQ(node, boost=float(boost))

    def field_stats(self, field: str) -> tuple[int, int]:
        """(docCount, sumTotalTermFreq) of one field — the idf/avgdl inputs
        (per-field CollectionStatistics). A query may name a field the index
        does not have; that falls back to the collection stats."""
        fs = self.stats["fields"]
        if field in fs:
            return int(fs[field]["doc_count"]), int(fs[field]["sum_ttf"])
        return int(self.stats["doc_count"]), int(self.stats["sum_total_term_freq"])

    def make_ctx(self, node) -> ScoreCtx:
        # the similarity's own idf shadows the module-level BM25 one for
        # every weight fold below (the folds themselves — boost*idf f32
        # mult, phrase double-sum, synonym/blended df max — are
        # similarity-agnostic, per TFIDFSimilarity.scorer/BM25 scorer)
        _idf = self.sim.idf
        terms = query_terms(node)
        tstats = self.term_stats(terms)
        caches: dict[str, np.ndarray] = {}

        def cache_of(field: str) -> np.ndarray:
            if field not in caches:
                dc, sttf = self.field_stats(field)
                caches[field] = self.sim.norm_table(_avgdl(sttf, max(dc, 1)))
            return caches[field]

        def doc_count_of(term_key: str) -> int:
            return max(self.field_stats(_field_of(term_key))[0], 1)

        cache = cache_of(DEFAULT_FIELD)
        weights = {
            t: _idf(tstats[t][0], doc_count_of(t)) for t in terms if t in tstats
        }
        for t in terms:
            cache_of(_field_of(t))  # materialize every queried field's cache
        phrase_weights = {}
        syn_weights = {}
        boost_weights = {}
        blended_weights = {}
        # collection-model similarities (LMDirichlet/LMJM) carry per-term
        # stats through aux; their composite folds follow SimilarityBase.
        # scorer — one BasicSimScorer per TermStatistics, boost in the
        # weight slot (idf() is 1), MultiSimScorer summing at eval time
        aux_of = getattr(self.sim, "aux", None)
        phrase_aux: "dict | None" = {} if aux_of is not None else None
        syn_aux: "dict | None" = {} if aux_of is not None else None
        blended_aux: "dict | None" = {} if aux_of is not None else None

        def term_aux(t: str) -> np.float32:
            df, ttf = tstats.get(t, (0, 0))
            return aux_of(df, doc_count_of(t), ttf,
                          self.field_stats(_field_of(t))[1])

        def pseudo_aux(member_terms) -> "np.float32 | None":
            """Blended pseudo-stats: df = max over present members, ttf =
            their SUM (SynonymQuery.java:205-222,
            BlendedTermQuery.java:281-290)."""
            present = [t for t in member_terms if t in tstats]
            if not present:
                return None
            df = max(tstats[t][0] for t in present)
            ttf = sum(tstats[t][1] for t in present)
            t0 = present[0]
            return aux_of(df, doc_count_of(t0), ttf,
                          self.field_stats(_field_of(t0))[1])

        def walk(n):
            if isinstance(n, BoostQ):
                walk(n.child)
                if isinstance(n.child, TermQ):
                    base = weights.get(n.child.term, np.float32(0.0))
                elif isinstance(n.child, _PHRASE_LIKE):
                    base = phrase_weights.get(n.child, np.float32(0.0))
                elif isinstance(n.child, SynonymQ):
                    base = syn_weights.get(n.child, np.float32(0.0))
                elif isinstance(n.child, BlendedQ):
                    # BoostQuery cascades: each member weight multiplied by
                    # the outer boost at the same float32 fold point
                    boost_weights[n] = tuple(
                        np.float32(np.float32(n.boost) * w)
                        for w in blended_weights[n.child]
                    )
                    return
                else:
                    raise TypeError(f"BoostQ supports leaf nodes, got {n.child!r}")
                # float32 multiply, the BM25Scorer ctor's cast point
                boost_weights[n] = np.float32(np.float32(n.boost) * base)
            elif isinstance(n, (IntervalQ, IntervalExprQ)):
                # similarity-independent: the weight slot is the saturation
                # function's w (1.0; BoostQ folds multiply the raw boost) —
                # IntervalQuery never consults searcher.getSimilarity()
                phrase_weights[n] = np.float32(1.0)
            elif isinstance(n, _PHRASE_LIKE):
                # for MultiPhraseQ ``terms`` flattens termArrays in order
                # with duplicates kept — one idf per array entry, exactly
                # MultiPhraseWeight.getStats. A span weight's getTermStates
                # merges its parts' term maps (a Map keyed by Term), so a
                # repeated term counts ONCE (SpanWeight, SpanContainQuery.
                # java:93-96); _span_terms is the extractTermStates walk
                ts = (dict.fromkeys(_span_terms(n)) if isinstance(n, _SPANS)
                      else n.terms)
                if aux_of is not None:
                    # SimilarityBase: weight slot = boost (1.0 here; BoostQ
                    # folds multiply it); one aux per present term state —
                    # SimilarityBase.scorer builds one BasicSimScorer per
                    # TermStatistics entry
                    phrase_weights[n] = np.float32(1.0)
                    phrase_aux[n] = tuple(
                        term_aux(t) for t in ts if t in tstats
                    )
                    return
                # idf summed as double over float per-term idfs, cast to
                # float
                phrase_weights[n] = np.float32(sum(
                    float(_idf(tstats[t][0], doc_count_of(t)))
                    for t in ts if t in tstats
                ))
            elif isinstance(n, SynonymQ):
                # blended stats: df = max over members (SynonymQuery.java)
                dfs = [tstats[t][0] for t in n.terms if t in tstats]
                syn_weights[n] = (
                    _idf(max(dfs), doc_count_of(n.terms[0])) if dfs else np.float32(0.0)
                )
                if aux_of is not None:
                    syn_aux[n] = pseudo_aux(n.terms)
            elif isinstance(n, BlendedQ):
                # adjustFrequencies: every member's df replaced by the max
                # across members (BlendedTermQuery.java:281-290); each
                # TermQuery weight = float32(boost_i) * blended idf, the
                # BM25Scorer ctor fold
                dfs = [tstats[t][0] for t in n.terms if t in tstats]
                base = (
                    _idf(max(dfs), doc_count_of(n.terms[0])) if dfs else np.float32(0.0)
                )
                blended_weights[n] = tuple(
                    np.float32(np.float32(b) * base) for b in n.boosts
                )
                if aux_of is not None:
                    blended_aux[n] = pseudo_aux(n.terms)
            else:
                for c in children(n):
                    walk(c)

        walk(node)
        aux = None
        if aux_of is not None:
            aux = {t: term_aux(t) for t in terms if t in tstats}
        return ScoreCtx(
            weights=weights, cache=cache,
            phrase_weights=phrase_weights, syn_weights=syn_weights,
            boost_weights=boost_weights, blended_weights=blended_weights,
            doc_freqs={t: tstats[t][0] for t in terms if t in tstats},
            caches=caches, sim=self.sim, aux=aux,
            phrase_aux=phrase_aux, syn_aux=syn_aux, blended_aux=blended_aux,
        )

    # ---- execution ------------------------------------------------------
    def enable_metrics(self) -> dict:
        """Turn on executor-side counters (Spark accumulators): blocks
        scanned vs blocks actually decoded — the WAND-effectiveness metric
        BENCH.md tracks round-over-round."""
        sc = self.spark.sparkContext
        self.metrics = {
            "blocks_scanned": sc.accumulator(0),
            "blocks_decoded": sc.accumulator(0),
        }
        return self.metrics

    def search(self, query, k: int = 10, prune: bool = True,
               with_keys: bool = True) -> pd.DataFrame:
        """Top-k. Returns pandas (gid, key, score) ordered score desc, gid asc.

        Planning runs on the driver: term stats, and prefix/range
        expansions of at most ``BOOL_REWRITE_TERM_LIMIT`` terms, come from
        the footers of ``terms/`` (``term_stats``), unless the row groups
        that can hold them exceed the dictionary's driver read cap. A plan
        of one IN-filtered postings scan whose volume (Σ docFreq,
        Σ totalTermFreq when positions are read) is at most
        ``DRIVER_PLAN_POSTINGS`` runs ONE JVM-only Spark job that collects
        the pruned scan (``search.scan``), and the driver scores it with the
        kernels Spark would run: same deleted-doc, cached-filter and θ
        logic. Bigger plans, doc-value filters, cache fills, MatchAll, lazy
        term sets (``TermSetRefQ``) and desugared negations run distributed
        (``candidates`` + ``orderBy(score desc, gid asc).limit(k)``, the
        ``search.topk`` job). Both give the same gids, float32 scores and
        order.

        Keys are read on the driver from the doc-row parquet of this
        searcher's commit: the first call caches every doc file's row-group
        gid range from the footers, and each call reads ``gid``/``key`` of
        only the row groups holding a hit — no Spark job.
        ``with_keys=False`` skips that read and returns (gid, score) only.
        ``k`` must be at least 1 (TopScoreDocCollector's ``numHits > 0``).
        """
        _check_k(k)
        node = parse_query(query) if isinstance(query, str) else query
        plan = self._plan(node, k, prune)
        if isinstance(plan, _ScanPlan) and plan.local:
            top = self._run_local(plan)
        else:
            if isinstance(plan, _ScanPlan):
                plan = self._run_distributed(plan)
            with job_label(self.spark, "search.topk"):
                top = plan.orderBy(F.desc("score"), F.asc("gid")).limit(k).toPandas()
        if not with_keys:
            return top[["gid", "score"]]
        if top.empty:
            return pd.DataFrame({"gid": [], "key": [], "score": []})
        if self._doc_groups is None:
            self._doc_groups = GidRowGroups.load(self.index_dir, self.commit.doc_paths())
        keys = self._doc_groups.read(top["gid"].to_numpy(), ["gid", "key"])
        out = top.merge(keys, on="gid", how="left")
        return out[["gid", "key", "score"]]

    def _docs_raw_df(self) -> DataFrame:
        """The raw stored-fields/norms scan over every committed batch,
        pinned per searcher so warm queries reuse the plan."""
        if self._docs_raw is None:
            self._docs_raw = read_table(
                self.spark, self.index_dir, self.commit.doc_paths(), DOC_SCHEMA
            )
        return self._docs_raw

    def doc_rows(self) -> DataFrame:
        """The docs/norms table: (seg, gid, key, doc_len, norm_b)."""
        return self._docs_raw_df().select("seg", "gid", "key", "doc_len", "norm_b")

    def fdoc_rows(self) -> DataFrame:
        """Per-(doc, extra field) lengths: (gid, term = field, doc_len)."""
        return read_table(
            self.spark, self.index_dir,
            self.commit.fdoc_paths(self.commit.batches), FDOC_SCHEMA,
        )

    # ---- IndexOrDocValuesQuery (numeric doc-value range) ---------------
    def _dv_minmax(self) -> tuple:
        """(min, max, n_non_null) of the sort_val doc-value column, cached
        per searcher — the metadata the cost estimate interpolates over
        (the PointValues.size()/min/max packed-value analog)."""
        if self._dv_minmax_cache is None:
            row = (
                self._docs_raw_df()
                .agg(F.min("sort_val"), F.max("sort_val"), F.count("sort_val"))
                .collect()[0]
            )
            self._dv_minmax_cache = (row[0], row[1], int(row[2]))
        return self._dv_minmax_cache

    def _dv_scan(self, ranges: "list[DocValuesRangeQ]") -> DataFrame:
        """gids passing ALL the (inclusive, conjunctive) ranges — the
        predicates push into the doc-table Parquet scan."""
        pred = None
        for r in ranges:
            p = (F.col("sort_val") >= int(r.lo)) & (F.col("sort_val") <= int(r.hi))
            pred = p if pred is None else (pred & p)
        return self._docs_raw_df().filter(pred).select("gid")

    def _dv_estimate(self, ranges: "list[DocValuesRangeQ]") -> int:
        """Estimated matching-doc count: uniform interpolation between the
        column's global min/max (PointRangeQuery's cost() plays this role
        from BKD metadata; Parquet gives us min/max + count for free)."""
        lo_g, hi_g, n = self._dv_minmax()
        if not n or lo_g is None:
            return 0
        span = max(int(hi_g) - int(lo_g) + 1, 1)
        frac = 1.0
        for r in ranges:
            ov = min(int(r.hi), int(hi_g)) - max(int(r.lo), int(lo_g)) + 1
            frac *= min(max(ov / span, 0.0), 1.0)
        return int(n * frac)

    def _dv_range_scan(self, ranges: "list[DocValuesRangeQ]",
                       boost: float) -> DataFrame:
        """Standalone constant-score range execution (the dvQuery run on
        its own / under MatchAll): one pushed-down doc scan, live-doc
        masked — no postings involved."""
        self.last_dv_strategy = "scan"
        out = self._dv_scan(ranges).select(
            "gid", F.lit(float(np.float32(boost))).cast("float").alias("score")
        )
        return self._anti_join_deleted(out)

    def _split_dv_clauses(self, node: "BoolQ") -> tuple:
        """Pull DocValuesRangeQ filter clauses out of a rewritten BoolQ
        (they ride in ``must`` as the ConstantScore-0 FILTER desugar).
        Returns (node_without_dv, [DocValuesRangeQ, ...]). A SCORING
        doc-value clause (boost != 0, or bare in should/must_not) is
        rejected: IndexOrDocValuesQuery requires both sides to produce
        identical scores, and this engine runs the range constant-score
        only."""
        dvs: list = []
        new_must: list = []
        for c in node.must:
            inner = c.child if isinstance(c, ConstScoreQ) else c
            if isinstance(inner, DocValuesRangeQ):
                if isinstance(c, ConstScoreQ) and c.boost != 0.0:
                    raise ValueError(
                        "DocValuesRangeQ must be non-scoring inside a "
                        "boolean (use BoolQ.filter, or standalone "
                        "ConstScoreQ for a scored range)"
                    )
                if isinstance(c, DocValuesRangeQ):
                    raise ValueError(
                        "DocValuesRangeQ as a scoring MUST clause is not "
                        "supported; put it in BoolQ.filter"
                    )
                dvs.append(inner)
                continue
            new_must.append(c)
        for c in node.should + node.must_not:
            inner = c.child if isinstance(c, ConstScoreQ) else c
            if isinstance(inner, DocValuesRangeQ):
                raise ValueError(
                    "DocValuesRangeQ is only supported as a required "
                    "non-scoring clause (BoolQ.filter) or standalone"
                )
        if not dvs:
            return node, []
        if self.stats.get("sort") is None and self._dv_minmax()[2] == 0:
            raise ValueError(
                "DocValuesRangeQ needs an index with sort_val doc values "
                "(build_index(sort_by=...))"
            )
        return (
            BoolQ(
                must=tuple(new_must), should=node.should,
                must_not=node.must_not, msm=node.msm,
                const_add=node.const_add, n_free_opt=node.n_free_opt,
            ),
            dvs,
        )

    def _dv_lead_cost(self, node) -> int:
        """leadCost of the rest of the query (ScorerSupplier.get(leadCost)):
        a conjunction is led by its cheapest required clause (min docFreq);
        a pure disjunction must iterate the union (sum of docFreqs)."""
        terms = {t for t in query_terms(node) if t}
        if not terms:
            return 0
        tstats = self.term_stats(terms)
        req = {t for t in _req_terms(node) if t in tstats}
        if req:
            return min(tstats[t][0] for t in req)
        return sum(tstats[t][0] for t in terms if t in tstats)

    def _dv_plan(self, node, dvs: "list[DocValuesRangeQ]") -> tuple:
        """IndexOrDocValuesQuery.java:172-188 access-path choice, per
        clause: ``threshold = cost >>> 3; threshold <= leadCost → index``
        (lead with the range: broadcast keep-mask) else dv (co-grouped
        per-bucket verify). The index side is additionally capped by
        ``dv_index_lead_cap`` — a broadcast-memory bound.

        Returns (keep_bcs_extra, dv_df): broadcast masks for index-strategy
        clauses (one combined scan) and the conjunctive co-group DataFrame
        for dv-strategy clauses (or None)."""
        lead = self._dv_lead_cost(node)
        index_side: list = []
        dv_side: list = []
        for r in dvs:
            if r.strategy == "index":
                index_side.append(r)
                continue
            if r.strategy == "dv":
                dv_side.append(r)
                continue
            cost = self._dv_estimate([r])
            if (cost >> 3) <= lead and cost <= self.dv_index_lead_cap:
                index_side.append(r)
            else:
                dv_side.append(r)
        keep_extra: list = []
        if index_side:
            # the lead-cap bound above uses _dv_estimate's uniform
            # interpolation; a skewed sort_val distribution can make the
            # ACTUAL match set orders of magnitude larger. Probe with a
            # capped read first and demote to the co-grouped dv strategy
            # when the real set would blow driver/broadcast memory.
            cap = self.dv_index_lead_cap
            head = (
                self._dv_scan(index_side).limit(cap + 1).toPandas()["gid"]
            )
            if len(head) > cap:
                dv_side.extend(index_side)
                index_side = []
            else:
                gids = np.unique(head.to_numpy(np.int64))
                keep_extra.append(self.spark.sparkContext.broadcast(gids))
        dv_df = self._dv_scan(dv_side) if dv_side else None
        self.last_dv_strategy = (
            "dv" if dv_side else "index" if index_side else None
        )
        return tuple(keep_extra), dv_df

    def search_after(self, query, after: "tuple[float, int]",
                     k: int = 10) -> pd.DataFrame:
        """Deep paging (IndexSearcher.searchAfter / TopScoreDocCollector's
        after-doc): top-k strictly after the (score, gid) cursor in
        (score desc, gid asc) order.

        The cursor itself drives pruning: kernels drop candidates at or
        above the cursor BEFORE the per-bucket top-k and θ offers, so no
        depth hint is needed. ``k`` must be at least 1.
        """
        _check_k(k)
        node = parse_query(query) if isinstance(query, str) else query
        cursor = (float(after[0]), int(after[1]))
        cand = self.candidates(node, k=k, prune=True, after=cursor)
        page = cand.filter(
            (F.col("score") < F.lit(cursor[0]))
            | ((F.col("score") == F.lit(cursor[0])) & (F.col("gid") > F.lit(cursor[1])))
        )
        return page.orderBy(F.desc("score"), F.asc("gid")).limit(k).toPandas()

    def candidates(self, node, k: int = 10, prune: bool = True,
                   after: "tuple[float, int] | None" = None,
                   use_cache: bool = True) -> DataFrame:
        """DataFrame (gid, score) of all scored candidates (per-bucket top-k).

        ``after``: (score, gid) cursor — kernels keep only candidates
        strictly after it, enabling θ-pruning for deep paging.

        ``use_cache=False`` bypasses the LRU query cache (used internally
        when materializing a cache entry, so a clause never caches through
        itself).
        """
        plan = self._plan(node, k, prune, after, use_cache)
        return plan if isinstance(plan, DataFrame) else self._run_distributed(plan)

    def _plan(self, node, k: int, prune: bool,
              after: "tuple[float, int] | None" = None,
              use_cache: bool = True) -> "DataFrame | _ScanPlan":
        """Plan a query on the driver: the candidate DataFrame of the plans
        that are not one postings scan plus a kernel (MatchAll, doc-value
        ranges, lazy term sets, desugared negations), else a ``_ScanPlan``."""
        if node is None:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        node = self.rewrite(node)
        if isinstance(node, BoolQ):
            split = self._split_neg_wrappers(node, k, prune, after, use_cache)
            if split is not None:
                return split
        keep_bcs: tuple = ()
        cache_fill = False
        if (use_cache and self.query_cache is not None
                and isinstance(node, BoolQ) and not _contains_matchall(node)):
            node, keep_bcs, cache_fill = self._apply_query_cache(node)
        # IndexOrDocValuesQuery: standalone doc-value range = the dvQuery
        # run on its own (newSlowRangeQuery) — a pushed-down doc scan
        if isinstance(node, DocValuesRangeQ):
            return self._dv_range_scan([node], 1.0)
        if isinstance(node, ConstScoreQ) and isinstance(node.child, DocValuesRangeQ):
            return self._dv_range_scan([node.child], node.boost)
        dv_df = None
        if isinstance(node, BoolQ):
            node, dvs = self._split_dv_clauses(node)
            if dvs:
                remaining_terms = query_terms(node) | {
                    r.name for r in _set_refs(node)
                }
                if not remaining_terms:
                    # filter-only boolean (scores 0) or MatchAll+filter
                    # (scores the MatchAll constant): both are one scan
                    if (node.must in ((), (MatchAllQ(),))
                            and not node.should and not node.must_not
                            and node.const_add == 0.0 and node.n_free_opt == 0):
                        boost = 1.0 if node.must else 0.0
                        return self._dv_range_scan(dvs, boost)
                    raise ValueError(
                        "DocValuesRangeQ needs a postings-backed clause "
                        "to lead or verify against; combine it with terms "
                        "or use `MatchAllQ + filter` / standalone form"
                    )
                dv_keeps, dv_df = self._dv_plan(node, dvs)
                keep_bcs = tuple(keep_bcs) + dv_keeps
        if isinstance(node, MatchAllQ) or (
            isinstance(node, ConstScoreQ) and isinstance(node.child, MatchAllQ)
        ):
            boost = node.boost if isinstance(node, ConstScoreQ) else 1.0
            out = self.doc_rows().select(
                "gid", F.lit(float(np.float32(boost))).cast("float").alias("score")
            )
            return self._anti_join_deleted(out)
        if isinstance(node, TermInSetQ):
            return self._term_in_set(node, node.boost, k)
        if isinstance(node, ConstScoreQ) and isinstance(node.child, TermInSetQ):
            return self._term_in_set(node.child, node.boost, k)
        if isinstance(node, TermSetRefQ):
            return self._term_set_scan(node, node.boost)
        if isinstance(node, ConstScoreQ) and isinstance(node.child, TermSetRefQ):
            return self._term_set_scan(node.child, node.boost)
        if isinstance(node, BoolQ) and any(
            _is_ma_clause(c)
            for c in node.must + node.should + node.must_not
        ):
            if dv_df is not None or keep_bcs:
                raise ValueError(
                    "doc-value range / cached filters cannot combine with "
                    "MatchAll scoring clauses alongside real terms"
                )
            return self._bool_matchall(node, k, prune, after)
        if _contains_matchall(node):
            # MatchAll below the top boolean level (inside DisMax / a nested
            # bool / Boost) stays unsupported: fail fast at plan time
            # (ADVICE: no TypeError deep in the executor).
            raise ValueError(
                "MatchAllQ below the top boolean level is not supported; "
                "use it top-level, under ConstScoreQ, or as a direct "
                "BooleanQuery clause"
            )
        ctx = self.make_ctx(node)
        terms = {t for t in query_terms(node) if t in ctx.weights}
        refs = _set_refs(node)
        if not terms and not refs:
            if cache_fill:
                # every SHOULD term is unknown to the index: the match set
                # is exactly the filter-only docs at const_add
                return self._cache_fill_df(None, keep_bcs, node, None)
            return _ScanPlan(node, (), (), (), ctx, 1.0, k, local=True)
        need_positions = _has_phrase(node)
        need_payloads = _has_payload_check(node)
        if need_payloads and not self.stats.get("with_payloads"):
            raise ValueError(
                "SpanPayloadCheckQ needs a payloads-enabled index "
                "(build with with_payloads=True)"
            )
        cols = ["seg", "term", "first_gid", "last_gid", "doc_count", "gids", "freqs", "norms",
                "imp_freqs", "imp_norms"] + (["positions"] if need_positions else []) \
            + (["payloads"] if need_payloads else [])
        # nested lazy term sets: each ref's member postings enter the scan
        # re-keyed to the ref's virtual name; its df sizes the buckets
        for ref in refs:
            agg = self.matched_terms_df(ref.source).agg(
                F.coalesce(F.sum("doc_freq"), F.lit(0)).alias("df")
            ).collect()[0]
            ctx.doc_freqs[ref.name] = int(agg["df"])
        return _ScanPlan(
            node, tuple(cols), tuple(sorted(terms)), tuple(refs), ctx, 1.0, k,
            prune, after, need_positions, need_payloads, tuple(keep_bcs), dv_df,
            cache_fill,
            local=(after is None and dv_df is None and not cache_fill and not refs
                   and self._fits_driver(terms, need_positions)),
        )

    def _fits_driver(self, terms, positions: bool) -> bool:
        """True when an IN-filtered scan of ``terms`` reads at most
        ``DRIVER_PLAN_POSTINGS`` postings: Σ docFreq, or Σ totalTermFreq
        when positions are read."""
        if len(terms) > MAX_IN_TERMS:
            return False
        stats = self.term_stats(set(terms))
        volume = sum(st[1 if positions else 0] for st in stats.values())
        return volume <= DRIVER_PLAN_POSTINGS

    def _scan_cols(self, cols: tuple) -> DataFrame:
        """The live-unit postings scan projected to ``cols``, pinned per
        searcher and column set."""
        if cols not in self._scans:
            self._scans[cols] = self._postings_df().select(*cols)
        return self._scans[cols]

    def _in_terms(self, df: DataFrame, terms) -> DataFrame:
        """``df``'s rows whose ``term`` is one of ``terms``: an IN filter
        that pushes into the Parquet scan, or a broadcast semi-join past
        ``MAX_IN_TERMS``."""
        if len(terms) <= MAX_IN_TERMS:
            return df.filter(F.col("term").isin(list(terms)))
        probe = self.spark.createDataFrame(pd.DataFrame({"term": list(terms)}))
        return df.join(F.broadcast(probe), "term", "left_semi")

    def _scan(self, plan: "_ScanPlan") -> DataFrame:
        """The plan's postings scan: its terms through ``_in_terms``, then
        each lazy term set's members
        through a semi-join against its matched-terms PLAN (no driver
        materialization), re-keyed to the set's virtual name so kernels
        see one pre-unioned pseudo-term per set."""
        parts = []
        if plan.terms:
            parts.append(self._in_terms(self._scan_cols(plan.cols), plan.terms))
        for ref in plan.refs:
            parts.append(
                self._scan_cols(plan.cols)
                .join(self.matched_terms_df(ref.source).select("term"), "term", "left_semi")
                .withColumn("term", F.lit(ref.name))
            )
        scan = parts[0]
        for p in parts[1:]:
            scan = scan.unionByName(p)
        return scan

    def _run_distributed(self, plan: "_ScanPlan") -> DataFrame:
        """The plan's candidate DataFrame: its kernel handed to Spark."""
        if not plan.terms and not plan.refs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        scan = self._scan(plan)
        if plan.ctx is None:
            return self._gid_union_const(scan, plan.boost)
        node, ctx, k = plan.node, plan.ctx, plan.k
        keeps = [kb.value for kb in plan.keep_bcs] or None
        seed = plan.prune and plan.after is None
        qid = uuid.uuid4().hex
        if isinstance(node, TermQ) and plan.dv_df is None:
            theta0 = float("-inf")
            if seed and ctx.doc_freqs.get(node.term, 0) >= self.seed_min_df:
                theta0 = self._seed_theta(
                    scan, node, ctx, k, self._bucket_width(ctx, {node.term}),
                    False, keeps=keeps)
            return scan.mapInPandas(self._term_kernel(plan, qid, theta0),
                                    schema=RESULT_SCHEMA)
        width_terms = set(plan.terms) | {r.name for r in plan.refs}
        width = self._bucket_width(ctx, width_terms)
        doc_count = max(int(self.stats.get("n_rows") or self.stats.get("doc_count", 1)), 1)
        theta0 = float("-inf")
        # seed only when there's real postings volume to prune: the seed
        # costs two extra (tiny) jobs, which dominates sub-seed_min_df
        # queries where every bucket decodes in milliseconds anyway.
        # dv-strategy verify disables the seed: the seed bucket's scores
        # would ignore the doc-value filter, and an unfiltered θ could
        # prune docs that DO survive the filter (θ still accumulates
        # safely from the kernels' own post-filter offers).
        if (seed and plan.dv_df is None
                and sum(ctx.doc_freqs.get(t, 0) for t in width_terms) >= self.seed_min_df
                and -(-doc_count // width) >= self.seed_min_buckets):
            theta0 = self._seed_theta(
                scan, node, ctx, k, width, plan.need_positions, keeps=keeps,
                need_payloads=plan.need_payloads)
        body = self._bucket_kernel(plan, qid, width, theta0)
        with_bucket = scan.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    (F.col("first_gid") / width).cast("long"),
                    (F.col("last_gid") / width).cast("long"),
                )
            ),
        )
        if plan.dv_df is None:
            def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
                return body(key, pdf, None)

            out = with_bucket.groupBy("bucket").applyInPandas(
                kernel, schema=RESULT_SCHEMA
            )
        else:
            # dv strategy (IndexOrDocValuesQuery's doc-values side): co-group
            # the range-filtered doc rows into each gid-range bucket — every
            # kernel verifies against only ITS slice of the doc-value column
            # (the per-leaf doc-values reader), nothing driver-resident.
            dv_b = plan.dv_df.withColumn(
                "bucket", (F.col("gid") / width).cast("long")
            )

            def kernel_cg(key: tuple, pdf: pd.DataFrame,
                          dvpdf: pd.DataFrame) -> pd.DataFrame:
                return body(key, pdf, np.unique(dvpdf["gid"].to_numpy(np.int64)))

            out = (
                with_bucket.groupBy("bucket")
                .cogroup(dv_b.groupBy("bucket"))
                .applyInPandas(kernel_cg, schema=RESULT_SCHEMA)
            )
        if plan.cache_fill:
            out = out.unionByName(
                self._cache_fill_df(out, plan.keep_bcs, node, plan.dv_df)
            )
        return out

    def _run_local(self, plan: "_ScanPlan") -> pd.DataFrame:
        """Top-k (gid, score) of a driver-sized plan: one JVM-only job
        collects the pruned postings scan and the driver runs the plan's
        kernel over it — single term, gid-range buckets in ascending order,
        or a constant-score term set."""
        gids, scores = np.empty(0, np.int64), np.empty(0, np.float32)
        if plan.terms:
            with job_label(self.spark, "search.scan"):
                pdf = self._scan(plan).toArrow().to_pandas()
            if plan.ctx is None:
                outs = list(self._gid_kernel()([pdf]))
            elif isinstance(plan.node, TermQ):
                outs = list(self._term_kernel(plan, uuid.uuid4().hex, float("-inf"))([pdf]))
            else:
                width = self._bucket_width(plan.ctx, set(plan.terms))
                body = self._bucket_kernel(plan, uuid.uuid4().hex, width, float("-inf"))
                outs = [body((b,), grp, None) for b, grp in _bucket_groups(pdf, width)]
            if outs:
                gids = np.concatenate([o["gid"].to_numpy(np.int64) for o in outs])
                if plan.ctx is None:
                    gids = np.unique(gids)
                    scores = np.full(len(gids), np.float32(plan.boost), np.float32)
                else:
                    scores = np.concatenate([o["score"].to_numpy(np.float32) for o in outs])
        # TopDocs order: score desc, gid asc
        top = np.lexsort((gids, -scores.astype(np.float64)))[:plan.k]
        return pd.DataFrame({"gid": gids[top], "score": scores[top]})

    def _split_neg_wrappers(self, node: BoolQ, k: int, prune: bool,
                            after: "tuple[float, int] | None",
                            use_cache: bool) -> "DataFrame | None":
        """Desugar SimpleQueryParser's negation wrapper when it sits as a
        clause of a bigger boolean.

        ``-token`` parses to ``BQ[SHOULD MatchAll, MUST_NOT branch]``
        (queryparser/simple/SimpleQueryParser.java:441-448); nested under
        another boolean, Lucene just scores it as one more clause whose
        scorer yields 1.0 on every doc outside the branch. Kernels here
        only fold MatchAll constants at the TOP level, so lift the wrapper
        into equivalent top-level plans instead:

        - wrapper in MUST: the doc must avoid the branch and collects a
          float32 1.0 inside the double sum — exactly a MUST MatchAll plus
          the branch appended to the outer MUST_NOT.
        - wrapper in SHOULD: split the doc universe on branch membership.
          Docs MATCHING the branch (wrapper scores nothing there): the
          branch becomes a required non-scoring clause (the FILTER
          desugar) and the wrapper leaves msm to the remaining SHOULDs.
          Docs NOT matching: the wrapper is a free-matching SHOULD
          MatchAll with the branch in MUST_NOT. The two plans are
          disjoint, each adds the 1.0 INSIDE the double score sum (via
          ``const_add``), so the union is bit-exact vs Lucene's outer
          BooleanScorer accumulation.

        Returns None when no wrapper clause is present (the common path).
        """
        def is_wrap(c):
            # the wrapper's MatchAll may carry a folded boost
            # (ConstScore(MatchAll, n) after the duplicate-SHOULD merge)
            return (isinstance(c, BoolQ) and not c.must and not c.filter
                    and c.must_not and c.msm == 0 and c.const_add == 0.0
                    and c.n_free_opt == 0 and len(c.should) == 1
                    and _is_ma_clause(c.should[0]))

        def wrap_ma(c):
            # the wrapper's scoring MatchAll clause, boost preserved
            return c.should[0]

        if not any(is_wrap(c) for c in node.must + node.should):
            return None
        must, must_not = list(node.must), list(node.must_not)
        for i, c in enumerate(must):
            if is_wrap(c):
                must[i] = wrap_ma(c)
                must_not.extend(c.must_not)
        should = list(node.should)
        wi = next((i for i, c in enumerate(should) if is_wrap(c)), None)
        if wi is None:
            lifted = BoolQ(tuple(must), tuple(should), tuple(must_not),
                           node.msm, node.const_add, node.n_free_opt)
            return self.candidates(lifted, k=k, prune=prune, after=after,
                                   use_cache=use_cache)
        wrap = should.pop(wi)
        # docs NOT matching the branch: free SHOULD MatchAll, branch excluded
        p_out = BoolQ(tuple(must), tuple(should) + (wrap_ma(wrap),),
                      tuple(must_not) + tuple(wrap.must_not),
                      node.msm, node.const_add, node.n_free_opt)
        # docs matching the branch: wrapper contributes nothing; require the
        # branch non-scoring (ConstantScore(0) MUST — the FILTER desugar).
        # With no other required clause the original needed >=1 SHOULD
        # match; the new required filter would make SHOULD optional, so pin
        # msm explicitly.
        branch = BoolQ(should=tuple(wrap.must_not)).simplified()
        p_in = BoolQ(tuple(must) + (ConstScoreQ(branch, boost=0.0),),
                     tuple(should), tuple(must_not),
                     (node.msm if (node.must or node.n_free_opt)
                      else max(node.msm, 1)),
                     node.const_add, node.n_free_opt)
        out = self.candidates(p_out, k=k, prune=prune, after=after,
                              use_cache=use_cache)
        if not should and p_in.msm > node.n_free_opt + len(should):
            # no remaining SHOULD can satisfy msm: the in-branch half
            # matches nothing (e.g. a bare nested `-a` disjunction)
            return out
        inn = self.candidates(p_in, k=k, prune=prune, after=after,
                              use_cache=use_cache)
        return out.unionByName(inn)

    def _bool_matchall(self, node: BoolQ, k: int, prune: bool,
                       after: "tuple[float, int] | None") -> DataFrame:
        """BooleanQuery with direct MatchAllDocsQuery scoring clauses
        (BooleanQuery.rewrite keeps MatchAll as a clause; its scorer yields
        1.0 per doc — core/search/MatchAllDocsQuery.java:41-74).

        MatchAll clauses fold into the reduced boolean's ``const_add`` /
        ``n_free_opt`` so kernels add the constant INSIDE the double score
        sum (bit-exact float32 vs Lucene's BooleanScorer accumulation).
        When the required side is only MatchAll, the query matches every
        live doc: docs containing none of the real terms never reach a
        postings kernel, so they are completed from the doc table at
        exactly the constant score — always <= any kernel candidate's
        score (real matches add >= 0), so kernel-side θ-pruning stays
        valid. A MUST_NOT MatchAll matches nothing.
        """
        if any(_is_ma_clause(c) for c in node.must_not):
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        must_ma = [c for c in node.must if _is_ma_clause(c)]
        should_ma = [c for c in node.should if _is_ma_clause(c)]
        # each MatchAll clause scores float32(boost) (1.0 bare); the sum
        # of those float32 terms in double is the folded constant
        ma_const = sum(
            float(np.float32(c.boost)) if isinstance(c, ConstScoreQ) else 1.0
            for c in must_ma + should_ma
        )
        reduced = BoolQ(
            must=tuple(c for c in node.must if not _is_ma_clause(c)),
            should=tuple(c for c in node.should if not _is_ma_clause(c)),
            must_not=node.must_not,
            msm=node.msm,
            const_add=node.const_add + ma_const,
            n_free_opt=node.n_free_opt + len(should_ma),
        )
        base = self.candidates(reduced, k=k, prune=prune, after=after)
        free_opt = reduced.n_free_opt
        universe = not reduced.must and (
            (bool(must_ma) and node.msm <= free_opt)
            or (not node.must and max(node.msm, 1) <= free_opt)
        )
        if not universe:
            return base
        fill = self.doc_rows().select("gid")
        if node.must_not:
            neg = self.candidates(
                BoolQ(should=tuple(node.must_not)).simplified(),
                k=_ALL_K, prune=False
            )
            fill = fill.join(neg.select("gid"), "gid", "left_anti")
        fill = fill.join(base.select("gid"), "gid", "left_anti")
        fill = self._anti_join_deleted(fill)
        # n float32 1.0s summed in double == n.0 exactly; f32 cast exact
        fill = fill.select(
            "gid",
            F.lit(float(np.float32(reduced.const_add))).cast("float").alias("score"),
        )
        return base.unionByName(fill)

    def _term_in_set(self, node: TermInSetQ, boost: float, k: int) -> "_ScanPlan":
        """TermInSetQuery execution (core/search/TermInSetQuery.java): a
        constant-score semi-join on the postings scan — NOT a scoring
        boolean, so the 1024-clause cap doesn't apply.

        Small sets push an IN-filter into the Parquet scan; large sets
        broadcast-semi-join a terms DataFrame (``_scan``). Matched blocks
        decode doc gaps ONLY (no freqs/norms/positions read) and one
        distinct dedupes docs matching several set terms.
        """
        terms = tuple(dict.fromkeys(node.terms))
        return _ScanPlan(
            node, ("term", "first_gid", "gids"), terms, (), None, boost, k,
            local=self._fits_driver(terms, False),
        )

    def _term_set_scan(self, ref: TermSetRefQ, boost: float) -> DataFrame:
        """Top-level lazy-set execution: the matched-terms PLAN (a filter
        over the sorted terms table) semi-joins into the postings scan —
        the whole match set never touches the driver, mirroring the
        per-segment postings union of
        ``AbstractMultiTermQueryConstantScoreWrapper``
        (core/search/MultiTermQuery.java:197-236). Join strategy is left to
        AQE: small match sets become a runtime broadcast, huge ones a
        shuffle join — both correct at a billion-term dictionary. Matched
        blocks decode doc gaps ONLY (no freqs/norms/positions read)."""
        matched = self.matched_terms_df(ref.source).select("term")
        scan = self._postings_df().select("term", "first_gid", "gids")
        scan = scan.join(matched, "term", "left_semi")
        return self._gid_union_const(scan, boost)

    def _gid_kernel(self):
        """mapInPandas kernel of a constant-score term set: decode the
        doc-gap streams of the scan's blocks and drop deleted docs."""
        dbc = self.deleted_bc()  # broadcast handle: tiny in the closure

        def kernel(batches):
            deleted = dbc.value if dbc is not None else None
            for pdf in batches:
                if pdf.empty:
                    continue
                g, _ = decode_gid_rows(
                    pdf["first_gid"].to_numpy(np.int64), list(pdf["gids"])
                )
                g, _ = _live_mask(g, g, deleted)
                yield pd.DataFrame({"gid": g})

        return kernel

    def _gid_union_const(self, scan: DataFrame, boost: float) -> DataFrame:
        """``_gid_kernel`` over the scan, deduped (docs matching several
        set terms), at the constant score."""
        gids = scan.mapInPandas(self._gid_kernel(), schema="gid long").distinct()
        return gids.select(
            "gid", F.lit(float(np.float32(boost))).cast("float").alias("score")
        )

    def _anti_join_deleted(self, df: DataFrame) -> DataFrame:
        """DataFrame-level liveDocs filter for non-pruned paths: anti-join
        against the delete-record parquet itself — the delete set never
        crosses the driver (join strategy left to AQE; a handful of deletes
        becomes a runtime broadcast, a north-rule-sized set a shuffle)."""
        ddf = self.deleted_df()
        if ddf is None:
            return df
        return df.join(ddf, "gid", "left_anti")

    def _bucket_width(self, ctx: ScoreCtx, terms: set) -> int:
        """Postings-volume-targeted bucket width (in gid units).

        Round 1 pinned ~256 buckets regardless of corpus size — at 100×
        scale each bucket decodes 100× more postings in one pandas group and
        a 1000-core cluster runs 256 tasks. Now each bucket targets
        ``target_bucket_postings`` query-term postings: expected postings
        per gid ≈ Σ docFreq / docCount (gids are dense within segments), so
        width = target / that density. Bucket count grows linearly with
        corpus + query postings volume; tiny queries stay single-bucket.
        """
        doc_count = max(int(self.stats.get("n_rows") or self.stats.get("doc_count", 1)), 1)
        total_df = max(sum(ctx.doc_freqs.get(t, 0) for t in terms), 1)
        n_buckets = max(1, -(-total_df // self.target_bucket_postings))
        # enough buckets to feed the cluster, but never sub-1k-posting tasks
        par = self.spark.sparkContext.defaultParallelism
        n_buckets = max(n_buckets, min(par, total_df // MIN_BUCKET_POSTINGS))
        width = max(128, -(-doc_count // max(n_buckets, 1)))
        # sparse hash-mode gids stride by 2^40 per segment, so the gid SPAN
        # vastly exceeds doc_count; floor the width so one block's bucket
        # explode can never enumerate more than ~2^18 ids (empty buckets
        # between segments simply never materialize as groups)
        span = max(int(self.stats.get("max_gid", 0)) + 1, doc_count)
        return max(width, -(-span // (1 << 18)))

    def _cache_generation(self) -> tuple:
        """Cache-key generation component of this searcher's commit: live
        merge units + committed delete files (the IndexReader.CacheKey
        analog — any commit, merge or delete changes it, so stale entries
        miss and age out via LRU)."""
        units = tuple(u["path"] for u in self.commit.live_units)
        return (self.index_dir, units, self.commit.delete_paths)

    def _matching_gids(self, node) -> "np.ndarray | None":
        """Full (non-truncated, live-doc-masked) matching-gid set of one
        clause, sorted unique, for cache insertion — LRUQueryCache's
        exhaustive per-leaf DocIdSet build. Returns None when the set
        exceeds the cache's per-entry budget (too dense to cache; cheaper
        to keep re-executing, the skipCacheFactor spirit)."""
        cap = self.query_cache.max_entry_gids
        df = self.candidates(node, k=_ALL_K, prune=False, use_cache=False)
        head = df.select("gid").limit(cap + 1).toPandas()
        if len(head) > cap:
            return None
        return np.unique(head["gid"].to_numpy(np.int64))

    def _apply_query_cache(self, node: BoolQ):
        """LRUQueryCache consult point (the QueryCache-wrapped Weight in
        BooleanWeight): each non-scoring MUST clause — the FILTER desugar,
        ConstantScore(child, boost=0) — either hits the cache (clause
        dropped from the kernel plan, its gid set applied as a broadcast
        keep-mask + block-range prefilter), gets cached now if the usage
        policy agrees, or stays a normally executed clause.

        Returns (node, keep_bcs, fill): ``fill=True`` when every required
        clause was stripped into a mask AND filter-only docs still match
        (BooleanWeight keeps SHOULD optional whenever a required clause
        exists, at score ``const_add``) — the caller must complete the
        candidate universe from the mask intersection at that constant,
        or stripping silently turns the node into a pure disjunction and
        drops the filter-only docs."""
        from .query_cache import _strip_const

        cache = self.query_cache
        gen = self._cache_generation()
        filt_flags = [
            isinstance(c, ConstScoreQ) and c.boost == 0.0 for c in node.must
        ]
        all_filters = bool(node.must) and all(filt_flags)
        # with no SHOULD clause there is nothing to iterate candidates
        # from once every filter strips: reserve the first filter as a
        # normally executed clause. With SHOULD clauses the stripped node
        # still iterates — the mask-fill below restores filter-only docs.
        reserve_one = all_filters and not node.should
        keep_bcs: list = []
        new_must: list = []
        reserved = False
        for c, is_filt in zip(node.must, filt_flags):
            if not is_filt:
                new_must.append(c)
                continue
            if reserve_one and not reserved:
                reserved = True
                new_must.append(c)
                continue
            key = (gen, _strip_const(c.child))
            bc = cache.get(key)
            if bc is None:
                cache.policy.on_use(key)
                if cache.policy.should_cache(c.child, key):
                    arr = self._matching_gids(c.child)
                    if arr is not None:
                        bc = cache.put(key, arr, self.spark)
            if bc is None:
                new_must.append(c)
                continue
            keep_bcs.append(bc)
        if not keep_bcs:
            return node, (), False
        # filter-only docs (0 optional matches) pass minShouldMatch only
        # when msm <= the folded free-optional count; otherwise the pure
        # disjunction's msm_eff >= 1 already enforces the same set
        fill = (not new_must and bool(node.should)
                and node.msm <= node.n_free_opt)
        return (
            BoolQ(
                must=tuple(new_must),
                should=node.should,
                must_not=node.must_not,
                msm=node.msm,
                const_add=node.const_add,
                n_free_opt=node.n_free_opt,
            ),
            tuple(keep_bcs),
            fill,
        )

    def _cache_fill_df(self, base: "DataFrame | None", keep_bcs: tuple,
                       node: BoolQ, dv_df: "DataFrame | None") -> DataFrame:
        """Complete the candidate universe for a fully-stripped FILTER:
        docs in the intersection of every cached keep-mask that match no
        SHOULD clause score exactly ``const_add`` (BooleanWeight keeps
        SHOULD optional when a required clause exists). Mask arrays are
        driver-bounded by the cache's per-entry budget, so the
        intersection is a cheap driver op; everything else stays a join.

        Pruning safety: a should-matcher pruned out of ``base`` gets a
        const_add fill row here, but its true score is < the final kth
        score (θ only grows) and const_add <= true score, so the fill row
        can never displace a real top-k hit; with prune=False (full-set
        consumers like facets) ``base`` is exhaustive and the fill is
        exactly the filter-only docs."""
        from functools import reduce as _reduce

        arr = _reduce(
            lambda a, b: np.intersect1d(a, b, assume_unique=True),
            [kb.value for kb in keep_bcs],
        )
        fill = self.spark.createDataFrame(
            pd.DataFrame({"gid": arr.astype(np.int64)})
        )
        if dv_df is not None:
            fill = fill.join(dv_df.select("gid"), "gid", "left_semi")
        if node.must_not:
            neg = self.candidates(
                BoolQ(should=tuple(node.must_not)).simplified(),
                k=_ALL_K, prune=False
            )
            fill = fill.join(neg.select("gid"), "gid", "left_anti")
        if base is not None:
            fill = fill.join(base.select("gid"), "gid", "left_anti")
        fill = self._anti_join_deleted(fill)
        return fill.select(
            "gid",
            F.lit(float(np.float32(node.const_add))).cast("float").alias("score"),
        )

    def _seed_theta(self, scan, node, ctx: ScoreCtx, k: int, width: int,
                    need_positions: bool, keeps=None,
                    need_payloads: bool = False) -> float:
        """Cross-partition θ seed (MaxScoreAccumulator analog,
        ``core/search/MaxScoreAccumulator.java``).

        Round 1's worker-local heaps made every executor re-pay the θ
        warm-up. Here the driver picks the single most-promising bucket from
        a metadata-only pass (impact frontiers, no payload decode), scores
        it exactly, and broadcasts its kth score into every kernel closure —
        θ from any k true scores is ≤ the global kth score, so pruning with
        it never changes results.
        """
        weights = ctx.weights
        term_caches = {t: ctx.cache_for(t) for t in weights}
        sim = ctx.sim
        auxes = ctx.aux
        meta = scan.select("term", "first_gid", "last_gid", "imp_freqs", "imp_norms")
        wb = meta.withColumn(
            "bucket",
            F.explode(F.sequence(
                (F.col("first_gid") / width).cast("long"),
                (F.col("last_gid") / width).cast("long"),
            )),
        )

        def ub_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            term_maxes = {}
            for t, grp in pdf.groupby("term", sort=False):
                w = weights.get(t)
                if w is None:
                    # virtual set keys carry no BM25 weight: their bound is
                    # the enclosing ConstScore boost, applied in
                    # _plan_upper_bound — presence is what matters here
                    term_maxes[t] = float("inf")
                    continue
                term_maxes[t] = max(
                    _max_score_of_impacts(
                        f, n, w, term_caches[t], sim,
                        None if auxes is None else auxes.get(t),
                    )
                    for f, n in zip(grp["imp_freqs"], grp["imp_norms"])
                )
            ub = _plan_upper_bound(node, term_maxes, ctx)
            return pd.DataFrame({"bucket": [int(key[0])], "ub": [float(ub)]})

        best = (
            wb.groupBy("bucket")
            .applyInPandas(ub_kernel, schema="bucket long, ub double")
            .orderBy(F.desc("ub"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["ub"] == float("-inf"):
            return float("-inf")
        b = int(best[0]["bucket"])
        lo, hi = b * width, (b + 1) * width
        rows = scan.filter(
            (F.col("first_gid") < hi) & (F.col("last_gid") >= lo)
        ).toPandas()
        if rows.empty:
            return float("-inf")
        postings = {
            t: decode_term_blocks(
                grp, need_positions=need_positions, need_payloads=need_payloads,
            ).slice(lo, hi)
            for t, grp in rows.groupby("term", sort=False)
        }
        sgids, scores = eval_plan(node, postings, ctx)
        sgids, scores = _live_mask(sgids, scores, self.deleted_gids())
        sgids, scores = _keep_only(sgids, scores, keeps)
        if len(scores) < k:
            return float("-inf")
        return float(np.partition(scores.astype(np.float64), len(scores) - k)[len(scores) - k])

    def _term_kernel(self, plan: "_ScanPlan", qid: str, theta0: float):
        """mapInPandas kernel of a single-term plan: block-max pruning
        against θ = max(theta0, the process-local top-k heap), then decode,
        score, deleted-doc / cached-filter / cursor masks."""
        node, ctx, k, prune, after = plan.node, plan.ctx, plan.k, plan.prune, plan.after
        keep_bcs = plan.keep_bcs
        weight = ctx.weights[node.term]
        cache = ctx.cache_for(node.term)
        sim = ctx.sim
        aux0 = ctx.aux_for(node.term)
        auxes = ctx.aux
        metrics = self.metrics
        dbc = self.deleted_bc()  # broadcast handle: tiny in the closure

        def kernel(batches):
            deleted = dbc.value if dbc is not None else None
            keeps = [kb.value for kb in keep_bcs] if keep_bcs else None
            for pdf in batches:
                if pdf.empty:
                    continue
                pdf = _block_keep_filter(pdf, keeps)
                if pdf.empty:
                    continue
                if metrics is not None:
                    metrics["blocks_scanned"].add(len(pdf))
                if prune:
                    maxes = _row_block_maxes(pdf, {node.term: weight},
                                             {node.term: cache}, sim, auxes)
                    theta = max(theta0, _theta(qid, k))
                    pdf = pdf[maxes >= theta]
                    if pdf.empty:
                        continue
                if metrics is not None:
                    metrics["blocks_decoded"].add(len(pdf))
                tp = decode_term_blocks(pdf)
                scores = _score_term(tp, weight, cache, sim, aux0)
                gids, scores = _live_mask(tp.gids, scores, deleted)
                gids, scores = _keep_only(gids, scores, keeps)
                gids, scores = _after_mask(gids, scores, after)
                if prune and len(scores):
                    _offer(qid, k, scores)
                yield pd.DataFrame({"gid": gids, "score": scores.astype(np.float32)})

        return kernel

    def _bucket_kernel(self, plan: "_ScanPlan", qid: str, width: int, theta0: float):
        """Per-bucket kernel of a boolean/phrase plan, ``body(key, pdf,
        dv_gids)``: the blocks of one gid-range bucket aligned per term,
        pruned (block-grain leapfrog, plan upper bound and per-term slack
        against θ), decoded, scored by ``eval_plan``, masked and cut to the
        bucket's top k (ties at the kth score kept)."""
        node, ctx, k, prune, after = plan.node, plan.ctx, plan.k, plan.prune, plan.after
        keep_bcs = plan.keep_bcs
        need_positions, need_payloads = plan.need_positions, plan.need_payloads
        weights = ctx.weights
        term_caches = {t: ctx.cache_for(t) for t in weights}
        sim = ctx.sim
        req = _req_terms(node)
        metrics = self.metrics
        dbc = self.deleted_bc()  # broadcast handle: tiny in the closure
        empty = pd.DataFrame(
            {"gid": pd.Series(dtype=np.int64), "score": pd.Series(dtype=np.float32)}
        )

        def kernel_body(key, pdf: pd.DataFrame,
                        dv_gids: "np.ndarray | None") -> pd.DataFrame:
            deleted = dbc.value if dbc is not None else None
            keeps = [kb.value for kb in keep_bcs] if keep_bcs else []
            if dv_gids is not None:
                if not len(dv_gids):
                    # no doc in this gid range passes the doc-value filter
                    return empty
                keeps = keeps + [dv_gids]
            keeps = keeps or None
            bucket = int(key[0])
            lo, hi = bucket * width, (bucket + 1) * width
            pdf = _block_keep_filter(pdf, keeps)
            if pdf.empty:
                return empty
            if metrics is not None:
                metrics["blocks_scanned"].add(len(pdf))
            # block-grain conjunction leapfrog: a required term's coverage
            # bounds every other term's useful blocks
            pdf = _intersect_block_filter(pdf, req)
            if pdf.empty:
                return empty
            theta = max(theta0, _theta(qid, k)) if prune else float("-inf")
            if prune:
                block_maxes = _row_block_maxes(pdf, weights, term_caches, sim,
                                               ctx.aux)
                term_maxes: dict[str, float] = {}
                t_arr = pdf["term"].to_numpy()
                for t in np.unique(t_arr):
                    term_maxes[t] = float(block_maxes[t_arr == t].max())
                if _float_safe_ub(_plan_upper_bound(node, term_maxes, ctx)) < theta:
                    return empty
                if theta > float("-inf"):
                    slack = _term_block_slack(node, term_maxes)
                    if slack is not None:
                        s_arr = np.array(
                            [slack.get(t, float("inf")) for t in t_arr]
                        )
                        pdf = pdf[_float_safe_ub_arr(block_maxes + s_arr) >= theta]
                        if pdf.empty:
                            return empty
                        # re-run the leapfrog: score-filtering may have
                        # voided required-term coverage
                        pdf = _intersect_block_filter(pdf, req)
                        if pdf.empty:
                            return empty
            if metrics is not None:
                metrics["blocks_decoded"].add(len(pdf))
            postings: dict[str, TermPostings] = {}
            for t, grp in pdf.groupby("term", sort=False):
                postings[t] = decode_term_blocks(
                    grp, need_positions=need_positions,
                    need_payloads=need_payloads,
                ).slice(lo, hi)
            gids, scores = eval_plan(node, postings, ctx)
            gids, scores = _live_mask(gids, scores, deleted)
            gids, scores = _keep_only(gids, scores, keeps)
            gids, scores = _after_mask(gids, scores, after)
            if len(gids) > k:
                part = np.argpartition(-scores.astype(np.float64), k - 1)[:k]
                # keep exact tie-break: argpartition may split ties
                # arbitrarily — include all ties at the kth score
                kth = scores[part].min()
                keep = scores >= kth
                gids, scores = gids[keep], scores[keep]
            if prune and len(scores):
                _offer(qid, k, scores)
            return pd.DataFrame({"gid": gids, "score": scores.astype(np.float32)})

        return kernel_body

    def explain(self, term: str, gid: "int | None" = None) -> pd.DataFrame:
        """IndexSearcher.explain analog for a TermQuery: the searcher
        similarity's Explanation tree flattened to (component, value)
        rows. Each similarity renders its own tree, as in the reference:
        BM25Similarity.java:160-280, TFIDFSimilarity.java:430-540
        (TFIDFScorer.explainScore), LMDirichletSimilarity.java:79-105 +
        LMSimilarity.java:77-107 (collection probability leaf),
        LMJelinekMercerSimilarity.java:71-87, and the SimScorer default
        (freq + score) for BooleanSimilarity.

        ``gid=None`` explains the query's own top-1 hit. Every value is
        computed at the same float32 points as scoring, so rows are
        value-exact against the SQL oracle twin.
        """
        from ..functions.smallfloat import LENGTH_TABLE
        from ..functions.similarity import (
            AxiomaticF1EXPSim, AxiomaticF1LOGSim, AxiomaticF2EXPSim,
            AxiomaticF2LOGSim, AxiomaticF3EXPSim, AxiomaticF3LOGSim,
            BooleanSim, ClassicSim, DFISim, DFRSim, IBSim, LMDirichletSim,
            LMJelinekMercerSim,
        )

        if gid is None:
            top = self.search(TermQ(term), k=1, with_keys=False)
            if not len(top):
                raise ValueError(f"no hits for {term!r}")
            gid = int(top["gid"].iloc[0])
        row = self.postings(term).filter(F.col("gid") == gid).collect()
        if not row:
            raise ValueError(f"doc {gid} does not contain {term!r}")
        freq, norm_b = int(row[0]["freq"]), int(row[0]["norm_b"])
        dc, sttf = self.field_stats(_field_of(term))
        df, ttf = (int(v) for v in self.term_stats({term})[term])
        n_docs = max(dc, 1)
        f32 = np.float32
        one = f32(1.0)
        dl = f32(LENGTH_TABLE[norm_b])

        if isinstance(self.sim, BM25Sim):
            w = _idf(df, n_docs)
            av = _avgdl(sttf, n_docs)
            cache = norm_cache(
                av, np.float32(self.sim.k1), np.float32(self.sim.b)
            )[norm_b]
            denom = one + f32(freq) * cache
            rows = [
                ("n, number of documents containing term", float(df)),
                ("N, total number of documents with field", float(n_docs)),
                ("idf", float(w)),
                ("freq, occurrences of term within document", float(freq)),
                ("k1, term saturation parameter", float(self.k1)),
                ("b, length normalization parameter", float(self.b)),
                ("dl, length of field", float(dl)),
                ("avgdl, average length of field", float(av)),
                ("tf", float(one - one / denom)),
                ("score", float(w - w / denom)),
            ]
        elif isinstance(self.sim, ClassicSim):
            # TFIDFScorer.explainScore: boost (omitted at 1), idfExplain
            # with docFreq/docCount leaves, tf with its freq leaf,
            # fieldNorm, product root — the same float32 fold order as
            # ClassicSim.score (f32(f32(tf*weight) * norm))
            w = self.sim.idf(df, n_docs)
            tf_v = f32(np.sqrt(f32(freq)))
            norm = self.sim.norm_table(one)[norm_b]
            rows = [
                ("docFreq, number of documents containing term", float(df)),
                ("docCount, total number of documents with field",
                 float(n_docs)),
                ("idf(docFreq, docCount)", float(w)),
                ("freq, occurrences of term within document", float(freq)),
                ("tf(freq), computed as sqrt(freq)", float(tf_v)),
                ("fieldNorm", float(norm)),
                ("score", float(f32(f32(tf_v * w) * norm))),
            ]
        elif isinstance(self.sim, LMDirichletSim):
            # LMDirichletSimilarity.explain: mu, term weight with
            # freq/P children, document norm, dl, then LMSimilarity's
            # collection-probability leaf; score clamps at 0 pre-cast
            mu = float(self.sim.mu)
            aux = self.sim.aux(df, n_docs, ttf, sttf)
            p = f32(f32(ttf + 1.0) / f32(sttf + 2.0))
            a = np.log(1.0 + np.float64(freq) / np.float64(aux))
            b = np.log(mu / (np.float64(dl) + mu))
            rows = [
                ("mu", mu),
                ("freq, number of occurrences of term in the document",
                 float(freq)),
                ("P, probability that the current term is generated by "
                 "the collection", float(p)),
                ("term weight, computed as log(1 + freq /(mu * P))",
                 float(f32(a))),
                ("document norm, computed as log(mu / (dl + mu))",
                 float(f32(b))),
                ("dl, length of field", float(dl)),
                ("collection probability", float(p)),
                ("score", float(f32(max(a + b, 0.0)))),
            ]
        elif isinstance(self.sim, LMJelinekMercerSim):
            # LMJelinekMercerSimilarity.explain: lambda, P, freq, dl,
            # collection-probability leaf, no clamp on the score
            lam = float(self.sim.lam)
            aux = self.sim.aux(df, n_docs, ttf, sttf)
            p = f32(f32(ttf + 1.0) / f32(sttf + 2.0))
            one_minus = f32(one - f32(lam))
            s = np.log(
                1.0 + (np.float64(one_minus) * np.float64(freq)
                       / np.float64(dl)) / np.float64(aux)
            )
            rows = [
                ("lambda", lam),
                ("P, probability that the current term is generated by "
                 "the collection", float(p)),
                ("freq, number of occurrences of term in the document",
                 float(freq)),
                ("dl, length of field", float(dl)),
                ("collection probability", float(p)),
                ("score", float(f32(s))),
            ]
        elif isinstance(self.sim, BooleanSim):
            # BooleanSimilarity doesn't override SimScorer.explain — the
            # default renders freq and the constant score (the boost)
            rows = [
                ("freq, occurrences of term within document", float(freq)),
                ("score", 1.0),
            ]
        elif isinstance(self.sim, DFRSim):
            # DFRSimilarity.explain across the matrix: normalization tfn
            # with its hyper-parameter leaves, the basic model's RAW value
            # (each reference BasicModel.explain divides the after-effect
            # back out: score * (1 + tfn) / aeTimes1pTfn), the after
            # effect as ae / (1 + tfn)
            sim = self.sim
            aux = sim.aux(df, n_docs, ttf, sttf)
            A, B, ae, avgfl, h3_r = aux
            tfn = float(sim._tfn(
                np.array([freq], dtype=np.int64),
                np.array([dl], dtype=np.float64), avgfl, h3_r,
            )[0])
            if sim.basic_model == "G":
                base = (B - (B - A) / (1.0 + tfn)) * ae
                raw = A + B * tfn
                lamG = (ttf + 1.0) / (n_docs + ttf + 1.0)
                model_rows = [
                    ("lambda, computed as F / (N + F)", float(f32(lamG))),
                    ("basic model G, computed as log2(lambda + 1) + tfn * "
                     "log2((1 + lambda) / lambda)", float(f32(raw))),
                ]
            else:
                base = A * ae * (1.0 - 1.0 / (1.0 + tfn))
                raw = A * tfn
                label = {
                    "IF": ("basic model IF, computed as tfn * "
                           "log2(1 + (N + 1) / (F + 0.5))"),
                    "In": ("basic model I(n), computed as tfn * "
                           "log2((N + 1) / (n + 0.5))"),
                    "Ine": ("basic model I(ne), computed as tfn * "
                            "log2((N + 1) / (ne + 0.5))"),
                }[sim.basic_model]
                model_rows = [(label, float(f32(raw)))]
            norm_rows = [("tfn, normalized term frequency", float(f32(tfn)))]
            if sim.normalization in ("H1", "H2"):
                norm_rows.append(("c, hyper-parameter", float(sim.c)))
            elif sim.normalization == "H3":
                norm_rows.append(("mu, smoothing parameter", float(sim.mu)))
            else:
                norm_rows.append(("z, relative document length", float(sim.z)))
            norm_rows += [
                ("avgfl, average field length", float(avgfl)),
                ("fl, field length", float(dl)),
            ]
            ae_row = (
                ("after effect L, computed as 1 / (tfn + 1)",
                 float(f32(1.0 / (1.0 + tfn))))
                if sim.after_effect == "L"
                else ("after effect B, computed as (F + 1) / (n * (tfn + 1))",
                      float(f32(ae / (1.0 + tfn))))
            )
            sc = np.float64(1.0) * base
            rows = norm_rows + model_rows + [ae_row, ("score", float(f32(sc)))]
        elif isinstance(self.sim, DFISim):
            # DFISimilarity.explain: expected with F/dl/T leaves, measure
            # (independence.score(freq, expected)), boost, root = score
            aux = self.sim.aux(df, n_docs, ttf, sttf)
            expected = np.float64(aux) * np.float64(dl)
            fr = np.float64(freq)
            if fr <= expected:
                sc, measure = 0.0, 0.0
            else:
                with np.errstate(divide="ignore"):
                    if self.sim.independence == "standardized":
                        measure = (fr - expected) / np.sqrt(expected)
                    elif self.sim.independence == "chisquared":
                        measure = (fr - expected) ** 2 / expected
                    else:
                        measure = (fr - expected) / expected
                sc = np.log(measure + 1.0) / np.log(2.0)
            rows = [
                ("F, total number of occurrences of term across all docs",
                 float(ttf)),
                ("dl, length of field", float(dl)),
                ("T, total number of tokens in the field", float(sttf)),
                ("expected, computed as (F + 1) * dl / (T + 1)",
                 float(f32(expected))),
                ("freq, number of occurrences of term in the document",
                 float(freq)),
                ("measure, computed as independence.score(freq, expected)",
                 float(f32(measure))),
                ("score", float(f32(sc))),
            ]
        elif isinstance(self.sim, (AxiomaticF1EXPSim, AxiomaticF3EXPSim)):
            # F1/F3 Axiomatic explain: the same tf/ln/tfln/idf/gamma leaf
            # structure with each family's component texts
            # (AxiomaticF1EXP.java:82-120, AxiomaticF3EXP.java:97-135)
            aux = self.sim.aux(df, n_docs, ttf, sttf)
            idf_v, avgdl = aux
            s_p = float(self.sim.s)
            fr = np.float64(freq) + 1.0
            tf = 1.0 + float(np.log(1.0 + np.log(fr)))
            is_f3 = isinstance(self.sim, AxiomaticF3EXPSim)
            if is_f3:
                ql = float(self.sim.query_len)
                ln_c, gamma = 1.0, float(
                    ((np.float64(dl) - ql) * s_p) * ql / avgdl
                )
                sc = max(0.0, tf * float(idf_v) - gamma)
            else:
                ln_c, gamma = float(
                    (avgdl + s_p) / (avgdl + np.float64(dl) * s_p)
                ), 0.0
                sc = max(0.0, tf * ln_c * float(idf_v))
            log_idf = isinstance(
                self.sim, (AxiomaticF1LOGSim, AxiomaticF3LOGSim)
            )
            idf_text = (
                "idf, inverted document frequency computed as "
                "Math.log((N + 1) / n)" if log_idf else
                "idf, inverted document frequency computed as "
                "Math.pow((N + 1) / n, k)"
            )
            ln_text = (
                "ln, document length, equals to 1" if is_f3 else
                "ln, document length computed as "
                "(avgdl + s) / (avgdl + dl * s)"
            )
            rows = [
                ("tf, term frequency computed as 1 + log(1 + log(freq))",
                 float(f32(tf))),
                (ln_text, float(f32(ln_c))),
                ("tfln, mixed term frequency and document length, "
                 "equals to 1", 1.0),
                ("freq, number of occurrences of term in the document",
                 float(freq)),
                ("dl, length of field", float(dl)),
                ("avgdl, average length of field across all documents",
                 float(avgdl)),
                ("n, number of documents containing term", float(df)),
                ("N, total number of documents with field", float(n_docs)),
                (idf_text, float(f32(idf_v))),
                ("gamma, computed as (dl - queryLen) * s * queryLen / avgdl"
                 if is_f3 else "gamma", float(f32(gamma))),
                ("score", float(f32(sc))),
            ]
        elif isinstance(self.sim, AxiomaticF2EXPSim):
            # Axiomatic.explain: tf/ln/tfln/idf/gamma component leaves
            # (AxiomaticF2EXP/F2LOG's tfExplain..idfExplain texts), score
            # root — F2LOG differs only in the idf primitive's text
            aux = self.sim.aux(df, n_docs, ttf, sttf)
            idf_v, avgdl = aux
            s_p = float(self.sim.s)
            fr = np.float64(freq)
            tfln = fr / (fr + s_p + s_p * np.float64(dl) / avgdl)
            sc = max(0.0, 1.0 * 1.0 * float(tfln) * float(idf_v))
            idf_text = (
                "idf, inverted document frequency computed as "
                "Math.log((N + 1) / n)"
                if isinstance(self.sim, AxiomaticF2LOGSim) else
                "idf, inverted document frequency computed as "
                "Math.pow((N + 1) / n, k)"
            )
            rows = [
                ("tf, term frequency, equals to 1", 1.0),
                ("ln, document length, equals to 1", 1.0),
                ("freq, number of occurrences of term in the document",
                 float(freq)),
                ("dl, length of field", float(dl)),
                ("avgdl, average length of field across all documents",
                 float(avgdl)),
                ("tfln, mixed term frequency and document length, computed "
                 "as freq / (freq + s + s * dl / avgdl)", float(f32(tfln))),
                ("n, number of documents containing term", float(df)),
                ("N, total number of documents with field", float(n_docs)),
                (idf_text, float(f32(idf_v))),
                ("gamma", 0.0),
                ("score", float(f32(sc))),
            ]
        elif isinstance(self.sim, IBSim):
            # IBSimilarity.explain across the matrix: normalization tfn,
            # the lambda with its n-or-F/N leaves, the distribution
            sim = self.sim
            aux = sim.aux(df, n_docs, ttf, sttf)
            lam, avgfl, h3_r = aux
            from ..functions.similarity import _norm_tfn

            tfn = float(_norm_tfn(
                sim.normalization, sim.c, sim.mu, sim.z,
                np.array([freq], dtype=np.int64),
                np.array([dl], dtype=np.float64), avgfl, h3_r,
            )[0])
            sc = float(sim.score(
                np.array([freq], dtype=np.int64), np.float32(1.0),
                np.array([dl], dtype=np.float64), aux,
            )[0])
            if sim.lambda_of == "DF":
                lam_rows = [
                    ("n, number of documents containing term", float(df)),
                    ("N, total number of documents with field",
                     float(n_docs)),
                    ("lambda(w), computed as (n + 1) / (N + 1)", float(lam)),
                ]
            else:
                lam_rows = [
                    ("F, total number of occurrences of term across all "
                     "documents", float(ttf)),
                    ("N, total number of documents with field",
                     float(n_docs)),
                    ("lambda(w), computed as (F + 1) / (N + 1)", float(lam)),
                ]
            dist_row = (
                ("distribution LL, computed as -log(lambda / (tfn + lambda))",
                 float(f32(sc)))
                if sim.distribution == "LL"
                else ("distribution SPL, computed as -log2((lambda^(tfn / "
                      "(tfn + 1)) - lambda) / (1 - lambda))", float(f32(sc)))
            )
            rows = [
                ("tfn, normalized term frequency", float(f32(tfn))),
            ] + lam_rows + [dist_row, ("score", float(f32(sc)))]
        else:
            raise NotImplementedError(
                "explain() has no tree for custom similarity "
                f"{type(self.sim).__name__}"
            )
        return pd.DataFrame(rows, columns=["component", "value"])

    def postings(self, term: str) -> DataFrame:
        """Decoded posting list of one term: (gid, freq, norm_b, doc_len-ish).

        TermsEnum.postings() analog; a mapInPandas decode over the pruned
        block scan.
        """
        scan = self._postings_df().select(
            "term", "first_gid", "gids", "freqs", "norms"
        ).filter(F.col("term") == term)

        def kernel(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                tp = decode_term_blocks(pdf)
                yield pd.DataFrame(
                    {"gid": tp.gids, "freq": tp.freqs, "norm_b": tp.norms.astype(np.int32)}
                )

        schema = T.StructType(
            [
                T.StructField("gid", T.LongType()),
                T.StructField("freq", T.LongType()),
                T.StructField("norm_b", T.IntegerType()),
            ]
        )
        return scan.mapInPandas(kernel, schema=schema)

    def term_offsets(self, term: str) -> DataFrame:
        """PostingsEnum over an offsets-enabled index (IndexOptions
        DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS): one row per occurrence —
        (gid, position, start_off, end_off), offsets being [start, end)
        char indexes into the original field text
        (``PostingsEnum.startOffset/endOffset``,
        ``Lucene90PostingsReader`` EverythingEnum).

        Distributed decode: the term filter pushes into the Parquet scan,
        one Arrow kernel expands blocks to occurrence rows.
        """
        if not self.stats.get("with_offsets"):
            raise ValueError(
                "index stores no offsets (build with with_offsets=True)"
            )
        scan = self._postings_df().select(
            "term", "first_gid", "gids", "freqs", "norms", "positions",
            "off_starts", "off_lens",
        ).filter(F.col("term") == term)

        def kernel(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                tp = decode_term_blocks(pdf, need_positions=True,
                                        need_offsets=True)
                yield pd.DataFrame(
                    {
                        "gid": np.repeat(tp.gids, tp.freqs),
                        "position": tp.pos_flat,
                        "start_off": tp.off_start_flat,
                        "end_off": tp.off_end_flat,
                    }
                )

        schema = T.StructType(
            [
                T.StructField("gid", T.LongType()),
                T.StructField("position", T.LongType()),
                T.StructField("start_off", T.LongType()),
                T.StructField("end_off", T.LongType()),
            ]
        )
        return scan.mapInPandas(kernel, schema=schema)

    def term_payloads(self, term: str) -> DataFrame:
        """PostingsEnum.getPayload over a payloads-enabled index: one row
        per occurrence — (gid, position, payload), the integer payload the
        delimited analyzer attached (``PayloadAttribute``,
        ``Lucene90PostingsReader`` EverythingEnum payload stream).
        """
        if not self.stats.get("with_payloads"):
            raise ValueError(
                "index stores no payloads (build with with_payloads=True)"
            )
        scan = self._postings_df().select(
            "term", "first_gid", "gids", "freqs", "norms", "positions",
            "payloads",
        ).filter(F.col("term") == term)

        def kernel(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                tp = decode_term_blocks(pdf, need_positions=True,
                                        need_payloads=True)
                yield pd.DataFrame(
                    {
                        "gid": np.repeat(tp.gids, tp.freqs),
                        "position": tp.pos_flat,
                        "payload": tp.pay_flat,
                    }
                )

        schema = T.StructType(
            [
                T.StructField("gid", T.LongType()),
                T.StructField("position", T.LongType()),
                T.StructField("payload", T.LongType()),
            ]
        )
        return scan.mapInPandas(kernel, schema=schema)

    def payload_score_topk(self, term: str, func: str = "sum",
                           include_span_score: bool = True,
                           k: int = 10) -> DataFrame:
        """PayloadScoreQuery(SpanTermQuery, PayloadFunction) analog
        (``queries/.../payloads/PayloadScoreQuery.java:47-100,210-225``):
        per matching doc, payloadScore = func over the doc's occurrence
        payloads (Sum/Max/Min/AveragePayloadFunction), and the hit score is
        ``spanScore * payloadScore`` when ``include_span_score`` else
        ``payloadScore`` — spanScore being the BM25 score of the term span
        (freq = number of spans). float32 at every Lucene cast point.

        Exhaustive by design: Lucene's span scorers carry no impacts, so
        there is no block-max pruning to mirror — the scan is one
        distributed decode + per-partition aggregate, then a global top-k.
        """
        if not self.stats.get("with_payloads"):
            raise ValueError(
                "index stores no payloads (build with with_payloads=True)"
            )
        if func not in ("sum", "max", "min", "avg"):
            raise ValueError(f"unknown payload function: {func}")
        node = TermQ(term)
        ctx = self.make_ctx(node)
        w = ctx.weights.get(term, np.float32(0.0))
        cache = ctx.cache_for(term)
        sim = ctx.sim
        dbc = self.deleted_bc()  # broadcast handle: tiny in the closure
        scan = self._postings_df().select(
            "term", "first_gid", "gids", "freqs", "norms", "positions",
            "payloads",
        ).filter(F.col("term") == term)

        def kernel(batches):
            deleted = dbc.value if dbc is not None else None
            for pdf in batches:
                if pdf.empty:
                    continue
                tp = decode_term_blocks(pdf, need_positions=True,
                                        need_payloads=True)
                if not len(tp.gids):
                    continue
                pay = tp.pay_flat.astype(np.float32)
                starts = tp.pos_starts[:-1]
                if func == "sum":
                    pays = np.add.reduceat(pay, starts)
                elif func == "max":
                    pays = np.maximum.reduceat(pay, starts)
                elif func == "min":
                    pays = np.minimum.reduceat(pay, starts)
                else:  # avg = float32 sum / float32 count
                    pays = (
                        np.add.reduceat(pay, starts)
                        / tp.freqs.astype(np.float32)
                    ).astype(np.float32)
                if include_span_score:
                    span = _score_term(tp, w, cache, sim, ctx.aux_for(term))
                    scores = (span * pays).astype(np.float32)
                else:
                    scores = pays.astype(np.float32)
                gids, scores = _live_mask(tp.gids, scores, deleted)
                yield pd.DataFrame({"gid": gids, "score": scores.astype(np.float64)})

        schema = T.StructType(
            [
                T.StructField("gid", T.LongType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
        out = scan.mapInPandas(kernel, schema=schema)
        return out.orderBy(F.desc("score"), F.asc("gid")).limit(k)

    def count(self, query) -> int:
        """TotalHitCountCollector analog."""
        node = parse_query(query) if isinstance(query, str) else query
        if node is None:
            return 0
        node = self.rewrite(node)
        has_deletes = self.has_deletes()
        if isinstance(node, MatchAllQ):
            if has_deletes:
                return int(self._anti_join_deleted(
                    self.doc_rows().select("gid")
                ).count())
            return int(self.doc_rows().count())
        if isinstance(node, TermQ) and not has_deletes:
            # no decode needed: block doc counts sum exactly
            row = (
                self._postings_df()
                .filter(F.col("term") == node.term)
                .agg(F.sum("doc_count").alias("n"))
                .collect()[0]
            )
            return int(row["n"] or 0)
        df = self.candidates(node, k=1 << 62, prune=False)
        return df.count()

    # ---- field collectors (TopFieldCollector / facets / grouping) ------

    def search_sorted(self, query, by: str = "doc_len", k: int = 10,
                      ascending: bool = False) -> DataFrame:
        """Sort-by-field top-k over the match set (TopFieldCollector.java
        analog): order by the doc-values column, ties by gid asc. Scoring is
        skipped conceptually (Lucene passes needsScores=false); candidates
        are computed unpruned since θ-pruning only applies to score order.
        """
        node = parse_query(query) if isinstance(query, str) else query
        cand = self.candidates(node, k=1 << 62, prune=False).select("gid").distinct()
        order = F.asc(by) if ascending else F.desc(by)
        return (
            cand.join(self.doc_rows().select("gid", by), "gid")
            .orderBy(order, F.asc("gid"))
            .limit(k)
        )

    def sorted_index_topk(self, k: int = 10) -> DataFrame:
        """Early-terminating sorted top-k over a sort_by index
        (TopFieldCollector over IndexWriterConfig.setIndexSort: when the
        query sort equals the index sort, each leaf needs only its first k
        competitive docs — ``core/search/TopFieldCollector.java``
        canEarlyTerminate).

        Within every segment, gids were assigned in (sort_val, key) order,
        so the segment's k best docs are exactly gids
        [seg_base, seg_base + k): the scan carries an OR of per-segment
        gid ranges, which Parquet row-group min/max stats prune to the
        head of each segment's doc rows — no global sort, no shuffle,
        O(k · n_segments) rows ever surface. With deletes, each range is
        widened by the number of deleted gids inside it (fixpoint, driver
        side) so k LIVE docs per segment are still covered. Merges never
        renumber gids and leave doc rows in place, so the ranges stay
        valid on merged indexes. Returns (gid, key, sort_val) in index
        order, ties by gid asc.
        """
        info = self.stats.get("index_sort")
        if not info:
            raise ValueError(
                "sorted_index_topk requires an index built with sort_by "
                "(stats.json has no index_sort)"
            )
        from ..operators.indexer import SEG_SHIFT

        segs = self.commit.segments
        deleted = self.deleted_gids()
        ranges = []
        for s in segs:
            base = s << SEG_SHIFT
            width = k
            if deleted is not None and len(deleted):
                # widen until the range holds k live docs (usually 1 round)
                while True:
                    d = int(
                        np.searchsorted(deleted, base + width)
                        - np.searchsorted(deleted, base)
                    )
                    if width >= k + d:
                        break
                    width = k + d
            ranges.append((base, base + width))
        pred = None
        for lo, hi in ranges:
            clause = (F.col("gid") >= F.lit(lo)) & (F.col("gid") < F.lit(hi))
            pred = clause if pred is None else (pred | clause)
        head = (
            self._docs_raw_df()
            .select("gid", "key", "sort_val")
            .filter(pred)
        )
        head = self._anti_join_deleted(head)
        order = (
            F.asc("sort_val") if info.get("ascending", True)
            else F.desc("sort_val")
        )
        return head.orderBy(order, F.asc("gid")).limit(k)

    def facet_counts(self, query, dim_df: DataFrame, dim_col: str,
                     key_col: str = "key") -> DataFrame:
        """Per-dimension match counts (FacetsCollector + facet counting,
        lucene/facet): match set → broadcast-join the dimension table on the
        doc key → groupBy(dim).count(). The dim table join is the
        taxonomy-ordinal lookup analog."""
        node = parse_query(query) if isinstance(query, str) else query
        cand = self.candidates(node, k=1 << 62, prune=False).select("gid").distinct()
        keyed = cand.join(self.doc_rows().select("gid", "key"), "gid")
        dims = dim_df.select(
            F.col(key_col).cast("string").alias("key"), F.col(dim_col).alias("dim")
        )
        return (
            keyed.join(F.broadcast(dims), "key")
            .groupBy("dim")
            .agg(F.count("*").alias("n"))
        )

    def drill_sideways(self, base_query, dims,
                       key_col: str = "key") -> DataFrame:
        """DrillSideways (lucene/facet/.../DrillSideways.java:48-90): a
        drill-down search that, for every DRILLED dimension, also counts
        the facets that dimension WOULD show without its own filter —
        "near misses" — while all other dimensions' drill-downs stay
        applied. Non-drilled dimensions count over the full drill-down
        match set, exactly like plain facet counting on the
        DrillDownQuery.

        ``dims``: list of (name, dim_df, dim_col, values) — ``values``
        is the dimension's drill-down value set or None when the
        dimension is only being counted. Returns (dim, label, n) rows
        per dimension plus one ('$hits', '', n) row — the
        DrillSidewaysResult hit count with every drill-down applied.

        Plan shape: ONE base match-set scan (the expensive part), one
        broadcast join per dimension to annotate each hit with its
        labels, then a constant number of conditional aggregations — the
        Spark expression of the reference's single-pass
        DrillSidewaysScorer, which likewise visits base-query hits once
        and routes docs failing exactly one drill to that dimension's
        sideways collector (DrillSidewaysScorer.java:120-210). Docs
        without a label row are uncounted, like docs missing the facet
        field."""
        node = (parse_query(base_query) if isinstance(base_query, str)
                else base_query)
        cand = self.candidates(node, k=_ALL_K, prune=False) \
            .select("gid").distinct()
        wide = cand.join(self.doc_rows().select("gid", "key"), "gid")
        flags = []
        for i, (name, dim_df, dim_col, values) in enumerate(dims):
            d = dim_df.select(
                F.col(key_col).cast("string").alias("key"),
                F.col(dim_col).cast("string").alias(f"_d{i}"),
            )
            wide = wide.join(F.broadcast(d), "key", "left")
            flags.append(
                F.col(f"_d{i}").isin([str(v) for v in values])
                if values is not None else F.lit(True)
            )

        def _all(conds):
            out = F.lit(True)
            for c in conds:
                out = out & c
            return out

        outs = []
        for i, (name, _df, _col, values) in enumerate(dims):
            others = _all(f for j, f in enumerate(flags) if j != i)
            outs.append(
                wide.where(others & F.col(f"_d{i}").isNotNull())
                .groupBy(F.col(f"_d{i}").alias("label"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(name).alias("dim"), "label", "n")
            )
        hits = (
            wide.where(_all(flags))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(F.lit("$hits").alias("dim"), F.lit("").alias("label"),
                    "n")
        )
        res = outs[0]
        for o in outs[1:]:
            res = res.union(o)
        return res.union(hits)

    def range_facet_counts(self, query, ranges,
                           value_col: str = "doc_len") -> DataFrame:
        """LongRangeFacetCounts analog (facet/range/LongRangeFacetCounts.java):
        per-REQUESTED-range match counts over a numeric per-doc value.
        Reference semantics kept exactly: ranges may OVERLAP (a doc counts
        in every range containing its value — this is why it's not a
        groupBy-bucket), and an empty range still yields a row with n=0
        (LabelAndValue is emitted per requested range).

        Plan shape: match set → one join to the per-doc value → ONE
        aggregation of per-range conditional sums (map-side partial agg,
        constant-size plan for the handful of ranges facets use) →
        ``stack`` back to (label, n) rows in requested order. No shuffle
        keyed on the range label, no per-range scan.

        ``ranges``: (label, lo, hi) or (label, lo, hi, lo_inc, hi_inc) —
        LongRange's minInclusive/maxInclusive flags, default inclusive."""
        if not ranges:
            raise ValueError("ranges must be non-empty")
        node = parse_query(query) if isinstance(query, str) else query
        cand = self.candidates(node, k=1 << 62, prune=False).select("gid").distinct()
        vals = cand.join(self.doc_rows().select("gid", value_col), "gid")
        aggs, stack_parts = [], []
        for i, r in enumerate(ranges):
            label, lo, hi = str(r[0]), int(r[1]), int(r[2])
            lo_inc = bool(r[3]) if len(r) > 3 else True
            hi_inc = bool(r[4]) if len(r) > 4 else True
            v = F.col(value_col)
            cond = (v >= lo if lo_inc else v > lo) & (
                v <= hi if hi_inc else v < hi
            )
            aggs.append(
                F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
                .cast("long").alias(f"_r{i}")
            )
            stack_parts.append(f"'{label.replace(chr(39), chr(39) * 2)}', _r{i}")
        wide = vals.agg(*aggs)
        return wide.selectExpr(
            f"stack({len(ranges)}, {', '.join(stack_parts)}) AS (label, n)"
        )

    def grouped_topk(self, query, dim_df: DataFrame, dim_col: str,
                     k_per_group: int = 2, key_col: str = "key") -> DataFrame:
        """Top-k docs per group by BM25 score (grouping module analog,
        lucene/grouping FirstPass/SecondPassGroupingCollector): window rank
        over (group, score desc, gid asc)."""
        from pyspark.sql import Window

        node = parse_query(query) if isinstance(query, str) else query
        cand = self.candidates(node, k=1 << 62, prune=False)
        keyed = cand.join(self.doc_rows().select("gid", "key"), "gid")
        dims = dim_df.select(
            F.col(key_col).cast("string").alias("key"), F.col(dim_col).alias("dim")
        )
        w = Window.partitionBy("dim").orderBy(F.desc("score"), F.asc("gid"))
        return (
            keyed.join(F.broadcast(dims), "key")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k_per_group)
            .select("dim", "gid", "score", "rn")
        )

    def covering_topk(self, clauses, min_match_col, k: int = 10) -> DataFrame:
        """CoveringQuery (sandbox/search/CoveringQuery.java +
        CoveringScorer.java:130-141): a disjunction whose
        minimumNumberMatch comes from a PER-DOCUMENT LongValuesSource —
        doc matches iff at least ``max(1, value(doc))`` clauses match
        (docs with no value never match, CoveringScorer's
        Long.MAX_VALUE arm); score = the sum of the MATCHING clauses'
        scores, one float32 cast at the end like any SHOULD sum.

        ``min_match_col``: a Column expression over ``doc_rows()``
        (gid, key, doc_len, sort_val...) — the LongValuesSource analog.

        Plan: one exhaustive scored scan per clause (each impact-
        structured like a plain disjunction's), one union + groupBy(gid)
        with count+sum partial aggregation, one join to the per-doc
        value. No driver materialization; the per-clause scans dominate
        exactly as CoveringScorer's sub-scorer advances do."""
        parts = None
        for c in clauses:
            node = parse_query(c) if isinstance(c, str) else c
            df = self.candidates(node, k=_ALL_K, prune=False) \
                .select("gid", F.col("score").cast("double").alias("s"))
            parts = df if parts is None else parts.unionAll(df)
        agg = parts.groupBy("gid").agg(
            F.count(F.lit(1)).alias("_nm"),
            F.sum("s").alias("_sum"),
        )
        vals = self.doc_rows().select(
            "gid", min_match_col.cast("long").alias("_mm")
        )
        return (
            agg.join(vals, "gid")
            .filter(F.col("_nm") >= F.greatest(F.lit(1), F.col("_mm")))
            .select(
                "gid",
                F.col("_sum").cast("float").cast("double").alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("gid"))
            .limit(int(k))
        )

    def distance_feature_topk(self, query, origin_lat: float,
                              origin_lon: float, pivot_m: float,
                              weight: float = 1.0, k: int = 10,
                              lat_lon=None) -> DataFrame:
        """LatLonPoint.newDistanceFeatureQuery combined as a SHOULD
        clause with a text query (the reference's canonical usage:
        relevance + proximity boost).

        Per LatLonPointDistanceFeatureQuery.java:129-130 the feature
        score is ``(float)(weight * (pivot / (pivot + haversinMeters(
        origin, doc))))``; the boolean sum then adds it to the text
        score with the usual one-float32-cast discipline. ``lat_lon``:
        optional (lat_col, lon_col) expressions over ``doc_rows()`` —
        defaults to the deterministic synthetic per-doc coordinates
        (gate data; a real deployment passes its own point columns).

        Plan: the text match set (impact-pruned per bucket is unsound
        under an additive rescore, so the scan is exhaustive like
        FunctionScore's) + one join to per-doc coordinates + pure
        column haversine — no kernel, no collect."""
        from .spatial import LAT_DECODE, LON_DECODE, _haversine_m, \
            synth_latlon

        node = parse_query(query) if isinstance(query, str) else query
        cand = self.candidates(node, k=_ALL_K, prune=False)
        if lat_lon is None:
            lat, lon = synth_latlon("gid")
        else:
            lat, lon = lat_lon
        # quantize exactly like build_points (the reference reads the
        # encoded doc values back, so scoring sees DECODED quantized
        # coordinates)
        lat_enc = F.least(F.floor(lat / F.lit(LAT_DECODE)),
                          F.lit((1 << 31) - 1)).cast("long")
        lon_enc = F.least(F.floor(lon / F.lit(LON_DECODE)),
                          F.lit((1 << 31) - 1)).cast("long")
        pts = self.doc_rows().select(
            "gid", lat_enc.alias("lat_enc"), lon_enc.alias("lon_enc")
        )
        d = _haversine_m(F.col("lat_enc"), F.col("lon_enc"),
                         float(origin_lat), float(origin_lon))
        boost = (F.lit(float(weight))
                 * (F.lit(float(pivot_m)) / (F.lit(float(pivot_m)) + d))
                 ).cast("float")
        return (
            cand.join(pts, "gid")
            .select(
                "gid",
                (F.col("score").cast("double") + boost.cast("double"))
                .cast("float").cast("double").alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("gid"))
            .limit(int(k))
        )

    def taxonomy_facet_counts(self, query, dim_df: DataFrame,
                              path_cols: "list[str]",
                              key_col: str = "key",
                              parent: "tuple | None" = None,
                              top_n: "int | None" = None) -> DataFrame:
        """Hierarchical facet counts (facet/taxonomy — FacetField paths +
        FastTaxonomyFacetCounts.java rollup): each matching doc's label
        path ``a/b/c`` increments EVERY ancestor prefix (``a``, ``a/b``,
        ``a/b/c``) — the reference walks parent ordinals per hit; here
        the prefix expansion is one ``transform`` + ``explode`` over the
        path array, then a single partially-aggregated groupBy(path).

        With ``parent`` set, returns getTopChildren(parent): direct
        children of that path ordered by (count desc, label asc) —
        Lucene's value-then-ordinal tie-break expressed on labels, since
        ordinals here ARE the sorted labels — limited to ``top_n``.

        Docs missing any path component don't count (no facet field).
        Scale: the dim table broadcast is the taxonomy lookup; counts
        never materialize per-doc rows beyond the one exploded prefix
        column (depth × hits rows, map-side combined)."""
        node = parse_query(query) if isinstance(query, str) else query
        cand = self.candidates(node, k=_ALL_K, prune=False) \
            .select("gid").distinct()
        keyed = cand.join(self.doc_rows().select("gid", "key"), "gid")
        parts = F.array(*[F.col(c).cast("string") for c in path_cols])
        dims = dim_df.select(
            F.col(key_col).cast("string").alias("key"),
            parts.alias("parts"),
        )
        for i in range(len(path_cols)):
            dims = dims.filter(F.col("parts")[i].isNotNull())
        pref = (
            keyed.join(F.broadcast(dims), "key")
            .select(F.explode(F.expr(
                "transform(sequence(1, size(parts)), "
                "i -> array_join(slice(parts, 1, i), '/'))"
            )).alias("path"))
        )
        counts = pref.groupBy("path").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        if parent is None:
            return counts
        pp = "/".join(str(p) for p in parent)
        depth = pp.count("/") + 2  # parent components + 1 child level
        kids = counts.filter(
            F.col("path").startswith(pp + "/")
            & (F.size(F.split(F.col("path"), "/")) == depth)
        )
        out = kids.orderBy(F.desc("n"), F.asc("path"))
        return out.limit(int(top_n)) if top_n else out

    def diversified_topk(self, query, dim_df: DataFrame, dim_col: str,
                         max_per_key: int = 2, k: int = 10,
                         key_col: str = "key") -> DataFrame:
        """Diversity-capped top-k (misc/search/
        DiversifiedTopDocsCollector.java:48-90): no more than
        ``max_per_key`` results per key in the final top ``k``.

        The reference streams in doc order with a global PQ plus per-key
        PQs (insert, java:110-160), but the outcome is ORDER-INDEPENDENT
        and equals the declarative form computed here — rank within key
        by (score desc, gid asc), keep rank <= max_per_key, global
        top-k. Why: per-key queues only ever hold docs currently in the
        global queue, and once the global queue fills its floor is
        monotone non-decreasing; a key member freed by global eviction
        therefore can never readmit a weaker same-key doc (it would
        have to beat a floor that already exceeds the evicted member).
        ``tests/test_diversified_taxonomy.py`` replays the reference
        algorithm and asserts equality.

        Docs with no key row are dropped with the join (the gate data
        has total keys). One window + one global top-k — both shuffle
        on the same key column as grouped_topk."""
        from pyspark.sql import Window

        node = parse_query(query) if isinstance(query, str) else query
        cand = self.candidates(node, k=_ALL_K, prune=False)
        keyed = cand.join(self.doc_rows().select("gid", "key"), "gid")
        dims = dim_df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(dim_col).alias("dim"),
        )
        w = Window.partitionBy("dim").orderBy(F.desc("score"), F.asc("gid"))
        return (
            keyed.join(F.broadcast(dims), "key")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(max_per_key))
            .orderBy(F.desc("score"), F.asc("gid"))
            .limit(int(k))
            .select("gid", "score", "dim")
        )


def _has_payload_check(node) -> bool:
    return any(isinstance(n, SpanPayloadCheckQ) for n in subtree(node))


def _has_phrase(node) -> bool:
    # SpanOrQ needs no positions: width-0 spans make freq == Σ member tfs
    return any(isinstance(n, _PHRASE_LIKE) and not isinstance(n, SpanOrQ)
               for n in subtree(node))
