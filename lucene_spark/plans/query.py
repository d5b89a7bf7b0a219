"""Query model + parser.

Query trees mirror Lucene's (TermQuery / BooleanQuery / PhraseQuery,
``core/search/BooleanQuery.java``) with the rewrite rules our planner needs
(``BooleanQuery.java:249-569``): single-clause boolean collapses to the
clause, duplicate clauses dedupe, empty query matches nothing.

The parser covers the reference benchmark query shapes
(``lucene/benchmark/conf/query-terms.txt``): bare terms (implicit OR),
AND/OR/NOT, parentheses, and "quoted phrases". Query text runs through the
same analysis chain as indexing (SearchFiles.java:108-146 uses the same
analyzer).
"""

from __future__ import annotations

import functools
import math
import re as _re
import struct as _struct

from dataclasses import dataclass, field, fields, replace

from ..functions.analysis import analyze_batch
from .fields import DEFAULT_FIELD, qualify

__all__ = [
    "TermQ", "PhraseQ", "MultiPhraseQ", "BoolQ", "PrefixQ", "WildcardQ",
    "RangeQ", "FuzzyQ", "RegexpQ", "SynonymQ", "DisMaxQ", "BoostQ", "NearQ",
    "SloppyQ", "ConstScoreQ", "MatchAllQ", "TermInSetQ", "TermSetRefQ",
    "BlendedQ", "FunctionScoreQ", "DocValuesRangeQ",
    "SpanFirstQ", "SpanNotQ", "SpanOrQ", "SpanNearQ", "SpanPayloadCheckQ",
    "SpanPositionRangeQ", "SpanContainingQ", "SpanWithinQ", "SpanMultiQ",
    "SpanGap",
    "IntervalQ",
    "IntervalExprQ",
    "parse_query", "parse_multi_field", "query_terms", "qualify_node",
    "map_terms", "map_keys", "children", "subtree", "term_keys",
]

# Every field that holds keys or child nodes says so once, in its metadata,
# and one walk (children / term_keys / map_keys) reads it; every other
# field is carried through as given. Kinds:
TERM = "term"          # analyzed term keys; span clauses mix in child nodes
PATTERN = "pattern"    # un-analyzed multi-term pattern keys (None = open)
CHILD = "child"        # child query nodes
INTERVAL = "interval"  # an interval source tree (plans/intervals.py)


def _walked(kind: str, **kw):
    return field(metadata={"walk": kind}, **kw)


@functools.cache
def _walk_fields(cls) -> tuple:
    return tuple((f.name, f.metadata["walk"]) for f in fields(cls)
                 if "walk" in f.metadata)


@dataclass(frozen=True)
class TermQ:
    term: str = _walked(TERM)


@dataclass(frozen=True)
class PhraseQ:
    terms: tuple[str, ...] = _walked(TERM)
    # relative positions of each term in the phrase (stopword holes kept)
    offsets: tuple[int, ...]


@dataclass(frozen=True)
class MultiPhraseQ:
    """MultiPhraseQuery (core/search/MultiPhraseQuery.java): an exact
    phrase where each position admits a SET of alternative terms — the
    query the classic QueryParser builds when the analyzer stacks tokens
    (synonyms) at one position.

    Matching: per position the member postings merge into one stream
    (UnionPostingsEnum, MultiPhraseQuery.java:419-465; positions merged
    during freq()), then the exact-phrase matcher runs over the merged
    streams. Scoring: the weight is the idf sum over ALL terms of ALL
    positions in termArrays order, duplicates included
    (MultiPhraseWeight.getStats, MultiPhraseQuery.java:221-246 adds one
    TermStatistics per array entry), scored like a phrase. Slop > 0 is
    not supported (Lucene routes that to SloppyPhraseMatcher with repeat
    groups; use :class:`SloppyQ` for sloppy semantics).

    ``terms`` flattens the slots (for postings fetch / field caches);
    per-slot structure lives in ``termss``.
    """

    termss: tuple[tuple[str, ...], ...] = _walked(TERM)
    # query position of each slot (stopword holes kept), like PhraseQ
    offsets: tuple[int, ...]

    @property
    def terms(self) -> tuple[str, ...]:
        return term_keys(self)


@dataclass(frozen=True)
class SpanFirstQ:
    """SpanFirstQuery (queries/spans/SpanFirstQuery.java:38-44): the spans
    of the ``match`` source that end at or before ``end`` — the start=0
    case of :class:`SpanPositionRangeQ`, evaluated by the same filter.
    freq folds 1/(1+width) per accepted span (SpanScorer.java:106);
    weight = idf over the source's scoring terms (SpanWeight.buildSimWeight
    over the match side's term states)."""

    match: object = _walked(TERM)
    end: int

    @property
    def terms(self) -> tuple[str, ...]:
        return term_keys(self)


@dataclass(frozen=True)
class SpanPositionRangeQ:
    """SpanPositionRangeQuery (queries/spans/SpanPositionRangeQuery.java
    acceptPosition): the spans of the ``match`` source with startPosition
    >= start AND endPosition <= end — for a width-0 term span, start <=
    pos <= end-1. freq folds 1/(1+width) per accepted span; weight = idf
    over the source's scoring terms (SpanPositionCheckQuery wraps only the
    match side).

    ``match``, here and in every span filter: a term (str), a SpanOrQ, an
    ordered SpanNearQ or any span filter node (SpanFirstQ,
    SpanPositionRangeQ, SpanNotQ, SpanContainingQ, SpanWithinQ,
    SpanPayloadCheckQ)."""

    match: object = _walked(TERM)
    start: int
    end: int

    @property
    def terms(self) -> tuple[str, ...]:
        return term_keys(self)


@dataclass(frozen=True)
class SpanContainingQ:
    """SpanContainingQuery (queries/spans/SpanContainingQuery.java):
    spans from ``big`` that contain at least one span from ``little`` —
    with the reference's STREAMING cursor semantics
    (ContainSpans/twoPhaseCurrentDocMatches): for each big span in start
    order, the little cursor advances to the first little span with
    start >= big.start, and the big span is accepted iff that span's end
    <= big.end (the cursor never rewinds; an alternative later little is
    NOT consulted). freq folds 1/(1+big.width) per accepted big span;
    the sim weight sums idf over the DISTINCT union of both sides' terms
    (getTermStates merges both weights' term maps).

    ``big``/``little``: any span source (see :class:`SpanPositionRangeQ`)
    — every one emits a (start, end)-monotone sequence, which is what
    makes the cursor replay state-free."""

    big: object = _walked(TERM)
    little: object = _walked(TERM)

    @property
    def terms(self) -> tuple[str, ...]:
        return term_keys(self)


@dataclass(frozen=True)
class SpanWithinQ:
    """SpanWithinQuery (queries/spans/SpanWithinQuery.java): spans from
    ``little`` contained in a span from ``big`` — streaming semantics
    mirrored from the reference matcher: for each little span in start
    order, the big cursor advances to the first big span with end >=
    little.end; accepted iff that big's start <= little.start. freq folds
    1/(1+little.width); weight as in SpanContainingQ."""

    big: object = _walked(TERM)
    little: object = _walked(TERM)

    @property
    def terms(self) -> tuple[str, ...]:
        return term_keys(self)


@dataclass(frozen=True)
class SpanMultiQ:
    """SpanMultiTermQueryWrapper (queries/spans/SpanMultiTermQueryWrapper
    .java): wraps a multi-term pattern (PrefixQ/WildcardQ/RegexpQ/RangeQ)
    as a span source. The Searcher rewrites it to a SpanOrQuery over the
    dictionary's matching terms — SCORING_SPAN_QUERY_REWRITE — with a
    1024-term guard (an unbounded driver term list is the scale-killer
    this engine refuses everywhere); ``top_terms=k`` selects the
    TopTermsSpanBooleanQueryRewrite(k) variant (first k in term order —
    the reference's priority queue tie-breaks constant-boost terms
    lexicographically)."""

    pattern: object = _walked(CHILD)
    top_terms: "int | None" = None

    @property
    def terms(self) -> tuple[str, ...]:
        return ()  # unknown until dictionary rewrite


@dataclass(frozen=True)
class SpanGap:
    """A fixed-width gap clause of an ordered :class:`SpanNearQ`
    (SpanNearQuery.SpanGapQuery, added by SpanNearQuery.Builder.addGap):
    it matches everywhere, spanning ``width`` positions right after the
    previous clause's end (GapSpans.skipToPosition)."""

    width: int


@dataclass(frozen=True)
class SpanNotQ:
    """SpanNotQuery (queries/spans/SpanNotQuery.java, FilterSpans.accept):
    include spans survive unless an exclude span overlaps the widened
    window — replaying the reference cursor: advance exclude while
    exclude.end <= include.start − pre; reject iff that exclude's start
    < include.end + post. For term sides that is: no exclude position in
    [p-pre, p+post]. Only the include side's term states score
    (SpanNotQuery.java:97-118 builds excludeWeight with
    COMPLETE_NO_SCORES); freq folds 1/(1+include_width). Sides: any span
    source (see :class:`SpanPositionRangeQ`)."""

    include: object = _walked(TERM)
    exclude: object = _walked(TERM)
    pre: int = 0
    post: int = 0

    @property
    def terms(self) -> tuple[str, ...]:
        return term_keys(self)


@dataclass(frozen=True)
class SpanNearQ:
    """SpanNearQuery (queries/spans/SpanNearQuery.java). Each clause is a
    span source (see :class:`SpanPositionRangeQ`; a nested near must be
    ordered) or a :class:`SpanGap`.

    ``in_order=True`` is NearSpansOrdered (NearSpansOrdered.java:48-77)
    with stretchToOrder replayed state-free: clause i advances to its
    first span with start >= clause i-1's END; matchWidth sums the GAPS
    (start_i − prev_end — sub-span internal widths do NOT count, so for
    term clauses width = q_last − p0 − (n−1)); the match spans
    [clause_0.start, clause_last.end) and folds 1/(1+matchWidth) into
    freq per accepted match, float32 in match order (SpanScorer.java:106).
    Every supported clause emits monotone (start, end) sequences, which is
    what makes the reference's forward-only cursors equal one searchsorted
    per clause.

    ``in_order=False`` is NearSpansUnordered (NearSpansUnordered.java:
    29-147): states are the merged clause spans in (start, end) pop order
    up to each doc's first clause-final span; a state matches iff maxEnd −
    minStart − totalSpanLength ≤ slop and folds 1/(1 + width()) with
    width() = maxEnd − minStart (the slop test subtracts totalSpanLength;
    ``width()`` does NOT). Its clauses must share no term (two subspans on
    one term need Lucene's repeat handling), and it takes no gaps.

    Sim weight = idf over the DISTINCT scoring terms of the clauses
    (SpanWeight's Map<Term, TermStates>; a SpanNotQ clause brings its
    include side's only)."""

    clauses: tuple = _walked(TERM)
    slop: int = 0
    in_order: bool = True

    def __post_init__(self):
        # SpanNearQuery.Builder: gaps only on ordered queries, never first
        if any(isinstance(c, SpanGap) for c in self.clauses):
            if not self.in_order:
                raise ValueError(
                    "Gaps can only be added to ordered near queries")
            if isinstance(self.clauses[0], SpanGap):
                raise ValueError("a gap cannot be the first clause")

    @property
    def terms(self) -> tuple[str, ...]:
        return term_keys(self)


@dataclass(frozen=True)
class SpanPayloadCheckQ:
    """SpanPayloadCheckQuery (queries/src/java/org/apache/lucene/queries/
    payloads/SpanPayloadCheckQuery.java): the spans of the ``match``
    source (see :class:`SpanPositionRangeQ`) survive only where the
    payload collected at each of the span's positions compares true under
    ``op`` with ``payloads[i]`` — PayloadChecker collects one integer
    payload per term position, in clause order, as the span iterates
    (a SpanOrQ's span collects its matching member's; a gap collects
    none; a SpanNotQ collects its include side's), and a count mismatch
    never matches, so it is refused here.

    The check applies to the span AS MATCHED: for an ordered near, the
    greedy NearSpansOrdered chain (see :class:`SpanNearQ`) picks each
    span's positions, and a mismatch does not retry a longer stretch.
    Accepted spans fold 1/(1+width) into freq as float32; weight = idf
    over the source's scoring terms (SpanWeight.buildSimWeight); the check
    needs a payloads-enabled index. A source holding a SpanContainingQ or
    SpanWithinQ collects positions of both sides, which is not tracked.
    """

    match: object = _walked(TERM)
    payloads: tuple[int, ...]
    # MatchOperation (SpanPayloadCheckQuery.MatchOperation): EQ/LT/LTE/GT/GTE
    # applied positionwise between the collected payload and payloads[i]
    op: str = "eq"

    def __post_init__(self):
        if len(self.payloads) != _collected(self.match):
            raise ValueError("one payload per span position required")
        if self.op not in ("eq", "lt", "lte", "gt", "gte"):
            raise ValueError(f"unknown payload match operation: {self.op}")

    @property
    def terms(self) -> tuple[str, ...]:
        return term_keys(self)


def _collected(src) -> int:
    """Positions a span of ``src`` collects (PayloadChecker.collectLeaf
    calls): a term or a SpanOrQ one, a gap none, a SpanNotQ its include
    side's, every other node the sum over its sources."""
    if isinstance(src, tuple):
        return sum(_collected(c) for c in src)
    if isinstance(src, (str, SpanOrQ, SpanMultiQ)):
        return 1
    if isinstance(src, SpanNotQ):
        return _collected(src.include)
    return sum(_collected(getattr(src, name))
               for name, _ in _walk_fields(type(src)))


@dataclass(frozen=True)
class SpanOrQ:
    """SpanOrQuery over term spans (queries/spans/SpanOrQuery.java): the
    union of the member spans. freq = float32 count of all member
    positions (each width-0 span adds 1.0, SpanScorer.java:106); weight =
    idf summed over every member's term states (SpanWeight.buildSimWeight)
    — unlike SynonymQuery there is no df blending."""

    terms: tuple[str, ...] = _walked(TERM)


@dataclass(frozen=True)
class PrefixQ:
    """PrefixQuery (core/search/PrefixQuery.java) — rewritten against the
    term dictionary before scoring (MultiTermQuery rewrite)."""

    prefix: str = _walked(PATTERN)


@dataclass(frozen=True)
class WildcardQ:
    """WildcardQuery (core/search/WildcardQuery.java): ``*`` = any run,
    ``?`` = one char."""

    pattern: str = _walked(PATTERN)


@dataclass(frozen=True)
class FuzzyQ:
    """FuzzyQuery (core/search/FuzzyQuery.java): terms within edit distance
    ``max_edits`` of ``term``; expansion capped at ``max_expansions`` terms
    picked by (doc_freq desc, term asc), exact match always kept.

    ``transpositions`` defaults True like the reference (FuzzyQuery.java:
    272): distance is OSA / restricted Damerau — a transposed adjacent pair
    costs one edit (the brute-force contract in TestFuzzyQuery.java:
    730-793). ``prefix_length`` requires that many leading chars to match
    exactly, with the distance on the remainders (pushes a StartsWith seek).
    Remaining documented deviation: matched terms score as a
    scoring-boolean OR (per-term idf) rather than Lucene's
    TopTermsBlendedFreqScoringRewrite."""

    term: str = _walked(PATTERN)
    max_edits: int = 2
    max_expansions: int = 50
    prefix_length: int = 0
    transpositions: bool = True


@dataclass(frozen=True)
class RegexpQ:
    """RegexpQuery (core/search/RegexpQuery.java): anchored regex over the
    term dictionary, scoring-boolean rewrite."""

    pattern: str = _walked(PATTERN)


@dataclass(frozen=True)
class RangeQ:
    """TermRangeQuery (core/search/TermRangeQuery.java): lexicographic term
    range; None bound = open. Rewrites to a constant-score filter (Lucene's
    default rewrite for ranges)."""

    lo: "str | None" = _walked(PATTERN)
    hi: "str | None" = _walked(PATTERN)
    include_lo: bool = True
    include_hi: bool = True


@dataclass(frozen=True)
class SynonymQ:
    """SynonymQuery (core/search/SynonymQuery.java): terms scored as one
    pseudo-term — per-doc freq = sum of member freqs, blended stats
    df = max(docFreq_i), ttf = sum(totalTermFreq_i)."""

    terms: tuple[str, ...] = _walked(TERM)


@dataclass(frozen=True)
class DisMaxQ:
    """DisjunctionMaxQuery (core/search/DisjunctionMaxQuery.java):
    score = max(clause scores) + tie * (sum - max)."""

    clauses: tuple = _walked(CHILD)
    tie: float = 0.0


@dataclass(frozen=True)
class NearQ:
    """Ordered N-term proximity (NearSpansOrdered flavor, ``lucene/queries``
    spans): matches docs containing the terms in order with every
    consecutive gap in [1, slop+1]; freq = number of qualifying position
    tuples, scored like a phrase with the summed-idf weight.

    This is the EXPLICIT ordered-span API; the string syntax ``"..."~N``
    parses to :class:`SloppyQ` (Lucene's sloppy PhraseQuery), matching the
    reference QueryParser default."""

    terms: tuple[str, ...] = _walked(TERM)
    slop: int = 0


@dataclass(frozen=True)
class SloppyQ:
    """Sloppy PhraseQuery (``core/search/PhraseQuery.java`` with slop > 0,
    matched by ``core/search/SloppyPhraseMatcher.java``): unordered within
    slop — the greedy min-position traversal counts each match with weight
    1/(1+matchLength), freq = float32 sum of match weights, scored like a
    phrase with the summed-idf weight. Parsed from ``"t1 t2 ..."~N``
    (QueryParserBase.getFieldQuery sets the slop on the PhraseQuery).

    ``offsets`` are the query positions of each term (stopword holes kept),
    exactly PhraseQuery's positions array."""

    terms: tuple[str, ...] = _walked(TERM)
    offsets: tuple[int, ...]
    slop: int = 0


@dataclass(frozen=True)
class IntervalQ:
    """IntervalQuery over ordered/unordered combinators of term sources
    (``queries/intervals/IntervalQuery.java`` + ``Intervals.java``):
    the query matches docs where the combinator yields at least one
    minimal interval (``OrderedIntervalsSource.java`` /
    ``UnorderedIntervalsSource.java`` — minimal = no emitted interval
    contains another), optionally filtered by
    ``Intervals.maxgaps`` (``FilteredIntervalsSource.MaxGaps``:
    gaps = width - Σ source widths <= max_gaps).

    Scoring is similarity-independent: freq = float32 running sum of
    1 / max(length - minExtent + 1, 1) over the doc's accepted minimal
    intervals (``IntervalScorer.ensureFreq``), score = the saturation
    function weight * (1 - pivot / (pivot + freq))
    (``IntervalScoreFunction.SaturationFunction``, pivot defaults to 1).

    Term sources must be distinct (repeated sources rewrite to
    RepeatingIntervalsSource in the reference — unsupported here)."""

    terms: tuple[str, ...] = _walked(TERM)
    ordered: bool = True
    max_gaps: int = -1  # -1 = no gap filter
    pivot: float = 1.0

    def __post_init__(self):
        if len(self.terms) < 2:
            raise ValueError("IntervalQ needs >= 2 term sources")
        if len(set(self.terms)) != len(self.terms):
            raise ValueError(
                "repeated interval sources rewrite to "
                "RepeatingIntervalsSource in the reference — unsupported"
            )
        # IntervalScoreFunction.saturationFunction's ctor check
        if not (self.pivot > 0 and math.isfinite(self.pivot)):
            raise ValueError(f"pivot must be > 0, got: {self.pivot}")


@dataclass(frozen=True)
class IntervalExprQ:
    """IntervalQuery over a COMPOSITIONAL source tree — the full
    ``Intervals.java`` factory surface (or/containing/containedBy/
    overlapping/nonOverlapping/before/after/extend/maxwidth/atLeast/...),
    built with :mod:`lucene_spark.plans.intervals` and evaluated by the
    vectorized antichain algebra in
    :mod:`lucene_spark.functions.interval_algebra`.

    ``IntervalQ`` remains the fast path for the flat ordered/unordered +
    maxgaps shape; this node covers everything else. Scoring is the same
    similarity-independent saturation function
    (``IntervalScoreFunction.SaturationFunction``) with minExtent taken
    from the tree root (``IntervalScorer.java:72``)."""

    root: object = _walked(INTERVAL)
    pivot: float = 1.0

    def __post_init__(self):
        from .intervals import _is_source

        if not _is_source(self.root):
            raise TypeError(f"not an interval source: {self.root!r}")
        if not (self.pivot > 0 and math.isfinite(self.pivot)):
            raise ValueError(f"pivot must be > 0, got: {self.pivot}")

    @property
    def terms(self) -> tuple:
        from .intervals import tree_terms

        return tree_terms(self.root)


@dataclass(frozen=True)
class BoostQ:
    """BoostQuery (core/search/BoostQuery.java) over a leaf scoring node:
    BM25 folds the boost into the scorer weight as float32
    (BM25Similarity.java BM25Scorer ctor: weight = boost * idf)."""

    child: object = _walked(CHILD)
    boost: float = 1.0


@dataclass(frozen=True)
class ConstScoreQ:
    """ConstantScoreQuery (core/search/ConstantScoreQuery.java): child
    defines the match set; every hit scores ``boost``."""

    child: object = _walked(CHILD)
    boost: float = 1.0


@dataclass(frozen=True)
class MatchAllQ:
    """MatchAllDocsQuery (core/search/MatchAllDocsQuery.java)."""


@dataclass(frozen=True)
class TermInSetQ:
    """TermInSetQuery (core/search/TermInSetQuery.java): constant-score
    "match any of these N terms" — the bulk-filter workhorse (id lists,
    vocab subsets). Unlike a scoring boolean OR it is NOT subject to the
    1024-clause cap: execution is a set-membership postings scan (small
    sets) or a broadcast semi-join (large sets), never N scorer clauses."""

    terms: tuple[str, ...] = _walked(TERM)
    boost: float = 1.0


@dataclass(frozen=True)
class TermSetRefQ:
    """Lazy constant-score term set: the execution form of an UNCAPPED
    multi-term rewrite (prefix/wildcard/regexp/range) whose match set is
    too large for a driver-side term list.

    Lucene never materializes a multi-term match set globally — the
    constant-score wrapper unions matched postings per segment
    (``core/search/MultiTermQuery.java:197-236``,
    ``AbstractMultiTermQueryConstantScoreWrapper``). The Spark analog keeps
    the matched terms as a DATAFRAME PLAN (a filter over the sorted terms
    table) that semi-joins straight into the postings scan; ``source`` is
    the original multi-term node so the searcher can rebuild that plan
    anywhere, and nothing ever collects to the driver. Matching docs score
    ``boost`` (constant score), like TermInSetQ."""

    source: object  # the frozen multi-term node (PrefixQ/WildcardQ/...)
    boost: float = 1.0

    @property
    def name(self) -> str:
        """Virtual postings key for this set inside kernels. ``\\x00`` can
        never appear in analyzed terms (tokenizer emits word/number runs),
        so virtual keys cannot collide with real terms."""
        return "\x00set:" + repr(self.source)


@dataclass(frozen=True)
class DocValuesRangeQ:
    """Numeric range over the index's per-doc value column (``sort_val``),
    with IndexOrDocValuesQuery's access-path choice
    (core/search/IndexOrDocValuesQuery.java): the same predicate can run

    - as a LEAD ("index" strategy — the points/terms side): materialize
      the matching gid set from a pushed-down doc-table scan and ship it
      as a broadcast keep-mask into the kernels (block-grain leapfrog +
      pre-top-k intersect), best when the range is selective and will be
      almost entirely consumed; or
    - as a VERIFY ("dv" strategy — the doc-values side): co-group the
      range-filtered doc rows into each gid-range bucket so every kernel
      checks only ITS slice (the per-leaf doc-values reader analog) —
      nothing crosses the driver, best when another clause already leads.

    The searcher picks per query with the reference's rule
    (IndexOrDocValuesQuery.java:172-188): lead with the index iff
    ``rangeCost >>> 3 <= leadCost`` — bounded by an absolute broadcast
    cap. Allowed as a non-scoring clause (BoolQ.filter / ConstantScore-0
    MUST) or as a standalone constant-score query; bounds are inclusive.

    ``strategy``: "auto" (the cost rule) | "index" | "dv" (forced, for
    tests and benchmarks)."""

    lo: int
    hi: int
    strategy: str = "auto"

    def __post_init__(self):
        if self.strategy not in ("auto", "index", "dv"):
            raise ValueError(f"unknown strategy: {self.strategy}")
        if self.lo > self.hi:
            raise ValueError(f"empty range: {self.lo} > {self.hi}")


@dataclass(frozen=True)
class FunctionScoreQ:
    """FunctionScoreQuery.boostByValue analog
    (core/queries/function/FunctionScoreQuery.java:60-90): the child query
    defines the match set and base score; each hit's score is multiplied
    by a per-doc value — here a function of the SmallFloat-DECODED doc
    length read from the norm byte (the doc-values-free analog of
    ``DoubleValuesSource.fromField``; Lucene's norms are the one per-doc
    numeric every text index already stores).

    ``value``: "log1p_len" → factor = f32(ln(1 + decoded_len));
    "inv_len" → factor = f32(1 / (1 + decoded_len)). The multiply is one
    float32 op (DoubleValuesSource boost fold). Scoring happens INSIDE
    the kernels before per-bucket top-k, so reranking is exact; the
    node's pruning upper bound is unbounded (like span queries — Lucene
    gives function scores no impacts either)."""

    child: object = _walked(CHILD)
    value: str = "log1p_len"
    # norms are per (doc, FIELD); the boost factor must come from one
    # declared field or a multi-field child makes it nondeterministic
    # (whichever field's term sorts first would win the lookup)
    field: str = "text"

    def __post_init__(self):
        if self.value not in ("log1p_len", "inv_len"):
            raise ValueError(f"unknown value source: {self.value}")


@dataclass(frozen=True)
class BlendedQ:
    """BlendedTermQuery with BOOLEAN_REWRITE (core/search/BlendedTermQuery.
    java:269-301) — the execution form of FuzzyQuery's default
    TopTermsBlendedFreqScoringRewrite (MultiTermQuery.java:197-236):
    every member term is scored as a TermQuery whose docFreq is REPLACED by
    the max docFreq across members (``adjustFrequencies``), each weight
    multiplied by its per-term boost (for fuzzy: float32
    ``1 - ed / min(|term|, |query|)``, FuzzyTermsEnum.java:247-255), and
    the per-term float32 scores sum as SHOULD clauses (double accumulate,
    one float32 cast).

    ``dismax=True`` switches to DISJUNCTION_MAX_REWRITE
    (BlendedTermQuery.DisjunctionMaxRewrite, java:150-186): member
    scores combine as max + tie * (sum - max) instead of summing. The
    public builder is :func:`blended_term_query`."""

    terms: tuple = _walked(TERM)
    boosts: tuple
    dismax: bool = False
    tie: float = 0.0

    def __post_init__(self):
        if not (0.0 <= self.tie <= 1.0):
            raise ValueError(f"tie must be in [0, 1], got {self.tie}")


def blended_term_query(terms, boosts=None, *, rewrite: str = "boolean",
                       tie: float = 0.01) -> BlendedQ:
    """BlendedTermQuery.Builder (core/search/BlendedTermQuery.java:60-130
    + rewrite at 269-301): every member term is scored with the BLENDED
    statistics — docFreq replaced by the max across members, ttf summed
    (``adjustFrequencies``) — times its per-term boost, then combined per
    ``rewrite``: "boolean" (SHOULD sum, BooleanRewrite) or "dismax"
    (DisjunctionMaxRewrite with ``tie``, the reference default tie 0.01).
    Terms may be field-qualified keys, blending across fields like the
    reference's cross-field usage."""
    terms = tuple(terms)
    boosts = tuple(boosts) if boosts is not None else (1.0,) * len(terms)
    if len(boosts) != len(terms):
        raise ValueError("boosts must align with terms")
    if rewrite == "boolean":
        return BlendedQ(terms, boosts)
    if rewrite == "dismax":
        return BlendedQ(terms, boosts, dismax=True, tie=float(tie))
    raise ValueError(f"unknown rewrite: {rewrite}")


def _f32_value(x: float) -> float:
    """float -> IEEE float32 -> float (``entry.getValue().floatValue()``,
    BooleanQuery.java:422 — the boost sum's single float cast)."""
    return _struct.unpack("f", _struct.pack("f", x))[0]


@dataclass(frozen=True)
class BoolQ:
    must: tuple = _walked(CHILD, default=())
    should: tuple = _walked(CHILD, default=())
    must_not: tuple = _walked(CHILD, default=())
    # minimumNumberShouldMatch (BooleanQuery.Builder.setMinimumNumberShouldMatch)
    msm: int = 0
    # MatchAllDocsQuery scoring clauses, folded by the searcher
    # (BooleanQuery.rewrite keeps MatchAll as a scoring clause;
    # MatchAllDocsQuery.score() == 1.0): ``const_add`` MUST/SHOULD
    # MatchAlls contribute that many float32 1.0 terms to every matching
    # doc's double score sum; ``n_free_opt`` of them were SHOULD clauses
    # and count toward minimumNumberShouldMatch on every doc.
    const_add: float = 0.0
    n_free_opt: int = 0
    # BooleanClause.Occur.FILTER: required like MUST but NON-SCORING
    # (BooleanWeight wraps filters in non-scoring iterators; equivalently a
    # required ConstantScore(0) clause, which is exactly how the searcher's
    # rewrite desugars them). Filters never count toward msm.
    filter: tuple = _walked(CHILD, default=())

    def simplified(self):
        """1-clause collapse + duplicate-clause rewrite (BooleanQuery
        .rewrite subset, core/search/BooleanQuery.java:321-470): FILTER /
        MUST_NOT duplicates dedupe silently (java:321-328); duplicate
        SHOULD (only when minimumNumberShouldMatch <= 1, java:406) and
        MUST (java:437) clauses merge by SUMMING their boosts — double
        accumulation, one float32 cast, BoostQuery wrapper unless the sum
        is 1 (java:405-437)."""
        def merge(clauses):
            acc: dict = {}
            for c in clauses:
                b = 1.0
                while isinstance(c, BoostQ):
                    b *= float(c.boost)
                    c = c.child
                acc[c] = acc.get(c, 0.0) + b
            out = []
            for c, b in acc.items():
                b32 = _f32_value(b)
                if b32 == 1.0 or (isinstance(c, ConstScoreQ) and c.boost == 0.0):
                    out.append(c)
                else:
                    out.append(BoostQ(c, boost=b32))
            return tuple(out)

        must = merge(self.must)
        if self.msm <= 1:
            should = merge(self.should)
        else:
            # duplicates matter for SHOULD under msm > 1 (java:148)
            should = self.should
        must_not = tuple(dict.fromkeys(self.must_not))
        filt = tuple(dict.fromkeys(self.filter))
        if (self.msm <= 1 and self.const_add == 0.0
                and self.n_free_opt == 0 and not filt):
            if len(must) == 1 and not should and not must_not:
                return must[0]
            if len(should) == 1 and not must and not must_not:
                return should[0]
        return BoolQ(must, should, must_not, self.msm,
                     self.const_add, self.n_free_opt, filt)


_ESCAPE_RE = _re.compile(r"\\(.)", _re.DOTALL)

# quoted-term suffix token: optional ~slop then optional ^boost
_SLOP_BOOST_RE = _re.compile(
    r"(?:~(\d+(?:\.\d+)?))?(?:\^(\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|\.\d+))?"
)


def _discard_escapes(s: str) -> str:
    """QueryParserBase.discardEscapeChar: each ``\\X`` becomes literal X
    (queryparser/classic/QueryParserBase.java discardEscapeChar; we skip
    the ``\\uXXXX`` arm — the grammar's escape of last resort)."""
    return _ESCAPE_RE.sub(r"\1", s)


def _unescaped_positions(s: str, chars: str) -> list[int]:
    """Indexes of characters from ``chars`` not preceded by a ``\\``
    escape. A backslash consumes the next character, so ``\\\\*`` has an
    UNescaped ``*`` (the backslash itself is escaped)."""
    out: list[int] = []
    i = 0
    while i < len(s):
        if s[i] == "\\":
            i += 2
            continue
        if s[i] in chars:
            out.append(i)
        i += 1
    return out


def _analyze_word(word: str) -> list[tuple[str, int]]:
    # escapes are discarded before analysis (the classic parser hands
    # discardEscapeChar output to the analyzer): ``foo\-bar`` analyzes
    # exactly like the literal text ``foo-bar``
    b = analyze_batch([_discard_escapes(word)])
    return list(zip(b.tok_terms.tolist(), b.tok_positions.tolist()))


def _tokenize_query(q: str) -> list[str]:
    """Whitespace/paren/quote splitter, backslash-aware: ``\\X`` glues X
    into the current token whatever X is (space, paren, quote), mirroring
    the classic grammar's ``_ESCAPED_CHAR`` lexer rule."""
    out: list[str] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
        elif c in "()":
            out.append(c)
            i += 1
        elif c == '"':
            j = i + 1
            while j < n and q[j] != '"':
                j += 2 if q[j] == "\\" else 1
            out.append(q[i : min(j + 1, n)])
            i = j + 1
        else:
            j = i
            while j < n and not q[j].isspace() and q[j] not in '()"':
                j += 2 if q[j] == "\\" else 1
            out.append(q[i:j])
            i = j
    return out


class _Parser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.pos = 0

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.pos += 1
        return t

    # grammar: or_expr := and_expr (OR and_expr)*
    #          and_expr := unary ((AND|NOT) unary)*   -- "a NOT b" == AND NOT
    #          unary := NOT unary | atom
    #          atom := '(' or_expr ')' | phrase | term
    def parse(self):
        node = self.or_expr()
        if self.peek() is not None:
            raise ValueError(f"trailing tokens at {self.pos}: {self.toks[self.pos:]}")
        return node

    def or_expr(self):
        clauses = [self.and_expr()]
        while True:
            t = self.peek()
            if t == "OR":
                self.next()
                clauses.append(self.and_expr())
            elif t is not None and t != ")":
                # implicit OR: bare adjacent clauses (Lucene default operator)
                before = self.pos
                clauses.append(self.and_expr())
                if self.pos == before:  # safety: always make progress
                    self.next()
            else:
                break
        clauses = [c for c in clauses if c is not None]
        if not clauses:
            return None
        must = [c[1] for c in clauses if isinstance(c, tuple) and c[0] == "MUST"]
        must_not = [c[1] for c in clauses if isinstance(c, tuple) and c[0] == "NOT"]
        should = [c for c in clauses if not isinstance(c, tuple)]
        if must or must_not:
            # classic-parser occur mixing: +a b -c -> MUST a, SHOULD b,
            # MUST_NOT c in ONE BooleanQuery (QueryParserBase.addClause)
            return BoolQ(
                must=tuple(must), should=tuple(should),
                must_not=tuple(must_not),
            ).simplified()
        if len(clauses) == 1:
            return clauses[0]
        return BoolQ(should=tuple(clauses)).simplified()

    def and_expr(self):
        must: list = []
        must_not: list = []
        first = self.unary()
        ops = 0
        if isinstance(first, tuple):
            pass  # routed below: marker placement depends on chain presence
        elif first is not None:
            must.append(first)
        while self.peek() in ("AND", "NOT"):
            ops += 1
            op = self.next()
            if op == "NOT":
                c = self.unary_atom()
                if c is not None:
                    must_not.append(c)
            else:
                c = self.unary()
                if isinstance(c, tuple) and c and c[0] == "NOT":
                    must_not.append(c[1])
                elif isinstance(c, tuple) and c and c[0] == "MUST":
                    must.append(c[1])
                elif c is not None:
                    must.append(c)
        if isinstance(first, tuple):
            if ops == 0:
                # lone modifier clause: its occur is decided at the OR
                # level (classic parser: +a b -> MUST a, SHOULD b)
                return first
            if first[0] == "NOT":
                must_not.append(first[1])
            else:
                must.insert(0, first[1])
        if not must_not:
            if len(must) == 1:
                return must[0]
            if not must:
                return None
        return BoolQ(must=tuple(must), must_not=tuple(must_not)).simplified()

    def unary(self):
        if self.peek() == "NOT":
            self.next()
            c = self.unary_atom()
            return ("NOT", c) if c is not None else None
        # classic QueryParser modifiers (QueryParserBase MOD_REQ/MOD_NOT):
        # ``+x`` = MUST, ``-x`` = MUST_NOT; the modifier may be fused to the
        # token (``+term``) or stand alone before a group/phrase (``+ (...)``
        # tokenizes ``+`` separately before ``(`` and ``"``)
        t = self.peek()
        if t in ("+", "-"):
            self.next()
            c = self.unary_atom()
            if c is None:
                return None
            return ("MUST", c) if t == "+" else ("NOT", c)
        if t is not None and len(t) > 1 and t[0] in "+-":
            self.toks[self.pos] = t[1:]
            c = self.unary_atom()
            if c is None:
                return None
            return ("MUST", c) if t[0] == "+" else ("NOT", c)
        return self.unary_atom()

    def _range_atom(self):
        """``[lo TO hi]`` / ``{lo TO hi}`` (classic QueryParser range syntax);
        ``*`` as a bound means open."""
        opener = self.next()
        include_lo = opener.startswith("[")
        toks = [opener[1:]] if len(opener) > 1 else []
        include_hi = True
        while self.peek() is not None:
            t = self.next()
            if t.endswith("]") or t.endswith("}"):
                include_hi = t.endswith("]")
                if len(t) > 1:
                    toks.append(t[:-1])
                break
            toks.append(t)
        toks = [w for w in toks if w and w != "TO"]
        lo = toks[0] if toks else "*"
        hi = toks[1] if len(toks) > 1 else "*"
        return RangeQ(
            lo=None if lo == "*" else lo.lower(),
            hi=None if hi == "*" else hi.lower(),
            include_lo=include_lo,
            include_hi=include_hi,
        )

    def unary_atom(self):
        t = self.peek()
        # field-scoped atom: ``field:term``, ``field:"a phrase"``,
        # ``field:pre*`` ... (classic QueryParser ``field:`` grammar,
        # queryparser/classic/QueryParser.jj). The field name must look
        # like an identifier; anything else falls through to term parsing.
        if (
            t is not None
            and not t.startswith('"')
            and not t.startswith("/")
            and _unescaped_positions(t, ":")
        ):
            ci = _unescaped_positions(t, ":")[0]
            fname, rest = t[:ci], t[ci + 1:]
            if fname.replace("_", "").isalnum() and fname and fname != DEFAULT_FIELD:
                if rest.startswith("[") or rest.startswith("{"):
                    # field:[a TO b] — strip the prefix, let _range_atom
                    # consume the rest of the range from the stream
                    self.toks[self.pos] = rest
                    return qualify_node(self._range_atom(), fname)
                self.next()
                if rest:
                    sub = _Parser([rest]).unary_atom()
                elif self.peek() is not None and self.peek().startswith('"'):
                    sub = self.unary_atom()  # field:"quoted phrase"
                else:
                    return None
                return qualify_node(sub, fname)
            if fname == DEFAULT_FIELD and rest:
                self.next()
                return _Parser([rest]).unary_atom()
        if t == "(":
            self.next()
            node = self.or_expr()
            if self.peek() == ")":
                self.next()
            return node
        if t is None or t in (")", "AND", "OR"):
            return None
        if t.startswith("[") or t.startswith("{"):
            return self._range_atom()
        self.next()
        if t == "*":
            return MatchAllQ()
        if (
            t.startswith("/") and len(t) > 2
            and len(t) - 1 in _unescaped_positions(t, "/")
        ):
            # /regex/ before wildcard: regex bodies may contain * and ?;
            # only ``\/`` is the parser's own escape inside the body —
            # every other backslash belongs to the regex language
            return RegexpQ(t[1:-1].replace("\\/", "/"))
        carets = [] if t.startswith('"') else _unescaped_positions(t, "^")
        if carets:
            # boost suffix: ``atom^B`` where atom is ANY single-token query
            # shape (term, wildcard, prefix, fuzzy, regexp) — the classic
            # grammar attaches CARAT last, so parse the base recursively
            # rather than force-analyzing it (QueryParser.jj Term())
            base, bs = t[: carets[-1]], t[carets[-1] + 1:]
            try:
                boost = float(bs)
            except ValueError:
                boost = None
            if boost is not None and base:
                sub = _Parser([base]).unary_atom()
                return None if sub is None else BoostQ(sub, boost=boost)
        wpos = _unescaped_positions(t, "*?")
        if wpos:
            # wildcard terms are lowercased but NOT analyzed
            # (QueryParserBase.getWildcardQuery); escapes stay in the
            # pattern — WildcardQ's matcher understands ``\X`` (Lucene
            # WildcardQuery.WILDCARD_ESCAPE)
            pat = t.lower()
            if wpos == [len(t) - 1] and t.endswith("*"):
                return PrefixQ(_discard_escapes(pat[:-1]))
            return WildcardQ(pat)
        tildes = [] if t.startswith('"') else _unescaped_positions(t, "~")
        if tildes:
            base, suf = t[: tildes[0]], t[tildes[0] + 1:]
            base = _discard_escapes(base)
            if not base:
                return None
            if not suf:
                edits = 2
            else:
                try:
                    edits = int(suf)
                except ValueError:
                    # classic float fuzzy syntax term~0.7: FuzzyQuery's
                    # floatToEdits((1-sim)*len, capped at 2)
                    try:
                        sim = float(suf)
                    except ValueError:
                        raise ValueError(f"bad fuzzy suffix {suf!r} in {t!r}")
                    if not 0.0 <= sim < 1.0:
                        raise ValueError(f"fuzzy similarity out of [0,1): {t!r}")
                    edits = min(2, int((1.0 - sim) * len(base)))
            if edits > 2:
                # LEVENSHTEIN_MAXIMUM_EDIT_DISTANCE (FuzzyQuery.java)
                raise ValueError(f"fuzzy max_edits > 2 unsupported: {t!r}")
            return FuzzyQ(base.lower(), max_edits=edits)
        if t.startswith('"'):
            body = t.strip('"')
            # quoted-term suffix: FUZZY_SLOP then optional CARAT boost —
            # ``"a b"~2``, ``"a b"^3``, ``"a b"~2^3`` (QueryParser.jj Term():
            # <FUZZY_SLOP>? (<CARAT> boost)?). The suffix lands in the next
            # token because the quote closes the lexeme.
            slop, boost = 0, None
            nxt = self.peek()
            if nxt is not None and nxt[0] in "~^":
                m = _SLOP_BOOST_RE.fullmatch(nxt)
                if m and (m.group(1) or m.group(2)):
                    if m.group(1):
                        # slop is truncated to int (PhraseQuery slop is an
                        # int; the grammar's FUZZY_SLOP lexes a float)
                        slop = int(float(m.group(1)))
                    if m.group(2):
                        boost = float(m.group(2))
                    self.next()
            toks = _analyze_word(body)
            if not toks:
                return None
            if len(toks) == 1:
                node = TermQ(toks[0][0])
            elif slop > 0:
                # Lucene QueryParser: "..."~N is a sloppy PhraseQuery
                # (unordered within slop, SloppyPhraseMatcher semantics)
                node = SloppyQ(
                    terms=tuple(w for w, _ in toks),
                    offsets=tuple(p for _, p in toks),
                    slop=slop,
                )
            else:
                node = PhraseQ(
                    terms=tuple(w for w, _ in toks),
                    offsets=tuple(p for _, p in toks),
                )
            return node if boost is None else BoostQ(node, boost=boost)
        toks = _analyze_word(t)
        if not toks:
            return None  # stopword-only / punctuation-only token
        if len(toks) == 1:
            return TermQ(toks[0][0])
        # a single query word that analyzes to multiple tokens (e.g. "foo-bar")
        return PhraseQ(terms=tuple(w for w, _ in toks), offsets=tuple(p for _, p in toks))


def children(node) -> list:
    """A node's child nodes in field order: sub-queries, span clauses and
    sides (SpanGap included) and a SpanMultiQ's pattern. Term keys,
    IntervalExprQ's source tree and TermSetRefQ's source are not
    children."""
    out: list = []

    def visit(v):
        if isinstance(v, tuple):
            for x in v:
                visit(x)
        elif v is not None and not isinstance(v, str):
            out.append(v)

    for name, kind in _walk_fields(type(node)):
        if kind != INTERVAL:
            visit(getattr(node, name))
    return out


def subtree(node):
    """``node`` and every node below it, preorder (nothing for None)."""
    if node is not None:
        yield node
        for c in children(node):
            yield from subtree(c)


def term_keys(v) -> tuple:
    """Analyzed term keys of a key, a node or a tuple of them, in field
    order with duplicates kept; multi-term patterns are not term keys."""
    if isinstance(v, str):
        return (v,)
    if isinstance(v, tuple):
        return tuple(t for x in v for t in term_keys(x))
    out: list = []
    for name, kind in _walk_fields(type(v)):
        if kind == INTERVAL:
            from .intervals import tree_terms

            out.extend(tree_terms(getattr(v, name)))
        elif kind != PATTERN:
            out.extend(term_keys(getattr(v, name)))
    return tuple(out)


def map_keys(node, fn, *, patterns: bool, hook=None):
    """Rebuild a query tree with its keys mapped through ``fn``: analyzed
    term keys always, multi-term pattern keys only when ``patterns``; every
    other field is carried through as given. ``hook`` (node -> node), if
    given, runs on each node before its keys map."""
    if node is None:
        return None
    if hook is not None:
        node = hook(node)

    def m(v, kind):
        if isinstance(v, str):
            return fn(v) if kind != PATTERN or patterns else v
        if isinstance(v, tuple):
            return tuple(m(x, kind) for x in v)
        if v is None:
            return None
        return map_keys(v, fn, patterns=patterns, hook=hook)

    changes = {}
    for name, kind in _walk_fields(type(node)):
        v = getattr(node, name)
        if kind == INTERVAL:
            from .intervals import map_tree_terms

            changes[name] = map_tree_terms(v, fn)
        else:
            changes[name] = m(v, kind)
    return replace(node, **changes) if changes else node


def map_terms(node, fn):
    """Apply an analyzer term mapping to a parsed tree (the position
    QueryBuilder.createFieldQuery analyzes each token at,
    ``core/util/QueryBuilder.java``): every ANALYZED term leaf maps
    through ``fn``; multi-term patterns (prefix/wildcard/fuzzy/regexp/
    range) pass through UN-analyzed, matching QueryParserBase — Lucene's
    classic parser does not analyze multi-term queries.

    Used with ``build_index(token_filter=...)``: queries against a
    filtered index must map their terms with the same filter.
    """
    if isinstance(node, str):
        node = parse_query(node)
    return map_keys(node, fn, patterns=False)


def _close_range(node):
    # a field-scoped range's open bounds close at the field's key span, so
    # the term-dict scan never leaks into other fields' keys
    if isinstance(node, RangeQ):
        return replace(node, lo="" if node.lo is None else node.lo,
                       hi="\uffff" if node.hi is None else node.hi)
    return node


def qualify_node(node, field: str):
    """Scope a query node to ``field`` by qualifying its term keys and
    multi-term patterns (``plans/fields.py``); structure and every other
    field are preserved. Nodes mixing fields are built by composing
    already-qualified subtrees."""
    return map_keys(node, lambda t: qualify(field, t), patterns=True,
                    hook=_close_range)


def parse_multi_field(q: str, fields: "list[str]",
                      boosts: "dict[str, float] | None" = None):
    """MultiFieldQueryParser analog (queryparser/classic/
    MultiFieldQueryParser.java): parse once, then OR the query across the
    given fields — each clause is the full query scoped to one field,
    optionally boosted. Explicit ``field:`` atoms inside ``q`` keep their
    own field (qualification is a no-op on already-qualified keys is NOT
    true — so q must use unqualified syntax; mixed queries compose
    manually with qualify_node)."""
    node = parse_query(q)
    if node is None:
        return None
    clauses = []
    for f in fields:
        c = qualify_node(node, f)
        b = (boosts or {}).get(f)
        if b is not None:
            if not isinstance(c, (TermQ, PhraseQ, SynonymQ)):
                raise ValueError(
                    "per-field boosts require a leaf query (term/phrase/"
                    "synonym); compose boosted composites with qualify_node"
                )
            c = BoostQ(c, boost=float(b))
        clauses.append(c)
    return BoolQ(should=tuple(clauses)).simplified()


def parse_query(q: str):
    """Parse a query string; returns a TermQ/PhraseQ/BoolQ or None (no-op)."""
    toks = _tokenize_query(q)
    if not toks:
        return None
    return _Parser(toks).parse()


def query_terms(node) -> set[str]:
    """All index terms a query touches (for the postings scan filter).

    Multi-term nodes (PrefixQ/WildcardQ/RangeQ/FuzzyQ/RegexpQ) must be
    rewritten against the term dictionary first (Searcher.rewrite); they
    have no fixed terms. TermSetRefQ matches through a DataFrame plan and
    DocValuesRangeQ through the doc-value column: neither adds terms.
    """
    for n in subtree(node):
        if any(kind == PATTERN for _, kind in _walk_fields(type(n))):
            raise TypeError(f"{n!r} must be rewritten before planning")
    return set(term_keys(node)) if node is not None else set()
