"""Multi-term rewrites, synonym/dismax kernels, collectors.

Mirrors the reference's scorer tests: rewritten/pruned execution must equal
an exhaustive evaluation (CheckHits contract), and rewrite semantics follow
MultiTermQuery / SynonymQuery / DisjunctionMaxQuery.
"""

import numpy as np
import pytest

from lucene_spark.plans.query import (
    BoolQ,
    ConstScoreQ,
    DisMaxQ,
    MatchAllQ,
    PrefixQ,
    RangeQ,
    SynonymQ,
    TermQ,
    WildcardQ,
    parse_query,
)


# ------------------------------------------------------------------ parser


def test_parse_prefix_and_wildcard():
    assert parse_query("me*") == PrefixQ("me")
    assert parse_query("M?rge") == WildcardQ("m?rge")
    assert parse_query("*erge") == WildcardQ("*erge")
    assert parse_query("*") == MatchAllQ()


def test_parse_range():
    assert parse_query("[query TO sort]") == RangeQ("query", "sort", True, True)
    assert parse_query("{query TO sort}") == RangeQ("query", "sort", False, False)
    assert parse_query("[* TO sort]") == RangeQ(None, "sort", True, True)
    assert parse_query("[query TO *]") == RangeQ("query", None, True, True)


def test_parse_classic_modifiers():
    """``+a b -c`` builds ONE BooleanQuery with mixed occurs, exactly the
    classic parser (QueryParserBase MOD_REQ/MOD_NOT + addClause)."""
    node = parse_query("+merge window -scan")
    assert node == BoolQ(
        must=(TermQ("merge"),), should=(TermQ("window"),),
        must_not=(TermQ("scan"),),
    )
    assert parse_query("+merge") == TermQ("merge")
    assert parse_query("-merge") == BoolQ(must_not=(TermQ("merge"),))
    grp = parse_query("+(merge OR window) -scan")
    assert grp.must and grp.must_not and not grp.should
    # quoted phrase with a standalone modifier token
    ph = parse_query('+"table scan" -merge')
    assert ph.must[0].terms == ("table", "scan")
    assert ph.must_not == (TermQ("merge"),)
    # OR NOT routes the negation into the same boolean
    assert parse_query("merge OR NOT window") == BoolQ(
        should=(TermQ("merge"),), must_not=(TermQ("window"),)
    )


def test_parse_mixed_boolean_with_multiterm():
    node = parse_query("me* AND window")
    assert isinstance(node, BoolQ)
    assert PrefixQ("me") in node.must and TermQ("window") in node.must


def test_parse_backslash_escaping():
    """Classic-grammar ``\\X`` escapes (QueryParser.jj _ESCAPED_CHAR +
    QueryParserBase.discardEscapeChar): an escaped special char is literal
    text handed to the analyzer; escaped wildcards don't trigger wildcard
    parsing; escapes glue delimiters into one token."""
    from lucene_spark.plans.query import BoostQ, FuzzyQ, PhraseQ, SloppyQ

    # escaped specials become analyzed literal text (punctuation splits)
    assert parse_query("foo\\-bar") == PhraseQ(("foo", "bar"), (0, 1))
    assert parse_query("foo\\:bar") == PhraseQ(("foo", "bar"), (0, 1))
    assert parse_query("\\+alpha") == TermQ("alpha")  # not a MUST modifier
    # escaped wildcard chars are NOT wildcards
    assert parse_query("ab\\*cd") == PhraseQ(("ab", "cd"), (0, 1))
    assert parse_query("\\*") is None  # literal * analyzes to nothing
    # escaped * inside a real wildcard/prefix stays literal in the pattern
    assert parse_query("ab\\**") == PrefixQ("ab*")
    assert parse_query("te\\?m*") == PrefixQ("te?m")
    # escaped space/parens glue into one token
    assert parse_query("\\(paren\\)") == TermQ("paren")
    # escaped quote inside a phrase
    assert parse_query('"scan\\" merge"').terms == ("scan", "merge")
    # escaped / inside a regex body is the only parser escape there
    from lucene_spark.plans.query import RegexpQ

    assert parse_query("/a\\/b/") == RegexpQ("a/b")
    # escaped ~ is not fuzzy; unescaped still is
    assert parse_query("merge\\~1") == PhraseQ(("merge", "1"), (0, 1))
    assert parse_query("merge~1") == FuzzyQ("merge", max_edits=1)


def test_parse_phrase_slop_boost_combos():
    """QueryParser.jj Term(): quoted term takes <FUZZY_SLOP>? then
    (<CARAT> boost)? — ``"a b"~2^3`` is BoostQuery(SloppyPhrase, 3)."""
    from lucene_spark.plans.query import BoostQ, PhraseQ, SloppyQ

    n = parse_query('"scan merge"~2^3')
    assert n == BoostQ(SloppyQ(("scan", "merge"), (0, 1), slop=2), boost=3.0)
    assert parse_query('"scan merge"^2') == BoostQ(
        PhraseQ(("scan", "merge"), (0, 1)), boost=2.0
    )
    # grammar lexes slop as a float, phrase slop truncates to int
    assert parse_query('"scan merge"~2.9').slop == 2
    # boost attaches to any single-token atom via the same CARAT rule
    from lucene_spark.plans.query import FuzzyQ

    assert parse_query("merge~1^2") == BoostQ(
        FuzzyQ("merge", max_edits=1), boost=2.0
    )
    assert parse_query("mer*^2") == BoostQ(PrefixQ("mer"), boost=2.0)
    assert parse_query("*erge^2") == BoostQ(WildcardQ("*erge"), boost=2.0)


# ------------------------------------------------------- rewrite + kernels


@pytest.fixture(scope="module")
def searcher(spark):
    import __spark_entry__ as entry

    from lucene_spark.operators.search import Searcher

    return Searcher(spark, entry._index_for(spark, "/root/testdata/sf0.001"))


def test_boost_distributes_over_composites(searcher):
    """BoostQuery over a BooleanQuery folds into every scoring leaf's f32
    weight (BoostQuery.java createWeight boost multiply) — score-identical
    to boosting each clause, and nested boosts fold as float32 products."""
    from lucene_spark.plans.query import BoostQ

    inner = parse_query("merge OR window")
    r_b = searcher.search(BoostQ(inner, boost=2.0), k=10, with_keys=False)
    manual = BoolQ(should=(BoostQ(TermQ("merge"), 2.0), BoostQ(TermQ("window"), 2.0)))
    r_m = searcher.search(manual, k=10, with_keys=False)
    assert list(r_b.gid) == list(r_m.gid)
    assert list(r_b.score) == list(r_m.score)

    nested = BoostQ(BoostQ(TermQ("merge"), 3.0), 2.0)
    flat = BoostQ(TermQ("merge"), float(np.float32(np.float32(2.0) * np.float32(3.0))))
    assert list(searcher.search(nested, k=5, with_keys=False).score) == list(
        searcher.search(flat, k=5, with_keys=False).score
    )

    # boost over DisMax distributes into each arm
    dm = DisMaxQ(clauses=(TermQ("merge"), TermQ("window")), tie=0.3)
    r_dm = searcher.search(BoostQ(dm, boost=2.0), k=10, with_keys=False)
    dm_b = DisMaxQ(
        clauses=(BoostQ(TermQ("merge"), 2.0), BoostQ(TermQ("window"), 2.0)), tie=0.3
    )
    assert list(r_dm.score) == list(searcher.search(dm_b, k=10, with_keys=False).score)

    # positional leaves: boost=1 is the identity, boost=2 scales in place
    for qs in ('"table scan"', '"table scan"~2', '"table scan"~2 AND merge'):
        q = parse_query(qs)
        base = searcher.search(q, k=5, with_keys=False)
        b1 = searcher.search(BoostQ(q, 1.0), k=5, with_keys=False)
        b2 = searcher.search(BoostQ(q, 2.0), k=5, with_keys=False)
        assert list(base.gid) == list(b1.gid) and list(base.score) == list(b1.score)
        assert list(base.gid) == list(b2.gid)
        assert all(x > y for x, y in zip(b2.score, base.score))


def test_rewrite_prefix_constant_score_blended(searcher):
    """Reference default: CONSTANT_SCORE_BLENDED_REWRITE (PrefixQuery.java:
    32-34) — constant-score over the uncapped match set."""
    from lucene_spark.plans.query import TermInSetQ

    node = searcher.rewrite(PrefixQ("s"))
    assert isinstance(node, ConstScoreQ) and isinstance(node.child, TermInSetQ)
    assert set(node.child.terms) == {"scan", "slow", "small", "sort", "spark", "stream"}


def test_rewrite_wildcard(searcher):
    from lucene_spark.plans.query import TermInSetQ

    node = searcher.rewrite(WildcardQ("?a*"))
    assert isinstance(node, ConstScoreQ) and isinstance(node.child, TermInSetQ)
    assert set(node.child.terms) == {
        "batch", "data", "fast", "hash", "part", "table", "value"
    }


def test_rewrite_range_constant_score(searcher):
    node = searcher.rewrite(RangeQ("query", "sort"))
    assert isinstance(node, ConstScoreQ)
    assert set(node.child.terms) == {"query", "row", "scan", "slow", "small", "sort"}
    excl = searcher.rewrite(RangeQ("query", "sort", include_lo=False, include_hi=False))
    assert set(excl.child.terms) == {"row", "scan", "slow", "small"}


def test_rewrite_empty_expansion_matches_nothing(searcher):
    node = searcher.rewrite(PrefixQ("zzzz"))
    assert searcher.search(node, k=5).empty


def test_multiterm_clause_cap_scoring_only(searcher, monkeypatch):
    """maxClauseCount applies to SCORING boolean expansions only; the
    default constant-score rewrite is uncapped (blended wrapper)."""
    import lucene_spark.operators.search as srch

    monkeypatch.setattr(srch, "MAX_CLAUSE_COUNT", 3)
    with pytest.raises(ValueError, match="maxClauseCount"):
        searcher.expand_terms(PrefixQ("s"), capped=True)
    assert len(searcher.expand_terms(PrefixQ("s"))) == 6  # uncapped default


def test_prefix_constant_score_results(searcher):
    """Prefix top-k = first-k docs (gid asc) of the union match set, all
    scoring exactly 1.0."""
    got = searcher.search(PrefixQ("s"), k=10)
    assert (got["score"] == 1.0).all()
    union = searcher.search("scan OR slow OR small OR sort OR spark OR stream",
                            k=10**6, prune=False)
    want = sorted(int(g) for g in union["gid"])[:10]
    assert got["gid"].tolist() == want


def test_prefix_nested_in_boolean(searcher):
    """A multi-term clause nested in a boolean scores as constant 1.0 added
    to the other clauses (BooleanQuery over the blended wrapper)."""
    node = parse_query("merge AND sp*")
    got = searcher.search(node, k=200, prune=False)
    base = searcher.search("merge", k=10**6, prune=False).set_index("gid")["score"]
    spark_docs = set(
        searcher.search("spark", k=10**6, prune=False)["gid"].astype(int)
    )
    assert not got.empty
    for gid, score in zip(got["gid"], got["score"]):
        assert int(gid) in spark_docs
        # double sum of (term f32 score + 1.0f), cast to f32 once
        assert score == np.float32(float(base[gid]) + 1.0)


def test_dismax_tie_zero_is_max_of_clauses(searcher):
    q = DisMaxQ(clauses=(TermQ("merge"), TermQ("window")), tie=0.0)
    got = searcher.search(q, k=200, prune=False)
    a = searcher.search("merge", k=500, prune=False).set_index("gid")["score"]
    b = searcher.search("window", k=500, prune=False).set_index("gid")["score"]
    for gid, score in zip(got["gid"], got["score"]):
        expect = max(a.get(gid, -np.inf), b.get(gid, -np.inf))
        assert score == np.float32(expect)


def test_dismax_tiebreak_blends(searcher):
    q = DisMaxQ(clauses=(TermQ("merge"), TermQ("window")), tie=0.5)
    got = searcher.search(q, k=50, prune=False)
    a = searcher.search("merge", k=500, prune=False).set_index("gid")["score"]
    b = searcher.search("window", k=500, prune=False).set_index("gid")["score"]
    checked = 0
    for gid, score in zip(got["gid"], got["score"]):
        sa, sb = a.get(gid), b.get(gid)
        if sa is not None and sb is not None:
            mx = max(float(sa), float(sb))
            total = float(sa) + float(sb)
            assert score == np.float32(mx + (total - mx) * 0.5)
            checked += 1
    assert checked > 0


def test_synonym_freq_sums_and_df_blends(searcher):
    """Synonym score uses summed freq and max member docFreq."""
    q = SynonymQ(terms=("merge", "scan"))
    got = searcher.search(q, k=5, prune=False)
    assert not got.empty
    # every doc matching either term appears
    n_union = searcher.count("merge OR scan")
    all_hits = searcher.search(q, k=10**6, prune=False)
    assert len(all_hits) == n_union


def test_match_all(searcher):
    assert searcher.count("*") == 500
    top = searcher.search("*", k=3)
    assert (top["score"] == 1.0).all()
    assert top["gid"].tolist() == [0, 1, 2]  # constant score → gid asc ties


def test_near_query(searcher):
    """Proximity: slop widens the match set monotonically; slop semantics
    verified against a brute-force pair count on one doc."""
    from lucene_spark.plans.query import NearQ, SloppyQ, parse_query as pq

    # the string syntax is Lucene's sloppy phrase; NearQ is the explicit API
    assert pq('"table scan"~3') == SloppyQ(("table", "scan"), (0, 1), 3)
    exact = searcher.search('"table scan"', k=10**6, prune=False)
    tight = searcher.search(NearQ(("table", "scan"), 1), k=10**6, prune=False)
    wide = searcher.search(NearQ(("table", "scan"), 8), k=10**6, prune=False)
    # adjacency (slop covers distance 1) is a subset of wider slop
    assert set(exact["gid"]) <= set(tight["gid"]) <= set(wide["gid"])
    a = searcher.search(NearQ(("table", "scan"), 3), k=10, prune=True)
    b = searcher.search(NearQ(("table", "scan"), 3), k=10, prune=False)
    assert a["gid"].tolist() == b["gid"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_multiphrase_query(searcher):
    """MultiPhraseQuery: per-slot union then exact-phrase matching. A
    single-alternative MultiPhraseQ matches PhraseQ's docs exactly (same
    freq, same weight), and a two-alternative slot matches exactly the
    union of the member phrases' match sets; pruned equals exhaustive."""
    from lucene_spark.plans.query import MultiPhraseQ, PhraseQ

    big = 10**6
    plain = searcher.search(
        PhraseQ(("table", "scan"), (0, 1)), k=big, prune=False
    )
    single = searcher.search(
        MultiPhraseQ((("table",), ("scan",)), (0, 1)), k=big, prune=False
    )
    assert plain["gid"].tolist() == single["gid"].tolist()
    assert plain["score"].tolist() == single["score"].tolist()

    multi = searcher.search(
        MultiPhraseQ((("table", "hash"), ("scan",)), (0, 1)), k=big, prune=False
    )
    alt = searcher.search(PhraseQ(("hash", "scan"), (0, 1)), k=big, prune=False)
    assert set(multi["gid"]) == set(plain["gid"]) | set(alt["gid"])

    a = searcher.search(
        MultiPhraseQ((("table", "hash"), ("scan",)), (0, 1)), k=10, prune=True
    )
    b = multi.head(10)
    assert a["gid"].tolist() == b["gid"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_multiphrase_in_boolean(searcher):
    """MultiPhraseQ composes as a boolean clause (BooleanQuery accepts any
    scoring sub-query); MUST conjunction intersects the match sets."""
    from lucene_spark.plans.query import BoolQ, MultiPhraseQ

    big = 10**6
    mp = MultiPhraseQ((("table", "hash"), ("scan",)), (0, 1))
    both = searcher.search(
        BoolQ(must=(mp, TermQ("merge"))), k=big, prune=False
    )
    mp_only = searcher.search(mp, k=big, prune=False)
    term_only = searcher.search(TermQ("merge"), k=big, prune=False)
    assert set(both["gid"]) == set(mp_only["gid"]) & set(term_only["gid"])


def test_span_first(searcher):
    """SpanFirstQuery: end bound widens the match set monotonically, and a
    bound past the longest doc equals the plain TermQuery match set with
    identical scores (every span accepted → freq == tf)."""
    from lucene_spark.plans.query import SpanFirstQ

    big = 10**6
    tight = searcher.search(SpanFirstQ("window", 3), k=big, prune=False)
    wide = searcher.search(SpanFirstQ("window", 50), k=big, prune=False)
    assert set(tight["gid"]) <= set(wide["gid"])
    all_span = searcher.search(SpanFirstQ("window", 10**6), k=big, prune=False)
    term = searcher.search(TermQ("window"), k=big, prune=False)
    assert all_span["gid"].tolist() == term["gid"].tolist()
    assert all_span["score"].tolist() == term["score"].tolist()


def test_span_not(searcher):
    """SpanNotQuery: with the exclude term absent from the corpus every
    include span survives (== TermQuery); a real exclude term only ever
    shrinks or reweights the match set, never adds docs."""
    from lucene_spark.plans.query import SpanNotQ

    big = 10**6
    term = searcher.search(TermQ("merge"), k=big, prune=False)
    noop = searcher.search(
        SpanNotQ("merge", "zzzznothere", 1, 1), k=big, prune=False
    )
    assert noop["gid"].tolist() == term["gid"].tolist()
    assert noop["score"].tolist() == term["score"].tolist()
    real = searcher.search(SpanNotQ("merge", "window", 1, 1), k=big, prune=False)
    assert set(real["gid"]) <= set(term["gid"])
    a = searcher.search(SpanNotQ("merge", "window", 1, 1), k=10, prune=True)
    assert a["gid"].tolist() == real.head(10)["gid"].tolist()
    assert a["score"].tolist() == real.head(10)["score"].tolist()


def test_span_or(searcher):
    """SpanOrQuery: match set is the union of the member terms' docs; a
    single-member SpanOr equals the plain TermQuery exactly."""
    from lucene_spark.plans.query import SpanOrQ

    big = 10**6
    single = searcher.search(SpanOrQ(("merge",)), k=big, prune=False)
    term = searcher.search(TermQ("merge"), k=big, prune=False)
    assert single["gid"].tolist() == term["gid"].tolist()
    assert single["score"].tolist() == term["score"].tolist()
    union = searcher.search(SpanOrQ(("merge", "window")), k=big, prune=False)
    t2 = searcher.search(TermQ("window"), k=big, prune=False)
    assert set(union["gid"]) == set(term["gid"]) | set(t2["gid"])


def test_span_near_ordered(searcher):
    """SpanNearQuery(inOrder=true): slop widens the match set
    monotonically; an adjacent-only span near (slop 0) matches exactly the
    exact-phrase docs; a brute-force per-doc replay of the
    NearSpansOrdered chain reproduces the kernel's freqs."""
    from lucene_spark.plans.query import SpanNearQ

    big = 10**6
    s0 = searcher.search(SpanNearQ(("table", "scan"), 0), k=big, prune=False)
    phrase = searcher.search('"table scan"', k=big, prune=False)
    assert set(s0["gid"]) == set(phrase["gid"])
    s2 = searcher.search(SpanNearQ(("table", "scan"), 2), k=big, prune=False)
    s8 = searcher.search(SpanNearQ(("table", "scan"), 8), k=big, prune=False)
    assert set(s0["gid"]) <= set(s2["gid"]) <= set(s8["gid"])
    a = searcher.search(SpanNearQ(("table", "merge", "scan"), 4), k=10,
                        prune=True)
    b = searcher.search(SpanNearQ(("table", "merge", "scan"), 4), k=10,
                        prune=False)
    assert a["gid"].tolist() == b["gid"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_span_near_kernel_brute_force():
    """Kernel vs a literal per-doc transcription of NearSpansOrdered:
    iterate p0, advance forward-only pointers, accept width <= slop."""
    import numpy as np

    from lucene_spark.operators.search import (
        TermPostings, _fold_widths, _near_spans_chain,
    )
    from lucene_spark.plans.query import SpanNearQ

    rng = np.random.default_rng(7)
    for trial in range(50):
        nterms = int(rng.integers(2, 4))
        ndocs = int(rng.integers(1, 6))
        slop = int(rng.integers(0, 5))
        tps, plists = [], []
        for _ in range(nterms):
            per_doc = [
                np.unique(rng.integers(0, 30, size=rng.integers(1, 6)))
                for _ in range(ndocs)
            ]
            plists.append(per_doc)
            freqs = np.array([len(p) for p in per_doc], dtype=np.int64)
            starts = np.zeros(ndocs + 1, np.int64)
            np.cumsum(freqs, out=starts[1:])
            tps.append(TermPostings(
                np.arange(ndocs, dtype=np.int64), freqs,
                np.full(ndocs, 100, np.uint8),
                np.concatenate(per_doc), starts,
            ))
        node = SpanNearQ(tuple(f"t{i}" for i in range(nterms)), slop)
        cands = np.arange(ndocs, dtype=np.int64)
        st, _en, width, _pay = _near_spans_chain(
            node, {f"t{i}": tp for i, tp in enumerate(tps)}, cands)
        got = _fold_widths(st, width, ndocs)
        for d in range(ndocs):
            ptrs = [0] * nterms
            freq = np.float32(0.0)
            pos = [plists[i][d] for i in range(nterms)]
            for i0 in range(len(pos[0])):
                prev_end = pos[0][i0] + 1
                dead = False
                for i in range(1, nterms):
                    while ptrs[i] < len(pos[i]) and pos[i][ptrs[i]] < prev_end:
                        ptrs[i] += 1
                    if ptrs[i] == len(pos[i]):
                        dead = True
                        break
                    prev_end = pos[i][ptrs[i]] + 1
                if dead:
                    break
                width = (prev_end - 1) - pos[0][i0] - (nterms - 1)
                if width <= slop:
                    freq = np.float32(
                        freq + np.float32(1.0 / (1.0 + float(width)))
                    )
            assert got[d] == freq, (trial, d, got[d], freq)


def test_span_near_unordered_kernel_brute_force():
    """Kernel vs a literal transcription of NearSpansUnordered's priority
    queue: pop the min-start span, advance it, track the running max end,
    match when maxEnd - minStart - totalSpanLength <= slop."""
    import heapq

    import numpy as np

    from lucene_spark.operators.search import (
        TermPostings, _near_spans_unordered_freqs,
    )
    from lucene_spark.plans.query import SpanNearQ

    rng = np.random.default_rng(11)
    for trial in range(50):
        nterms = int(rng.integers(2, 4))
        ndocs = int(rng.integers(1, 6))
        slop = int(rng.integers(0, 6))
        tps, plists = [], []
        used = [set() for _ in range(ndocs)]
        for _ in range(nterms):
            per_doc = []
            for d in range(ndocs):
                # distinct positions across terms: one token per position
                avail = [p for p in range(30) if p not in used[d]]
                take = sorted(rng.choice(avail, size=int(rng.integers(1, 6)),
                                         replace=False).tolist())
                used[d].update(take)
                per_doc.append(np.array(take, dtype=np.int64))
            plists.append(per_doc)
            freqs = np.array([len(p) for p in per_doc], dtype=np.int64)
            starts = np.zeros(ndocs + 1, np.int64)
            np.cumsum(freqs, out=starts[1:])
            tps.append(TermPostings(
                np.arange(ndocs, dtype=np.int64), freqs,
                np.full(ndocs, 100, np.uint8),
                np.concatenate(per_doc), starts,
            ))
        node = SpanNearQ(tuple(f"t{i}" for i in range(nterms)), slop,
                         in_order=False)
        got = _near_spans_unordered_freqs(
            node, {f"t{i}": tp for i, tp in enumerate(tps)},
            np.arange(ndocs, dtype=np.int64))
        for d in range(ndocs):
            heap = []  # (startpos, term_idx, ptr)
            max_end = -1
            for i in range(nterms):
                p = int(plists[i][d][0])
                heapq.heappush(heap, (p, i, 0))
                max_end = max(max_end, p + 1)
            freq = np.float32(0.0)
            while True:
                minstart = heap[0][0]
                # atMatch subtracts totalSpanLength; width() does NOT
                # (NearSpansUnordered.java width vs atMatch)
                if (max_end - minstart - nterms) <= slop:
                    span_w = max_end - minstart
                    freq = np.float32(
                        freq + np.float32(1.0 / (1.0 + float(span_w)))
                    )
                _, i, ptr = heapq.heappop(heap)
                if ptr + 1 == len(plists[i][d]):
                    break
                p = int(plists[i][d][ptr + 1])
                heapq.heappush(heap, (p, i, ptr + 1))
                max_end = max(max_end, p + 1)
            assert got[d] == freq, (trial, d, got[d], freq)


def test_span_near_unordered_vs_ordered(searcher):
    """Unordered span-near is a superset of ordered at the same slop, and
    pruned equals exhaustive."""
    from lucene_spark.plans.query import SpanNearQ

    big = 10**6
    uo = searcher.search(
        SpanNearQ(("table", "scan"), 3, in_order=False), k=big, prune=False
    )
    o = searcher.search(SpanNearQ(("table", "scan"), 3), k=big, prune=False)
    assert set(o["gid"]) <= set(uo["gid"])
    a = searcher.search(
        SpanNearQ(("table", "merge", "scan"), 4, in_order=False),
        k=10, prune=True,
    )
    b = searcher.search(
        SpanNearQ(("table", "merge", "scan"), 4, in_order=False),
        k=10, prune=False,
    )
    assert a["gid"].tolist() == b["gid"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_boost_query(searcher):
    """Boost folds into the weight as float32 (BM25Scorer ctor), so a
    boosted term's score equals scoring with weight' = f32(boost * idf)."""
    from lucene_spark.plans.query import BoostQ, parse_query as pq

    node = pq("merge^2.5")
    assert node == BoostQ(TermQ("merge"), 2.5)
    plain = searcher.search("merge", k=200, prune=False).set_index("gid")["score"]
    boosted = searcher.search(node, k=200, prune=False).set_index("gid")["score"]
    assert set(plain.index) == set(boosted.index)
    ctx = searcher.make_ctx(searcher.rewrite(node))
    w_plain = searcher.make_ctx(TermQ("merge")).weights["merge"]
    w_boost = ctx.boost_weights[node]
    assert w_boost == np.float32(np.float32(2.5) * w_plain)
    # boosting never reorders a single-term ranking
    assert plain.sort_values(ascending=False).index.tolist() == \
        boosted.sort_values(ascending=False).index.tolist()
    # pruned == exhaustive with boost
    a = searcher.search("merge^2.5 OR window", k=10, prune=True)
    b = searcher.search("merge^2.5 OR window", k=10, prune=False)
    assert a["gid"].tolist() == b["gid"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_min_should_match(searcher):
    """minShouldMatch vs brute-force set arithmetic (TestWANDScorer model)."""
    q2 = BoolQ(should=(TermQ("merge"), TermQ("window"), TermQ("scan")), msm=2)
    hits = searcher.search(q2, k=10**6, prune=False)
    m = set(searcher.search("merge", k=10**6, prune=False)["gid"])
    w = set(searcher.search("window", k=10**6, prune=False)["gid"])
    sc = set(searcher.search("scan", k=10**6, prune=False)["gid"])
    want = {g for g in (m | w | sc) if (g in m) + (g in w) + (g in sc) >= 2}
    assert set(hits["gid"]) == want
    # msm greater than the number of optional clauses matches nothing
    assert searcher.search(BoolQ(should=(TermQ("merge"),), msm=2), k=5).empty
    a = searcher.search(q2, k=10, prune=True)
    b = searcher.search(q2, k=10, prune=False)
    assert a["gid"].tolist() == b["gid"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_collectors_see_full_boolean_match_set(searcher, spark):
    """Facet counts over a BOOLEAN query must cover every matching doc —
    regression for per-bucket top-k trimming leaking into match-set flows."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_match = searcher.count("merge OR window")
    total = (
        searcher.facet_counts("merge OR window", docs, "lang", key_col="doc_id")
        .agg({"n": "sum"})
        .collect()[0][0]
    )
    assert int(total) == n_match


def test_pruned_equals_exhaustive_on_rewrites(searcher):
    """CheckHits: θ-pruned execution == exhaustive for rewritten queries."""
    for q in (PrefixQ("s"), WildcardQ("?a*"), RangeQ("query", "sort")):
        a = searcher.search(q, k=10, prune=True)
        b = searcher.search(q, k=10, prune=False)
        assert a["gid"].tolist() == b["gid"].tolist()
        assert a["score"].tolist() == b["score"].tolist()


# --------------------------------------------- nested MatchAll (BooleanQuery)


def test_matchall_must_adds_constant(searcher):
    """BooleanQuery.rewrite keeps MatchAllDocsQuery as a scoring clause
    (score 1.0/doc): 'merge AND *' = merge's match set, each double sum
    gaining exactly one f32 1.0 before the final f32 cast."""
    got = searcher.search(parse_query("merge AND *"), k=10**6, prune=False)
    base = searcher.search("merge", k=10**6, prune=False)
    assert sorted(got["gid"].astype(int)) == sorted(base["gid"].astype(int))
    bmap = dict(zip(base["gid"].astype(int), base["score"]))
    for gid, sc in zip(got["gid"].astype(int), got["score"]):
        assert np.float32(sc) == np.float32(np.float64(bmap[gid]) + 1.0)


def test_matchall_should_universe(searcher):
    """'merge OR *' matches EVERY live doc: docs without the term score
    exactly 1.0 (completed from the doc table), the rest f32(s + 1)."""
    got = searcher.search(parse_query("merge OR *"), k=10**6, prune=False)
    n_docs = searcher.count(MatchAllQ())
    assert len(got) == n_docs
    base = searcher.search("merge", k=10**6, prune=False)
    bmap = dict(zip(base["gid"].astype(int), base["score"]))
    for gid, sc in zip(got["gid"].astype(int), got["score"]):
        want = np.float32(np.float64(bmap.get(gid, 0.0)) + 1.0)
        assert np.float32(sc) == want, gid
    assert searcher.count(parse_query("merge OR *")) == n_docs


def test_matchall_universe_with_not(searcher):
    """'* NOT merge' = every doc minus the excluded set, constant 1.0,
    gid-ascending ties."""
    got = searcher.search(parse_query("* NOT merge"), k=10, with_keys=False)
    merged = set(
        searcher.search("merge", k=10**6, prune=False)["gid"].astype(int)
    )
    n_docs = searcher.count(MatchAllQ())
    assert searcher.count(parse_query("* NOT merge")) == n_docs - len(merged)
    want = sorted(g for g in range(10**6) if g not in merged)[:10]
    got_g = list(got["gid"].astype(int))
    assert got_g == [g for g in want if g < 10**6][: len(got_g)]
    assert (got["score"] == 1.0).all()


def test_matchall_must_not_matches_nothing(searcher):
    assert searcher.search(
        BoolQ(must=(TermQ("merge"),), must_not=(MatchAllQ(),)), k=5
    ).empty


def test_matchall_counts_toward_msm(searcher):
    """A SHOULD MatchAll matches every doc, so it counts toward
    minimumNumberShouldMatch: msm=2 over (merge, window, *) keeps docs
    matching EITHER real term (1 real + 1 free >= 2)."""
    node = BoolQ(should=(TermQ("merge"), TermQ("window"), MatchAllQ()), msm=2)
    got = searcher.search(node, k=10**6, prune=False)
    union = searcher.search("merge OR window", k=10**6, prune=False)
    assert sorted(got["gid"].astype(int)) == sorted(union["gid"].astype(int))
    # per-clause f32 scores sum in DOUBLE with the +1.0 inside, one final
    # f32 cast (BooleanScorer accumulation) — not +1 on the rounded sum
    m1 = dict(zip(*(searcher.search("merge", k=10**6, prune=False)
                    [c].tolist() for c in ("gid", "score"))))
    m2 = dict(zip(*(searcher.search("window", k=10**6, prune=False)
                    [c].tolist() for c in ("gid", "score"))))
    for gid, sc in zip(got["gid"].astype(int), got["score"]):
        want = np.float32(
            np.float64(m1.get(gid, 0.0)) + np.float64(m2.get(gid, 0.0)) + 1.0
        )
        assert np.float32(sc) == want, gid


def test_matchall_pruned_equals_exhaustive(searcher):
    """θ/impact pruning must account for the +const (upper bounds and
    block slack include it): pruned == exhaustive on a matchall boolean."""
    node = parse_query("merge AND *")
    ex = searcher.search(node, k=10, prune=False)
    pr = searcher.search(node, k=10, prune=True)
    assert list(ex["gid"]) == list(pr["gid"])
    assert list(ex["score"]) == list(pr["score"])


def test_matchall_deeper_nesting_still_rejected(searcher):
    with pytest.raises(ValueError, match="MatchAll"):
        searcher.search(
            DisMaxQ(clauses=(TermQ("merge"), MatchAllQ()), tie=0.1), k=5
        )


# ------------------------------------------------- Occur.FILTER / similarity


def test_filter_clause_required_but_nonscoring(searcher):
    from lucene_spark.plans.query import BoolQ, TermQ

    node = BoolQ(must=(TermQ("merge"),), filter=(TermQ("window"),))
    got = searcher.search(node, k=10, with_keys=False)
    # docs = merge AND window; scores = pure TermQuery(merge)
    both = searcher.search(
        BoolQ(must=(TermQ("merge"), TermQ("window"))),
        k=1 << 30, prune=False, with_keys=False,
    )
    term_only = searcher.search(
        TermQ("merge"), k=1 << 30, prune=False, with_keys=False
    )
    ts = dict(zip(term_only["gid"], term_only["score"]))
    want = sorted(
        ((g, ts[g]) for g in both["gid"]), key=lambda r: (-r[1], r[0])
    )[:10]
    assert list(zip(got["gid"], got["score"])) == want


def test_filter_only_matches_with_zero_score(searcher):
    from lucene_spark.plans.query import BoolQ, TermQ

    node = BoolQ(filter=(TermQ("window"),))
    got = searcher.search(node, k=5, with_keys=False)
    assert (got["score"] == 0.0).all()
    assert searcher.count(node) == searcher.count(TermQ("window"))


def test_filter_does_not_count_toward_msm(searcher):
    from lucene_spark.plans.query import BoolQ, TermQ

    # msm=2 over two SHOULD clauses: the filter must not satisfy msm
    node = BoolQ(
        should=(TermQ("merge"), TermQ("scan")),
        filter=(TermQ("window"),), msm=2,
    )
    got = set(searcher.search(node, k=1 << 30, prune=False,
                              with_keys=False)["gid"])
    want = set(searcher.search(
        BoolQ(must=(TermQ("merge"), TermQ("scan"), TermQ("window"))),
        k=1 << 30, prune=False, with_keys=False,
    )["gid"])
    assert got == want


def test_custom_similarity_k1_b(spark):
    """BM25Similarity(k1, b) with non-default parameters re-ranks via the
    norm cache; k1=0 degenerates to pure idf (freq/length-independent)."""
    import __spark_entry__ as entry
    import numpy as np
    from lucene_spark.functions.bm25 import BM25Scorer
    from lucene_spark.functions.smallfloat import int_to_byte4_np
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    s = Searcher(spark, idx, k1=0.9, b=0.4)
    got = s.search("merge", k=10, with_keys=False)
    # brute oracle: score every posting with a k1=0.9/b=0.4 scorer
    post = s.postings("merge").toPandas()
    dc, sttf = s.field_stats("text")
    from lucene_spark.functions.bm25 import idf, norm_cache, avgdl
    w = idf(len(post), max(dc, 1))
    cache = norm_cache(avgdl(sttf, max(dc, 1)), np.float32(0.9), np.float32(0.4))
    one = np.float32(1.0)
    scores = w - w / (one + post["freq"].to_numpy(np.float32)
                      * cache[post["norm_b"].to_numpy(np.uint8)])
    order = sorted(zip(post["gid"], scores), key=lambda r: (-r[1], r[0]))[:10]
    assert list(zip(got["gid"], got["score"])) == order
    # k1=0: tf saturates to constant -> every hit scores f32(idf)
    s0 = Searcher(spark, idx, k1=0.0, b=0.75)
    got0 = s0.search("merge", k=5, with_keys=False)
    assert set(np.float32(got0["score"])) == {np.float32(w)}


def test_classic_similarity(spark):
    """ClassicSimilarity (TFIDFSimilarity VSM) through the pluggable
    Similarity protocol: sqrt-tf * idf * 1/sqrt(len), and the impact
    bounds keep pruned == exhaustive under the swapped score function."""
    import __spark_entry__ as entry
    import numpy as np
    from lucene_spark.functions.similarity import ClassicSim
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans.query import BoolQ, TermQ

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    sim = ClassicSim()
    s = Searcher(spark, idx, similarity=sim)
    got = s.search("merge", k=10, with_keys=False)
    # brute oracle: score every posting with the same sim primitives
    post = s.postings("merge").toPandas()
    dc, _ = s.field_stats("text")
    w = sim.idf(len(post), max(dc, 1))
    table = sim.norm_table(np.float32(1.0))  # avgdl unused by Classic
    scores = sim.score(
        post["freq"].to_numpy(np.int64), w,
        table[post["norm_b"].to_numpy(np.uint8)],
    )
    order = sorted(zip(post["gid"], scores), key=lambda r: (-r[1], r[0]))[:10]
    assert list(zip(got["gid"], got["score"])) == order
    # norm table matches the JVM op order: 1f / (float)sqrt(dec)
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    b = 37
    assert table[b] == np.float32(1.0) / np.float32(np.sqrt(float(LENGTH_TABLE[b])))
    assert table[0] == np.float32(1.0) / table[255]
    # pruning under the swapped similarity never changes results
    node = BoolQ(should=(TermQ("merge"), TermQ("scan")))
    pruned = s.search(node, k=10, with_keys=False)
    exact = s.search(node, k=10, prune=False, with_keys=False)
    assert list(zip(pruned["gid"], pruned["score"])) == list(
        zip(exact["gid"], exact["score"])
    )
    # explain() renders the TFIDFScorer.explainScore tree
    # (TFIDFSimilarity.java:430-540): product of idf, tf, fieldNorm
    ex = s.explain("merge").set_index("component")["value"]
    assert np.float32(ex["idf(docFreq, docCount)"]) == w
    tf_v = np.float32(np.sqrt(np.float64(
        ex["freq, occurrences of term within document"])))
    assert np.float32(ex["tf(freq), computed as sqrt(freq)"]) == tf_v
    assert np.float32(ex["score"]) == np.float32(
        np.float32(tf_v * w) * np.float32(ex["fieldNorm"])
    )
    assert np.float32(ex["score"]) == np.float32(got["score"].iloc[0])


def test_lm_dirichlet_similarity(spark):
    """LMDirichletSimilarity through the pluggable protocol: per-term
    mu*p aux constant, decoded-length norms, double-log scoring with the
    pre-cast clamp — and pruning stays exact under the swapped bounds."""
    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import LMDirichletSim
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    sim = LMDirichletSim()
    s = Searcher(spark, idx, similarity=sim)
    got = s.search("merge", k=10, with_keys=False)
    # brute oracle with the same float32/double op points
    post = s.postings("merge").toPandas()
    dc, sttf = s.field_stats("text")
    ttf = int(post["freq"].sum())
    mp = sim.aux(len(post), max(dc, 1), ttf, sttf)
    nb = post["norm_b"].to_numpy(np.uint8)
    dl = LENGTH_TABLE.astype(np.float32)[nb].astype(np.float64)
    sc = np.log(1.0 + post["freq"].to_numpy(np.float64) / np.float64(mp)) \
        + np.log(2000.0 / (dl + 2000.0))
    sc = np.maximum(sc, 0.0).astype(np.float32)
    order = sorted(zip(post["gid"], sc), key=lambda r: (-r[1], r[0]))[:10]
    assert list(zip(got["gid"], got["score"])) == order
    # pruning under the swapped similarity never changes results
    node = BoolQ(should=(TermQ("merge"), TermQ("scan")))
    pruned = s.search(node, k=10, with_keys=False)
    exact = s.search(node, k=10, prune=False, with_keys=False)
    assert list(zip(pruned["gid"], pruned["score"])) == list(
        zip(exact["gid"], exact["score"])
    )
    # boost folds as the whole-score multiplier (BasicStats.getBoost)
    from lucene_spark.plans.query import BoostQ

    b2 = s.search(BoostQ(TermQ("merge"), 2.0), k=5, with_keys=False)
    base = s.search("merge", k=5, with_keys=False)
    assert list(b2.gid) == list(base.gid)
    assert all(
        np.float32(x) == np.float32(np.float64(2.0) * np.float64(y))
        or abs(x - 2 * y) < 1e-6
        for x, y in zip(b2.score, base.score)
    )
    # phrase composite: SimilarityBase fold — one BasicSimScorer per term
    # state summed (float32 running sum) at the shared phrase freq
    # (PhraseWeight.java:56-60 + MultiSimilarity.java:63-70)
    ph = s.search('"table scan"', k=5, with_keys=False)
    assert len(ph) > 0
    from lucene_spark.plans.query import PhraseQ

    node = PhraseQ(terms=("table", "scan"), offsets=(0, 1))
    pruned = s.search(node, k=5, with_keys=False)
    exact = s.search(node, k=5, prune=False, with_keys=False)
    assert list(zip(pruned["gid"], pruned["score"])) == list(
        zip(exact["gid"], exact["score"])
    )
    # brute oracle: phrase freq via positions, one Dirichlet scorer per
    # member term at that freq, float32 running sum
    hits = {}
    for gid in ph["gid"]:
        doc_auxes = []
        for t in ("table", "scan"):
            post_t = s.postings(t).toPandas()
            ttf_t = int(post_t["freq"].sum())
            doc_auxes.append(sim.aux(len(post_t), max(dc, 1), ttf_t, sttf))
        row = ph[ph["gid"] == gid].iloc[0]
        hits[gid] = (doc_auxes, row["score"])
    post_a = s.postings("table").toPandas().set_index("gid")
    for gid, (auxes, got_score) in hits.items():
        nb_g = np.uint8(post_a.loc[gid, "norm_b"])
        dl_g = np.float64(LENGTH_TABLE.astype(np.float32)[nb_g])
        # recover the phrase freq the engine used: invert one term's score
        # is fragile; instead recompute the running sum over every
        # plausible freq and check the reported score is achieved
        found = False
        for pf in range(1, 50):
            acc = np.float32(0.0)
            for mp in auxes:
                sc = np.log(1.0 + np.float64(pf) / np.float64(mp)) \
                    + np.log(2000.0 / (dl_g + 2000.0))
                acc = acc + np.float32(max(sc, 0.0))
            if np.float32(acc) == np.float32(got_score):
                found = True
                break
        assert found, f"gid {gid}: score {got_score} not a valid LM sum"


def test_dfr_similarity(spark):
    """DFRSimilarity(G, L, H2) through the pluggable protocol: per-term
    (A, B, avgfl) aux, decoded-length norms, all-double scoring with one
    float cast — and pruning stays exact under the swapped bounds."""
    import math

    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import DFRSim
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    sim = DFRSim()
    s = Searcher(spark, idx, similarity=sim)
    got = s.search("merge", k=10, with_keys=False)
    assert len(got) > 0
    # brute oracle with the reference's double op points
    post = s.postings("merge").toPandas()
    dc, sttf = s.field_stats("text")
    ttf = int(post["freq"].sum())
    F = ttf + 1.0
    lam = F / (dc + F)
    log2 = math.log(2.0)
    A = math.log(lam + 1.0) / log2
    B = math.log((1.0 + lam) / lam) / log2
    avgfl = sttf / float(dc)
    nb = post["norm_b"].to_numpy(np.uint8)
    dl = LENGTH_TABLE.astype(np.float32)[nb].astype(np.float64)
    tfn = post["freq"].to_numpy(np.float64) * (np.log(1.0 + avgfl / dl) / log2)
    sc = (B - (B - A) / (1.0 + tfn)).astype(np.float32)
    order = sorted(zip(post["gid"], sc), key=lambda r: (-r[1], r[0]))[:10]
    assert list(zip(got["gid"], got["score"])) == order
    # matches the sim's own aux (bit-identical constants)
    # aux now carries the full matrix context (A, B, ae, avgfl, h3_r);
    # the default (G, L, H2) components must stay bit-identical
    got_aux = sim.aux(len(post), max(dc, 1), ttf, sttf)
    assert got_aux[:2] == (A, B) and got_aux[2] == 1.0 and got_aux[3] == avgfl
    # pruning under the swapped similarity never changes results
    node = BoolQ(should=(TermQ("merge"), TermQ("scan")))
    pruned = s.search(node, k=10, with_keys=False)
    exact = s.search(node, k=10, prune=False, with_keys=False)
    assert list(zip(pruned["gid"], pruned["score"])) == list(
        zip(exact["gid"], exact["score"])
    )
    # phrase composite: MultiSimScorer float32 running sum, exact under
    # pruning (SimilarityBase fold, same as the LM sims)
    from lucene_spark.plans.query import PhraseQ

    ph_node = PhraseQ(terms=("table", "scan"), offsets=(0, 1))
    p_pr = s.search(ph_node, k=5, with_keys=False)
    p_ex = s.search(ph_node, k=5, prune=False, with_keys=False)
    assert len(p_pr) > 0
    assert list(zip(p_pr["gid"], p_pr["score"])) == list(
        zip(p_ex["gid"], p_ex["score"])
    )
    # explain renders the DFRSimilarity tree; root score == the top hit
    ex = s.explain("merge").set_index("component")["value"]
    assert np.float32(ex["score"]) == np.float32(got["score"].iloc[0])
    assert np.float32(ex["after effect L, computed as 1 / (tfn + 1)"]) > 0


def test_ib_similarity(spark):
    """IBSimilarity(LL, D, H2): lambda is LambdaDF's float32 (n+1)/(N+1),
    H2-normalized tf, -ln(lambda/(tfn+lambda)) in double — and pruning
    stays exact under the swapped bounds."""
    import math

    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import IBSim
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    sim = IBSim()
    s = Searcher(spark, idx, similarity=sim)
    got = s.search("merge", k=10, with_keys=False)
    assert len(got) > 0
    post = s.postings("merge").toPandas()
    dc, sttf = s.field_stats("text")
    lam = float(np.float32((len(post) + 1.0) / (dc + 1.0)))
    avgfl = sttf / float(dc)
    log2 = math.log(2.0)
    nb = post["norm_b"].to_numpy(np.uint8)
    dl = LENGTH_TABLE.astype(np.float32)[nb].astype(np.float64)
    tfn = post["freq"].to_numpy(np.float64) * (np.log(1.0 + avgfl / dl) / log2)
    sc = (-np.log(lam / (tfn + lam))).astype(np.float32)
    order = sorted(zip(post["gid"], sc), key=lambda r: (-r[1], r[0]))[:10]
    assert list(zip(got["gid"], got["score"])) == order
    node = BoolQ(should=(TermQ("merge"), TermQ("scan")))
    pruned = s.search(node, k=10, with_keys=False)
    exact = s.search(node, k=10, prune=False, with_keys=False)
    assert list(zip(pruned["gid"], pruned["score"])) == list(
        zip(exact["gid"], exact["score"])
    )
    # explain renders the IBSimilarity tree; root score == the top hit
    ex = s.explain("merge").set_index("component")["value"]
    assert np.float32(ex["score"]) == np.float32(got["score"].iloc[0])
    assert float(ex["lambda(w), computed as (n + 1) / (N + 1)"]) == lam


def test_dfi_similarity(spark):
    """DFISimilarity(IndependenceStandardized): expected = (F+1)*dl/(T+1),
    score 0 when freq <= expected else log2((f-e)/sqrt(e) + 1), all
    double with one float cast — pruning exact under the swapped bounds
    (core/search/similarities/DFISimilarity.java:58-70)."""
    import math

    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import DFISim
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    sim = DFISim()
    s = Searcher(spark, idx, similarity=sim)
    got = s.search("merge", k=10, with_keys=False)
    assert len(got) > 0
    post = s.postings("merge").toPandas()
    dc, sttf = s.field_stats("text")
    ttf = int(post["freq"].sum())
    ratio = (ttf + 1.0) / (sttf + 1.0)
    nb = post["norm_b"].to_numpy(np.uint8)
    dl = LENGTH_TABLE.astype(np.float32)[nb].astype(np.float64)
    f = post["freq"].to_numpy(np.float64)
    e = ratio * dl
    m = (f - e) / np.sqrt(e)
    sc = np.where(
        f <= e, 0.0, np.log(m + 1.0) / math.log(2.0)
    ).astype(np.float32)
    order = sorted(zip(post["gid"], sc), key=lambda r: (-r[1], r[0]))[:10]
    assert list(zip(got["gid"], got["score"])) == order
    assert sim.aux(len(post), max(dc, 1), ttf, sttf) == ratio
    # every measure variant keeps pruning exact
    for meas in ("standardized", "chisquared", "saturated"):
        sm = Searcher(spark, idx, similarity=DFISim(meas))
        node = BoolQ(should=(TermQ("merge"), TermQ("scan")))
        pruned = sm.search(node, k=10, with_keys=False)
        exact = sm.search(node, k=10, prune=False, with_keys=False)
        assert list(zip(pruned["gid"], pruned["score"])) == list(
            zip(exact["gid"], exact["score"])
        )
    # explain renders the DFISimilarity tree; root score == the top hit
    ex = s.explain("merge").set_index("component")["value"]
    assert np.float32(ex["score"]) == np.float32(got["score"].iloc[0])
    assert ex["T, total number of tokens in the field"] == float(sttf)
    with pytest.raises(ValueError):
        DFISim("nonsense")


def test_axiomatic_f2exp_similarity(spark):
    """AxiomaticF2EXP(s=0.25, k=0.35): score = tfln * idf with
    tfln = f/(f + s + s*dl/avgdl) and idf = ((N+1)/n)^k, double
    throughout, one float cast — pruning exact
    (core/search/similarities/Axiomatic.java:95-106)."""
    import math

    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import AxiomaticF2EXPSim
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    sim = AxiomaticF2EXPSim()
    s = Searcher(spark, idx, similarity=sim)
    got = s.search("merge", k=10, with_keys=False)
    assert len(got) > 0
    post = s.postings("merge").toPandas()
    dc, sttf = s.field_stats("text")
    n_docs = max(dc, 1)
    idf = math.pow((n_docs + 1.0) / len(post), 0.35)
    avgdl = sttf / float(n_docs)
    nb = post["norm_b"].to_numpy(np.uint8)
    dl = LENGTH_TABLE.astype(np.float32)[nb].astype(np.float64)
    f = post["freq"].to_numpy(np.float64)
    tfln = f / (f + 0.25 + 0.25 * dl / avgdl)
    sc = np.maximum(tfln * idf, 0.0).astype(np.float32)
    order = sorted(zip(post["gid"], sc), key=lambda r: (-r[1], r[0]))[:10]
    assert list(zip(got["gid"], got["score"])) == order
    node = BoolQ(should=(TermQ("merge"), TermQ("scan")))
    pruned = s.search(node, k=10, with_keys=False)
    exact = s.search(node, k=10, prune=False, with_keys=False)
    assert list(zip(pruned["gid"], pruned["score"])) == list(
        zip(exact["gid"], exact["score"])
    )
    # explain renders the Axiomatic component tree
    ex = s.explain("merge").set_index("component")["value"]
    assert np.float32(ex["score"]) == np.float32(got["score"].iloc[0])
    assert ex["tf, term frequency, equals to 1"] == 1.0
    # ctor bounds per Axiomatic.java:54-59
    with pytest.raises(ValueError):
        AxiomaticF2EXPSim(s=1.5)
    with pytest.raises(ValueError):
        AxiomaticF2EXPSim(k=-0.1)


def test_axiomatic_f2log_similarity(spark):
    """AxiomaticF2LOG(s=0.25): F2EXP's tfln with idf = ln((N+1)/n)
    (core/search/similarities/AxiomaticF2LOG.java:49-75)."""
    import math

    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import AxiomaticF2LOGSim
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    sim = AxiomaticF2LOGSim()
    s = Searcher(spark, idx, similarity=sim)
    got = s.search("merge", k=10, with_keys=False)
    assert len(got) > 0
    post = s.postings("merge").toPandas()
    dc, sttf = s.field_stats("text")
    n_docs = max(dc, 1)
    idf = math.log((n_docs + 1.0) / len(post))
    avgdl = sttf / float(n_docs)
    nb = post["norm_b"].to_numpy(np.uint8)
    dl = LENGTH_TABLE.astype(np.float32)[nb].astype(np.float64)
    f = post["freq"].to_numpy(np.float64)
    tfln = f / (f + 0.25 + 0.25 * dl / avgdl)
    sc = np.maximum(tfln * idf, 0.0).astype(np.float32)
    order = sorted(zip(post["gid"], sc), key=lambda r: (-r[1], r[0]))[:10]
    assert list(zip(got["gid"], got["score"])) == order
    node = BoolQ(should=(TermQ("merge"), TermQ("scan")))
    pruned = s.search(node, k=10, with_keys=False)
    exact = s.search(node, k=10, prune=False, with_keys=False)
    assert list(zip(pruned["gid"], pruned["score"])) == list(
        zip(exact["gid"], exact["score"])
    )
    # explain: the F2LOG idf leaf replaces F2EXP's pow text
    ex = s.explain("merge").set_index("component")["value"]
    assert np.float32(ex["score"]) == np.float32(got["score"].iloc[0])
    assert np.float32(
        ex["idf, inverted document frequency computed as "
           "Math.log((N + 1) / n)"]
    ) == np.float32(idf)


def test_boolean_similarity(spark):
    """BooleanSimilarity: every hit scores the boost, docID tie-break."""
    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import BooleanSim
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans.query import BoostQ

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    s = Searcher(spark, idx, similarity=BooleanSim())
    got = s.search("merge", k=10, with_keys=False)
    post = s.postings("merge").toPandas()
    assert list(got.gid) == sorted(post["gid"])[:10]
    assert set(np.float32(got.score)) == {np.float32(1.0)}
    b = s.search(BoostQ(TermQ("merge"), 2.5), k=5, with_keys=False)
    assert set(np.float32(b.score)) == {np.float32(2.5)}


def test_lm_jelinek_mercer_similarity(spark):
    """LMJelinekMercerSimilarity: aux = f32(lambda*p), decoded-length
    norms, no clamp; pruning stays exact under the swapped bounds."""
    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import LMJelinekMercerSim
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    sim = LMJelinekMercerSim(lam=0.3)
    s = Searcher(spark, idx, similarity=sim)
    got = s.search("merge", k=10, with_keys=False)
    post = s.postings("merge").toPandas()
    dc, sttf = s.field_stats("text")
    aux = sim.aux(len(post), max(dc, 1), int(post["freq"].sum()), sttf)
    nb = post["norm_b"].to_numpy(np.uint8)
    dl = LENGTH_TABLE.astype(np.float32)[nb].astype(np.float64)
    one_minus = np.float32(np.float32(1.0) - np.float32(0.3))
    sc = np.log(
        1.0 + (np.float64(one_minus) * post["freq"].to_numpy(np.float64) / dl)
        / np.float64(aux)
    ).astype(np.float32)
    order = sorted(zip(post["gid"], sc), key=lambda r: (-r[1], r[0]))[:10]
    assert list(zip(got["gid"], got["score"])) == order
    node = BoolQ(should=(TermQ("merge"), TermQ("scan")))
    pruned = s.search(node, k=10, with_keys=False)
    exact = s.search(node, k=10, prune=False, with_keys=False)
    assert list(zip(pruned["gid"], pruned["score"])) == list(
        zip(exact["gid"], exact["score"])
    )


def test_function_score_query(spark):
    """FunctionScoreQuery.boostByValue: per-doc double value times the
    child score, one float cast; reranking exact under pruning and for
    boolean children (the value can invert the child's order)."""
    import __spark_entry__ as entry
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans.query import FunctionScoreQ

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    s = Searcher(spark, idx)
    for value, table in (
        ("log1p_len", np.log(1.0 + LENGTH_TABLE.astype(np.float64))),
        ("inv_len", 1.0 / (1.0 + LENGTH_TABLE.astype(np.float64))),
    ):
        node = FunctionScoreQ(TermQ("merge"), value=value)
        got = s.search(node, k=10, with_keys=False)
        post = s.postings("merge").toPandas()
        base = s.search("merge", k=10_000, prune=False, with_keys=False)
        nb = dict(zip(post["gid"], post["norm_b"]))
        want = sorted(
            (
                (int(g), float(np.float32(table[nb[g]] * np.float64(sc))))
                for g, sc in zip(base.gid, base.score)
            ),
            key=lambda r: (-r[1], r[0]),
        )[:10]
        assert [(int(g), float(s_)) for g, s_ in zip(got.gid, got.score)] == want
    # boolean child + pruned == exhaustive
    node = FunctionScoreQ(
        BoolQ(should=(TermQ("merge"), TermQ("scan"))), value="inv_len"
    )
    pruned = s.search(node, k=10, with_keys=False)
    exact = s.search(node, k=10, prune=False, with_keys=False)
    assert list(zip(pruned.gid, pruned.score)) == list(zip(exact.gid, exact.score))
    with pytest.raises(ValueError):
        FunctionScoreQ(TermQ("merge"), value="cube_len")


# ------------------------------------------------- range facets (round 4)


def test_range_facet_semantics(searcher):
    """LongRangeFacetCounts fine print: overlapping ranges each count the
    doc, empty ranges still emit n=0, and the min/max-inclusive flags
    shift boundary docs exactly (LongRange ctor semantics)."""
    dl = {
        int(r["gid"]): int(r["doc_len"])
        for r in searcher.doc_rows().select("gid", "doc_len").collect()
    }
    cand = {
        int(r["gid"])
        for r in searcher.candidates(TermQ("merge"), prune=False).collect()
    }
    lens = sorted(dl[g] for g in cand)
    lo, hi = lens[len(lens) // 4], lens[3 * len(lens) // 4]
    got = {
        r["label"]: int(r["n"])
        for r in searcher.range_facet_counts(
            TermQ("merge"),
            [
                ("all", 0, 10**9),
                ("band", lo, hi),            # inclusive both ends
                ("band_open", lo, hi, False, False),
                ("overlap", 0, hi),          # overlaps band — both count
                ("empty", 10**6, 10**7),
            ],
        ).collect()
    }
    assert got["all"] == len(cand)
    assert got["band"] == sum(1 for v in lens if lo <= v <= hi)
    assert got["band_open"] == sum(1 for v in lens if lo < v < hi)
    assert got["overlap"] == sum(1 for v in lens if v <= hi)
    assert got["empty"] == 0
    # overlapping ranges really double-count: totals exceed the match set
    assert got["band"] + got["overlap"] > len(cand)


def test_range_facet_validates(searcher):
    with pytest.raises(ValueError, match="non-empty"):
        searcher.range_facet_counts(TermQ("merge"), [])


def test_dfr_matrix(spark):
    """The full DFR matrix (BasicModel x AfterEffect x Normalization):
    every combination scores, pruned == exhaustive (the swapped bounds
    stay exact under each model's monotone rewrite), and the ctor
    validations mirror the reference's."""
    import pytest as _pt

    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import DFRSim
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    for bm in ("G", "IF", "In", "Ine"):
        for ae in ("L", "B"):
            for nz in ("H1", "H3", "Z"):
                s = Searcher(
                    spark, idx,
                    similarity=DFRSim(basic_model=bm, after_effect=ae,
                                      normalization=nz),
                )
                a = s.search("merge OR window", k=10, with_keys=False)
                b = s.search("merge OR window", k=10, with_keys=False,
                             prune=False)
                assert a.values.tolist() == b.values.tolist(), (bm, ae, nz)
                assert len(a) == 10
    # explain renders for a non-default combination with exact leaf values
    s = Searcher(spark, idx, similarity=DFRSim(
        basic_model="Ine", after_effect="B", normalization="H1"))
    exp = s.explain("merge", int(s.search("merge", k=1,
                                          with_keys=False)["gid"][0]))
    txt = str(exp)
    assert "I(ne)" in txt or "basic model" in txt.lower()
    # ctor validation mirrors the reference
    with _pt.raises(ValueError, match="basic model"):
        DFRSim(basic_model="X")
    with _pt.raises(ValueError, match="after effect"):
        DFRSim(after_effect="Q")
    with _pt.raises(ValueError, match="z value"):
        DFRSim(normalization="Z", z=0.7)
    with _pt.raises(ValueError, match="mu"):
        DFRSim(normalization="H3", mu=-1.0)


def test_ib_matrix(spark):
    """The full IB matrix (Distribution x Lambda x Normalization): every
    combination scores with pruned == exhaustive, and ctor validation
    mirrors the reference."""
    import pytest as _pt

    import __spark_entry__ as entry
    from lucene_spark.functions.similarity import IBSim
    from lucene_spark.operators.search import Searcher

    idx = entry._index_for(spark, "/root/testdata/sf0.001")
    for dist in ("LL", "SPL"):
        for lo in ("DF", "TTF"):
            for nz in ("H1", "H3", "Z"):
                s = Searcher(
                    spark, idx,
                    similarity=IBSim(distribution=dist, lambda_of=lo,
                                     normalization=nz),
                )
                a = s.search("merge OR window", k=10, with_keys=False)
                b = s.search("merge OR window", k=10, with_keys=False,
                             prune=False)
                assert a.values.tolist() == b.values.tolist(), (dist, lo, nz)
                assert len(a) == 10
    # explain renders a non-default combination
    s = Searcher(spark, idx, similarity=IBSim(
        distribution="SPL", lambda_of="TTF", normalization="H1"))
    ex = s.explain("merge").set_index("component")["value"]
    assert any("SPL" in c for c in ex.index)
    with _pt.raises(ValueError, match="distribution"):
        IBSim(distribution="X")
    with _pt.raises(ValueError, match="lambda"):
        IBSim(lambda_of="Q")


def test_dfr_ib_normalization_bounds():
    """NormalizationH1 takes c >= 0 and H3 mu >= 0; H2 keeps c > 0."""
    from lucene_spark.functions.similarity import DFRSim, IBSim

    for cls in (DFRSim, IBSim):
        cls(normalization="H1", c=0.0)
        cls(normalization="H3", mu=0.0)
        with pytest.raises(ValueError, match="c must be >= 0"):
            cls(normalization="H1", c=-0.5)
        with pytest.raises(ValueError, match="c must be > 0"):
            cls(normalization="H2", c=0.0)
        with pytest.raises(ValueError, match="mu"):
            cls(normalization="H3", mu=-1.0)
