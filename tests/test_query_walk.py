"""The field-driven query-tree walk (plans/query.py ``children`` /
``map_keys``): every node class declares its key-bearing fields once, and
``qualify_node`` / ``map_terms`` / ``query_terms`` carry every other field
through unchanged."""

import dataclasses

import pytest

from lucene_spark.plans import intervals as IV
from lucene_spark.plans import query as Q
from lucene_spark.plans.fields import DEFAULT_FIELD, qualify

NEAR = Q.SpanNearQ(("beta", "gamma"), 1)
GAPPED = Q.SpanNearQ(
    ("alpha", Q.SpanGap(2), NEAR, Q.SpanOrQ(("delta", "alpha"))), slop=3)

# one instance of every node class, a non-default value in every field
NODES = [
    Q.TermQ("alpha"),
    Q.PhraseQ(("alpha", "beta"), (0, 2)),
    Q.MultiPhraseQ((("alpha", "alfa"), ("beta",)), (0, 1)),
    Q.BoolQ(must=(Q.TermQ("m"),),
            should=(Q.TermQ("s"), Q.SynonymQ(("x", "y"))), must_not=(Q.TermQ("n"),), msm=1, const_add=1.0, n_free_opt=1,
            filter=(Q.TermQ("f"),)),
    Q.PrefixQ("alp"),
    Q.WildcardQ("al*a"),
    Q.RangeQ("alpha", "beta", include_lo=False, include_hi=False),
    Q.FuzzyQ("alpha", max_edits=1, max_expansions=10, prefix_length=1,
             transpositions=False),
    Q.RegexpQ("al.*"),
    Q.SynonymQ(("alpha", "alfa")),
    Q.DisMaxQ((Q.TermQ("alpha"), Q.TermQ("beta")), tie=0.2),
    Q.BoostQ(Q.TermQ("alpha"), boost=2.0),
    Q.NearQ(("alpha", "beta"), slop=2),
    Q.SloppyQ(("alpha", "beta"), (0, 1), slop=3),
    Q.ConstScoreQ(Q.TermQ("alpha"), boost=3.0),
    Q.MatchAllQ(),
    Q.TermInSetQ(("alpha", "beta"), boost=2.0),
    Q.TermSetRefQ(Q.PrefixQ("al"), boost=2.0),
    Q.BlendedQ(("alpha", "beta"), (1.0, 0.5), dismax=True, tie=0.3),
    Q.FunctionScoreQ(Q.TermQ("alpha"), value="inv_len", field="title"),
    Q.DocValuesRangeQ(1, 5, strategy="dv"),
    Q.SpanFirstQ("alpha", 3),
    Q.SpanNotQ(Q.SpanNearQ(("alpha", Q.SpanOrQ(("beta", "gamma"))), 1),
               Q.SpanOrQ(("delta",)), pre=1, post=2),
    Q.SpanOrQ(("alpha", "beta")),
    GAPPED,
    Q.SpanNearQ(("alpha", Q.SpanOrQ(("delta", "eta")), NEAR), slop=3,
                in_order=False),
    Q.SpanPayloadCheckQ(Q.SpanNearQ(("alpha", "beta"), 1), (1, 2), op="gte"),
    Q.SpanPositionRangeQ("alpha", 1, 4),
    Q.SpanContainingQ(NEAR, Q.SpanOrQ(("gamma", "delta"))),
    Q.SpanWithinQ(NEAR, "delta"),
    Q.SpanMultiQ(Q.PrefixQ("al"), top_terms=3),
    Q.SpanGap(2),
    Q.IntervalQ(("alpha", "beta"), ordered=False, max_gaps=2, pivot=2.0),
    Q.IntervalExprQ(IV.ordered(IV.term("alpha"), IV.term("beta")), pivot=2.0),
]


def test_every_node_class_is_covered():
    classes = {getattr(Q, n) for n in Q.__all__
               if isinstance(getattr(Q, n), type)}
    assert classes == {type(q) for q in NODES}


@pytest.mark.parametrize("q", NODES, ids=lambda q: type(q).__name__)
def test_default_field_and_identity_maps_change_nothing(q):
    assert Q.map_terms(q, lambda t: t) == q
    assert Q.qualify_node(q, DEFAULT_FIELD) == q


def test_default_field_closes_open_range_bounds():
    # the one documented hook: an open bound closes at the field's key span
    assert Q.qualify_node(Q.RangeQ(None, "beta"), DEFAULT_FIELD) == \
        Q.RangeQ("", "beta")
    assert Q.qualify_node(Q.RangeQ("alpha", None), "title") == \
        Q.RangeQ(qualify("title", "alpha"), qualify("title", "\uffff"))


@pytest.mark.parametrize("q", NODES, ids=lambda q: type(q).__name__)
def test_qualify_changes_only_key_fields(q):
    out = Q.qualify_node(q, "title")
    assert type(out) is type(q)
    for f in dataclasses.fields(q):
        before, after = getattr(q, f.name), getattr(out, f.name)
        if "walk" in f.metadata:
            assert after != before, f.name
        else:
            assert after == before, f.name


@pytest.mark.parametrize("q", NODES, ids=lambda q: type(q).__name__)
def test_query_terms_of_qualified_tree(q):
    try:
        want = {qualify("title", t) for t in Q.query_terms(q)}
    except TypeError:
        # multi-term patterns have no fixed terms until rewrite
        with pytest.raises(TypeError):
            Q.query_terms(Q.qualify_node(q, "title"))
        return
    assert Q.query_terms(Q.qualify_node(q, "title")) == want


def test_qualify_keeps_unordered_near_and_dismax_blend():
    near = Q.qualify_node(Q.SpanNearQ(("a", "b"), 2, in_order=False), "title")
    assert near.in_order is False and near.slop == 2
    bl = Q.qualify_node(Q.BlendedQ(("a", "b"), (1.0, 0.5), dismax=True,
                                   tie=0.3), "title")
    assert bl.dismax is True and bl.tie == 0.3


def test_map_terms_maps_both_span_not_sides_as_terms():
    got = Q.map_terms(Q.SpanNotQ("a", "b", 1, 2), str.upper)
    assert got == Q.SpanNotQ("A", "B", 1, 2)


def test_map_terms_leaves_patterns_alone():
    q = Q.BoolQ(should=(Q.TermQ("a"), Q.PrefixQ("pre"),
                        Q.SpanMultiQ(Q.WildcardQ("w*"))))
    assert Q.map_terms(q, str.upper) == Q.BoolQ(
        should=(Q.TermQ("A"), Q.PrefixQ("pre"),
                Q.SpanMultiQ(Q.WildcardQ("w*"))))


def test_children_and_term_keys():
    assert Q.children(GAPPED) == [Q.SpanGap(2), NEAR,
                                  Q.SpanOrQ(("delta", "alpha"))]
    assert GAPPED.terms == ("alpha", "beta", "gamma", "delta", "alpha")
    # TermSetRefQ's source is opaque: no children, no terms
    ref = Q.TermSetRefQ(Q.PrefixQ("al"))
    assert Q.children(ref) == [] and Q.query_terms(ref) == set()


# span filters over a composite source: the walk reaches the nested keys
SOURCE = Q.SpanNearQ(("alpha", Q.SpanOrQ(("beta", "gamma"))), 2)
WRAPPERS = [
    Q.SpanFirstQ(SOURCE, 5),
    Q.SpanPositionRangeQ(SOURCE, 1, 6),
    Q.SpanPayloadCheckQ(SOURCE, (1, 2), op="lt"),
]


@pytest.mark.parametrize("q", WRAPPERS, ids=lambda q: type(q).__name__)
def test_span_filters_reach_nested_keys(q):
    assert Q.term_keys(q) == ("alpha", "beta", "gamma")
    up = Q.map_terms(q, str.upper)
    assert up == dataclasses.replace(q, match=Q.SpanNearQ(
        ("ALPHA", Q.SpanOrQ(("BETA", "GAMMA"))), 2))
    titled = Q.qualify_node(q, "title")
    assert Q.term_keys(titled) == tuple(
        qualify("title", t) for t in ("alpha", "beta", "gamma"))
    assert titled.match.slop == 2 and Q.children(titled) == [titled.match]
