"""Index-time synonym expansion (SynonymGraphFilter + flatten semantics).

Reference: analysis/common/.../synonym/SynonymGraphFilter.java,
SynonymMap.java; BM25Similarity.discountOverlaps for the norm contract.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_spark.functions.analysis import analyze_batch
from lucene_spark.functions.synonyms import SynonymMap, expand_synonyms
from lucene_spark.operators import indexer
from lucene_spark.operators.search import Searcher


def _stream(batch):
    return sorted(
        zip(batch.tok_doc_idx.tolist(), batch.tok_positions.tolist(),
            batch.tok_terms.tolist())
    )


def test_single_token_stacking():
    b = analyze_batch(["alpha beta alpha"])
    out = expand_synonyms(b, SynonymMap({"alpha": "zz"}))
    assert _stream(out) == [
        (0, 0, "alpha"), (0, 0, "zz"), (0, 1, "beta"),
        (0, 2, "alpha"), (0, 2, "zz"),
    ]
    # norms unchanged: overlaps discounted
    assert out.doc_lens.tolist() == b.doc_lens.tolist() == [3]


def test_multi_output_rule():
    b = analyze_batch(["alpha beta"])
    out = expand_synonyms(b, SynonymMap({"alpha": ("x1", "x2")}))
    assert _stream(out) == [
        (0, 0, "alpha"), (0, 0, "x1"), (0, 0, "x2"), (0, 1, "beta"),
    ]


def test_multi_token_input_consecutive_only():
    # 'the' is a stopword: a hole between kappa and gamma breaks adjacency
    b = analyze_batch(["kappa gamma end", "kappa the gamma end"])
    out = expand_synonyms(b, SynonymMap({"kappa gamma": "kg"}))
    assert (0, 0, "kg") in _stream(out)
    assert not any(t == "kg" and d == 1 for d, _, t in _stream(out))


def test_replace_without_orig():
    b = analyze_batch(["alpha beta"])
    out = expand_synonyms(b, SynonymMap({"alpha": "zz"}, include_orig=False))
    assert _stream(out) == [(0, 0, "zz"), (0, 1, "beta")]
    assert out.doc_lens.tolist() == [2]
    with pytest.raises(ValueError, match="single-token"):
        SynonymMap({"a b": "c"}, include_orig=False)


def test_overlapping_rules_leftmost_wins():
    """SynonymGraphFilter matches left to right and consumes its input:
    on ``alpha beta gamma`` the rule starting at alpha wins and beta can
    no longer start ``beta gamma``."""
    b = analyze_batch(["alpha beta gamma"])
    out = expand_synonyms(
        b, SynonymMap({"alpha beta": "x", "beta gamma": "y"})
    )
    assert _stream(out) == [
        (0, 0, "alpha"), (0, 0, "x"), (0, 1, "beta"), (0, 2, "gamma"),
    ]


def test_overlapping_rules_longest_wins():
    b = analyze_batch(["new york city", "new york state"])
    out = expand_synonyms(
        b, SynonymMap({"new york": "ny", "new york city": "nyc"})
    )
    injected = [(d, p, t) for d, p, t in _stream(out)
                if t in ("ny", "nyc")]
    assert injected == [(0, 0, "nyc"), (1, 0, "ny")]


def test_fingerprint_stable():
    a = SynonymMap({"x": "y", "a b": ("c", "d")})
    b = SynonymMap({"a b": ["c", "d"], "x": ("y",)})
    assert a.fingerprint() == b.fingerprint()
    assert a.fingerprint() != SynonymMap({"x": "y"}).fingerprint()


# ---------------------------------------------------------------------------
# End-to-end over a small corpus
# ---------------------------------------------------------------------------

N_DOCS = 200
SYN = SynonymMap({
    "merge": "zsynmerge",
    "scan": "zsynscan",
    "table scan": "tblscan",
})


@pytest.fixture(scope="module")
def corpus_pdf():
    from lucene_spark.sources.webtext import generate_pages_pdf

    rng = np.random.RandomState(3)
    words = ["merge", "scan", "table", "index", "the", "sort", "row"]
    texts = [
        " ".join(rng.choice(words, size=rng.randint(5, 40)))
        for _ in range(N_DOCS)
    ]
    return pd.DataFrame({
        "gid": np.arange(N_DOCS, dtype=np.int64),
        "url": [f"u{i}" for i in range(N_DOCS)],
        "text": texts,
    })


@pytest.fixture(scope="module")
def plain_index(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_plain_syn"))
    indexer.build_index(
        spark, spark.createDataFrame(corpus_pdf), d,
        key_col="url", text_col="text", gid_col="gid", n_segments=3,
    )
    return d


@pytest.fixture(scope="module")
def syn_index(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_syn"))
    indexer.build_index(
        spark, spark.createDataFrame(corpus_pdf), d,
        key_col="url", text_col="text", gid_col="gid", n_segments=3,
        synonyms=SYN,
    )
    return d


def test_synonym_term_scores_match_original(spark, plain_index, syn_index):
    a = Searcher(spark, syn_index).search("zsynmerge", k=10, with_keys=False)
    b = Searcher(spark, plain_index).search("merge", k=10, with_keys=False)
    assert a.values.tolist() == b.values.tolist()  # float32-exact


def test_original_term_unchanged_by_expansion(spark, plain_index, syn_index):
    a = Searcher(spark, syn_index).search("merge", k=10, with_keys=False)
    b = Searcher(spark, plain_index).search("merge", k=10, with_keys=False)
    assert a.values.tolist() == b.values.tolist()


def test_phrase_through_synonym(spark, plain_index, syn_index):
    # "table zsynscan" must match exactly where "table scan" matches
    a = Searcher(spark, syn_index).search('"table zsynscan"', k=10,
                                          with_keys=False)
    b = Searcher(spark, plain_index).search('"table scan"', k=10,
                                            with_keys=False)
    assert a.values.tolist() == b.values.tolist()


def test_multiword_synonym_postings(spark, corpus_pdf, syn_index):
    got = (
        Searcher(spark, syn_index).postings("tblscan")
        .orderBy("gid").toPandas()
    )
    want = {}
    for gid, text in zip(corpus_pdf["gid"], corpus_pdf["text"]):
        toks = [t for t in text.split() if t]
        # Lucene positions: stop holes kept — recompute post-stop positions
        from lucene_spark.functions.analysis import ENGLISH_STOP_WORDS

        pts = [(p, t) for p, t in enumerate(toks)
               if t not in ENGLISH_STOP_WORDS]
        pos_of = dict(pts)
        cnt = sum(
            1 for p, t in pts
            if t == "table" and pos_of.get(p + 1) == "scan"
        )
        if cnt:
            want[int(gid)] = cnt
    assert dict(zip(got["gid"], got["freq"])) == want and want


def test_append_requires_same_map(spark, corpus_pdf, syn_index):
    df = spark.createDataFrame(corpus_pdf)
    with pytest.raises(ValueError, match="synonyms"):
        indexer.build_index(
            spark, df, syn_index, key_col="url", text_col="text",
            gid_col="gid", n_segments=2, append=True,
        )
    with pytest.raises(ValueError, match="synonyms"):
        indexer.build_index(
            spark, df, syn_index, key_col="url", text_col="text",
            gid_col="gid", n_segments=2, append=True,
            synonyms=SynonymMap({"merge": "other"}),
        )
