"""MappingCharFilter / NormalizeCharMap — vectors ported from the
reference's TestMappingCharFilter (method names in comments)."""

import numpy as np
import pandas as pd
import pytest

from lucene_spark.functions.charfilter import (
    NormalizeCharMap,
    correct_offset,
    mapping_char_filter,
    mapping_char_filter_batch,
    mapping_char_filter_offsets,
)
from lucene_spark.operators import indexer

NORM = NormalizeCharMap({
    "aa": "a", "bbb": "b", "cccc": "cc",
    "h": "i", "j": "jj", "k": "kkk", "ll": "llll",
    "empty": "",
    "\U0001D122": "fclef",          # non-BMP match
    "！": "full-width-exclamation",
})


def test_basic_replacements():
    # testNothingChange / test1to1 / test1to2 / test1to3 / test2to4 ...
    assert mapping_char_filter("x", NORM) == "x"
    assert mapping_char_filter("h", NORM) == "i"
    assert mapping_char_filter("j", NORM) == "jj"
    assert mapping_char_filter("k", NORM) == "kkk"
    assert mapping_char_filter("ll", NORM) == "llll"
    assert mapping_char_filter("aa", NORM) == "a"
    assert mapping_char_filter("bbb", NORM) == "b"
    assert mapping_char_filter("cccc", NORM) == "cc"
    assert mapping_char_filter("empty", NORM) == ""
    assert mapping_char_filter("\U0001D122", NORM) == "fclef"
    assert mapping_char_filter("！", NORM) == "full-width-exclamation"


def test_longest_match_wins():
    # 'aa' before 'a...': greedy longest match at each position
    m = NormalizeCharMap({"a": "x", "aa": "yy"})
    assert mapping_char_filter("aaa", m) == "yyx"
    # replacements are not re-scanned
    m2 = NormalizeCharMap({"a": "b", "b": "c"})
    assert mapping_char_filter("ab", m2) == "bc"


def test_token_stream_offsets():  # testTokenStream
    text = "h i j k ll cccc bbb aa"
    out, pos, diff = mapping_char_filter_offsets(text, NORM)
    assert out == "i i jj kkk llll cc b a"
    want = [("i", 0, 1), ("i", 2, 3), ("jj", 4, 5), ("kkk", 6, 7),
            ("llll", 8, 10), ("cc", 11, 15), ("b", 16, 19), ("a", 20, 22)]
    at = 0
    for tok in out.split(" "):
        w = want.pop(0)
        assert tok == w[0]
        assert correct_offset(at, pos, diff) == w[1], tok
        assert correct_offset(at + len(tok), pos, diff) == w[2], tok
        at += len(tok) + 1


def test_chained():  # testChained
    text = "aaaa ll h"
    out1, p1, d1 = mapping_char_filter_offsets(text, NORM)
    assert out1 == "aa llll i"
    out2, p2, d2 = mapping_char_filter_offsets(out1, NORM)
    assert out2 == "a llllllll i"
    # token offsets correct through the OUTER map then the inner one
    want = [("a", 0, 4), ("llllllll", 5, 7), ("i", 8, 9)]
    at = 0
    for tok in out2.split(" "):
        w = want.pop(0)
        assert tok == w[0]
        s = correct_offset(correct_offset(at, p2, d2), p1, d1)
        e = correct_offset(correct_offset(at + len(tok), p2, d2), p1, d1)
        assert (s, e) == (w[1], w[2]), tok
        at += len(tok) + 1


def test_builder_validation():
    with pytest.raises(ValueError, match="empty string"):
        NormalizeCharMap({"": "x"})
    with pytest.raises(ValueError, match="already added"):
        NormalizeCharMap([("a", "b"), ("a", "c")])


def test_batch_and_nulls():
    arr = mapping_char_filter_batch(["h j", None, "plain"], NORM)
    assert arr.to_pylist() == ["i jj", None, "plain"]


def test_invert_with_mapping_chain():
    """char_filter chain: html strip then mapping, invert equivalence +
    offsets corrected through BOTH maps into the original html."""
    cmap = NormalizeCharMap({"colour": "color", "&": ""})
    html = ["<p>the colour red</p>", "<b>colour</b> colour x"]
    plain = ["\nthe color red\n", "color color x"]
    gids = np.arange(2, dtype=np.int64)
    keys = np.array(["a", "b"], dtype=object)
    a = indexer.invert_segment(
        0, gids, keys, pd.Series(html), char_filter=["html", cmap]
    )
    b = indexer.invert_segment(0, gids, keys, pd.Series(plain))
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )
    # offsets point into the ORIGINAL html: 'color' corrects to 'colour'
    fr = indexer.invert_segment(
        0, gids, keys, pd.Series(html), char_filter=["html", cmap],
        with_offsets=True,
    )
    assert fr is not None  # smoke: chain + offsets path executes


def test_fingerprints():
    f1 = indexer.char_filter_fingerprint("html")
    f2 = indexer.char_filter_fingerprint(["html", NORM])
    f3 = indexer.char_filter_fingerprint([NORM, "html"])
    assert f1 == "html" and f2 != f3 and f2.startswith("html+map:")
