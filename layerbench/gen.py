"""Seeded input generator for the benchmark (numpy only, no engine imports).

Shape follows the engine's web-text source: a 10k-term vocabulary
``t0000..t9999`` drawn with Zipf(1.1) weights, 30% English stopwords, and
LogNormal(5, 1) document lengths clipped to [1, 2000].

Two choices keep runs comparable across seeds:

* Randomness is counter-based (splitmix64 of seed, stream, row, token), so a
  row depends only on ``(seed, stream, n_rows, row)`` and never on how the
  table is chunked.
* Lengths are stratified: row ``i`` takes the LogNormal quantile at the
  middle of stratum ``perm[i]`` (a seeded permutation). The marginal
  distribution is still LogNormal(5, 1), and a table of ``n`` rows has the
  same multiset of lengths for every seed, so the work a run measures does
  not move with the seed; only the words and their order do.

Token ids ``0..VOCAB_SIZE-1`` are vocabulary terms, ``VOCAB_SIZE + k`` is
stopword ``k`` and ``MARKER_BASE + r`` is the refresh marker of round ``r``.
"""

from __future__ import annotations

from dataclasses import dataclass
from statistics import NormalDist

import numpy as np

VOCAB_SIZE = 10_000
ZIPF_S = 1.1
STOP_SHARE = 0.30
# Lucene's EnglishAnalyzer.ENGLISH_STOP_WORDS_SET
STOPWORDS = tuple(sorted(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
))
MARKER_BASE = VOCAB_SIZE + len(STOPWORDS)

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S)
_ZIPF_CDF /= _ZIPF_CDF[-1]
_NORMAL = NormalDist()


def term_name(tid: int) -> str:
    if tid < VOCAB_SIZE:
        return f"t{tid:04d}"
    if tid < MARKER_BASE:
        return STOPWORDS[tid - VOCAB_SIZE]
    return f"fresh{tid - MARKER_BASE:03d}x"


def is_stop(tids: np.ndarray) -> np.ndarray:
    return (tids >= VOCAB_SIZE) & (tids < MARKER_BASE)


def _mix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += np.uint64(0x9E3779B97F4A7C15)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


def _key(seed: int, stream: int, salt: int) -> np.uint64:
    k = _mix64(np.array([seed * 1_000_003 + stream], dtype=np.uint64))
    return _mix64(k ^ np.uint64(salt))[0]


def uniform(seed: int, stream: int, salt: int, ctr: np.ndarray) -> np.ndarray:
    """U[0,1) per counter value, for one (seed, stream, salt) key."""
    with np.errstate(over="ignore"):
        x = ctr.astype(np.uint64) * np.uint64(0xD1342543DE82EF95) + _key(seed, stream, salt)
    return (_mix64(x) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def zipf_ranks(u: np.ndarray) -> np.ndarray:
    return np.minimum(np.searchsorted(_ZIPF_CDF, u, side="right"), VOCAB_SIZE - 1)


@dataclass
class Docs:
    """Rows ``[start, end)`` of one generated table, as token id streams."""

    gids: np.ndarray     # int64 docIDs
    ptr: np.ndarray      # int64 offsets into ``toks``, len = n + 1
    toks: np.ndarray     # int32 token ids, stopwords included

    def __len__(self) -> int:
        return len(self.gids)

    def tokens(self, i: int) -> np.ndarray:
        return self.toks[self.ptr[i]:self.ptr[i + 1]]

    def texts(self) -> list[str]:
        """Each row's words joined by single spaces."""
        top = max(MARKER_BASE, int(self.toks.max(initial=0)) + 1)
        names = np.array([term_name(t) for t in range(top)], dtype=object)
        return [" ".join(names[self.tokens(i)].tolist()) for i in range(len(self))]

    def keys(self) -> list[str]:
        return [f"https://site{g % 97}.example/doc/{g}" for g in self.gids.tolist()]


def lengths(seed: int, stream: int, n_rows: int, rows: np.ndarray) -> np.ndarray:
    perm = np.random.default_rng([seed, stream, 17]).permutation(n_rows)
    z = np.array([_NORMAL.inv_cdf((k + 0.5) / n_rows) for k in perm[rows]])
    return np.clip(np.rint(np.exp(5.0 + z)), 1, 2000).astype(np.int64)


def docs(seed: int, stream: int, n_rows: int, start: int = 0, end: "int | None" = None,
         gid_base: int = 0, marker: "int | None" = None) -> Docs:
    """Rows ``[start, end)`` of the ``n_rows``-row table ``(seed, stream)``.

    ``marker``: put token ``MARKER_BASE + marker`` at one seeded position of
    every row (refresh rounds use it to find their own new docs).
    """
    end = n_rows if end is None else end
    rows = np.arange(start, end, dtype=np.int64)
    lens = lengths(seed, stream, n_rows, rows)
    ptr = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    doc_of = np.repeat(rows, lens)
    j = np.arange(ptr[-1], dtype=np.int64) - np.repeat(ptr[:-1], lens)
    ctr = doc_of.astype(np.uint64) * np.uint64(4096) + j.astype(np.uint64)
    stop = uniform(seed, stream, 2, ctr) < STOP_SHARE
    u = uniform(seed, stream, 3, ctr)
    toks = np.where(
        stop,
        VOCAB_SIZE + np.minimum((u * len(STOPWORDS)).astype(np.int64), len(STOPWORDS) - 1),
        zipf_ranks(u),
    ).astype(np.int32)
    if marker is not None:
        at = (uniform(seed, stream, 4, rows) * lens).astype(np.int64)
        toks[ptr[:-1] + at] = MARKER_BASE + marker
    return Docs(gids=gid_base + rows, ptr=ptr, toks=toks)


# ---- rich HTML pages (ingest) ---------------------------------------------

_INLINE = ("b", "em", "strong", "span", "code")
_SEPS = (" &amp; ", " &ndash; ", " &middot; ", " &#8212; ", " &nbsp; ")


def html_page(d: Docs, i: int) -> str:
    """One page whose visible words are exactly ``d.tokens(i)``, in order.

    The head carries a title (the first words), a script whose string holds
    markup, a style block and a comment; the body holds paragraphs with
    inline tags around single words, entity separators between words and a
    closing link whose text is the last word.
    """
    g = int(d.gids[i])
    words = [term_name(int(t)) for t in d.tokens(i)]
    h = int(_mix64(np.array([g + 0x5A5A], dtype=np.uint64))[0])
    n_title = min(len(words), 1 + h % 4)
    n_link = 1 if len(words) - n_title >= 2 else 0
    title, body = words[:n_title], words[n_title:len(words) - n_link]
    parts = [
        f'<!DOCTYPE html>\n<html lang="en"><head>\n<meta charset="utf-8">\n'
        f"<title>{' '.join(title)}</title>\n"
        f'<script type="text/javascript">var p = {g}; if (p > 0) {{ track("<p>x</p>"); }}</script>\n'
        f"<style>body {{ margin: 0; }} p > b {{ color: #333; }}</style>\n"
        f"<!-- generated page {g} -->\n</head>\n<body>\n"
    ]
    para_len = 8 + (h >> 8) % 13
    for p0 in range(0, len(body), para_len):
        para = body[p0:p0 + para_len]
        hh = (h ^ (p0 * 0x9E3779B9)) & 0xFFFFFFFF
        if hh % 3 == 0:
            w = (hh >> 4) % len(para)
            tag = _INLINE[(hh >> 8) % len(_INLINE)]
            para[w] = f"<{tag}>{para[w]}</{tag}>"
        text = " ".join(para)
        if hh % 5 == 0 and len(para) > 1:
            cut = text.find(" ", len(text) // 2)
            if cut > 0:
                text = text[:cut] + _SEPS[(hh >> 12) % len(_SEPS)] + text[cut + 1:]
        parts.append(f"<p>{text}</p>\n")
    if n_link:
        parts.append(f'<p><a href="/doc/{g + 1}">{words[-1]}</a><br/></p>\n')
    parts.append("</body>\n</html>\n")
    return "".join(parts)


# ---- queries ----------------------------------------------------------------

QUERY_KINDS = ("term", "or", "and", "phrase", "prefix")


@dataclass(frozen=True)
class Query:
    kind: str
    terms: tuple           # term ids (phrase: in order); prefix: () with ``prefix``
    prefix: str = ""

    def text(self) -> str:
        names = [term_name(t) for t in self.terms]
        if self.kind == "term":
            return names[0]
        if self.kind == "or":
            return " OR ".join(names)
        if self.kind == "and":
            return " AND ".join(names)
        if self.kind == "phrase":
            return '"' + " ".join(names) + '"'
        return self.prefix + "*"


QUERY_STRATA = 4


def queries(seed: int, stream: int, n_rounds: int, corpus: Docs) -> list[Query]:
    """``n_rounds`` rounds of the five kinds, terms drawn by Zipf rank.

    Draws are stratified in blocks of ``QUERY_STRATA`` rounds: within a block,
    each draw slot takes one uniform from each quarter of [0, 1), in seeded
    order. Every block then holds head, torso and tail terms alike, so a run
    of a few rounds does about the same work whatever the seed. ORs
    alternate between 2 and 3 terms.

    Phrases are adjacent word pairs taken from seeded spots of the corpus, so
    they match; the other kinds may match nothing (a tail term the corpus
    lacks), which the oracle checks too.
    """
    out = []
    ctr = np.arange(n_rounds * 8, dtype=np.int64)
    rng = np.random.default_rng([seed, stream, 23])
    strata = np.concatenate([
        np.stack([rng.permutation(QUERY_STRATA) for _ in range(8)], axis=1)
        for _ in range(-(-n_rounds // QUERY_STRATA))])[:n_rounds]
    u = (strata + uniform(seed, stream, 5, ctr).reshape(n_rounds, 8)) / QUERY_STRATA
    ranks = zipf_ranks(u)
    words = ~is_stop(corpus.toks) & (corpus.toks < VOCAB_SIZE)
    same_doc = np.ones(len(corpus.toks), dtype=bool)
    same_doc[corpus.ptr[1:-1] - 1] = False   # last token of a doc has no right neighbour
    pair_at = np.nonzero(words[:-1] & words[1:] & same_doc[:-1])[0]
    for r in range(n_rounds):
        a, b, c = (int(x) for x in ranks[r, :3])
        while b == a:
            b = (b + 1) % VOCAB_SIZE
        while c in (a, b):
            c = (c + 1) % VOCAB_SIZE
        out.append(Query("term", (a,)))
        out.append(Query("or", (a, b, c) if r % 2 else (a, b)))
        d, e = int(ranks[r, 4]), int(ranks[r, 5])
        while e == d:
            e = (e + 1) % VOCAB_SIZE
        out.append(Query("and", (d, e)))
        p = int(pair_at[int(u[r, 6] * len(pair_at))])
        out.append(Query("phrase", (int(corpus.toks[p]), int(corpus.toks[p + 1]))))
        out.append(Query("prefix", (), prefix=term_name(int(ranks[r, 7]))[:4]))
    return out
