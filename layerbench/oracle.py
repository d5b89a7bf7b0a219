"""Independent BM25 oracle over the generator's own token streams.

Nothing here imports the engine. Scores follow Lucene's BM25Similarity
(k1 = 1.2, b = 0.75) one IEEE binary32 operation at a time:

    idf    = (float) ln(1 + (N - df + 0.5) / (df + 0.5))        [double inside]
    avgdl  = (float) (sumTotalTermFreq / (double) N)
    cache  = 1f / (k1 * ((1 - b) + b * (float) LENGTH[norm] / avgdl))
    score  = w - w / (1 + freq * cache[norm]),   w = boost * idf

Phrase weights sum the terms' float idfs in double and cast once; Boolean
AND/OR sum their clauses' float scores in double and cast once. Prefix
queries score the constant boost (1.0). A document's length is its number of
non-stopword tokens, its norm ``intToByte4(length)``, and positions count
stopwords, so a stopword between two words breaks a phrase.

Deletes follow Lucene's pre-merge rule: a deleted doc leaves every result at
once but keeps counting in N, df, ttf and avgdl until a purge reclaims it.
"""

from __future__ import annotations

import math

import numpy as np

from layerbench.gen import VOCAB_SIZE, Docs, Query, is_stop, term_name

K1 = np.float32(1.2)
B = np.float32(0.75)


# ---- SmallFloat (Lucene's SmallFloat.intToByte4 / byte4ToInt) ----------------

def _long_to_int4(i: int) -> int:
    bits = i.bit_length()
    if bits < 4:
        return i
    shift = bits - 4
    return ((i >> shift) & 0x07) | ((shift + 1) << 3)


def _int4_to_long(i: int) -> int:
    shift = (i >> 3) - 1
    return i & 0x07 if shift == -1 else ((i & 0x07) | 0x08) << shift


_FREE = 255 - _long_to_int4(2**31 - 1)   # 24: lengths below it encode exactly


def int_to_byte4(i: int) -> int:
    return i if i < _FREE else _FREE + _long_to_int4(i - _FREE)


def byte4_to_int(b: int) -> int:
    return b if b < _FREE else _FREE + _int4_to_long(b - _FREE)


LENGTH_TABLE = np.array([byte4_to_int(b) for b in range(256)], dtype=np.int64)


def norm_bytes(lengths: np.ndarray) -> np.ndarray:
    # int_to_byte4 is monotone: the byte is the last table entry <= length
    return (np.searchsorted(LENGTH_TABLE, lengths, side="right") - 1).astype(np.uint8)


def idf(df: int, n: int) -> np.float32:
    return np.float32(math.log(1.0 + (n - df + 0.5) / (df + 0.5)))


def norm_cache(sum_ttf: int, n: int) -> np.ndarray:
    avgdl = np.float32(sum_ttf / float(n))
    one = np.float32(1.0)
    return one / (K1 * ((one - B) + (B * LENGTH_TABLE.astype(np.float32)) / avgdl))


def bm25(w: np.float32, freqs: np.ndarray, norms: np.ndarray, cache: np.ndarray) -> np.ndarray:
    one = np.float32(1.0)
    return w - w / (one + freqs.astype(np.float32) * cache[norms])


class Oracle:
    """The collection as the engine should see it, plus its delete state."""

    def __init__(self, parts: "list[Docs]"):
        self.gids = np.concatenate([p.gids for p in parts]).astype(np.int64)
        ptrs, toks, off = [], [], 0
        for p in parts:
            ptrs.append(p.ptr[:-1] + off)
            toks.append(p.toks)
            off += int(p.ptr[-1])
        self.ptr = np.concatenate(ptrs + [np.array([off])]).astype(np.int64)
        self.toks = np.concatenate(toks).astype(np.int64)
        n = len(self.gids)
        self.doc_of = np.repeat(np.arange(n), np.diff(self.ptr))
        word = ~is_stop(self.toks)
        self.lengths = np.bincount(self.doc_of[word], minlength=n)
        self.norms = norm_bytes(self.lengths)
        # postings: (term, doc) -> freq, sorted by term then doc
        key = self.toks[word] * n + self.doc_of[word]
        uk, freq = np.unique(key, return_counts=True)
        self.p_term, self.p_doc, self.p_freq = uk // n, uk % n, freq
        self.live = np.ones(n, dtype=bool)       # returnable
        self.counted = np.ones(n, dtype=bool)    # still in the statistics
        self.keys = [f"https://site{g % 97}.example/doc/{g}" for g in self.gids.tolist()]
        self._row = {int(g): i for i, g in enumerate(self.gids.tolist())}

    # ---- deletes -------------------------------------------------------------
    def delete(self, gids) -> None:
        self.live[[self._row[int(g)] for g in gids]] = False

    def purge(self) -> None:
        self.counted &= self.live

    # ---- statistics ----------------------------------------------------------
    def collection(self) -> tuple[int, int]:
        """(docCount, sumTotalTermFreq) over the counted docs."""
        c = self.counted
        return int(((self.lengths > 0) & c).sum()), int(self.lengths[c].sum())

    def term_stats(self) -> dict:
        """term -> (docFreq, totalTermFreq) over the counted docs."""
        m = self.counted[self.p_doc]
        t, f = self.p_term[m], self.p_freq[m]
        ut, first = np.unique(t, return_index=True)
        df = np.diff(np.append(first, len(t)))
        ttf = np.add.reduceat(f, first) if len(t) else np.array([], np.int64)
        return {term_name(int(a)): (int(b), int(c)) for a, b, c in zip(ut, df, ttf)}

    def _postings(self, tid: int) -> tuple[np.ndarray, np.ndarray]:
        lo, hi = np.searchsorted(self.p_term, [tid, tid + 1])
        d, f = self.p_doc[lo:hi], self.p_freq[lo:hi]
        keep = self.counted[d]
        return d[keep], f[keep]

    # ---- scoring -------------------------------------------------------------
    def scores(self, q: Query) -> tuple[np.ndarray, np.ndarray]:
        """(doc rows, float32 scores) of every counted doc the query matches."""
        n_docs, sum_ttf = self.collection()
        cache = norm_cache(sum_ttf, n_docs)
        if q.kind == "prefix":
            tids = [t for t in range(VOCAB_SIZE) if term_name(t).startswith(q.prefix)]
            docs = np.unique(np.concatenate([self._postings(t)[0] for t in tids]))
            return docs, np.ones(len(docs), dtype=np.float32)
        if q.kind == "phrase":
            a, b = q.terms
            hit = (self.toks[:-1] == a) & (self.toks[1:] == b) & (self.doc_of[:-1] == self.doc_of[1:])
            freq = np.bincount(self.doc_of[:-1][hit], minlength=len(self.gids))
            docs = np.nonzero((freq > 0) & self.counted)[0]
            w = np.float32(sum(float(idf(len(self._postings(t)[0]), n_docs)) for t in q.terms))
            return docs, bm25(w, freq[docs], self.norms[docs], cache)
        per_term = []
        for t in q.terms:
            d, f = self._postings(t)
            per_term.append((d, bm25(idf(len(d), n_docs), f, self.norms[d], cache)))
        total = np.zeros(len(self.gids), dtype=np.float64)
        hits = np.zeros(len(self.gids), dtype=np.int64)
        for d, s in per_term:
            total[d] += s.astype(np.float64)
            hits[d] += 1
        need = len(per_term) if q.kind == "and" else 1
        docs = np.nonzero(hits >= need)[0]
        return docs, total[docs].astype(np.float32)

    def topk(self, q: Query, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Live matches ranked by score desc, then docID asc: (gids, scores)."""
        docs, s = self.scores(q)
        keep = self.live[docs]
        g, s = self.gids[docs[keep]], s[keep]
        order = np.lexsort((g, -s.astype(np.float64)))
        return g[order], s[order]

    def key_of(self, gid: int) -> str:
        return self.keys[self._row[int(gid)]]


def check_topk(oracle: Oracle, q: Query, k: int, got_gids, got_scores, got_keys) -> "str | None":
    """None if the engine's top-k agrees with the oracle, else what is wrong.

    Agreement means: each returned doc is live and matches, with exactly the
    oracle's float32 score and key; the order is score desc then docID asc;
    no unreturned live match ranks above the last returned doc; and the list
    is as long as ``min(k, live matches)``.
    """
    want_g, want_s = oracle.topk(q, len(oracle.gids))
    rank = {int(g): i for i, g in enumerate(want_g.tolist())}
    got_gids = [int(g) for g in got_gids]
    got_scores = np.asarray(got_scores, dtype=np.float32)
    if len(got_gids) != min(k, len(want_g)):
        return f"{q.text()}: {len(got_gids)} hits, oracle has {min(k, len(want_g))}"
    for g, s, key in zip(got_gids, got_scores, got_keys):
        if g not in rank:
            return f"{q.text()}: doc {g} is deleted or does not match"
        if s != want_s[rank[g]]:
            return f"{q.text()}: doc {g} scored {s!r}, oracle {want_s[rank[g]]!r}"
        if key != oracle.key_of(g):
            return f"{q.text()}: doc {g} has key {key!r}"
    for i in range(1, len(got_gids)):
        if (-got_scores[i - 1], got_gids[i - 1]) >= (-got_scores[i], got_gids[i]):
            return f"{q.text()}: results out of order at {i}"
    if got_gids and max(rank[g] for g in got_gids) >= len(got_gids):
        return f"{q.text()}: a better live match was left out"
    return None
