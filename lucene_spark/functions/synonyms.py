"""Index-time synonyms: SynonymMap + token-stream expansion.

Re-expresses the reference's ``SynonymGraphFilter`` +
``FlattenGraphFilter`` indexing chain
(``analysis/common/src/java/org/apache/lucene/analysis/synonym/
SynonymGraphFilter.java``, ``SynonymMap.java``,
``core/analysis/FlattenGraphFilter``-equivalent semantics for what actually
reaches the index):

  - A rule maps an input of one or more consecutive tokens to one or more
    output tokens.  Matched outputs are injected at the match's START
    position with position increment 0 (stacked) — exactly what a
    flattened synonym graph indexes: a phrase query can match through
    either the original tokens or the synonym.
  - ``include_orig=True`` (SynonymMap.Builder.add keepOrig) keeps the
    original tokens; the injected tokens are overlaps.
  - Multi-token INPUTS match runs of tokens that are position-consecutive
    (increment 1 between each), i.e. not interrupted by a stop-word hole —
    the same position algebra the phrase scorer uses.
  - Overlapping multi-token matches resolve like the reference's: left
    to right, the longest match at a token wins and consumes its input
    tokens, so ``'a b'->x`` and ``'b c'->y`` inject only ``x`` on
    ``a b c``, and ``'new york city'`` beats ``'new york'``. Documented
    deviation: a single-token rule still fires on a token inside a longer
    match (``'scan'->zsynscan`` beside ``'table scan'->tblscan`` stacks
    both on ``table scan``), so a single-token synonym stays a per-token
    alias that phrases can match through everywhere; the reference's
    filter would consume ``scan`` into the longer match.
  - Norms: injected tokens have position increment 0, and
    ``BM25Similarity`` discounts overlaps from the length norm by default
    (``discountOverlaps``, ``core/search/similarities/BM25Similarity.java``),
    so expansion leaves per-doc lengths — and therefore every existing
    score — unchanged.

The expansion is vectorized: each rule is a handful of shifted numpy
comparisons over the flat token stream, and the overlap pass loops over
the matches only; output volume is bounded by
(number of matches) x (outputs per rule).  At 100 TB this adds no shuffle
and no driver state — it runs inside the same ``applyInPandas`` invert
task as the analyzer.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from .analysis import AnalyzedBatch

__all__ = ["SynonymMap", "expand_synonyms"]


@dataclass(frozen=True)
class _Rule:
    inputs: tuple[str, ...]
    outputs: tuple[str, ...]


class SynonymMap:
    """SynonymMap.Builder analog: ``add(input, outputs)`` rules.

    ``rules``: mapping from input (a str — split on whitespace for
    multi-token inputs — or a tuple of tokens) to an output str / tuple /
    list of strs.  ``include_orig=False`` (keepOrig=false) REPLACES the
    matched tokens instead of stacking; only single-token inputs support
    replacement (multi-token holes would need position renumbering, which
    the reference's flattener also avoids by keeping originals).
    """

    def __init__(self, rules, include_orig: bool = True):
        parsed: list[_Rule] = []
        for k, v in dict(rules).items():
            ins = tuple(k.split()) if isinstance(k, str) else tuple(k)
            outs = (v,) if isinstance(v, str) else tuple(v)
            if not ins or not outs:
                raise ValueError("empty synonym rule")
            if any(" " in o for o in outs):
                raise ValueError("multi-token OUTPUTS must be pre-analyzed "
                                 "into single index terms")
            if not include_orig and len(ins) > 1:
                raise ValueError("include_orig=False supports single-token "
                                 "inputs only")
            parsed.append(_Rule(ins, outs))
        self.rules = tuple(sorted(parsed, key=lambda r: (r.inputs, r.outputs)))
        self.include_orig = include_orig

    def fingerprint(self) -> str:
        """Stable digest for the index's analyzer-contract record."""
        h = hashlib.md5()
        h.update(repr((self.rules, self.include_orig)).encode())
        return h.hexdigest()


def _leftmost_longest(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Which rule matches fire. Multi-token matches resolve as
    SynonymGraphFilter picks them: scanning the token stream left to
    right, the longest match at a token wins and the tokens it consumes
    start no other multi-token match; rules with the same input fire
    together (the Builder merges their outputs). Single-token matches
    always fire (see the module docstring). Matches never span documents,
    so one pass over the global token index serves every doc; the loop
    runs over matches, not tokens."""
    keep = lens == 1
    free, last = 0, None
    for i in np.lexsort((-lens, starts)):
        s, k = int(starts[i]), int(lens[i])
        if k > 1 and (s >= free or (s, k) == last):
            keep[i] = True
            free, last = s + k, (s, k)
    return keep


def expand_synonyms(batch: AnalyzedBatch, smap: SynonymMap) -> AnalyzedBatch:
    """Apply the map to an analyzed batch; returns a new AnalyzedBatch.

    doc_lens are preserved (overlap discounting, see module docstring).
    Offsets/payloads streams are not supported under expansion (the
    injected tokens have no source span of their own).
    """
    if batch.tok_starts is not None or batch.tok_payloads is not None:
        raise ValueError("synonym expansion composes with neither offsets "
                         "nor payload analysis")
    terms = batch.tok_terms          # np object array
    doc = batch.tok_doc_idx
    pos = batch.tok_positions
    n = len(terms)
    found = []                       # (rule, match start indices)
    for rule in smap.rules:
        ins = rule.inputs
        k = len(ins)
        if n < k:
            continue
        w = n - k + 1
        m = terms[:w] == ins[0]
        for j in range(1, k):
            m = m & (terms[j:w + j] == ins[j])
            m = m & (doc[j:w + j] == doc[:w])
            m = m & (pos[j:w + j] == pos[:w] + j)
        idx = np.nonzero(m)[0]
        if len(idx):
            found.append((rule, idx))
    if found:
        ok = _leftmost_longest(
            np.concatenate([idx for _, idx in found]),
            np.concatenate([np.full(len(idx), len(r.inputs))
                            for r, idx in found]),
        )
        cuts = np.cumsum([len(idx) for _, idx in found])[:-1]
        found = [(r, idx[k]) for (r, idx), k in zip(found, np.split(ok, cuts))]
    add_t: list = []
    add_d: list = []
    add_p: list = []
    drop = np.zeros(n, dtype=bool)
    for rule, idx in found:
        if not smap.include_orig:
            drop[idx] = True      # single-token inputs only (ctor-enforced)
        for out in rule.outputs:
            add_t.extend([out] * len(idx))
            add_d.extend(doc[idx].tolist())
            add_p.extend(pos[idx].tolist())
    if not add_t:
        if drop.any():
            keep = ~drop
            return AnalyzedBatch(
                n_docs=batch.n_docs,
                doc_lens=batch.doc_lens,
                tok_doc_idx=doc[keep],
                tok_terms_pa=pa.array(terms[keep], type=pa.string()),
                tok_positions=pos[keep],
            )
        return batch
    keep = ~drop
    new_terms = np.concatenate([terms[keep], np.array(add_t, dtype=object)])
    new_doc = np.concatenate([doc[keep], np.array(add_d, dtype=np.int64)])
    new_pos = np.concatenate([pos[keep],
                              np.array(add_p, dtype=pos.dtype)])
    # restore the AnalyzedBatch stream contract: within a document tokens
    # ascend by position; originals sort before injected at equal position
    orig_flag = np.concatenate([
        np.zeros(int(keep.sum()), dtype=np.int8),
        np.ones(len(add_t), dtype=np.int8),
    ])
    order = np.lexsort((orig_flag, new_pos, new_doc))
    return AnalyzedBatch(
        n_docs=batch.n_docs,
        doc_lens=batch.doc_lens,          # overlaps discounted from norms
        tok_doc_idx=new_doc[order],
        tok_terms_pa=pa.array(new_terms[order], type=pa.string()),
        tok_positions=new_pos[order],
    )
