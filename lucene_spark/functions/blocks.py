"""Postings block layout: the one block writer and the one block reader.

A term's postings are stored as block rows of at most BLOCK_SIZE docs. A
row holds ``first_gid``/``last_gid``/``doc_count``, PFOR streams
(``functions/pfor.py``) of the gid gaps after ``first_gid`` (doc_count - 1
values), of the freqs and of the norms (doc_count values each), the
position-aligned streams (sum(freq) values each: position deltas restarting
at every doc, char-offset start deltas and lengths, payloads), the block's
competitive (freq, norm) impact frontier and ``freq_sum``.

``write_blocks`` cuts sorted flat postings of any number of groups into such
rows at once (a group is a term for the indexer, a (term, salt) pair for the
merge); ``read_blocks`` decodes any number of rows back into flat postings
with one ``batch_decode_streams`` pass per column.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

from .impacts import competitive_impacts_grouped
from .pfor import BLOCK_SIZE, batch_decode_streams, batch_encode_streams

# force a block cut when consecutive docIDs are further apart than this:
# far larger than any dense-region gap, far smaller than the 2^40 sparse
# segment stride
MAX_INTRA_BLOCK_GAP = 1 << 20

__all__ = [
    "MAX_INTRA_BLOCK_GAP",
    "Postings",
    "decode_gid_rows",
    "gids_from_gaps",
    "read_blocks",
    "sort_postings",
    "write_blocks",
]


class Postings(NamedTuple):
    """Flat postings: gid/freq/norm per doc, and per stream name a
    position-aligned array of sum(freq) values as stored (position and
    start-offset deltas are not summed)."""

    gid: np.ndarray
    freq: np.ndarray
    norm: np.ndarray
    streams: dict


def decode_gid_rows(first_gids: np.ndarray, gid_bufs: "list[bytes]"):
    """Batch-decode many rows' gid-gap streams into absolute doc ids.

    Returns (gid int64 — all rows' ids concatenated, doc_cnt int64 per row).
    """
    gaps, gap_cnt = batch_decode_streams(gid_bufs)
    return gids_from_gaps(first_gids, gaps, gap_cnt), gap_cnt + 1


def gids_from_gaps(first_gids: np.ndarray, gaps: np.ndarray,
                   gap_cnt: np.ndarray) -> np.ndarray:
    """Absolute doc ids of rows storing first_gid + gaps for the rest."""
    gaps = gaps.astype(np.int64)
    doc_cnt = gap_cnt + 1
    gid = np.empty(int(doc_cnt.sum()), dtype=np.int64)
    doc_starts = np.concatenate(([0], np.cumsum(doc_cnt)[:-1]))
    gid[doc_starts] = first_gids
    if len(gaps):
        # within-row cumsum of gaps via global cumsum minus row base
        cs = np.cumsum(gaps)
        gap_starts = np.concatenate(([0], np.cumsum(gap_cnt)[:-1]))
        row_base = np.where(gap_starts > 0, cs[gap_starts - 1], 0)
        rest = np.ones(len(gid), dtype=bool)
        rest[doc_starts] = False
        row_of = np.repeat(np.arange(len(doc_cnt)), gap_cnt)
        gid[rest] = first_gids[row_of] + (cs - row_base[row_of])
    return gid


def read_blocks(rows: pd.DataFrame, streams: "tuple[str, ...]" = ()):
    """Decode block rows into flat postings, rows concatenated in order.

    ``streams`` names the position-aligned columns to decode. Returns
    (Postings, doc count per row).
    """
    gid, doc_cnt = decode_gid_rows(
        rows["first_gid"].to_numpy(np.int64), list(rows["gids"])
    )

    def col(name: str) -> np.ndarray:
        return batch_decode_streams(list(rows[name]))[0].astype(np.int64)

    return Postings(gid, col("freqs"), col("norms"),
                    {s: col(s) for s in streams}), doc_cnt


def sort_postings(p: Postings, group: "np.ndarray | None" = None):
    """Order postings by (group, gid), carrying each doc's run of
    position-aligned values along. Returns (Postings, group).

    Needed when merge units interleave in gid space: a tiered (partial)
    merge re-blocks its inputs into 128-doc blocks that can SPAN gid holes
    still occupied by unmerged units, so concatenating units in first_gid
    order is no longer globally sorted. No-op (one vectorized check) in the
    common disjoint case.
    """
    gid = p.gid
    if len(gid) < 2:
        return p, group
    up = np.diff(gid) > 0
    if group is None:
        if up.all():
            return p, group
        order = np.argsort(gid, kind="stable")
    else:
        dg = np.diff(group)
        if ((dg > 0) | ((dg == 0) & up)).all():
            return p, group
        order = np.lexsort((gid, group))
        group = group[order]
    streams = p.streams
    if streams:
        lengths = p.freq[order]
        shift = (np.cumsum(p.freq) - p.freq)[order] - (np.cumsum(lengths) - lengths)
        ids = np.arange(int(lengths.sum())) + np.repeat(shift, lengths)
        streams = {k: v[ids] for k, v in streams.items()}
    return Postings(gid[order], p.freq[order], p.norm[order], streams), group


def write_blocks(group: np.ndarray, p: Postings):
    """Cut non-empty postings sorted by (group, gid) into block rows and
    encode them.

    A block holds at most BLOCK_SIZE docs of one group. A cut is also
    FORCED where consecutive gids are more than MAX_INTRA_BLOCK_GAP apart
    (sparse hash-mode gids jump by 2^40 between segments): a block spanning
    such a gap covers a huge useless gid range — it can never be skipped by
    range pruning and its bucket explode would enumerate billions of empty
    buckets. Streams are encoded as given.

    Returns (index of each block's first posting, columns): block_ord (the
    block's rank within its group), doc_count, first_gid, last_gid, gids,
    freqs, norms, one column per stream, imp_freqs, imp_norms, freq_sum.
    """
    gid, freq, norm = p.gid, p.freq, p.norm
    n = len(gid)
    idx = np.arange(n)
    run_start = np.ones(n, dtype=bool)
    run_start[1:] = (group[1:] != group[:-1]) | (np.diff(gid) > MAX_INTRA_BLOCK_GAP)
    first_of_run = np.maximum.accumulate(np.where(run_start, idx, 0))
    new_block = (idx - first_of_run) % BLOCK_SIZE == 0
    block_start = np.nonzero(new_block)[0]
    n_blocks = len(block_start)
    block_id = np.cumsum(new_block) - 1
    doc_count = np.diff(np.append(block_start, n))
    block_group = group[block_start]
    first_of_group = np.ones(n_blocks, dtype=bool)
    first_of_group[1:] = block_group[1:] != block_group[:-1]
    b_idx = np.arange(n_blocks)
    block_ord = b_idx - np.maximum.accumulate(np.where(first_of_group, b_idx, 0))
    gaps = (gid[1:] - gid[:-1])[~new_block[1:]]
    freq_sum = np.add.reduceat(freq, block_start)
    cols = {
        "block_ord": block_ord.astype(np.int32),
        "doc_count": doc_count.astype(np.int32),
        "first_gid": gid[block_start],
        "last_gid": gid[block_start + doc_count - 1],
        "gids": batch_encode_streams(gaps.astype(np.uint64), doc_count - 1),
        "freqs": batch_encode_streams(freq.astype(np.uint64), doc_count),
        "norms": batch_encode_streams(norm.astype(np.uint64), doc_count),
    }
    for name, vals in p.streams.items():
        cols[name] = batch_encode_streams(vals.astype(np.uint64), freq_sum)
    cols["imp_freqs"], cols["imp_norms"] = competitive_impacts_grouped(
        block_id, freq, norm, n_blocks
    )
    cols["freq_sum"] = freq_sum.astype(np.int64)
    return block_start, cols
