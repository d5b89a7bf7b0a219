"""PForDelta block codec for posting lists, in vectorized numpy.

Mirrors the *format semantics* of the reference's
``core/codecs/lucene90/PForUtil.java`` (encode:61-117, decode:120-133) and
``ForUtil.java`` (BLOCK_SIZE=128 at :32): values are FOR-bit-packed at the
bit-width of the (128 - 7)-th largest value, with up to MAX_EXCEPTIONS=7
patch exceptions stored as (position, high-bits) byte pairs; an all-equal
block (bpv==0 after patching) is stored as a single varint run-length.

Byte layout here is our own (numpy bitpacking over a little-endian byte
buffer), since rank/score parity depends on the decoded integers, not the
bytes. Exceptions' high bits must fit one byte, so like the reference we
clamp bpv >= bits_required(max) - 8. A block whose patched width reaches 31
bits (e.g. >2^31 gid gaps or payload values; Lucene's docIDs are ints, our
gids are int64) is an *escape* block: token bpv=31, then its 128 raw values
as varints.

A stream is vlong(count), then full 128-blocks, then the sub-block tail as
varints (Lucene writes tails as VInts too, Lucene90PostingsWriter.java:
353-379). `batch_encode_streams`/`batch_decode_streams` code many streams
per call with matrix kernels grouped by bit width. The decoder bounds every stream by its own buffer: a stream that
ends early, runs past its buffer or leaves bytes over raises ValueError.
A scalar decoder written from this description (``tests/pfor_spec.py``) is
the round-trip oracle of ``tests/test_core_math.py``.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
MAX_EXCEPTIONS = 7

__all__ = [
    "BLOCK_SIZE",
    "MAX_EXCEPTIONS",
    "encode_vlongs_np",
    "decode_vlongs_np",
    "batch_encode_streams",
    "batch_decode_streams",
]


def encode_vlongs_np(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized LEB128 varint encode of a uint64 array.

    Returns (bytes_array uint8, nbytes_per_value int64). No Python loop over
    values — 10 vectorized passes (one per possible byte position).
    """
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nb = np.ones(n, dtype=np.int64)
    for j in range(1, 10):
        nb[vals >= (np.uint64(1) << np.uint64(7 * j))] = j + 1
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    for j in range(10):
        mask = nb > j
        if not mask.any():
            break
        idx = starts[mask] + j
        byte = ((vals[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = ((nb[mask] > j + 1).astype(np.uint8)) << 7
        out[idx] = byte | cont
    return out, nb


def decode_vlongs_np(buf: np.ndarray, count: int) -> tuple[np.ndarray, int]:
    """Vectorized LEB128 decode of the first `count` varints in `buf`.

    Returns (values uint64, bytes_consumed).
    """
    if count == 0:
        return np.empty(0, dtype=np.uint64), 0
    buf = np.asarray(buf, dtype=np.uint8)
    is_last = (buf & 0x80) == 0
    if is_last[:count].all():  # every value fits one byte
        return buf[:count].astype(np.uint64), count
    # value index of each byte: 0-based running count of completed varints
    ends = np.cumsum(is_last)
    # bytes consumed: position of the count-th terminator + 1
    last_pos = int(np.searchsorted(ends, count)) + 1
    buf = buf[:last_pos]
    is_last = is_last[:last_pos]
    value_id = np.concatenate(([0], np.cumsum(is_last)[:-1]))
    starts = np.concatenate(([0], np.nonzero(is_last)[0][:-1] + 1))
    pos_in_value = np.arange(last_pos, dtype=np.int64) - starts[value_id]
    out = np.zeros(count, dtype=np.uint64)
    contrib = (buf & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in_value.astype(np.uint64))
    np.add.at(out, value_id, contrib)
    return out, last_pos


def _bits_required_np(v: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 arrays."""
    out = np.zeros(len(v), dtype=np.int64)
    x = v.astype(np.uint64, copy=True)
    for shift in (32, 16, 8, 4, 2, 1):
        mask = x >= (np.uint64(1) << np.uint64(shift))
        out[mask] += shift
        x[mask] >>= np.uint64(shift)
    out[v > 0] += 1
    return out


def _pack_bits_matrix(vals: np.ndarray, bpv: int) -> np.ndarray:
    """Bit-pack a (k, BLOCK_SIZE) uint64 matrix at fixed bpv per value.

    Returns a (k, ceil(128*bpv/8)) uint8 matrix, little-endian bit order.
    """
    k = vals.shape[0]
    total_bits = BLOCK_SIZE * bpv
    nbytes = (total_bits + 7) // 8
    bits = np.zeros((k, nbytes * 8), dtype=np.uint8)
    positions = np.arange(BLOCK_SIZE, dtype=np.int64) * bpv
    for bit in range(bpv):
        bits[:, positions + bit] = ((vals >> np.uint64(bit)) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits, axis=1, bitorder="little")


def encode_blocks_matrix(m: np.ndarray) -> list[bytes]:
    """Encode many full BLOCK_SIZE blocks at once (matrix-vectorized PFOR).

    Blocks are grouped by their bit width so the packing loop runs once per
    distinct bpv, not per block.
    """
    m = np.ascontiguousarray(m, dtype=np.uint64)
    n = m.shape[0]
    if n == 0:
        return []
    part = np.partition(m, BLOCK_SIZE - MAX_EXCEPTIONS - 1, axis=1)
    top8 = part[:, BLOCK_SIZE - MAX_EXCEPTIONS - 1 :]
    top_value = top8[:, 0]  # (MAX_EXCEPTIONS+1)-th largest
    max_val = top8.max(axis=1)
    max_bits = _bits_required_np(max_val)
    patched_bpv = np.maximum(_bits_required_np(top_value), max_bits - 8)
    out: list[bytes] = [b""] * n

    # escape rows: token bpv=31, then the raw values as vlongs (a real
    # 31-bpv packed block would be bigger than vlongs anyway)
    escape = patched_bpv >= 31
    esc_idx = np.nonzero(escape)[0]
    if len(esc_idx):
        venc, vnb = encode_vlongs_np(m[esc_idx].ravel())
        vends = np.cumsum(vnb.reshape(-1, BLOCK_SIZE).sum(axis=1))
        vb = venc.tobytes()
        for j, i in enumerate(esc_idx):
            out[i] = b"\x1f" + vb[vends[j - 1] if j else 0 : vends[j]]
    live = ~escape
    if not live.any():
        return out

    max_unpatched = (np.uint64(1) << patched_bpv.astype(np.uint64)) - np.uint64(1)
    exc_mask = m > max_unpatched[:, None]
    exc_mask[escape] = False
    vals = np.where(exc_mask, m & max_unpatched[:, None], m)
    num_exc = exc_mask.sum(axis=1)
    # exception payloads, grouped per row
    exc_rows, exc_cols = np.nonzero(exc_mask)
    exc_high = (m[exc_rows, exc_cols] >> patched_bpv[exc_rows].astype(np.uint64)).astype(np.uint8)

    all_equal = (vals == vals[:, :1]).all(axis=1)
    rle = live & all_equal & (max_bits <= 8)
    packed = live & ~rle

    exc_bytes: list[bytes] = [b""] * n
    if len(exc_rows):
        shift_for_row = np.where(rle, patched_bpv, 0)  # rle pre-shifts high bits
        high_adj = (
            exc_high.astype(np.uint64) << shift_for_row[exc_rows].astype(np.uint64)
        ).astype(np.uint8)
        pairs = np.empty(len(exc_rows) * 2, dtype=np.uint8)
        pairs[0::2] = exc_cols.astype(np.uint8)
        pairs[1::2] = high_adj
        pair_bytes = pairs.tobytes()
        row_start = np.searchsorted(exc_rows, np.arange(n))
        row_end = np.searchsorted(exc_rows, np.arange(n), side="right")
        for i in np.nonzero(num_exc > 0)[0]:
            exc_bytes[i] = pair_bytes[row_start[i] * 2 : row_end[i] * 2]

    # RLE rows: token (num_exc<<5), vlong(value), exceptions
    rle_idx = np.nonzero(rle)[0]
    if len(rle_idx):
        venc, vnb = encode_vlongs_np(vals[rle_idx, 0])
        vstarts = np.concatenate(([0], np.cumsum(vnb)[:-1]))
        vb = venc.tobytes()
        for j, i in enumerate(rle_idx):
            token = (int(num_exc[i]) << 5) & 0xFF
            out[i] = bytes([token]) + vb[vstarts[j] : vstarts[j] + vnb[j]] + exc_bytes[i]

    # packed rows, grouped by bpv
    for bpv in np.unique(patched_bpv[packed]):
        bpv = int(bpv)
        idx = np.nonzero(packed & (patched_bpv == bpv))[0]
        mat = _pack_bits_matrix(vals[idx], bpv)
        for j, i in enumerate(idx):
            token = ((int(num_exc[i]) << 5) | bpv) & 0xFF
            out[i] = bytes([token]) + mat[j].tobytes() + exc_bytes[i]
    return out


def batch_encode_streams(values: np.ndarray, row_lengths: np.ndarray) -> list[bytes]:
    """Encode many streams at once; `values` is the concatenation of all
    rows' values, `row_lengths` their lengths.

    Fully vectorized: headers and all sub-BLOCK_SIZE tails are varint-encoded
    in one pass over all rows; full 128-blocks across ALL rows are encoded by
    the matrix PFOR kernel grouped by bit width. Per-row Python is reduced to
    cheap bytes slicing/joining.
    """
    values = np.asarray(values, dtype=np.uint64)
    row_lengths = np.asarray(row_lengths, dtype=np.int64)
    n_rows = len(row_lengths)
    if n_rows == 0:
        return []
    row_starts = np.concatenate(([0], np.cumsum(row_lengths)[:-1]))
    n_blocks_row = row_lengths // BLOCK_SIZE
    tail_lens = row_lengths - n_blocks_row * BLOCK_SIZE

    # headers: vlong(count) per row
    henc, hnb = encode_vlongs_np(row_lengths.astype(np.uint64))
    hstarts = np.concatenate(([0], np.cumsum(hnb)[:-1]))
    hbytes = henc.tobytes()

    # full blocks: gather into one (total_blocks, 128) matrix
    total_blocks = int(n_blocks_row.sum())
    block_bytes: list[bytes] = []
    block_row_of = np.repeat(np.arange(n_rows), n_blocks_row)
    if total_blocks:
        block_ord = _ranges(n_blocks_row)
        src = (
            row_starts[block_row_of][:, None]
            + (block_ord * BLOCK_SIZE)[:, None]
            + np.arange(BLOCK_SIZE)[None, :]
        )
        block_bytes = encode_blocks_matrix(values[src])
    blocks_start_of_row = np.concatenate(([0], np.cumsum(n_blocks_row)[:-1]))

    # tails: gather all tail values, varint-encode in one pass
    tail_total = int(tail_lens.sum())
    tbytes = b""
    t_off = np.zeros(n_rows + 1, dtype=np.int64)
    if tail_total:
        tsrc = (
            np.repeat(row_starts + n_blocks_row * BLOCK_SIZE, tail_lens) + _ranges(tail_lens)
        )
        tenc, tnb = encode_vlongs_np(values[tsrc])
        tbytes = tenc.tobytes()
        # bytes per row's tail
        tail_val_starts = np.concatenate(([0], np.cumsum(tail_lens)[:-1]))
        per_row_tail_bytes = np.zeros(n_rows, dtype=np.int64)
        nz = tail_lens > 0
        if nz.any():
            per_row_tail_bytes[nz] = np.add.reduceat(tnb, tail_val_starts[nz])
        t_off[1:] = np.cumsum(per_row_tail_bytes)

    out: list[bytes] = [b""] * n_rows
    for i in range(n_rows):
        parts = [hbytes[hstarts[i] : hstarts[i] + hnb[i]]]
        nb = n_blocks_row[i]
        if nb:
            s = blocks_start_of_row[i]
            parts.extend(block_bytes[s : s + nb])
        if tail_lens[i]:
            parts.append(tbytes[t_off[i] : t_off[i + 1]])
        out[i] = b"".join(parts)
    return out


def _vlongs_at(data: np.ndarray, positions: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode ONE varint at each of many positions, vectorized.

    Returns (values uint64, bytes_consumed int64) per position. ``data`` must
    be padded so positions+9 never reads past the end (callers pad by 10).
    """
    k = len(positions)
    out = np.zeros(k, dtype=np.uint64)
    nb = np.zeros(k, dtype=np.int64)
    done = np.zeros(k, dtype=bool)
    for j in range(10):
        if done.all():
            break
        b = data[positions + j]
        live = ~done
        out[live] |= (b[live].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
        fin = live & (b < 0x80)
        nb[fin] = j + 1
        done |= fin
    return out, nb


def _unpack_bits_matrix(mat: np.ndarray, bpv: int) -> np.ndarray:
    """Unpack a (k, ceil(128*bpv/8)) uint8 matrix into (k, BLOCK_SIZE)
    uint64 values."""
    bits = np.unpackbits(mat, axis=1, bitorder="little")
    out = np.zeros((mat.shape[0], BLOCK_SIZE), dtype=np.uint64)
    positions = np.arange(BLOCK_SIZE, dtype=np.int64) * bpv
    for bit in range(bpv):
        out |= bits[:, positions + bit].astype(np.uint64) << np.uint64(bit)
    return out


def _bad(msg: str) -> ValueError:
    return ValueError(f"corrupt PFOR stream: {msg}")


def batch_decode_streams(bufs: "list[bytes]") -> tuple[np.ndarray, np.ndarray]:
    """Decode many encoded streams in one vectorized pass.

    Returns (values uint64 — all streams' values concatenated in input
    order, counts int64 — per-stream value counts). There is no per-block
    Python: streams advance block-by-block in lock-step rounds, each round
    decoding every active stream's next block with matrix kernels grouped
    by bit width; all tails varint-decode in a single flat pass.

    Every stream must end exactly at the end of its own buffer: a header,
    block or tail that runs past it, or bytes left over after the tail's
    last varint, raise ValueError (the joined buffer would otherwise let a
    truncated stream read its neighbour's bytes).
    """
    n_streams = len(bufs)
    if n_streams == 0:
        return np.empty(0, np.uint64), np.empty(0, np.int64)
    lens = np.fromiter((len(b) for b in bufs), np.int64, n_streams)
    data = np.frombuffer(b"".join(bufs) + b"\x00" * 10, dtype=np.uint8)
    ends = np.cumsum(lens)
    starts = ends - lens

    counts_u, consumed = _vlongs_at(data, starts)
    counts = counts_u.astype(np.int64)
    # a block takes >= 2 bytes and a tail value >= 1: bounds the allocation
    if ((consumed == 0) | (consumed > lens) | (counts < 0) | (counts > 64 * lens)).any():
        raise _bad("header disagrees with its buffer")
    pos = starts + consumed
    remaining = counts // BLOCK_SIZE  # blocks left per stream
    tail_lens = counts - remaining * BLOCK_SIZE

    out = np.empty(int(counts.sum()), dtype=np.uint64)
    wp = np.cumsum(counts) - counts  # per-stream write cursor
    lane = np.arange(BLOCK_SIZE)

    while True:
        idx = np.nonzero(remaining > 0)[0]
        if not len(idx):
            break
        if (pos[idx] >= ends[idx]).any():
            raise _bad("block runs past its buffer")
        tokens = data[pos[idx]]
        bpv_all = tokens & 0x1F
        nexc_all = (tokens >> 5).astype(np.int64)
        for b in np.unique(bpv_all):
            b = int(b)
            sel = idx[bpv_all == b]
            nexc = nexc_all[bpv_all == b]
            dst = wp[sel][:, None] + lane[None, :]
            if b == 31:
                # escape: 128 raw vlongs; find each block's 128th varint
                # terminator inside a window clipped to its stream's end
                win = pos[sel][:, None] + 1 + np.arange(10 * BLOCK_SIZE)[None, :]
                term = (data[np.minimum(win, len(data) - 1)] < 0x80) & (
                    win < ends[sel][:, None])
                seen = np.cumsum(term, axis=1)
                if (seen[:, -1] < BLOCK_SIZE).any():
                    raise _bad("escape block runs past its buffer")
                vlen = np.argmax(seen >= BLOCK_SIZE, axis=1) + 1
                src = np.repeat(pos[sel] + 1, vlen) + _ranges(vlen)
                vals, _ = decode_vlongs_np(data[src], BLOCK_SIZE * len(sel))
                out[dst] = vals.reshape(-1, BLOCK_SIZE)
                pos[sel] += 1 + vlen
                continue
            if b == 0:
                vals1, vnb = _vlongs_at(data, pos[sel] + 1)
                exc_base = pos[sel] + 1 + vnb
                blk_len = 1 + vnb + 2 * nexc
                if ((vnb == 0) | (pos[sel] + blk_len > ends[sel])).any():
                    raise _bad("block runs past its buffer")
                out[dst] = vals1[:, None]
                shift = 0  # RLE stores exception high bits pre-shifted
            else:
                nbytes = (BLOCK_SIZE * b + 7) // 8
                blk_len = 1 + nbytes + 2 * nexc
                if (pos[sel] + blk_len > ends[sel]).any():
                    raise _bad("block runs past its buffer")
                src = pos[sel][:, None] + 1 + np.arange(nbytes)[None, :]
                out[dst] = _unpack_bits_matrix(data[src], b)
                exc_base = pos[sel] + 1 + nbytes
                shift = b
            if nexc.any():
                rows = np.repeat(np.arange(len(sel)), nexc)
                j = _ranges(nexc)
                p = data[exc_base[rows] + 2 * j].astype(np.int64)
                if (p >= BLOCK_SIZE).any():
                    raise _bad("exception position outside its block")
                h = data[exc_base[rows] + 2 * j + 1].astype(np.uint64)
                # (row, p) pairs are unique within a block: no index collisions
                out[wp[sel][rows] + p] |= h << np.uint64(shift)
            pos[sel] += blk_len
        wp[idx] += BLOCK_SIZE
        remaining[idx] -= 1

    # tails: exactly tail_len whole varints (1-10 bytes each) fill
    # [pos_i, end_i); concatenated they form one contiguous varint sequence
    # → a single flat decode
    t_len = ends - pos
    if ((t_len < tail_lens) | (t_len > 10 * tail_lens)).any():
        raise _bad("tail does not fill the rest of its buffer")
    total_tail = int(tail_lens.sum())
    if total_tail:
        has_tail = tail_lens > 0
        t_len, t_cnt = t_len[has_tail], tail_lens[has_tail]
        tb = data[np.repeat(pos[has_tail], t_len) + _ranges(t_len)]
        term = tb < 0x80
        if term.all():  # one-byte varints: a tail's bytes are its values
            ok = (t_len == t_cnt).all()
        else:
            last = np.cumsum(t_len) - 1
            ok = term[last].all() and (np.cumsum(term)[last] == np.cumsum(t_cnt)).all()
        if not ok:
            raise _bad("tail varint count disagrees with its header")
        tvals, _ = decode_vlongs_np(tb, total_tail)
        if total_tail == len(out):  # no full blocks
            return tvals, counts
        out[np.repeat(wp[has_tail], t_cnt) + _ranges(t_cnt)] = tvals
    return out, counts


def _ranges(lengths: np.ndarray) -> np.ndarray:
    """[0..l0), [0..l1), ... concatenated (vectorized arange per group)."""
    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    idx = np.arange(total, dtype=np.int64)
    return idx - np.repeat(starts, lengths)
