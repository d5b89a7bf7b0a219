"""Scalar reference decoder of one PFOR stream, written from the format
described in ``lucene_spark/functions/pfor.py``: the round-trip oracle for
``batch_encode_streams``/``batch_decode_streams``. Plain Python ints, no
numpy, one value at a time."""

BLOCK_SIZE = 128


def _vlong(buf: bytes, pos: int) -> "tuple[int, int]":
    v = shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return v, pos
        shift += 7


def decode(buf: bytes) -> "list[int]":
    """Values of one encoded stream; ValueError if it is malformed."""
    n, pos = _vlong(buf, 0)
    out: list = []
    for _ in range(n // BLOCK_SIZE):
        if pos >= len(buf):
            raise ValueError("truncated block")
        token = buf[pos]
        pos += 1
        bpv, n_exc = token & 0x1F, token >> 5
        if bpv == 31:  # escape: raw vlongs
            for _ in range(BLOCK_SIZE):
                v, pos = _vlong(buf, pos)
                out.append(v)
            continue
        if bpv == 0:  # run length; exception high bits stored pre-shifted
            v, pos = _vlong(buf, pos)
            block, shift = [v] * BLOCK_SIZE, 0
        else:  # little-endian bit packing
            nbytes = (BLOCK_SIZE * bpv + 7) // 8
            if pos + nbytes > len(buf):
                raise ValueError("truncated block")
            bits = int.from_bytes(buf[pos : pos + nbytes], "little")
            pos += nbytes
            mask = (1 << bpv) - 1
            block = [(bits >> (i * bpv)) & mask for i in range(BLOCK_SIZE)]
            shift = bpv
        if pos + 2 * n_exc > len(buf):
            raise ValueError("truncated exceptions")
        for _ in range(n_exc):
            block[buf[pos]] |= buf[pos + 1] << shift
            pos += 2
        out.extend(block)
    while len(out) < n:
        v, pos = _vlong(buf, pos)
        out.append(v)
    if pos != len(buf):
        raise ValueError("bytes left after the stream")
    return out
