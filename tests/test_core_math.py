"""Exact-math core tests.

Ports of the reference's encoder/similarity unit tests:
  - ct/util/TestSmallFloat.java (int4/byte4 round trips, monotonicity)
  - ct/codecs/lucene90/TestPForUtil.java (random block round trips)
  - ct/codecs/lucene90/TestLucene90PostingsFormat.java:92 (impact frontiers)
  - tf/search/similarities/BaseSimilarityTestCase.java:244-258 +
    ct/search/similarities/TestBM25Similarity.java (score invariants +
    golden float32 values)
"""

import math
import struct

import numpy as np
import pytest

from lucene_spark.functions import bm25
from lucene_spark.functions.impacts import competitive_impacts
import pandas as pd

from lucene_spark.functions.blocks import (
    MAX_INTRA_BLOCK_GAP,
    Postings,
    read_blocks,
    write_blocks,
)
from lucene_spark.functions.pfor import (
    BLOCK_SIZE,
    batch_decode_streams,
    batch_encode_streams,
)
from lucene_spark.functions.smallfloat import (
    LENGTH_TABLE,
    byte4_to_int,
    int_to_byte4,
    int_to_byte4_np,
)

from tests.pfor_spec import decode as spec_decode

RNG = np.random.default_rng(42)


# ---------------------------------------------------------------- SmallFloat
class TestSmallFloat:
    def test_byte4_round_trip_all_256(self):
        for b in range(256):
            assert int_to_byte4(byte4_to_int(b)) == b

    def test_exact_below_40(self):
        for i in range(40):
            assert int_to_byte4(i) == i
            assert byte4_to_int(i) == i

    def test_monotone_and_truncating(self):
        prev = -1
        samples = sorted(
            set(
                int(x)
                for x in np.concatenate(
                    [
                        np.arange(0, 1000),
                        np.unique((10 ** RNG.uniform(0, 9.3, 5000)).astype(np.int64)),
                        [2**31 - 1],
                    ]
                )
            )
        )
        for i in samples:
            b = int_to_byte4(i)
            assert b >= prev
            prev = b
            assert byte4_to_int(b) <= i  # truncation, never rounds up

    def test_length_table_strictly_increasing(self):
        assert (np.diff(LENGTH_TABLE) > 0).all()

    def test_vectorized_matches_scalar(self):
        vals = np.concatenate(
            [np.arange(0, 5000), np.unique((10 ** RNG.uniform(0, 9.3, 2000)).astype(np.int64))]
        )
        expect = np.array([int_to_byte4(int(v)) for v in vals], dtype=np.uint8)
        got = int_to_byte4_np(vals)
        assert (expect == got).all()

    def test_negative_raises(self):
        with pytest.raises(ValueError):
            int_to_byte4(-1)


# ---------------------------------------------------------------------- PFOR
def _encode(arr) -> bytes:
    arr = np.asarray(arr, dtype=np.uint64)
    return batch_encode_streams(arr, np.array([len(arr)]))[0]


class TestPFor:
    def _round_trip(self, arr):
        arr = np.asarray(arr, dtype=np.uint64)
        data = _encode(arr)
        assert spec_decode(data) == [int(x) for x in arr]
        back, counts = batch_decode_streams([data])
        assert list(counts) == [len(arr)]
        assert (back == arr).all(), arr
        return data

    def test_empty_and_tail_only(self):
        self._round_trip([])
        self._round_trip([7])
        self._round_trip(RNG.integers(0, 2**30, 127))

    def test_random_blocks_all_bpv(self):
        # mirrors TestPForUtil.testEncodeDecode: blocks at each bpv with
        # random exception positions
        for bpv in range(0, 32):
            base = RNG.integers(0, max(1, 2**bpv), BLOCK_SIZE)
            nexc = int(RNG.integers(0, 8))
            pos = RNG.choice(BLOCK_SIZE, nexc, replace=False)
            vals = base.copy()
            vals[pos] = RNG.integers(0, 2**min(bpv + 8, 40), nexc)
            self._round_trip(vals)

    def test_all_equal_run_length(self):
        data = self._round_trip(np.full(BLOCK_SIZE, 1, dtype=np.uint64))
        # all-ones block should be tiny (token + vlong)
        assert len(data) <= 4

    def test_all_equal_with_exceptions(self):
        vals = np.full(BLOCK_SIZE, 3, dtype=np.uint64)
        vals[[5, 77]] = [200, 255]
        self._round_trip(vals)

    def test_wide_values_escape_path(self):
        # values needing >31 bits take the vlong escape (token bpv=31)
        for vals in (
            np.array([2**40, 1, 1] + [1] * 125, dtype=np.uint64),
            np.full(BLOCK_SIZE, 2**62, dtype=np.uint64),
            RNG.integers(0, 2**63, BLOCK_SIZE).astype(np.uint64),
            np.full(2 * BLOCK_SIZE + 5, 2**64 - 1, dtype=np.uint64),
        ):
            data = self._round_trip(vals)
            assert data[2 if len(vals) >= 128 else 1] == 31

    def test_doc_gap_streams(self):
        # sorted docIDs -> gaps >= 1, multi-block + tail
        for n in (1, 128, 129, 300, 1000):
            docs = np.sort(RNG.choice(10 * n, n, replace=False)).astype(np.uint64)
            gaps = np.diff(docs)
            self._round_trip(gaps)

    def test_compression_beats_raw_on_small_gaps(self):
        gaps = RNG.integers(1, 16, 4096).astype(np.uint64)
        data = _encode(gaps)
        assert len(data) < 4096 * 1.0  # ~4 bits/value expected vs 8 bytes raw

    def _mixed_streams(self, n_streams: int):
        # every stream shape: empty, tail-only, all-equal RLE, exception
        # patches, multi-block, vlong-escape wide values
        refs = []
        for i in range(n_streams):
            n = int(RNG.integers(0, 600))
            kind = i % 5
            if kind == 0:
                v = RNG.integers(0, 100, n)
            elif kind == 1:
                v = RNG.integers(0, 2**40, n)
            elif kind == 2:
                v = np.full(n, int(RNG.integers(0, 200)))
            elif kind == 3:
                v = RNG.integers(0, 50, n)
                if n:
                    k = min(7, n)
                    v[RNG.integers(0, n, k)] = RNG.integers(2**30, 2**35, k)
            else:
                v = RNG.integers(0, 2**62, n)
            refs.append(v.astype(np.uint64))
        lens = np.array([len(r) for r in refs])
        return refs, batch_encode_streams(np.concatenate(refs), lens)

    def test_batch_decode_matches_per_stream(self):
        refs, bufs = self._mixed_streams(200)
        flat, counts = batch_decode_streams(bufs)
        assert (counts == np.array([len(r) for r in refs])).all()
        off = 0
        for r, b in zip(refs, bufs):
            assert spec_decode(b) == [int(x) for x in r]
            assert (flat[off : off + len(r)] == r).all()
            off += len(r)
        assert off == len(flat)

    def test_truncated_tail_raises(self):
        data = _encode(RNG.integers(0, 2**20, 200))  # one block + 72-value tail
        for cut in (len(data) - 1, len(data) - 2):
            with pytest.raises(ValueError):
                batch_decode_streams([data[:cut]])
            with pytest.raises(ValueError):
                spec_decode(data[:cut])

    def test_truncated_block_raises(self):
        for vals in (RNG.integers(0, 2**12, 300),            # packed
                     np.full(256, 2**40, dtype=np.uint64),   # escape
                     np.full(128, 5, dtype=np.uint64)):      # run length
            data = _encode(vals)
            with pytest.raises(ValueError):
                batch_decode_streams([data[: max(2, len(data) // 2)]])

    def test_truncated_stream_never_reads_its_neighbour(self):
        refs, bufs = self._mixed_streams(40)
        for i in range(len(bufs)):
            for cut in sorted({1, len(bufs[i]) // 2, len(bufs[i]) - 1}):
                if 0 < cut < len(bufs[i]):
                    bad = bufs[:i] + [bufs[i][:cut]] + bufs[i + 1 :]
                    with pytest.raises(ValueError):
                        batch_decode_streams(bad)

    def test_trailing_bytes_raise(self):
        for vals in ([], [3, 4], np.arange(128)):
            data = _encode(vals)
            with pytest.raises(ValueError):
                batch_decode_streams([data + b"\x01"])
        with pytest.raises(ValueError):
            batch_decode_streams([b""])


# ------------------------------------------------------------ Block layout
class TestBlocks:
    """The shared block writer and reader, through the merge re-chunk."""

    def _unit(self, gid_sets, streams, tc):
        """Block rows of one unit: postings of group g over gid_sets[g]."""
        group = np.repeat(np.arange(len(gid_sets)), [len(s) for s in gid_sets])
        gid = np.concatenate(gid_sets).astype(np.int64)
        freq = RNG.integers(1, 5, len(gid))
        n_pos = int(freq.sum())
        p = Postings(gid, freq, RNG.integers(0, 256, len(gid)), {
            s: RNG.integers(0, 2**40 if s == "payloads" else 1000, n_pos)
            for s in streams
        })
        start, cols = write_blocks(group, p)
        cols["term"] = [tc[g][0] for g in group[start]]
        cols["salt"] = np.array([tc[g][1] for g in group[start]], np.int64)
        return pd.DataFrame(cols), p, group

    def test_random_round_trip(self):
        from lucene_spark.operators.check import _check_bucket
        from lucene_spark.operators.merge import _merge_bucket

        streams = ("positions", "off_starts", "off_lens", "payloads")
        # (term, salt) groups; a term's salts cover disjoint gid ranges
        tc = [("apple", 0), ("apple", 1), ("berry", 0), ("cherry", 0)]
        units, truth = [], {}
        for u in range(3):
            gid_sets = []
            for g, (_, salt) in enumerate(tc):
                n = int(RNG.integers(0, 300))
                # units interleave in gid space; some gaps exceed the cut
                base = RNG.integers(0, 5000, n) * 3 + u + salt * 2**40
                far = (RNG.random(n) < 0.05) * (MAX_INTRA_BLOCK_GAP + 7)
                gid_sets.append(np.unique(base + np.cumsum(far)))
            rows, p, group = self._unit(gid_sets, streams, tc)
            units.append(rows)
            starts = np.cumsum(p.freq) - p.freq
            for i in range(len(p.gid)):
                sl = slice(starts[i], starts[i] + p.freq[i])
                truth[(tc[group[i]][0], int(p.gid[i]))] = (
                    int(p.freq[i]), int(p.norm[i]),
                    tuple(tuple(p.streams[s][sl]) for s in streams))
        rows = pd.concat(units, ignore_index=True).sample(frac=1, random_state=3)
        all_gids = np.unique([g for _, g in truth])
        deleted = np.sort(RNG.choice(all_gids, len(all_gids) // 7, replace=False))
        out = _merge_bucket(rows, deleted, streams)

        p, doc_cnt = read_blocks(out, streams)
        assert (doc_cnt == out["doc_count"]).all()
        assert (out["doc_count"] <= BLOCK_SIZE).all()
        row_of = np.repeat(np.arange(len(out)), doc_cnt)
        in_block = row_of[1:] == row_of[:-1]
        assert (np.diff(p.gid)[in_block] > 0).all()
        assert (np.diff(p.gid)[in_block] <= MAX_INTRA_BLOCK_GAP).all()
        starts = np.cumsum(p.freq) - p.freq
        back = {}
        for i in range(len(p.gid)):
            sl = slice(starts[i], starts[i] + p.freq[i])
            back[(out["term"].iloc[row_of[i]], int(p.gid[i]))] = (
                int(p.freq[i]), int(p.norm[i]),
                tuple(tuple(p.streams[s][sl]) for s in streams))
        dead = set(deleted.tolist())
        assert back == {k: v for k, v in truth.items() if k[1] not in dead}
        assert (p.streams["payloads"] >= 2**31).any()

        report = _check_bucket(out)
        assert (report.filter(like="bad_") == 0).all().all(), report
        assert report["doc_count_sum"].sum() == len(back)


# ------------------------------------------------------------------- Impacts
class TestImpacts:
    def test_simple(self):
        f, n = competitive_impacts([1], [1])
        assert list(f) == [1] and list(n) == [1]

    def test_dominated_dropped(self):
        # (2, 3) dominates (1, 5): higher freq, lower norm
        f, n = competitive_impacts([2, 1], [3, 5])
        assert list(zip(f, n)) == [(2, 3)]

    def test_frontier_order_and_pareto(self):
        freqs = RNG.integers(1, 300, 500)
        norms = RNG.integers(0, 256, 500)
        f, n = competitive_impacts(freqs, norms)
        # strictly increasing in both freq and norm
        assert (np.diff(f) > 0).all()
        assert (np.diff(n) > 0).all()
        # every input pair is dominated by some frontier pair
        for fi, ni in zip(freqs, norms):
            assert any(ff >= fi and nn <= ni for ff, nn in zip(f, n))

    def test_max_score_is_true_upper_bound(self):
        freqs = RNG.integers(1, 300, 500)
        norms = RNG.integers(0, 256, 500)
        f, n = competitive_impacts(freqs, norms)
        scorer = bm25.BM25Scorer.build(doc_freq=10, doc_count=1000, sum_total_term_freq=50000)
        true_max = scorer.score(freqs, norms.astype(np.uint8)).max()
        assert scorer.max_score(np.stack([f, n], axis=1)) >= true_max


# ---------------------------------------------------------------------- BM25
def _java_float(x: float) -> float:
    """Round a python double to float32 the way a (float) cast does."""
    return struct.unpack("f", struct.pack("f", x))[0]


class TestBM25:
    def test_idf_matches_java_expression(self):
        for df, dc in [(1, 1), (1, 2), (5, 100), (999, 1000), (42, 12345)]:
            expect = _java_float(math.log(1.0 + (dc - df + 0.5) / (df + 0.5)))
            assert float(bm25.idf(df, dc)) == expect

    def test_score_invariants(self):
        # BaseSimilarityTestCase.testRandomScoring invariants
        scorer = bm25.BM25Scorer.build(doc_freq=7, doc_count=500, sum_total_term_freq=20000)
        freqs = np.arange(1, 200)
        norms = np.full(len(freqs), 60, dtype=np.uint8)
        s = scorer.score(freqs, norms)
        assert np.isfinite(s).all() and (s >= 0).all()
        assert (np.diff(s) >= 0).all()  # monotone in freq
        # non-increasing in doc length (norm decodes to larger length)
        one = np.array([5])
        scores_by_norm = np.array([scorer.score(one, np.array([n], dtype=np.uint8))[0] for n in range(1, 256)])
        assert (np.diff(scores_by_norm) <= 0).all()
        assert s.dtype == np.float32

    def test_score_value_golden(self):
        # hand-computed float32 chain for one case:
        # N=100, n=10, sumttf=5000, freq=3, dl=25 (norm byte == 25, exact)
        scorer = bm25.BM25Scorer.build(doc_freq=10, doc_count=100, sum_total_term_freq=5000)
        idf = _java_float(math.log(1.0 + (100 - 10 + 0.5) / (10 + 0.5)))
        avgdl = _java_float(5000 / 100.0)
        c = _java_float(
            1.0
            / _java_float(
                1.2 * _java_float(0.25 + _java_float(_java_float(0.75 * 25.0) / avgdl))
            )
        )
        expect = _java_float(idf - _java_float(idf / _java_float(1.0 + _java_float(3.0 * c))))
        got = scorer.score(np.array([3]), np.array([25], dtype=np.uint8))[0]
        assert float(got) == expect
