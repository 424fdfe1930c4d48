"""Differential tests for the vectorized flat sparse-opcode machinery
(kernel/hll.py: _sparse_scan_flat / sparse_valid_flat /
decode_sparse_pairs_flat / validate_headers_flat) against the scalar
walkers, which remain the readable reference implementation. The flat
parser is what removes per-sketch Python from the merge/estimate hot
paths (VERDICT r2 top item), so its parity is load-bearing."""

import numpy as np
import pytest

from pfutil_spark.kernel import hll


def _random_sketches(seed=7, n=400):
    rng = np.random.default_rng(seed)
    bufs = []
    for i in range(n):
        regs = hll.empty_registers()
        k = int(rng.integers(0, 60))
        if i % 7 == 0:
            k = int(rng.integers(1000, 5000))  # some dense-eligible
        idx = rng.integers(0, 16384, k)
        val = rng.integers(1, 33 if i % 5 else 51, max(k, 1))[:k].astype(np.uint8)
        if k:
            np.maximum.at(regs, idx, val)
        bufs.append(hll.encode(regs))
    bufs.append(hll.encode_empty())
    bufs.append(hll.encode(hll.empty_registers(), force_dense=True))
    return bufs


def test_decode_many_matches_scalar_decode():
    bufs = _random_sketches()
    got = hll.decode_many(bufs)
    for i, b in enumerate(bufs):
        assert np.array_equal(got[i], hll.decode(b)), i


def test_decode_sparse_pairs_flat_matches_scalar():
    bufs = _random_sketches(seed=11)
    flat, offs = hll._flat_views(bufs)
    enc = hll.validate_headers_flat(flat, offs)
    sp = np.flatnonzero(enc == hll.ENC_SPARSE)
    iseg, ireg, ival = hll.decode_sparse_pairs_flat(
        flat, offs[:-1][sp] + hll.HEADER_LEN, offs[1:][sp]
    )
    assert len(iseg) == len(ireg) == len(ival)
    # item_seg must be nondecreasing (register order within each segment)
    assert (np.diff(iseg) >= 0).all()
    for j, i in enumerate(sp.tolist()):
        r, v = hll.decode_sparse_pairs(bufs[i])
        m = iseg == j
        assert ireg[m].tolist() == r, i
        assert ival[m].tolist() == v, i


def test_sparse_valid_flat_matches_scalar_on_corrupt_streams():
    """Every opcode-stream corruption class: truncated XZERO (mid and at
    the very end), short totals, overflowing totals, VAL overflow past
    register 16384, empty payload, plus all valid payloads."""
    payloads = [bytes(b[hll.HEADER_LEN:]) for b in _random_sketches(seed=13, n=120)
                if b[4] == hll.ENC_SPARSE]
    corrupt = [
        b"\x40",                      # truncated XZERO at end
        b"",                          # empty payload (covers 0 registers)
        b"\x3f" * 10,                 # ZERO runs, total 640 != 16384
        bytes([0x43, 0xFF]) * 4 + b"\x00" * 3,   # trailing junk changes total
        b"\x7f\xff\x00",              # XZERO 16384 + 1 more ZERO: overflow
        b"\x7f\xfe\x87",              # XZERO 16383 + VAL run 4: overflow
        b"\x7f\xfb\x87",              # XZERO 16380 + VAL run 4 = 16384: valid
        b"\x87\x7f\xfb" + b"\x40",    # VAL 4 + XZERO 16380, trailing truncated XZERO
        hll._empty_sparse_payload(),  # canonical empty: valid
    ]
    cases = payloads + corrupt
    flat = np.frombuffer(b"".join(cases), dtype=np.uint8)
    lens = np.array([len(c) for c in cases], dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    got = hll.sparse_valid_flat(flat, offs[:-1], offs[1:])
    for i, c in enumerate(cases):
        expected = hll.sparse_payload_is_valid(b"\x00" * hll.HEADER_LEN + c)
        assert bool(got[i]) == expected, (i, c)
    # the two hand-built valid cases really are valid (test the test)
    assert got[len(payloads) + 6] and got[len(payloads) + 8]
    assert not got[len(payloads) + 7]


def test_sparse_scanner_random_corruption_differential():
    """Property test (VERDICT r3 #8): random byte flips / truncations /
    extensions of valid opcode streams — the flat scanner's validity
    verdict must equal the scalar walker's on EVERY mutant, and for the
    mutants both deem valid, the decoded (reg, val) pairs must match."""
    rng = np.random.default_rng(2024)
    base = [bytes(b[hll.HEADER_LEN:]) for b in _random_sketches(seed=99, n=150)
            if b[4] == hll.ENC_SPARSE]
    payloads = []
    for p in base:
        payloads.append(p)
        for _ in range(4):
            b = bytearray(p)
            op = int(rng.integers(0, 3))
            if op == 0 and len(b):
                b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
            elif op == 1 and len(b):
                b = b[: int(rng.integers(0, len(b)))]
            else:
                b += bytes(rng.integers(0, 256, int(rng.integers(1, 5))).tolist())
            payloads.append(bytes(b))
    flat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    lens = np.array([len(p) for p in payloads], dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    got = hll.sparse_valid_flat(flat, offs[:-1], offs[1:])
    header = b"\x00" * hll.HEADER_LEN
    n_valid = 0
    for i, p in enumerate(payloads):
        expected = hll.sparse_payload_is_valid(header + p)
        assert bool(got[i]) == expected, (i, p)
        if expected:
            n_valid += 1
            iseg, ireg, ival = hll.decode_sparse_pairs_flat(
                flat, offs[i : i + 1], offs[i + 1 : i + 2]
            )
            r, v = hll.decode_sparse_pairs(header + p)
            assert ireg.tolist() == r and ival.tolist() == v, i
    assert n_valid >= len(base)  # the test actually exercised valid cases


def test_decode_sparse_pairs_flat_raises_on_any_invalid_segment():
    ok = hll.encode_empty()
    bad = bytearray(ok)
    bad += b"\x00"  # extra ZERO run -> covers > 16384
    flat, offs = hll._flat_views([ok, bytes(bad)])
    with pytest.raises(ValueError, match="Invalid HLL representation"):
        hll.decode_sparse_pairs_flat(flat, offs[:-1] + hll.HEADER_LEN, offs[1:])


def test_validate_headers_flat_rejects_each_header_corruption():
    good = hll.encode_empty()
    for mutant in [
        b"JUNK" + good[4:],                 # magic
        good[:4] + b"\x02" + good[5:],      # unknown encoding
        good[:10],                           # short buffer
        good[:4] + b"\x00" + good[5:],      # dense claim, wrong length
    ]:
        flat, offs = hll._flat_views([good, mutant])
        with pytest.raises(ValueError, match="Invalid HLL representation"):
            hll.validate_headers_flat(flat, offs)
    flat, offs = hll._flat_views([good, good])
    assert hll.validate_headers_flat(flat, offs).tolist() == [1, 1]


def test_estimate_bytes_batch_empty_and_order():
    assert hll.estimate_bytes_batch([], 4).shape == (0,)
    # interleaved dense/sparse keeps positional alignment
    rng = np.random.default_rng(5)
    bufs = []
    for i in range(40):
        regs = hll.empty_registers()
        k = 5000 if i % 2 else 3
        np.maximum.at(regs, rng.integers(0, 16384, k),
                      rng.integers(1, 30, k).astype(np.uint8))
        bufs.append(hll.encode(regs))
    for ver in (4, 5):
        fast = hll.estimate_bytes_batch(bufs, ver)
        slow = hll.estimate_batch(hll.decode_many(bufs), ver)
        assert np.array_equal(fast, slow)


class TestSparseCanonicality:
    """r3 review finding: the merge passthrough must only pass bytes the
    canonical encoder itself would produce — a VALID but non-canonical
    sparse encoding re-routes and re-encodes, so pf_merge output bytes
    never depend on which partition a partial landed in."""

    @staticmethod
    def _flags(payloads):
        data = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        offs = np.zeros(len(payloads) + 1, dtype=np.int64)
        offs[1:] = np.cumsum([len(p) for p in payloads])
        return hll.sparse_valid_canonical_flat(data, offs[:-1], offs[1:])

    @staticmethod
    def _canon(bufs):
        """hll.canonical_flat (the merge pass-through gate) per whole
        wire buffer."""
        return hll.canonical_flat(*hll._flat_views(bufs))

    @staticmethod
    def _sparse(payload):
        """``payload`` behind the canonical invalid-cache sparse header."""
        return bytes(hll._header(hll.ENC_SPARSE, None)) + payload

    def test_canonical_encoder_outputs_flagged_canonical(self):
        rng = np.random.default_rng(0)
        payloads = []
        for _ in range(300):
            regs = hll.empty_registers()
            n = int(rng.integers(0, 60))
            if n:
                idx = rng.integers(0, 16384, n)
                regs[idx] = rng.integers(1, 33, n).astype(np.uint8)
                s = int(rng.integers(0, 16300))
                regs[s : s + int(rng.integers(1, 14))] = int(rng.integers(1, 33))
            p = hll.encode_sparse_payload(regs)
            if p is not None:
                payloads.append(p)
        v, c = self._flags(payloads)
        assert v.all() and c.all()
        assert self._canon([self._sparse(p) for p in payloads]).all()

    def test_non_canonical_valid_payloads_detected(self):
        val = lambda v, r: bytes([0x80 | ((v - 1) << 2) | (r - 1)])  # noqa: E731
        zero = lambda r: bytes([r - 1])  # noqa: E731
        xzero = lambda r: bytes([0x40 | ((r - 1) >> 8), (r - 1) & 0xFF])  # noqa: E731
        cases = [
            (val(5, 1) + xzero(8192) + xzero(8191), False),  # split XZERO
            (zero(64) + zero(64) + xzero(16384 - 128), False),  # adj ZEROs
            (val(7, 2) + val(7, 4) + xzero(16384 - 6), False),  # short VAL first
            (xzero(60) + val(3, 1) + xzero(16384 - 61), False),  # XZERO fits ZERO
            (val(7, 4) + val(7, 2) + xzero(16384 - 6), True),  # canonical chain
            (val(7, 4) + val(3, 2) + xzero(16384 - 6), True),  # diff-value VALs
        ]
        v, c = self._flags([p for p, _ in cases])
        assert v.all()
        assert c.tolist() == [exp for _, exp in cases]
        assert self._canon([self._sparse(p) for p, _ in cases]).tolist() == [
            exp for _, exp in cases
        ]

    def test_merge_bytes_partition_independent_for_noncanonical_input(self):
        import pyarrow as pa

        from pfutil_spark.operators.hll_agg import SKETCH_COL, merge_record_batch

        val = lambda v, r: bytes([0x80 | ((v - 1) << 2) | (r - 1)])  # noqa: E731
        xzero = lambda r: bytes([0x40 | ((r - 1) >> 8), (r - 1) & 0xFF])  # noqa: E731
        h = bytearray(16)
        h[0:4] = b"HYLL"
        h[4] = 1
        h[15] = 0x80
        nc = bytes(h) + val(5, 1) + xzero(8192) + xzero(8191)
        empty = hll.encode(hll.empty_registers())
        one = pa.record_batch(
            [pa.array(["g"]), pa.array([nc], type=pa.binary())],
            names=["k", SKETCH_COL],
        )
        split = pa.record_batch(
            [pa.array(["g", "g"]), pa.array([nc, empty], type=pa.binary())],
            names=["k", SKETCH_COL],
        )
        o1 = merge_record_batch(one, ["k"], SKETCH_COL).column(SKETCH_COL)[0].as_py()
        o2 = merge_record_batch(split, ["k"], SKETCH_COL).column(SKETCH_COL)[0].as_py()
        assert o1 == o2 == hll.encode(hll.decode(nc))

    def test_encoder_dense_regime_not_canonical(self):
        """ADVICE r3 (medium): an opcode-canonical sparse stream whose nnz
        exceeds the encoder's sparse-eligibility bail (nnz*3+4 >= 12288)
        must be flagged NON-canonical — encode() would emit that register
        state DENSE, so passing it through the merge untouched would make
        pf_merge bytes depend on partition placement."""
        val4 = bytes([0x80 | (0 << 2) | 3])  # VAL val=1 run=4
        all_ones = val4 * 4096  # all 16384 registers = 1 -> nnz 16384
        v, c = self._flags([all_ones])
        assert v[0] and not c[0]
        assert not self._canon([self._sparse(all_ones)])[0]
        # sanity: the encoder indeed refuses sparse for this state
        assert hll.encode_sparse_payload(np.ones(16384, dtype=np.uint8)) is None
        # a state just UNDER the bail (nnz*3+4 = 12004 < 12288) stays
        # canonical when the encoder itself produced it
        regs = hll.empty_registers()
        regs[:4000] = 1
        p = hll.encode_sparse_payload(regs)
        assert p is not None
        v, c = self._flags([p])
        assert v[0] and c[0]
        assert self._canon([self._sparse(p)])[0]

    def _merge_single_vs_split(self, nc):
        """Merge ``nc`` alone vs split across two partials of one group;
        both must yield the canonical re-encode of its registers."""
        import pyarrow as pa

        from pfutil_spark.operators.hll_agg import SKETCH_COL, merge_record_batch

        empty = hll.encode(hll.empty_registers())
        one = pa.record_batch(
            [pa.array(["g"]), pa.array([nc], type=pa.binary())],
            names=["k", SKETCH_COL],
        )
        split = pa.record_batch(
            [pa.array(["g", "g"]), pa.array([nc, empty], type=pa.binary())],
            names=["k", SKETCH_COL],
        )
        o1 = merge_record_batch(one, ["k"], SKETCH_COL).column(SKETCH_COL)[0].as_py()
        o2 = merge_record_batch(split, ["k"], SKETCH_COL).column(SKETCH_COL)[0].as_py()
        assert o1 == o2 == hll.encode(hll.decode(nc))

    def test_merge_partition_independent_for_dense_regime_sparse_single(self):
        h = bytearray(16)
        h[0:4] = b"HYLL"
        h[4] = hll.ENC_SPARSE
        h[15] = 0x80
        val4 = bytes([0x80 | (0 << 2) | 3])
        nc = bytes(h) + val4 * 4096  # valid sparse, encoder-dense regime
        self._merge_single_vs_split(nc)

    def test_merge_partition_independent_for_stale_header_bytes(self):
        """ADVICE r3 (low): invalid-cache flag set but junk in header
        bytes 5-14, or extra bits in byte 15 — the passthrough probe must
        reject these so the junk can't survive in single-partial groups
        while vanishing in multi-partial ones."""
        regs = hll.empty_registers()
        regs[7] = 3
        base = hll.encode(regs)
        assert base[4] == hll.ENC_SPARSE and base[15] == 0x80
        mutants = (
            base[:8] + b"\x07" + base[9:],   # stale cache byte alongside flag
            base[:15] + b"\x81" + base[16:], # extra bit in byte 15
            base[:5] + b"\x01" + base[6:],   # junk in reserved byte 5
        )
        assert self._canon([base, *mutants]).tolist() == [True, False, False, False]
        for mutant in mutants:
            self._merge_single_vs_split(mutant)

    def test_canonical_flat_gate(self):
        """The pass-through gate over whole wire buffers: the canonical
        encoder's sparse and dense output passes; a dense-encoded but
        sparse-eligible sketch, a buffer without the invalid-cache flag
        and a dense buffer of the wrong length do not; junk, short and
        empty inputs read False without raising."""
        rng = np.random.default_rng(3)
        small, big = hll.empty_registers(), hll.empty_registers()
        small[[3, 900]] = 5
        np.maximum.at(big, rng.integers(0, 16384, 12000), rng.integers(1, 40, 12000).astype(np.uint8))
        sparse, dense = hll.encode(small), hll.encode(big)
        assert sparse[4] == hll.ENC_SPARSE and dense[4] == hll.ENC_DENSE
        bufs = [
            sparse,
            dense,
            hll.encode(small, force_dense=True),  # sparse-eligible, dense bytes
            hll.encode(small, cache=2),           # cache valid: flag clear
            hll.encode_empty(),                   # flag-less empty sketch
            dense[:-1],                           # dense, short by one byte
            b"HYLL" + bytes(100),
            b"JUNK" + sparse[4:],
            b"",
            b"\xff" * 3,
        ]
        assert self._canon(bufs).tolist() == [True, True] + [False] * 8
        for tiny in ([b"HYLL"], [b""], [b"\x00" * 15], [sparse[:17]]):
            assert not self._canon(tiny).any()  # batch under 18 bytes
        assert hll.canonical_flat(np.zeros(0, np.uint8), np.zeros(1, np.int64)).shape == (0,)
