"""Redis-wire-compatible HyperLogLog kernel, vectorized with numpy.

Re-implements — from scratch, Spark/numpy-first — the exact semantics of the
reference data structure (`/root/reference/core/src/main/java/com/mayreh/
pfutil/HllByteBuffer.java`) and its two estimators:

* buffer layout: 16-byte header (``HYLL`` magic, encoding byte, 3 unused,
  little-endian u64 cardinality cache whose MSB is the "invalid" flag),
  then 16384 6-bit registers packed LSB-first (dense, 12304 bytes total)
  or Redis run-length opcodes (sparse).  (HllByteBuffer.java:8-47,83-173)
* hashing: MurmurHash64A seed 0xadc83b19; register index = low 14 bits;
  register value = "patLen", the 1-based position of the first 1-bit —
  v4 scans the raw hash from bit 14 with a sentinel at bit 63
  (v4/HllhdrV4.java:52-65); v5 scans ``hash >> 14`` with a sentinel at bit
  50 (v5/HllhdrV5.java:47-60).
* estimate: v4 = LogLog-Beta (v4/HllhdrV4.java:127-157); v5 = Ertl
  tau/sigma histogram estimator, arXiv:1702.01284 (v5/HllhdrV5.java:131-157).
  Constants are copied digit-for-digit and the floating-point operation
  ORDER is preserved (sequential register-order accumulation via cumsum,
  left-associative multiplies, Math.round == floor(x+0.5)) so estimates are
  bit-identical to the reference / Redis.
* merge: register-wise max (HllByteBuffer.java:341-398) == np.maximum.

In-flight representation is a ``(16384,)`` (or ``(n, 16384)`` batched)
uint8 register vector; serialization goes through :func:`encode` /
:func:`decode`.  Like the reference ("the representation always be promoted
to dense", HllByteBuffer.java:177-180) we never *edit* sparse buffers in
place — but our encoder CAN emit general sparse (ZERO/XZERO/VAL runs) when
the state is small and all registers <= 32, which shrinks shuffle bytes for
long-tail groups while remaining loadable by real Redis.
"""

from __future__ import annotations

import math

import numpy as np

from .murmur import HLL_SEED, murmur64a
from .sketch_common import probe_headers, segment_ranks

HLL_P = 14
HLL_REGISTERS = 1 << HLL_P  # 16384
HLL_BITS = 6
HLL_REGISTER_MAX = (1 << HLL_BITS) - 1  # 63
HLL_Q = 64 - HLL_P  # 50
HEADER_LEN = 16
HLL_DENSE_SIZE = HEADER_LEN + (HLL_REGISTERS * HLL_BITS + 7) // 8  # 12304

MAGIC = b"HYLL"
ENC_DENSE = 0
ENC_SPARSE = 1

# 0.5 / ln(2), exactly as v5/HllhdrV5.java:17
HLL_ALPHA_INF = 0.721347520444481703680

_CACHE_INVALID_BIT = 1 << 7  # MSB of header byte 15 (HllByteBuffer.java:119-123)


# ---------------------------------------------------------------------------
# hashing → (register index, patLen)
# ---------------------------------------------------------------------------

def _trailing_zeros(w: np.ndarray) -> np.ndarray:
    """Trailing-zero count of nonzero uint64 values <= 2^52 (exact via frexp)."""
    lsb = w & (~w + np.uint64(1))
    # frexp(2^k) == (0.5, k+1); exact for k <= 52 (values here are <= 2^50)
    return (np.frexp(lsb.astype(np.float64))[1] - 1).astype(np.int64)


def patlen_v4(hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(index, patLen) per v4: sentinel at bit 63, scan from bit 14.

    Parity: v4/HllhdrV4.java:52-65 (count = 1 + #zero bits from bit 14).
    """
    idx = (hashes & np.uint64(HLL_REGISTERS - 1)).astype(np.int64)
    w = (hashes | np.uint64(1 << 63)) >> np.uint64(HLL_P)
    count = _trailing_zeros(w) + 1  # max 50
    return idx, count.astype(np.uint8)


def patlen_v5(hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(index, patLen) per v5: hash >> 14, sentinel at bit HLL_Q=50.

    Parity: v5/HllhdrV5.java:47-60 (max patLen = HLL_Q + 1 = 51).
    """
    idx = (hashes & np.uint64(HLL_REGISTERS - 1)).astype(np.int64)
    w = (hashes >> np.uint64(HLL_P)) | (np.uint64(1) << np.uint64(HLL_Q))
    count = _trailing_zeros(w) + 1  # max 51
    return idx, count.astype(np.uint8)


def hash_and_patlen(datas, version: int = 4) -> tuple[np.ndarray, np.ndarray]:
    h = murmur64a(datas, HLL_SEED)
    return patlen_v4(h) if version == 4 else patlen_v5(h)


def hash_and_patlen_flat(
    data: np.ndarray, offsets: np.ndarray, version: int = 4
) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy variant over Arrow (values, offsets) buffers."""
    from .murmur import murmur64a_flat

    h = murmur64a_flat(data, offsets, HLL_SEED)
    return patlen_v4(h) if version == 4 else patlen_v5(h)


# ---------------------------------------------------------------------------
# register-vector operations (the PFADD / PFMERGE kernels)
# ---------------------------------------------------------------------------

def empty_registers(n: int | None = None) -> np.ndarray:
    """UDAF zero element (reference: fresh all-zero sparse buffer,
    HllByteBuffer.java:27-47)."""
    if n is None:
        return np.zeros(HLL_REGISTERS, dtype=np.uint8)
    return np.zeros((n, HLL_REGISTERS), dtype=np.uint8)


def update_registers(regs: np.ndarray, idx: np.ndarray, patlen: np.ndarray) -> None:
    """Batch PFADD: register[i] = max(register[i], patlen) — the conditional
    "set only if greater" of denseSetIfNeeded (HllByteBuffer.java:275-282)
    IS max semantics. In-place on a (16384,) vector."""
    np.maximum.at(regs, idx, patlen)


def update_registers_grouped(
    regs: np.ndarray, group_codes: np.ndarray, idx: np.ndarray, patlen: np.ndarray
) -> None:
    """Batch PFADD across groups: regs is (n_groups, 16384); one scatter-max.

    Flattened to a 1-D ufunc.at (group*16384 + idx) — numpy's 2-D fancy
    ``.at`` path is ~5x slower."""
    flat = group_codes.astype(np.int64) * HLL_REGISTERS + idx
    np.maximum.at(regs.reshape(-1), flat, patlen)


def merge_registers(stack: np.ndarray) -> np.ndarray:
    """PFMERGE: register-wise max over (k, 16384) stacked states
    (HllByteBuffer.java:341-398, single-pass N-way)."""
    return np.maximum.reduce(stack, axis=0)


# ---------------------------------------------------------------------------
# estimators (bit-exact parity with the reference)
# ---------------------------------------------------------------------------

def _estimate_v4_from_parts(ez: float, E: float) -> int:
    """LogLog-Beta arithmetic, v4/HllhdrV4.java:144-156 — constants and
    float op order verbatim; Math.round == floor(x+0.5)."""
    m = float(HLL_REGISTERS)
    alpha = 0.7213 / (1 + 1.079 / m)
    zl = math.log(ez + 1)
    beta = (
        -0.370393911 * ez
        + 0.070471823 * zl
        + 0.17393686 * math.pow(zl, 2)
        + 0.16339839 * math.pow(zl, 3)
        + -0.09237745 * math.pow(zl, 4)
        + 0.03738027 * math.pow(zl, 5)
        + -0.005384159 * math.pow(zl, 6)
        + 0.00042419 * math.pow(zl, 7)
    )
    result = alpha * m * (m - ez) * (1 / (E + beta))
    # Java Math.round saturates at Long.MAX_VALUE on overflow
    return min(int(math.floor(result + 0.5)), (1 << 63) - 1)


def _dense_sum_batch(regs2d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ez, E) per row with Java's exact sequential accumulation order:
    denseSum (v4/HllhdrV4.java:67-80) adds pow2(-reg) register by register;
    cumsum reproduces strict left-to-right float64 addition (adding 0.0 for
    zero registers is an exact no-op), then E += ez.

    Blocked over rows so the float64 temp stays cache-sized regardless of
    sketch count (a merge task may evaluate 10^5+ group sketches)."""
    n = regs2d.shape[0]
    ez_all = np.empty(n, dtype=np.int64)
    e_all = np.empty(n, dtype=np.float64)
    block = max(1, (1 << 24) // (HLL_REGISTERS * 8))  # ~16MB of float64 temp
    for s in range(0, n, block):
        r = regs2d[s : s + block]
        ez = (r == 0).sum(axis=1).astype(np.int64)
        # ldexp(0.0, 0) == 0.0 for zero registers; ldexp(1.0, -reg) else
        terms = np.ldexp((r != 0).astype(np.float64), -r.astype(np.int32))
        np.cumsum(terms, axis=1, out=terms)
        ez_all[s : s + block] = ez
        e_all[s : s + block] = terms[:, -1] + ez
    return ez_all, e_all


def estimate_v4(regs: np.ndarray) -> int:
    regs2d = regs.reshape(1, -1)
    ez, E = _dense_sum_batch(regs2d)
    return _estimate_v4_from_parts(float(ez[0]), float(E[0]))


def estimate_v4_batch(regs2d: np.ndarray) -> np.ndarray:
    """Vectorized across sketches: identical per-element float op order
    as the scalar path (numpy elementwise ops == libm scalar ops), so
    results are bit-identical — asserted by tests against the scalar
    golden path."""
    ez, E = _dense_sum_batch(regs2d)
    return _v4_batch_from_parts(ez, E)


def _v4_batch_from_parts(ez: np.ndarray, E: np.ndarray) -> np.ndarray:
    m = float(HLL_REGISTERS)
    alpha = 0.7213 / (1 + 1.079 / m)
    ezf = ez.astype(np.float64)
    zl = np.log(ezf + 1)
    beta = (
        -0.370393911 * ezf
        + 0.070471823 * zl
        + 0.17393686 * np.power(zl, 2)
        + 0.16339839 * np.power(zl, 3)
        + -0.09237745 * np.power(zl, 4)
        + 0.03738027 * np.power(zl, 5)
        + -0.005384159 * np.power(zl, 6)
        + 0.00042419 * np.power(zl, 7)
    )
    result = np.floor(alpha * m * (m - ezf) * (1 / (E + beta)) + 0.5)
    # Java Math.round saturates at Long.MAX_VALUE on overflow
    out = np.empty(len(result), dtype=np.int64)
    big = result >= np.float64(1 << 63)
    out[~big] = result[~big].astype(np.int64)
    out[big] = (1 << 63) - 1
    return out


def _tau(x: float) -> float:
    """v5/HllhdrV5.java:62-78 — iterate to exact float convergence."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y = 1.0
    z = 1 - x
    while True:
        x = math.sqrt(x)
        z_prime = z
        y *= 0.5
        z -= math.pow(1 - x, 2) * y
        if z_prime == z:
            return z / 3


def _sigma(x: float) -> float:
    """v5/HllhdrV5.java:80-96 — geometric-doubling series; sigma(1) = +inf."""
    if x == 1.0:
        return math.inf
    y = 1.0
    z = x
    while True:
        x = x * x
        z_prime = z
        z += x * y
        y += y
        if z_prime == z:
            return z


def _estimate_v5_from_histo(histo: np.ndarray) -> int:
    """Ertl estimator fold, v5/HllhdrV5.java:131-157 (constants and float op
    order verbatim, alpha_inf*m*m/z left-associative, round = floor(x+0.5))."""
    m = float(HLL_REGISTERS)
    z = m * _tau((m - float(histo[HLL_Q + 1])) / m)
    for i in range(HLL_Q, 0, -1):
        z += float(histo[i])
        z *= 0.5
    z += m * _sigma(float(histo[0]) / m)
    if z == math.inf:
        return 0
    E = HLL_ALPHA_INF * m * m / z
    # Java Math.round saturates at Long.MAX_VALUE on overflow
    return min(int(math.floor(E + 0.5)), (1 << 63) - 1)


def reg_histo(regs: np.ndarray) -> np.ndarray:
    """Register-value histogram, 64 buckets (v5/HllhdrV5.java:98-102)."""
    return np.bincount(regs, minlength=64)


def estimate_v5(regs: np.ndarray) -> int:
    return _estimate_v5_from_histo(reg_histo(regs))


def _tau_vec(x: np.ndarray) -> np.ndarray:
    """Vectorized tau: iterate globally until every element converges.
    Once an element's z stops changing, further iterations subtract
    increments that round to zero (monotonically shrinking), so extra
    global iterations are exact no-ops — results == scalar _tau."""
    x = x.copy()
    trivial = (x == 0.0) | (x == 1.0)
    x[trivial] = 1.0  # no-op lanes (converge immediately)
    y = np.ones_like(x)
    z = 1 - x
    while True:
        x = np.sqrt(x)
        z_prime = z.copy()
        y *= 0.5
        z = z - np.power(1 - x, 2) * y
        if np.array_equal(z_prime, z, equal_nan=True):
            break
    out = z / 3
    out[trivial] = 0.0
    return out


def _sigma_vec(x: np.ndarray) -> np.ndarray:
    """Vectorized sigma; sigma(1) = +inf. Same exact-convergence argument
    as _tau_vec (increment magnitudes shrink monotonically at the tail)."""
    x = x.copy()
    inf_mask = x == 1.0
    x[inf_mask] = 0.0  # iterate something harmless for those lanes
    y = np.ones_like(x)
    z = x.copy()
    while True:
        x = x * x
        z_prime = z.copy()
        z = z + x * y
        y = y + y
        if np.array_equal(z_prime, z, equal_nan=True):
            break
    z[inf_mask] = np.inf
    return z


def estimate_v5_batch(regs2d: np.ndarray) -> np.ndarray:
    """Vectorized Ertl estimator across sketches (bit-identical to the
    scalar path — same float op order elementwise; tested)."""
    n = regs2d.shape[0]
    # bincount per row without a row loop: offset each row into its own
    # range; blocked so the int64 temp stays cache-sized
    histos = np.empty((n, 64), dtype=np.float64)
    block = max(1, (1 << 24) // (HLL_REGISTERS * 8))
    off_block = (np.arange(block, dtype=np.int64) * 64)[:, None]
    for s in range(0, n, block):
        r = regs2d[s : s + block]
        b = r.shape[0]
        flat = (r.astype(np.int64) + off_block[:b]).ravel()
        histos[s : s + block] = np.bincount(flat, minlength=b * 64).reshape(b, 64)
    return _v5_batch_from_histos(histos)


def _v5_batch_from_histos(histos: np.ndarray) -> np.ndarray:
    n = histos.shape[0]
    m = float(HLL_REGISTERS)
    z = m * _tau_vec((m - histos[:, HLL_Q + 1]) / m)
    for i in range(HLL_Q, 0, -1):
        z += histos[:, i]
        z *= 0.5
    z += m * _sigma_vec(histos[:, 0] / m)
    E = HLL_ALPHA_INF * m * m / z
    out = np.zeros(n, dtype=np.int64)
    E = np.floor(E + 0.5)
    ok = np.isfinite(E) & (E < np.float64(1 << 63))
    out[ok] = E[ok].astype(np.int64)
    out[np.isfinite(E) & ~ok] = (1 << 63) - 1  # Java Math.round saturation
    return out


def estimate(regs: np.ndarray, version: int = 4) -> int:
    return estimate_v4(regs) if version == 4 else estimate_v5(regs)


def estimate_batch(regs2d: np.ndarray, version: int = 4) -> np.ndarray:
    return estimate_v4_batch(regs2d) if version == 4 else estimate_v5_batch(regs2d)


# ---------------------------------------------------------------------------
# dense 6-bit packing (HllByteBuffer.java:242-273, LSB-first bit layout)
# ---------------------------------------------------------------------------

def unpack_dense(payload: np.ndarray) -> np.ndarray:
    """(n, 12288) uint8 packed bytes -> (n, 16384) uint8 registers.

    Registers are 6 bits, LSB-first, so every 3 bytes hold exactly 4
    registers: one shift/mask pass per register lane over (n, 4096)
    byte triples — no 8x bit expansion."""
    if payload.ndim == 1:
        payload = payload.reshape(1, -1)
    n = payload.shape[0]
    b = payload.reshape(n, HLL_REGISTERS // 4, 3)
    b0, b1, b2 = b[:, :, 0], b[:, :, 1], b[:, :, 2]
    out = np.empty((n, HLL_REGISTERS // 4, 4), dtype=np.uint8)
    np.bitwise_and(b0, 0x3F, out=out[:, :, 0])
    out[:, :, 1] = (b0 >> 6) | ((b1 & 0x0F) << 2)
    out[:, :, 2] = (b1 >> 4) | ((b2 & 0x03) << 4)
    np.right_shift(b2, 2, out=out[:, :, 3])
    return out.reshape(n, HLL_REGISTERS)


def pack_dense(regs2d: np.ndarray) -> np.ndarray:
    """(n, 16384) uint8 registers -> (n, 12288) uint8 packed payload.

    Inverse of :func:`unpack_dense`: each 4 registers (low 6 bits each)
    become 3 bytes with shifts and masks."""
    if regs2d.ndim == 1:
        regs2d = regs2d.reshape(1, -1)
    n = regs2d.shape[0]
    r = regs2d.reshape(n, HLL_REGISTERS // 4, 4) & np.uint8(HLL_REGISTER_MAX)
    r0, r1, r2, r3 = r[:, :, 0], r[:, :, 1], r[:, :, 2], r[:, :, 3]
    out = np.empty((n, HLL_REGISTERS // 4, 3), dtype=np.uint8)
    out[:, :, 0] = r0 | (r1 << 6)
    out[:, :, 1] = (r1 >> 2) | (r2 << 4)
    out[:, :, 2] = (r2 >> 4) | (r3 << 2)
    return out.reshape(n, HLL_DENSE_SIZE - HEADER_LEN)


# ---------------------------------------------------------------------------
# sparse codec (Redis opcodes: ZERO 00xxxxxx / XZERO 01xxxxxx yyyyyyyy /
# VAL 1vvvvvll — HllByteBuffer.java:209-238)
# ---------------------------------------------------------------------------

def decode_sparse(buf: bytes | np.ndarray) -> np.ndarray:
    """Sparse payload walk -> (16384,) registers. Mirrors
    promoteSparseToDense (HllByteBuffer.java:290-332) incl. the hard
    integrity check that exactly 16384 registers are covered."""
    b = np.frombuffer(bytes(buf), dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    regs = np.zeros(HLL_REGISTERS, dtype=np.uint8)
    p, idx = HEADER_LEN, 0
    n = len(b)
    while p < n:
        op = int(b[p])
        top = op & 0xC0
        if top == 0x00:  # ZERO: run of 1..64 zero registers
            idx += (op & 0x3F) + 1
            p += 1
        elif top == 0x40:  # XZERO: run of 1..16384 zero registers
            idx += (((op & 0x3F) << 8) | int(b[p + 1])) + 1
            p += 2
        else:  # VAL: run of 1..4 registers of value 1..32
            runlen = (op & 0x3) + 1
            val = ((op >> 2) & 0x1F) + 1
            if idx + runlen > HLL_REGISTERS:
                raise ValueError("sparse VAL run overflows register space")
            regs[idx : idx + runlen] = val
            idx += runlen
            p += 1
    if idx != HLL_REGISTERS:
        raise ValueError("failed to promote to dense")  # HllByteBuffer.java:327-329
    return regs


# Our sparse ENCODER is a superset of the reference's write path (which only
# ever writes the empty buffer, HllByteBuffer.java:27-47): it emits general
# ZERO/XZERO/VAL runs — still decodable by real Redis and by decode_sparse —
# whenever all register values are <= 32 and the encoding is smaller than
# dense. This is the shuffle-size optimization for long-tail groups.

def encode_sparse_payload(regs: np.ndarray) -> bytes | None:
    """Registers -> sparse opcode bytes, or None if not representable
    (any value > 32) or not smaller than the dense payload."""
    nz = np.flatnonzero(regs)
    if len(nz) == 0:
        return _EMPTY_SPARSE
    vals = regs[nz].astype(np.int64)
    if vals.max() > 32:
        return None
    # worst case ~3 bytes per nonzero + 2 per gap; bail early if clearly big
    if len(nz) * 3 + 4 >= HLL_DENSE_SIZE - HEADER_LEN:
        return None
    out = bytearray()
    pos = 0
    # split nonzero positions into maximal runs of consecutive equal values
    splits = np.flatnonzero((np.diff(nz) != 1) | (np.diff(vals) != 0)) + 1
    run_starts = np.concatenate(([0], splits))
    run_ends = np.concatenate((splits, [len(nz)]))
    for s, e in zip(run_starts.tolist(), run_ends.tolist()):
        start_reg = int(nz[s])
        run_len = int(e - s)
        val = int(vals[s])
        gap = start_reg - pos
        _emit_zero_runs(out, gap)
        # VAL opcode covers runs of 1..4; chunk longer runs
        while run_len > 0:
            chunk = min(run_len, 4)
            out.append(0x80 | ((val - 1) << 2) | (chunk - 1))
            run_len -= chunk
        pos = start_reg + (e - s)
    _emit_zero_runs(out, HLL_REGISTERS - pos)
    if len(out) >= HLL_DENSE_SIZE - HEADER_LEN:
        return None
    return bytes(out)


def _emit_zero_runs(out: bytearray, gap: int) -> None:
    while gap > 0:
        if gap > 64:
            chunk = min(gap, 16384)
            l = chunk - 1
            out.append(0x40 | (l >> 8))
            out.append(l & 0xFF)
        else:
            chunk = gap
            out.append(chunk - 1)
        gap -= chunk


def _empty_sparse_payload() -> bytes:
    # XZERO run(s) covering all 16384 registers (HllByteBuffer.java:27-47)
    out = bytearray()
    _emit_zero_runs(out, HLL_REGISTERS)
    return bytes(out)


_EMPTY_SPARSE = _empty_sparse_payload()


# ---------------------------------------------------------------------------
# wire-format encode / decode (header per HllByteBuffer.java:20,119-173)
# ---------------------------------------------------------------------------

def _header(encoding: int, cache: int | None) -> bytearray:
    h = bytearray(HEADER_LEN)
    h[0:4] = MAGIC
    h[4] = encoding
    if cache is None:
        h[15] |= _CACHE_INVALID_BIT  # invalid-cache flag (invalidateCache)
    else:
        c = int(cache)
        for i in range(8):
            h[8 + i] = (c >> (8 * i)) & 0xFF
    return h


def encode(
    regs: np.ndarray,
    cache: int | None = None,
    allow_sparse: bool = True,
    force_dense: bool = False,
) -> bytes:
    """Registers -> wire bytes (``HYLL`` header + payload).

    ``cache=None`` sets the invalid-cache flag; an integer stamps the
    cardinality cache (what pfCount does after computing,
    v4/HllV4.java:31-43 — required for byte-identical dump round-trips,
    v4/HllV4Test.java:46-55).
    """
    regs = np.ascontiguousarray(regs, dtype=np.uint8)
    if not force_dense and allow_sparse:
        payload = encode_sparse_payload(regs)
        if payload is not None:
            return bytes(_header(ENC_SPARSE, cache)) + payload
    return bytes(_header(ENC_DENSE, cache)) + pack_dense(regs).tobytes()


def encode_groups(
    inverse: np.ndarray, idx: np.ndarray, patlen: np.ndarray, n_groups: int
) -> tuple[np.ndarray, np.ndarray]:
    """Canonical wire encodings for ``n_groups`` register states given
    scattered (group, register, value) updates — the HIGH-CARDINALITY
    partial path: never materializes an (n_groups, 16384) matrix and has
    no per-group Python in the sparse flow (token positions are computed
    with cumsums and written with fancy indexing).

    Byte-identical to ``encode(regs)`` applied to each group's dense
    register vector (same sparse-eligibility rules, same opcode stream,
    same invalid-cache header), asserted by tests/test_hll_kernel.py.

    Returns ``(data, offsets)``: a flat uint8 buffer and int64 offsets of
    length n_groups+1 — directly usable as Arrow binary-array buffers.
    """
    R = HLL_REGISTERS
    dense_payload = HLL_DENSE_SIZE - HEADER_LEN  # 12288
    key = inverse.astype(np.int64) * R + idx
    order = np.argsort(key, kind="stable")
    sk = key[order]
    sv = patlen[order]
    uniq = np.empty(len(sk), dtype=bool)
    uniq[0] = True
    np.not_equal(sk[1:], sk[:-1], out=uniq[1:])
    starts = np.flatnonzero(uniq)
    uk = sk[starts]
    vals = np.maximum.reduceat(sv, starts).astype(np.int64)  # max per (g, reg)
    g = uk >> HLL_P
    r = uk & (R - 1)
    n_items = len(uk)

    # per-group item boundaries (every group has >= 1 item by construction)
    gb = np.empty(n_items, dtype=bool)
    gb[0] = True
    np.not_equal(g[1:], g[:-1], out=gb[1:])
    gs_i = np.flatnonzero(gb)
    if len(gs_i) != n_groups or int(g[-1]) != n_groups - 1 or int(g[0]) != 0:
        raise ValueError(
            "encode_groups: group codes must be dense 0..n_groups-1 with "
            ">= 1 element each (use np.unique(..., return_inverse=True))"
        )
    nnz = np.diff(np.append(gs_i, n_items))
    maxval = np.maximum.reduceat(vals, gs_i)

    # maximal runs of consecutive registers with equal value within a group
    rb = np.empty(n_items, dtype=bool)
    rb[0] = True
    rb[1:] = (g[1:] != g[:-1]) | (r[1:] != r[:-1] + 1) | (vals[1:] != vals[:-1])
    rs = np.flatnonzero(rb)
    run_len = np.diff(np.append(rs, n_items))
    run_g = g[rs]
    run_reg = r[rs]
    run_val = vals[rs]
    first_run = np.empty(len(rs), dtype=bool)
    first_run[0] = True
    first_run[1:] = run_g[1:] != run_g[:-1]
    prev_end = np.empty(len(rs), dtype=np.int64)
    prev_end[0] = 0
    prev_end[1:] = run_reg[:-1] + run_len[:-1]
    prev_end[first_run] = 0
    gap = run_reg - prev_end
    gap_bytes = np.where(gap == 0, 0, np.where(gap <= 64, 1, 2)).astype(np.int64)
    n_chunks = (run_len + 3) // 4  # VAL opcodes cover runs of 1..4
    seg_bytes = gap_bytes + n_chunks

    grs = np.flatnonzero(first_run)  # first run index per group, group order
    seg_by_group = np.add.reduceat(seg_bytes, grs)
    last_end = np.empty(n_groups, dtype=np.int64)
    last_run = np.empty(len(rs), dtype=bool)
    last_run[:-1] = first_run[1:]
    last_run[-1] = True
    last_end[:] = (run_reg + run_len)[last_run]
    trail_gap = R - last_end
    trail_bytes = np.where(trail_gap == 0, 0, np.where(trail_gap <= 64, 1, 2)).astype(np.int64)
    payload_len = seg_by_group + trail_bytes

    # same eligibility rules as encode_sparse_payload: values fit VAL
    # opcodes, early worst-case bail, and final strictly-smaller check
    sparse_ok = (
        (maxval <= 32)
        & (nnz * 3 + 4 < dense_payload)
        & (payload_len < dense_payload)
    )
    group_payload = np.where(sparse_ok, payload_len, dense_payload)
    offsets = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(group_payload + HEADER_LEN, out=offsets[1:])
    data = np.zeros(int(offsets[-1]), dtype=np.uint8)

    # headers (invalid-cache flag, like encode(cache=None))
    hpos = offsets[:-1]
    data[hpos] = MAGIC[0]
    data[hpos + 1] = MAGIC[1]
    data[hpos + 2] = MAGIC[2]
    data[hpos + 3] = MAGIC[3]
    data[hpos + 4] = np.where(sparse_ok, ENC_SPARSE, ENC_DENSE)
    data[hpos + 15] = _CACHE_INVALID_BIT

    # ---- sparse token stream (vectorized) ----
    ok_run = sparse_ok[run_g]
    cum_seg = np.cumsum(seg_bytes) - seg_bytes  # exclusive, global
    first_cum_by_group = cum_seg[grs]
    seg_pos = offsets[run_g] + HEADER_LEN + (cum_seg - first_cum_by_group[run_g])

    m1 = ok_run & (gap >= 1) & (gap <= 64)
    data[seg_pos[m1]] = (gap[m1] - 1).astype(np.uint8)
    m2 = ok_run & (gap > 64)
    l2 = gap[m2] - 1
    data[seg_pos[m2]] = (0x40 | (l2 >> 8)).astype(np.uint8)
    data[seg_pos[m2] + 1] = (l2 & 0xFF).astype(np.uint8)

    oi = np.flatnonzero(ok_run)
    if len(oi):
        rc = n_chunks[oi]
        total_chunks = int(rc.sum())
        run_rep = np.repeat(np.arange(len(oi), dtype=np.int64), rc)
        intra = np.arange(total_chunks, dtype=np.int64) - np.repeat(
            np.cumsum(rc) - rc, rc
        )
        chunk_len = np.full(total_chunks, 4, dtype=np.int64)
        last_chunk = np.cumsum(rc) - 1
        chunk_len[last_chunk] = run_len[oi] - 4 * (rc - 1)
        chunk_pos = (seg_pos[oi] + gap_bytes[oi])[run_rep] + intra
        chunk_val = run_val[oi][run_rep]
        data[chunk_pos] = (
            0x80 | ((chunk_val - 1) << 2) | (chunk_len - 1)
        ).astype(np.uint8)

    t1 = sparse_ok & (trail_gap >= 1) & (trail_gap <= 64)
    tpos = offsets[:-1] + HEADER_LEN + payload_len - trail_bytes
    data[tpos[t1]] = (trail_gap[t1] - 1).astype(np.uint8)
    t2 = sparse_ok & (trail_gap > 64)
    lt = trail_gap[t2] - 1
    data[tpos[t2]] = (0x40 | (lt >> 8)).astype(np.uint8)
    data[tpos[t2] + 1] = (lt & 0xFF).astype(np.uint8)

    # ---- dense fallback (rare: patlen > 32 or pathologically full) ----
    # one scatter + pack_dense per block of dense groups
    dense_g = np.flatnonzero(~sparse_ok)
    for b in range(0, len(dense_g), _DENSE_BLOCK):
        dg = dense_g[b : b + _DENSE_BLOCK]
        slot = np.full(n_groups, -1, dtype=np.int64)
        slot[dg] = np.arange(len(dg))
        item_slot = slot[g]
        m = item_slot >= 0
        regs = np.zeros((len(dg), R), dtype=np.uint8)
        regs[item_slot[m], r[m]] = vals[m]
        _place_dense(data, offsets, dg, regs)

    return data, offsets


# sketches per dense-encode block: bounds the register matrix (4MB) when
# a whole batch goes dense
_DENSE_BLOCK = 256
_DENSE_HEADER = np.frombuffer(bytes(_header(ENC_DENSE, None)), dtype=np.uint8)


def _fixed_offsets(n: int, size: int) -> np.ndarray:
    return np.arange(n + 1, dtype=np.int64) * size


def _place_dense(
    data: np.ndarray, offsets: np.ndarray, rows: np.ndarray, regs: np.ndarray
) -> None:
    """Write the dense encoding (invalid cache) of ``regs[i]`` to output
    row ``rows[i]``: one :func:`pack_dense` call for all of them."""
    out = np.empty((len(rows), HLL_DENSE_SIZE), dtype=np.uint8)
    out[:, :HEADER_LEN] = _DENSE_HEADER
    out[:, HEADER_LEN:] = pack_dense(regs)
    _place_rows(
        data, offsets, rows, out.reshape(-1), _fixed_offsets(len(rows), HLL_DENSE_SIZE)
    )


def _place_rows(
    data: np.ndarray,
    offsets: np.ndarray,
    rows: np.ndarray,
    src: np.ndarray,
    src_offs: np.ndarray,
) -> None:
    """Copy item ``i`` of ``(src, src_offs)`` to output row ``rows[i]`` of
    ``(data, offsets)``, where the items are in ascending row order: one
    slice copy per run of consecutive rows, not per item."""
    if len(rows) == 0:
        return
    brk = np.flatnonzero(np.diff(rows) != 1) + 1
    firsts = np.concatenate(([0], brk)).tolist()
    ends = np.concatenate((brk, [len(rows)])).tolist()
    for a, e in zip(firsts, ends):
        lo, hi = int(offsets[rows[a]]), int(offsets[rows[e - 1] + 1])
        data[lo:hi] = src[src_offs[a] : src_offs[e]]


def encode_many(regs2d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Batched :func:`encode` (``cache=None``) over a ``(n, 16384)``
    register matrix: returns ``(data, offsets)`` like
    :func:`encode_groups`, byte-identical to ``[encode(r) for r in
    regs2d]`` with no Python loop over register runs: each class of row
    is encoded in one batched call, then copied into place with one
    slice copy per run of consecutive rows of that class.

    Rows are split by the sparse encoder's own pre-checks: all-zero rows
    get the canonical empty sparse payload; rows with a value above 32 or
    ``nnz*3 + 4 >= 12288`` go dense through one :func:`pack_dense` call
    per block of 256 rows; the rest go through :func:`encode_groups` on their nonzero registers
    (which applies the final strictly-smaller-than-dense check itself).
    """
    regs2d = np.ascontiguousarray(regs2d, dtype=np.uint8)
    n = regs2d.shape[0]
    zero = ~regs2d.any(axis=1)
    dense = ~zero & ~_sparse_eligible(regs2d)
    rows = np.flatnonzero(~zero & ~dense)
    sub = regs2d[rows]
    ig, ir = np.nonzero(sub)
    if len(rows):
        sdata, soffs = encode_groups(ig, ir, sub[ig, ir], len(rows))
    else:
        sdata, soffs = np.zeros(0, np.uint8), np.zeros(1, np.int64)
    empty = bytes(_header(ENC_SPARSE, None)) + _EMPTY_SPARSE
    lens = np.full(n, HLL_DENSE_SIZE, dtype=np.int64)
    lens[zero] = len(empty)
    lens[rows] = np.diff(soffs)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    data = np.empty(int(offsets[-1]), dtype=np.uint8)
    _place_rows(data, offsets, rows, sdata, soffs)
    zrows = np.flatnonzero(zero)
    _place_rows(
        data, offsets, zrows,
        np.tile(np.frombuffer(empty, np.uint8), len(zrows)),
        _fixed_offsets(len(zrows), len(empty)),
    )
    drows = np.flatnonzero(dense)
    for b in range(0, len(drows), _DENSE_BLOCK):
        dr = drows[b : b + _DENSE_BLOCK]
        _place_dense(data, offsets, dr, regs2d[dr])
    return data, offsets


def encode_empty(cache: int | None = 0) -> bytes:
    """The reference's fresh 18-byte sparse buffer (header all zero =>
    cache 0 and VALID, so a fresh pfCount returns 0 from cache)."""
    return bytes(_header(ENC_SPARSE, cache)) + _EMPTY_SPARSE


def is_valid_hll(buf: bytes) -> bool:
    """Mirrors isValidHll (HllByteBuffer.java:83-114)."""
    if len(buf) < HEADER_LEN:
        return False
    if buf[0:4] != MAGIC:
        return False
    enc = buf[4]
    if enc not in (ENC_DENSE, ENC_SPARSE):
        return False
    if enc == ENC_DENSE and len(buf) != HLL_DENSE_SIZE:
        return False
    return True


def decode(buf: bytes) -> np.ndarray:
    """Wire bytes -> (16384,) uint8 registers; raises on invalid input
    (like HllV4.java:14-20)."""
    if not is_valid_hll(buf):
        raise ValueError("Invalid HLL representation")
    if buf[4] == ENC_DENSE:
        payload = np.frombuffer(buf, dtype=np.uint8, offset=HEADER_LEN)
        return unpack_dense(payload)[0]
    return decode_sparse(buf)


def decode_many(bufs: list[bytes]) -> np.ndarray:
    """Decode a batch of wire buffers -> (n, 16384) uint8.

    Fully vectorized: headers validated flat, dense payloads unpacked in
    ONE :func:`unpack_dense` call, sparse payloads parsed by the flat opcode
    scanner and scattered in one fancy-index write — no per-sketch
    opcode walks (the r2 path decoded sparse buffers one by one)."""
    n = len(bufs)
    out = np.zeros((n, HLL_REGISTERS), dtype=np.uint8)
    if n == 0:
        return out
    flat, offs = _flat_views(bufs)
    enc = validate_headers_flat(flat, offs)
    dense_pos = np.flatnonzero(enc == ENC_DENSE)
    sparse_pos = np.flatnonzero(enc == ENC_SPARSE)
    if len(dense_pos):
        out[dense_pos] = unpack_dense(gather_dense_payloads(flat, offs, dense_pos))
    if len(sparse_pos):
        iseg, ireg, ival = decode_sparse_pairs_flat(
            flat, offs[:-1][sparse_pos] + HEADER_LEN, offs[1:][sparse_pos]
        )
        out[sparse_pos[iseg], ireg] = ival
    return out


def sparse_payload_is_valid(buf: bytes) -> bool:
    """Full structural check of a sparse buffer's opcode stream (covers
    exactly 16384 registers, no truncated XZERO, no VAL overflow) without
    materializing anything — the cheap gate that lets the Arrow merge
    pass single-partial sketches through untouched while still rejecting
    corrupt bytes like the decode path would."""
    p, idx, n = HEADER_LEN, 0, len(buf)
    while p < n:
        op = buf[p]
        top = op & 0xC0
        if top == 0x00:
            idx += (op & 0x3F) + 1
            p += 1
        elif top == 0x40:
            if p + 1 >= n:
                return False
            idx += (((op & 0x3F) << 8) | buf[p + 1]) + 1
            p += 2
        else:
            idx += (op & 0x3) + 1
            p += 1
        if idx > HLL_REGISTERS:
            return False
    return idx == HLL_REGISTERS


def decode_sparse_pairs(buf: bytes) -> tuple[list[int], list[int]]:
    """Sparse payload -> (register indices, values) WITHOUT materializing
    the 16KB register vector — the building block of the sparse-native
    merge/estimate paths (a long-tail group's sketch has a handful of
    opcodes, so this tight loop beats a 16KB scatter by orders of
    magnitude at millions-of-groups scale)."""
    regs: list[int] = []
    vals: list[int] = []
    p, idx, n = HEADER_LEN, 0, len(buf)
    while p < n:
        op = buf[p]
        top = op & 0xC0
        if top == 0x00:
            idx += (op & 0x3F) + 1
            p += 1
        elif top == 0x40:
            if p + 1 >= n:  # truncated XZERO
                raise ValueError("Invalid HLL representation")
            idx += (((op & 0x3F) << 8) | buf[p + 1]) + 1
            p += 2
        else:
            run = (op & 0x3) + 1
            v = ((op >> 2) & 0x1F) + 1
            if idx + run > HLL_REGISTERS:
                raise ValueError("Invalid HLL representation")
            for j in range(run):
                regs.append(idx + j)
                vals.append(v)
            idx += run
            p += 1
    if idx != HLL_REGISTERS:
        raise ValueError("Invalid HLL representation")
    return regs, vals


# ---------------------------------------------------------------------------
# vectorized FLAT sparse parsing (the no-per-sketch-Python merge/estimate
# machinery): many sparse payload windows of one flat uint8 buffer — e.g.
# the values buffer of an Arrow binary array — are scanned in O(total
# bytes) of numpy, so a 10^7-group merge task runs zero per-group Python.
# ---------------------------------------------------------------------------

def _gather_segments(
    data: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Copy ``[starts[i], ends[i])`` windows of ``data`` into one contiguous
    buffer; returns (buffer, exclusive-prefix offsets of len n+1)."""
    lens = ends - starts
    pstarts = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(lens, out=pstarts[1:])
    total = int(pstarts[-1])
    gather = np.repeat(starts, lens) + (
        np.arange(total, dtype=np.int64) - np.repeat(pstarts[:-1], lens)
    )
    return data[gather], pstarts


# 128KB payload per block: the scan's temporaries run ~25x the payload,
# so blocks this size keep the whole working set ~3MB — resident in CPU
# cache and (since glibc only recycles freed mmap'd blocks up to ~32MB
# into the arena) in warm, reused memory. Measured on this host: flat
# ~0.5s per 17MB of opcodes vs 0.5-14s random spikes at monolithic
# sizes (first-touch faults at ~0.12GB/s, NOTES.md), and concurrent
# merge tasks additionally contend for DRAM bandwidth that cache-sized
# blocks sidestep. Chunk-count python overhead is ~25 numpy calls per
# block — noise.
_SCAN_CHUNK_BYTES = 1 << 17


def _sparse_scan_flat(data: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """Chunking wrapper around :func:`_sparse_scan_block`: windows are
    processed in blocks of ``_SCAN_CHUNK_BYTES`` (128KB) payload, split
    on window boundaries, and the per-opcode/per-segment outputs
    concatenated. Why: the block scan allocates ~25x its payload in
    temporaries, and on this host fresh first-touch pages fault at
    ~0.12GB/s (NOTES.md) — a monolithic scan over tens of MB of opcodes
    randomly costs 10-20x its warm-arena time (measured 0.5s vs 9-14s
    on identical input), while cache-sized blocks reuse the arena and
    stay flat. Output is identical."""
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    n_seg = len(starts)
    lens = ends - starts
    if n_seg <= 1 or int(lens.sum()) <= _SCAN_CHUNK_BYTES:
        return _sparse_scan_block(data, starts, ends)
    cum = np.cumsum(lens) - lens
    bnds = np.flatnonzero(np.diff(cum // _SCAN_CHUNK_BYTES, prepend=-1))
    bnds = np.append(bnds, n_seg)
    parts = [
        _sparse_scan_block(data, starts[a:b], ends[a:b])
        for a, b in zip(bnds[:-1], bnds[1:])  # loop over BLOCKS, not segments
    ]
    seg_off = bnds[:-1]
    return (
        np.concatenate([p[0] + off for p, off in zip(parts, seg_off)]),
        np.concatenate([p[1] for p in parts]),
        np.concatenate([p[2] for p in parts]),
        np.concatenate([p[3] for p in parts]),
        np.concatenate([p[4] for p in parts]),
        np.concatenate([p[5] for p in parts]),
    )


def _sparse_scan_block(data: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """Classify every opcode of every sparse payload window in one pass.

    The opcode stream's only sequential dependency is "is this byte an
    opcode lead or the trailing byte of an XZERO" (XZERO is the sole
    2-byte opcode, HllByteBuffer.java:209-238). The skip recurrence
    ``skipped[i] = looks_xzero[i-1] & ~skipped[i-1]`` has the closed form
    *skipped[i] iff the run of consecutive XZERO-lead-looking bytes ending
    at i-1 (clipped at the segment start) has odd length* — one
    ``np.maximum.accumulate`` computes it for all segments at once.

    Returns ``(op_seg, lead, run, idx_before, seg_total, seg_trunc)``:
    per-opcode segment id / lead byte / register run length / register
    index before the opcode, plus per-segment register totals and
    truncated-XZERO flags (segment validity = total==16384 and !trunc).
    """
    n_seg = len(starts)
    data = np.asarray(data, dtype=np.uint8)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    pb, pstarts = _gather_segments(data, starts, ends)
    N = len(pb)
    empty_i64 = np.zeros(0, dtype=np.int64)
    if N == 0:
        return (
            empty_i64,
            empty_i64.astype(np.uint8),
            empty_i64,
            empty_i64,
            np.zeros(n_seg, dtype=np.int64),
            np.zeros(n_seg, dtype=bool),
        )
    looks_xzero = (pb & 0xC0) == 0x40
    pos = np.arange(N, dtype=np.int64)
    # position of the most recent run-breaking byte at-or-before p: a
    # non-XZERO-looking byte, or the virtual break just before each segment
    marker = np.where(looks_xzero, np.int64(-1), pos)
    seg_first = pstarts[:-1][np.diff(pstarts) > 0]
    np.maximum.at(marker, seg_first, seg_first - 1)
    lastz = np.maximum.accumulate(marker)
    skipped = np.zeros(N, dtype=bool)
    skipped[1:] = ((pos[:-1] - lastz[:-1]) & 1).astype(bool)
    skipped[seg_first] = False  # a segment always starts with an opcode
    op_pos = np.flatnonzero(~skipped)
    op_seg = np.searchsorted(pstarts, op_pos, side="right") - 1
    lead = pb[op_pos]
    # XZERO trailing byte (0-padded read; garbage only for truncated
    # opcodes, whose segment is flagged invalid anyway)
    b2 = np.append(pb, np.uint8(0))[op_pos + 1].astype(np.int64)
    top = lead & 0xC0
    is_xzero = top == 0x40
    run = np.where(
        top == 0x00,
        (lead & 0x3F).astype(np.int64) + 1,
        np.where(
            is_xzero,
            (((lead & 0x3F).astype(np.int64) << 8) | b2) + 1,
            (lead & 0x03).astype(np.int64) + 1,
        ),
    )
    trunc_op = is_xzero & (op_pos + 1 >= pstarts[op_seg + 1])
    csum = np.cumsum(run)
    excl = csum - run
    seg_ids = np.arange(n_seg, dtype=np.int64)
    first_op = np.searchsorted(op_seg, seg_ids, side="left")
    last_op = np.searchsorted(op_seg, seg_ids, side="right") - 1
    has_op = last_op >= first_op
    seg_base = np.zeros(n_seg, dtype=np.int64)
    seg_base[has_op] = excl[first_op[has_op]]
    idx_before = excl - seg_base[op_seg]
    seg_total = np.zeros(n_seg, dtype=np.int64)
    seg_total[has_op] = csum[last_op[has_op]] - seg_base[has_op]
    seg_trunc = np.bincount(op_seg[trunc_op], minlength=n_seg).astype(bool)
    return op_seg, lead, run, idx_before, seg_total, seg_trunc


def sparse_valid_flat(
    data: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> np.ndarray:
    """Vectorized :func:`sparse_payload_is_valid` over many payload windows
    (header excluded): bool per window. Run totals are monotone, so
    ``total == 16384`` subsumes every intermediate-overflow case the
    scalar walk rejects."""
    _, _, _, _, seg_total, seg_trunc = _sparse_scan_flat(data, starts, ends)
    return (seg_total == HLL_REGISTERS) & ~seg_trunc


def sparse_valid_canonical_flat(
    data: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(valid, canonical) bool arrays per payload window, ONE flat scan.

    Canonical == the bytes :func:`encode_sparse_payload` itself would
    emit for these registers: every maximal zero gap is exactly one
    opcode (ZERO if <= 64, else XZERO — gaps never exceed 16384, so one
    XZERO always suffices), a same-value VAL chain only carries a
    short (< 4) run in FINAL position, AND the register state is one
    the encoder would emit SPARSE at all: :func:`encode_sparse_payload`
    bails to dense when ``nnz*3 + 4 >= 12288``, so an opcode-canonical
    stream above that nnz (e.g. all 16384 registers = 1 as 4096 VAL(4)
    opcodes) is still non-canonical — without this gate such a sketch
    would pass through merge untouched as a single-partial group but
    re-encode DENSE when its group has >1 partial, making pf_merge
    bytes partition-dependent. (The encoder's final strictly-smaller
    length check is implied: canonical opcodes cost <= 3*nnz + 2
    bytes, which nnz*3 + 4 < 12288 already bounds below dense.)
    Violations: adjacent zero-type opcodes, an XZERO whose run fits a
    ZERO, or a short VAL followed by a same-value VAL. The merge
    passthrough needs this so a valid but non-canonically-encoded
    (third-party) sparse single re-encodes instead of leaking its
    partition placement into pf_merge's output bytes
    (bytes-identical-across-partitionings invariant)."""
    op_seg, lead, run, _, seg_total, seg_trunc = _sparse_scan_flat(
        data, starts, ends
    )
    n_seg = len(starts)
    valid = (seg_total == HLL_REGISTERS) & ~seg_trunc
    bad = np.zeros(n_seg, dtype=bool)
    if len(lead):
        is_xzero = (lead & 0xC0) == 0x40
        zero_type = lead < 0x80
        bad[op_seg[is_xzero & (run <= 64)]] = True
        same = op_seg[1:] == op_seg[:-1]
        adj_zero = zero_type[:-1] & zero_type[1:] & same
        is_val = lead >= 0x80
        vv = (lead >> 2) & 0x1F
        adj_val = (
            is_val[:-1]
            & is_val[1:]
            & same
            & (run[:-1] < 4)
            & (vv[:-1] == vv[1:])
        )
        bad[op_seg[:-1][adj_zero | adj_val]] = True
        # encoder nnz-eligibility bail (encode_sparse_payload): per-segment
        # nnz = total VAL-run coverage
        nnz = np.bincount(
            op_seg[is_val], weights=run[is_val].astype(np.float64),
            minlength=n_seg,
        )
        bad[nnz * 3 + 4 >= HLL_DENSE_SIZE - HEADER_LEN] = True
    return valid, valid & ~bad


def decode_sparse_pairs_flat(
    data: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch :func:`decode_sparse_pairs`: ``(item_seg, item_reg, item_val)``
    numpy arrays across all windows, register order preserved within each
    segment (what the estimator's float-op-order proof needs). Raises
    like the scalar walk if ANY segment is structurally invalid."""
    op_seg, lead, run, idx_before, seg_total, seg_trunc = _sparse_scan_flat(
        data, starts, ends
    )
    if seg_trunc.any() or (seg_total != HLL_REGISTERS).any():
        raise ValueError("Invalid HLL representation")
    vo = np.flatnonzero(lead >= 0x80)  # VAL opcodes
    runl = run[vo]
    n_items = int(runl.sum())
    rep = np.repeat(np.arange(len(vo), dtype=np.int64), runl)
    intra = np.arange(n_items, dtype=np.int64) - np.repeat(
        np.cumsum(runl) - runl, runl
    )
    item_seg = op_seg[vo][rep]
    item_reg = idx_before[vo][rep] + intra
    item_val = (((lead[vo] >> 2) & 0x1F) + 1).astype(np.uint8)[rep]
    return item_seg, item_reg, item_val


def _flat_views(bufs) -> tuple[np.ndarray, np.ndarray]:
    """list/Series of bytes -> (flat uint8 buffer, int64 offsets). The
    join/len calls are the one unavoidable per-OBJECT cost of receiving
    Python bytes (already paid by the pandas UDF boundary); everything
    downstream is flat numpy."""
    n = len(bufs)
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=n)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    flat = np.frombuffer(b"".join(bytes(b) for b in bufs), dtype=np.uint8)
    return flat, offs


def validate_headers_flat(flat: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Vectorized :func:`is_valid_hll` over flat wire buffers: returns the
    encoding byte per sketch; raises if any header is invalid (short
    buffer, bad magic, unknown encoding, wrong dense length)."""
    lens = np.diff(offs)
    if len(lens) == 0:
        return np.zeros(0, dtype=np.uint8)
    if (lens < HEADER_LEN).any():
        raise ValueError("Invalid HLL representation")
    h = offs[:-1]
    magic_ok = (
        (flat[h] == MAGIC[0])
        & (flat[h + 1] == MAGIC[1])
        & (flat[h + 2] == MAGIC[2])
        & (flat[h + 3] == MAGIC[3])
    )
    enc = flat[h + 4]
    enc_ok = (enc == ENC_DENSE) | (enc == ENC_SPARSE)
    dense_ok = (enc != ENC_DENSE) | (lens == HLL_DENSE_SIZE)
    if not (magic_ok & enc_ok & dense_ok).all():
        raise ValueError("Invalid HLL representation")
    return enc


def gather_dense_payloads(
    flat: np.ndarray, offs: np.ndarray, rows: np.ndarray
) -> np.ndarray:
    """(len(rows), 12288) payload matrix from flat wire buffers. One
    12KB memcpy per DENSE sketch (never per input row); dense partials
    only exist for groups with ~4000+ distinct elements in one partition,
    so this is the low-cardinality regime where sketch counts are tiny."""
    dense_payload = HLL_DENSE_SIZE - HEADER_LEN
    out = np.empty((len(rows), dense_payload), dtype=np.uint8)
    starts = (offs[:-1][rows] + HEADER_LEN).tolist()
    for k, st in enumerate(starts):
        out[k] = flat[st : st + dense_payload]
    return out


def _sparse_eligible(regs2d: np.ndarray) -> np.ndarray:
    """Per row of a register matrix: does :func:`encode_sparse_payload`
    get past its pre-checks (values fit VAL opcodes, nnz under the
    early bail)?"""
    nnz = np.count_nonzero(regs2d, axis=1)
    return (regs2d.max(axis=1) <= 32) & (nnz * 3 + 4 < HLL_DENSE_SIZE - HEADER_LEN)


def canonical_flat(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Non-raising per-buffer gate of the merge stage's single-partial
    pass-through: True where a wire buffer is exactly what the canonical
    encoder (``encode(regs)``, invalid cache) emits for its registers.

    The header must be precisely the ``_header(enc, None)`` bytes a
    stage-P partial carries (bytes 5-14 zero, byte 15 exactly 0x80): a
    third-party single with stale cache bytes or extra flag bits
    re-routes to :func:`merge_groups_flat`, so pf_merge output bytes
    can't depend on whether that sketch shared a group with another
    partial. Past the header (all vectorized, no per-buffer Python):

    * dense: exact length, AND not sparse-eligible — a dense-encoded but
      sparse-ELIGIBLE sketch (``encode(force_dense=True)`` or a
      third-party writer) is not what the encoder would emit;
    * sparse: the flat opcode scan must cover exactly 16384 registers
      with canonical opcodes (:func:`sparse_valid_canonical_flat`).

    Corrupt or short buffers read False; the merge then raises on them."""
    ok, hp, lens = probe_headers(data, offsets, MAGIC, HEADER_LEN + 2)
    if not ok.any():
        return ok
    ok &= data[hp + 15] == _CACHE_INVALID_BIT
    for j in range(5, 15):
        ok &= data[hp + j] == 0
    enc = data[hp + 4]
    out = np.zeros(len(ok), dtype=bool)
    d = np.flatnonzero(ok & (enc == ENC_DENSE) & (lens == HLL_DENSE_SIZE))
    if len(d):
        out[d] = ~_sparse_eligible(unpack_dense(gather_dense_payloads(data, offsets, d)))
    sp = np.flatnonzero(ok & (enc == ENC_SPARSE))
    if len(sp):
        _, out[sp] = sparse_valid_canonical_flat(
            data, offsets[sp] + HEADER_LEN, offsets[sp + 1]
        )
    return out


# merge strategy knobs: a merge group is HEAVY (matrix max-reduceat)
# when it has any dense partial or at least this many sparse items;
# heavy chunks cap their register-matrix allocation at this many bytes.
# The budget is deliberately SMALL (64 matrix rows): glibc only
# recycles freed mmap'd blocks up to ~32MB back into the arena, and
# first-touch page faults were measured at ~0.12GB/s (NOTES.md) —
# bounded chunks keep every merge task's working set in warm, reused
# memory
_HEAVY_ITEMS = 4096
_MATRIX_BUDGET = 1 << 20


def merge_groups_flat(
    data: np.ndarray, offsets: np.ndarray, codes: np.ndarray, n_groups: int
) -> tuple[np.ndarray, np.ndarray]:
    """PFMERGE of many groups in one vectorized pass: ``codes``
    (non-decreasing, every code in ``range(n_groups)`` present) assigns
    each wire buffer of ``(data, offsets)`` to a group. Returns the
    canonical encoding (invalid cache) of each group's register-wise max
    as ``(data, int64 offsets)``, in code order. Raises ``Invalid HLL
    representation`` on any corrupt buffer. Correct for any grouping of
    the partials because register-max is associative / commutative /
    idempotent (HllByteBuffer.java:341-398 semantics).

    Two complementary strategies, chosen PER GROUP (zero per-group
    Python either way):

    * LIGHT groups (all-sparse, few items): parse partials to (group,
      reg, val) items with the flat opcode scanner and fold through
      :func:`encode_groups` — the near-unique long tail, where
      materializing 16KB register rows would be a 1000x memory blowup.
    * HEAVY groups (any dense partial, or >= ``_HEAVY_ITEMS`` sparse
      items): stack their partials as a (rows, 16384) register matrix
      (memory-bounded chunks) and ``np.maximum.reduceat`` — dense merges
      are memory-bandwidth-bound there, while item-ifying them costs a
      multi-million-item sort (measured 4x slower than a per-group
      decode + register-max fold on a 68-group x 64-partial dense merge
      before this split).
    """
    R = HLL_REGISTERS
    dense_payload = HLL_DENSE_SIZE - HEADER_LEN
    enc = validate_headers_flat(data, offsets)
    dense_rows = np.flatnonzero(enc == ENC_DENSE)
    sparse_rows = np.flatnonzero(enc == ENC_SPARSE)
    iseg, rr_s, vv_s = decode_sparse_pairs_flat(
        data, offsets[:-1][sparse_rows] + HEADER_LEN, offsets[1:][sparse_rows]
    )
    item_row = sparse_rows[iseg]  # row index per item, sorted
    item_g = codes[item_row]
    has_dense = np.zeros(n_groups, dtype=bool)
    has_dense[codes[dense_rows]] = True
    heavy = has_dense | (np.bincount(item_g, minlength=n_groups) >= _HEAVY_ITEMS)
    light_sel = ~heavy[item_g]
    gg_parts = [item_g[light_sel]]
    rr_parts = [rr_s[light_sel]]
    vv_parts = [vv_s[light_sel]]
    hd_code_parts = [np.zeros(0, dtype=np.int64)]  # heavy groups whose MERGE is dense
    hd_pay_parts = [np.zeros((0, dense_payload), dtype=np.uint8)]  # their payloads
    if heavy.any():
        hrows = np.flatnonzero(heavy[codes])  # rows of heavy groups
        # assign heavy GROUPS to chunks by cumulative row offset so one
        # chunk's matrix stays ~_MATRIX_BUDGET bytes (+ one group's
        # fan-in; a group never splits across chunks)
        hg_codes = np.flatnonzero(heavy)
        hg_rows = np.bincount(codes[hrows], minlength=n_groups)[hg_codes]
        cum = np.cumsum(hg_rows) - hg_rows
        chunk_of_group = np.full(n_groups, -1, dtype=np.int64)
        chunk_of_group[hg_codes] = cum // max(1, _MATRIX_BUDGET // R)
        chunk_of_row = chunk_of_group[codes]  # -1 for light rows
        slot_of_row = np.full(len(codes), -1, dtype=np.int64)
        slot_of_row[hrows] = segment_ranks(chunk_of_row[hrows])
        hitem_sel = np.flatnonzero(~light_sel)
        item_chunk = chunk_of_row[item_row[hitem_sel]]
        n_chunks = int(chunk_of_group[hg_codes].max()) + 1
        for c in range(n_chunks):  # loop over CHUNKS, not groups
            crows = np.flatnonzero(chunk_of_row == c)
            mat = np.zeros((len(crows), R), dtype=np.uint8)
            cdense = crows[enc[crows] == ENC_DENSE]
            if len(cdense):
                mat[slot_of_row[cdense]] = unpack_dense(
                    gather_dense_payloads(data, offsets, cdense)
                )
            ci = hitem_sel[item_chunk == c]
            if len(ci):
                mat[slot_of_row[item_row[ci]], rr_s[ci]] = vv_s[ci]
            cg = codes[crows]  # nondecreasing
            gstart = np.flatnonzero(np.diff(cg, prepend=-1))
            merged = np.maximum.reduceat(mat, gstart, axis=0)
            # merged groups that would encode DENSE skip item-ification
            # entirely: pack the matrix rows straight to wire payloads
            # (in the dense-partial regime that is ~every heavy group —
            # the multi-million-item sort this avoids was this merge's
            # cost cliff there)
            sp_ok = _sparse_eligible(merged)
            hd_code_parts.append(cg[gstart][~sp_ok])
            hd_pay_parts.append(pack_dense(merged[~sp_ok]))
            rnz, cnz = np.nonzero(merged[sp_ok])
            gg_parts.append(cg[gstart][sp_ok][rnz])
            rr_parts.append(cnz.astype(np.int64))
            vv_parts.append(merged[sp_ok][rnz, cnz])
    gg = np.concatenate(gg_parts)
    # output sections, each in ascending code order: item-encoded groups,
    # all-empty groups (no nonzero register anywhere: canonical empty),
    # dense-merged heavy groups; then copied into code order
    present = np.zeros(n_groups, dtype=bool)
    present[gg] = True
    n_present = int(present.sum())
    hd_codes = np.concatenate(hd_code_parts)  # ascending (chunks iterate codes)
    is_empty = ~present
    is_empty[hd_codes] = False
    empty_codes = np.flatnonzero(is_empty)
    empty = np.frombuffer(bytes(_header(ENC_SPARSE, None)) + _EMPTY_SPARSE, dtype=np.uint8)
    lens = np.empty(n_groups, dtype=np.int64)
    lens[empty_codes] = len(empty)
    lens[hd_codes] = HLL_DENSE_SIZE
    if n_present:
        mdata, moffs = encode_groups(
            (np.cumsum(present) - 1)[gg],
            np.concatenate(rr_parts),
            np.concatenate(vv_parts),
            n_present,
        )
        lens[present] = np.diff(moffs)
    out_offs = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(lens, out=out_offs[1:])
    out = np.empty(int(out_offs[-1]), dtype=np.uint8)
    if n_present:
        _place_rows(out, out_offs, np.flatnonzero(present), mdata, moffs)
    _place_rows(
        out, out_offs, empty_codes,
        np.tile(empty, len(empty_codes)),
        _fixed_offsets(len(empty_codes), len(empty)),
    )
    out2d = np.empty((len(hd_codes), HLL_DENSE_SIZE), dtype=np.uint8)
    out2d[:, :HEADER_LEN] = _DENSE_HEADER
    out2d[:, HEADER_LEN:] = np.vstack(hd_pay_parts)
    _place_rows(
        out, out_offs, hd_codes, out2d.reshape(-1),
        _fixed_offsets(len(hd_codes), HLL_DENSE_SIZE),
    )
    return out, out_offs


def estimate_bytes_batch(bufs: list[bytes], version: int = 4) -> np.ndarray:
    """PFCOUNT over a batch of wire buffers WITHOUT dense materialization
    for the sparse ones (decode_many on 10^6 sparse sketches would build
    a 16GB register matrix; this path stays O(total nonzero registers)).

    Bit-identical to decode + estimate: the v4 sum's float-op order is
    preserved because zero registers contribute exact-no-op 0.0 terms —
    a row-padded cumsum over just the nonzero terms (in register order)
    reproduces Java's left-to-right accumulation digit for digit.
    """
    n = len(bufs)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    flat, offs = _flat_views(bufs)
    enc = validate_headers_flat(flat, offs)
    dense_pos = np.flatnonzero(enc == ENC_DENSE)
    sparse_pos = np.flatnonzero(enc == ENC_SPARSE)
    if len(dense_pos):
        regs = unpack_dense(gather_dense_payloads(flat, offs, dense_pos))
        out[dense_pos] = estimate_batch(regs, version)
    if len(sparse_pos):
        k = len(sparse_pos)
        # vectorized opcode parse of ALL sparse payloads (raises on any
        # structurally invalid stream, like the scalar walk)
        iseg, _, ival = decode_sparse_pairs_flat(
            flat, offs[:-1][sparse_pos] + HEADER_LEN, offs[1:][sparse_pos]
        )
        vals = ival.astype(np.int64)
        nnz = np.bincount(iseg, minlength=k)
        bounds = np.zeros(k + 1, dtype=np.int64)
        np.cumsum(nnz, out=bounds[1:])
        ests = np.empty(k, dtype=np.int64)
        # process in nnz-SORTED order so each block's padded width matches
        # its rows (one wide sketch must not inflate a 4096-row block to
        # rows x 16384 float64 = 512MB)
        order = np.argsort(nnz, kind="stable")
        nnz_sorted = nnz[order]
        cell_budget = 1 << 22  # ~32MB of float64 temp
        s = 0
        while s < k:
            # grow the block while rows x WIDEST-in-block fits the cell
            # budget (binary search — (e-s)*nnz_sorted[e-1] is monotone
            # in e since nnz_sorted is nondecreasing)
            lo, hi = s + 1, min(k, s + 4096)
            while lo < hi:
                mid = (lo + hi + 1) // 2
                if (mid - s) * int(nnz_sorted[mid - 1]) <= cell_budget:
                    lo = mid
                else:
                    hi = mid - 1
            e = lo
            sel = order[s:e]
            width = int(nnz[sel].max(initial=0))  # widest in block (sorted: last)
            n_b = len(sel)
            # gather this block's values contiguously (register order kept
            # WITHIN each sketch, which is all the float-order proof needs)
            seg_starts = bounds[:-1][sel]
            seg_lens = nnz[sel]
            gather = np.repeat(seg_starts, seg_lens) + (
                np.arange(int(seg_lens.sum()), dtype=np.int64)
                - np.repeat(np.cumsum(seg_lens) - seg_lens, seg_lens)
            )
            bvals = vals[gather]
            if version == 4:
                if width == 0:
                    terms_last = np.zeros(n_b)
                else:
                    # row-padded nonzero terms; cumsum == Java's sequential
                    # register-order float adds (padding 0.0 is exact)
                    mat = np.zeros((n_b, width), dtype=np.float64)
                    rows = np.repeat(np.arange(n_b), seg_lens)
                    cols = np.arange(len(bvals)) - np.repeat(
                        np.cumsum(seg_lens) - seg_lens, seg_lens
                    )
                    mat[rows, cols] = np.ldexp(1.0, -bvals.astype(np.int32))
                    np.cumsum(mat, axis=1, out=mat)
                    terms_last = mat[:, -1]
                ez = (HLL_REGISTERS - seg_lens).astype(np.int64)
                ests[sel] = _v4_batch_from_parts(ez, terms_last + ez)
            else:
                rows = np.repeat(np.arange(n_b, dtype=np.int64), seg_lens)
                flat = rows * 64 + bvals
                histos = np.bincount(flat, minlength=n_b * 64).reshape(
                    n_b, 64
                ).astype(np.float64)
                histos[:, 0] = HLL_REGISTERS - seg_lens
                ests[sel] = _v5_batch_from_histos(histos)
            s = e
        out[np.asarray(sparse_pos)] = ests
    return out


def get_cache(buf: bytes) -> tuple[int, bool]:
    """(cached cardinality, is_valid) — HllByteBuffer.java:149-173."""
    c = int.from_bytes(buf[8:16], "little")
    valid = (buf[15] & _CACHE_INVALID_BIT) == 0
    return c & ~(0xFF << 56) | ((buf[15] & 0x7F) << 56), valid


def pf_count_bytes(buf: bytes, version: int = 4, use_cache: bool = True) -> int:
    """PFCOUNT over wire bytes (cache fast path like v4/HllV4.java:31-43)."""
    if use_cache:
        cached, valid = get_cache(buf)
        if valid:
            return cached
    return estimate(decode(buf), version)


def dump(regs: np.ndarray, version: int = 4) -> bytes:
    """Reference-compatible dumpRepr: all-zero state -> the 18-byte fresh
    sparse buffer; otherwise dense with the cardinality cache stamped
    (byte-parity with Redis "cached" dumps, v4/HllV4Test.java:46-55)."""
    regs = np.ascontiguousarray(regs, dtype=np.uint8)
    if not regs.any():
        return encode_empty(cache=0)
    return encode(regs, cache=estimate(regs, version), force_dense=True)

