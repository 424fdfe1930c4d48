"""Bloom filter kernel (Bloom 1970; k-hash construction via the
Kirsch-Mitzenmacher double-hashing theorem, ESA 2006). No reference-repo
counterpart (SURVEY.md §2.4) — mergeable zero/update/merge/contains/
dump/restore contract; merge = bitwise OR (idempotent, like HLL max).

FPR ~= (1 - e^(-k*n/m))^k; no false negatives. Usable as a broadcast
semi-join pre-filter (see operators.bloom).

Wire format (canonical encoder, HLL-style dense/sparse split): version 1
is the raw m/8 bit-array dump; version 2 is a sorted list of set-bit
indices (u4), emitted whenever strictly smaller (n_set*4 + 4 < m/8).
Sparse is what makes PER-KEY filters at near-unique-key cardinality
feasible: a one-element filter sets <= k bits — ~48 bytes sparse vs 2MB
dense at the default sizing. The encoder is a pure function of the bit
set, so bytes stay identical across partitionings/merge orders.
"""

from __future__ import annotations

import math

import numpy as np

from .sketch_common import (
    gather_uniform_rows,
    hash_family,
    popcount_rows,
    probe_headers,
    read_le_flat,
    scatter_uniform_rows,
    segment_ranks,
    to_u64,
    write_le_flat,
)

MAGIC = b"BLMF"
DEFAULT_BITS = 1 << 20
DEFAULT_K = 7


def params_for(expected_n: int, fpr: float = 0.01) -> tuple[int, int]:
    """(m bits, k hashes) sized for ``expected_n`` items at target FPR."""
    m = max(64, int(-expected_n * math.log(fpr) / (math.log(2) ** 2)))
    m = 1 << (m - 1).bit_length()  # power of two for cheap modulo
    k = max(1, round(m / max(expected_n, 1) * math.log(2)))
    return m, min(k, 30)


def empty(m_bits: int = DEFAULT_BITS) -> np.ndarray:
    return np.zeros(m_bits >> 3, dtype=np.uint8)


def _positions(h: np.ndarray, m_bits: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(n*k,) bit positions via double hashing h1 + i*h2 (mod m)."""
    pos = _bit_positions(h, m_bits, k)
    return (pos >> np.uint64(3)).astype(np.int64), (pos & np.uint64(7)).astype(np.uint8)


def _bit_positions(h: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n*k,) raw uint64 bit positions (i-major: all rows' hash 0 first)."""
    h1 = hash_family(h, 0)
    h2 = hash_family(h, 1) | np.uint64(1)  # odd stride
    mu = np.uint64(m_bits)
    with np.errstate(over="ignore"):
        return np.concatenate([(h1 + np.uint64(i) * h2) % mu for i in range(k)])


def update(state: np.ndarray, hashes: np.ndarray, k: int = DEFAULT_K) -> None:
    pos = _bit_positions(to_u64(np.asarray(hashes)), len(state) << 3, k)
    ub = np.unique(pos).astype(np.int64)
    if len(ub) == 0:
        return
    # one OR per destination byte via run-reduceat (np.bitwise_or.at is
    # an order of magnitude slower at millions of positions)
    byte = ub >> 3
    starts = np.flatnonzero(np.diff(byte, prepend=-1))
    vals = np.uint8(1) << (ub & 7).astype(np.uint8)
    state[byte[starts]] |= np.bitwise_or.reduceat(vals, starts)


def merge(states: list[np.ndarray]) -> np.ndarray:
    out = states[0].copy()
    for s in states[1:]:
        np.bitwise_or(out, s, out=out)
    return out


def contains(state: np.ndarray, hashes: np.ndarray, k: int = DEFAULT_K) -> np.ndarray:
    """Boolean per queried item; no false negatives."""
    h = to_u64(np.asarray(hashes))
    n = len(h)
    byte_idx, bit_idx = _positions(h, len(state) << 3, k)
    hits = (state[byte_idx] >> bit_idx) & np.uint8(1)
    return hits.reshape(k, n).all(axis=0)


def fill_ratio(state: np.ndarray) -> float:
    return float(np.unpackbits(state).mean())


def _sparse_eligible(n_set: int | np.ndarray, m_bytes: int):
    """Encoder rule: sparse iff strictly smaller than the dense dump."""
    return n_set * 4 + 4 < m_bytes


def encode(state: np.ndarray, k: int = DEFAULT_K) -> bytes:
    """Canonical encoder: sparse set-bit list (ver 2) when strictly
    smaller, else the dense bit-array dump (ver 1)."""
    m_bits = len(state) << 3
    bits = np.flatnonzero(np.unpackbits(state, bitorder="little"))
    if _sparse_eligible(len(bits), len(state)):
        head = MAGIC + np.array([2, m_bits, k], dtype="<u4").tobytes()
        return (
            head
            + np.array([len(bits)], dtype="<u4").tobytes()
            + bits.astype("<u4").tobytes()
        )
    head = MAGIC + np.array([1, m_bits, k], dtype="<u4").tobytes()
    return head + state.tobytes()


def decode(buf: bytes) -> tuple[np.ndarray, int]:
    """-> (bit array bytes, k)."""
    if buf[:4] != MAGIC:
        raise ValueError("Invalid Bloom representation")
    ver, m_bits, k = np.frombuffer(buf, dtype="<u4", count=3, offset=4)
    m_bits, k = int(m_bits), int(k)
    m_bytes = m_bits >> 3
    if ver == 1:
        if len(buf) != 16 + m_bytes:
            raise ValueError("Invalid Bloom representation")
        state = np.frombuffer(buf, dtype=np.uint8, offset=16, count=m_bytes).copy()
        return state, k
    if ver == 2:
        (n_set,) = np.frombuffer(buf, dtype="<u4", count=1, offset=16)
        n_set = int(n_set)
        if len(buf) != 20 + 4 * n_set or not _sparse_eligible(n_set, m_bytes):
            raise ValueError("Invalid Bloom representation")
        bits = np.frombuffer(buf, dtype="<u4", count=n_set, offset=20).astype(np.int64)
        if n_set and ((bits >= m_bits).any() or (bits[1:] <= bits[:-1]).any()):
            raise ValueError("Invalid Bloom representation")  # unsorted/oob
        state = np.zeros(m_bytes, dtype=np.uint8)
        if n_set:
            # fancy-index |= drops duplicate byte targets (two bits in
            # one byte) — OR per byte-run instead (bits sorted -> byte
            # nondecreasing)
            byte = bits >> 3
            starts = np.flatnonzero(np.diff(byte, prepend=-1))
            vals = np.uint8(1) << (bits & 7).astype(np.uint8)
            state[byte[starts]] = np.bitwise_or.reduceat(vals, starts)
        return state, k
    raise ValueError(f"unsupported Bloom version {int(ver)}")


# ---------------------------------------------------------------------------
# vectorized grouped fold / merge over flat buffers (zero per-group
# Python). Bit-OR is exact and order-free, so both paths are
# byte-identical to the scalar update/merge under any partitioning.
# ---------------------------------------------------------------------------

def encode_groups_items(
    item_g: np.ndarray,
    item_bit: np.ndarray,
    n_groups: int,
    m_bits: int,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Canonical wire encodings for ``n_groups`` filters given their SET
    BITS as (group, bit) items sorted by (group, bit), bits distinct per
    group. Sparse groups never materialize a bit array. Per-row bytes
    identical to :func:`encode`."""
    m_bytes = m_bits >> 3
    n_set = np.bincount(item_g, minlength=n_groups).astype(np.int64)
    sparse_ok = _sparse_eligible(n_set, m_bytes)
    payload = np.where(sparse_ok, 4 + 4 * n_set, m_bytes)
    offsets = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(16 + payload, out=offsets[1:])
    data = np.zeros(int(offsets[-1]), dtype=np.uint8)
    hp = offsets[:-1]
    for i, byte in enumerate(MAGIC):
        data[hp + i] = byte
    ones = np.ones(n_groups, dtype=np.int64)
    write_le_flat(data, hp + 4, np.where(sparse_ok, 2, 1), 4)
    write_le_flat(data, hp + 8, ones * m_bits, 4)
    write_le_flat(data, hp + 12, ones * k, 4)
    sp = np.flatnonzero(sparse_ok)
    if len(sp):
        write_le_flat(data, hp[sp] + 16, n_set[sp], 4)
    ok_item = sparse_ok[item_g]
    si = np.flatnonzero(ok_item)
    if len(si):
        pos = offsets[item_g[si]] + 20 + 4 * segment_ranks(item_g[si])
        write_le_flat(data, pos, item_bit[si], 4)
    dn = np.flatnonzero(~sparse_ok)
    if len(dn):
        remap = np.cumsum(~sparse_ok) - 1  # group -> dense row
        di = np.flatnonzero(~ok_item)
        rows = remap[item_g[di]]
        bits = item_bit[di]
        byte = bits >> 3
        val = np.uint8(1) << (bits & 7).astype(np.uint8)
        # (row, byte) key is nondecreasing (items sorted by group, bit)
        key = rows * m_bytes + byte
        starts = np.flatnonzero(np.diff(key, prepend=-1))
        orred = np.bitwise_or.reduceat(val, starts) if len(key) else val
        mat = np.zeros((len(dn), m_bytes), dtype=np.uint8)
        if len(key):
            mat.reshape(-1)[key[starts]] = orred
        scatter_uniform_rows(data, offsets[dn] + 16, mat)
    return data, offsets


def fold_groups(
    hashes: np.ndarray,
    inverse: np.ndarray,
    n_groups: int,
    m_bits: int = DEFAULT_BITS,
    k: int = DEFAULT_K,
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped Bloom fold, sparse-native: unique (group, bit) pairs from
    all k positions of all rows — memory O(rows x k), NOT
    O(groups x m/8)."""
    h = to_u64(np.asarray(hashes))
    g = np.asarray(inverse, dtype=np.int64)
    pos = _bit_positions(h, m_bits, k).astype(np.int64)
    ub = np.unique(np.tile(g, k) * np.int64(m_bits) + pos)
    return encode_groups_items(
        ub // m_bits, ub % m_bits, n_groups, m_bits, k
    )


def _parse_rows(
    data: np.ndarray, offsets: np.ndarray, m_bits: int, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Validated flat parse of many Bloom buffers -> ``(item_row,
    item_bit, v1_rows, v1_matrix)``: sparse (v2) rows as set-bit items,
    dense (v1) rows as their PACKED byte matrix (never unpacked to
    per-bit items — a half-full default-m filter is ~0.5M items but a
    128KB packed row)."""
    n = len(offsets) - 1
    m_bytes = m_bits >> 3
    lens = np.diff(offsets)
    if (lens < 16).any():
        raise ValueError("Invalid Bloom representation")
    hp = offsets[:-1]
    ok = np.ones(n, dtype=bool)
    for i, byte in enumerate(MAGIC):
        ok &= data[hp + i] == byte
    if not ok.all():
        raise ValueError("Invalid Bloom representation")
    ver = read_le_flat(data, hp + 4, 4)
    if ((ver != 1) & (ver != 2)).any():
        bad = ver[(ver != 1) & (ver != 2)][0]
        raise ValueError(f"unsupported Bloom version {int(bad)}")
    mm = read_le_flat(data, hp + 8, 4)
    kk = read_le_flat(data, hp + 12, 4)
    if (mm != m_bits).any() or (kk != k).any():
        raise ValueError("Invalid Bloom representation")  # param mismatch
    dn = np.flatnonzero(ver == 1)
    mats = np.zeros((0, m_bytes), dtype=np.uint8)
    if len(dn):
        if (lens[dn] != 16 + m_bytes).any():
            raise ValueError("Invalid Bloom representation")
        mats = gather_uniform_rows(data, hp[dn] + 16, m_bytes)
    sp = np.flatnonzero(ver == 2)
    seg = np.zeros(0, dtype=np.int64)
    bits = np.zeros(0, dtype=np.int64)
    if len(sp):
        if (lens[sp] < 20).any():
            raise ValueError("Invalid Bloom representation")
        n_set = read_le_flat(data, hp[sp] + 16, 4).astype(np.int64)
        if (lens[sp] != 20 + 4 * n_set).any() or (
            ~_sparse_eligible(n_set, m_bytes)
        ).any():
            raise ValueError("Invalid Bloom representation")
        seg = np.repeat(np.arange(len(sp), dtype=np.int64), n_set)
        bits = read_le_flat(
            data, offsets[sp][seg] + 20 + 4 * segment_ranks(seg), 4
        ).astype(np.int64)
        if len(bits):
            bad = bits >= m_bits
            bad[1:] |= (seg[1:] == seg[:-1]) & (bits[1:] <= bits[:-1])
            if bad.any():
                raise ValueError("Invalid Bloom representation")
        seg = sp[seg]
    return seg, bits, dn, mats


def merge_groups_flat(
    data: np.ndarray,
    offsets: np.ndarray,
    group_codes: np.ndarray,
    n_groups: int,
    m_bits: int = DEFAULT_BITS,
    k: int = DEFAULT_K,
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped Bloom merge (``group_codes`` non-decreasing, all codes
    present), allocation-shaped per input encoding: sparse (v2)
    partials contribute set-bit items, dense (v1) partials OR as packed
    byte matrices via ``np.bitwise_or.reduceat`` — the pre-sparse-wire
    cost profile for the semi-join-prefilter shape (r4 review finding:
    item-ifying dense rows was an 8x unpackbits + 16B/bit sort blowup).
    Output rows are canonical: dense outputs come straight from the
    OR'd matrix, sparse-eligible outputs extract their few set bits."""
    m_bytes = m_bits >> 3
    item_row, item_bit, v1_rows, M = _parse_rows(data, offsets, m_bits, k)
    g = np.asarray(group_codes, dtype=np.int64)
    heavy = np.zeros(n_groups, dtype=bool)  # has >= 1 dense partial
    if len(v1_rows):
        heavy[g[v1_rows]] = True
    hrank = np.cumsum(heavy) - 1  # group -> heavy matrix row
    n_heavy = int(heavy.sum())
    item_g = g[item_row]
    n_set = np.zeros(n_groups, dtype=np.int64)
    Hmat = np.zeros((0, m_bytes), dtype=np.uint8)
    if n_heavy:
        gh = g[v1_rows]  # nondecreasing (rows are group-sorted)
        starts = np.flatnonzero(np.diff(gh, prepend=-1))
        Hmat = np.bitwise_or.reduceat(M, starts, axis=0)
        hi = np.flatnonzero(heavy[item_g])
        if len(hi):  # OR sparse items of heavy groups into the matrix
            key = hrank[item_g[hi]] * m_bytes + (item_bit[hi] >> 3)
            val = np.uint8(1) << (item_bit[hi] & 7).astype(np.uint8)
            order = np.argsort(key, kind="stable")
            ks, vs = key[order], val[order]
            st = np.flatnonzero(np.diff(ks, prepend=-1))
            Hmat.reshape(-1)[ks[st]] |= np.bitwise_or.reduceat(vs, st)
        n_set[heavy] = popcount_rows(Hmat)
    li = np.flatnonzero(~heavy[item_g])
    ub = np.unique(item_g[li] * np.int64(m_bits) + item_bit[li])
    lg, lbit = ub // m_bits, ub % m_bits
    n_set[~heavy] = np.bincount(lg, minlength=n_groups)[~heavy]
    sparse_ok = _sparse_eligible(n_set, m_bytes)
    payload = np.where(sparse_ok, 4 + 4 * n_set, m_bytes)
    out_offs = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(16 + payload, out=out_offs[1:])
    out = np.zeros(int(out_offs[-1]), dtype=np.uint8)
    hp = out_offs[:-1]
    for i, byte in enumerate(MAGIC):
        out[hp + i] = byte
    ones = np.ones(n_groups, dtype=np.int64)
    write_le_flat(out, hp + 4, np.where(sparse_ok, 2, 1), 4)
    write_le_flat(out, hp + 8, ones * m_bits, 4)
    write_le_flat(out, hp + 12, ones * k, 4)
    so = np.flatnonzero(sparse_ok)
    if len(so):
        write_le_flat(out, hp[so] + 16, n_set[so], 4)
    # light-sparse entries straight from the unioned items
    sel = sparse_ok[lg]
    if sel.any():
        ls = np.flatnonzero(sel)
        pos = out_offs[lg[ls]] + 20 + 4 * segment_ranks(lg[ls])
        write_le_flat(out, pos, lbit[ls], 4)
    # light-dense groups (union outgrew eligibility): scatter items
    ldm = ~sparse_ok & ~heavy
    if ldm.any():
        ldrank = np.cumsum(ldm) - 1
        di = np.flatnonzero(~sel)
        key = ldrank[lg[di]] * m_bytes + (lbit[di] >> 3)  # nondecreasing
        val = np.uint8(1) << (lbit[di] & 7).astype(np.uint8)
        st = np.flatnonzero(np.diff(key, prepend=-1))
        mat = np.zeros((int(ldm.sum()), m_bytes), dtype=np.uint8)
        mat.reshape(-1)[key[st]] = np.bitwise_or.reduceat(val, st)
        ld = np.flatnonzero(ldm)
        scatter_uniform_rows(out, out_offs[ld] + 16, mat)
    # heavy-dense rows straight from the OR'd matrix
    hdm = heavy & ~sparse_ok
    if hdm.any():
        hd = np.flatnonzero(hdm)
        scatter_uniform_rows(out, out_offs[hd] + 16, Hmat[hrank[hd]])
    # heavy-sparse (rare: dense partials whose union is still tiny)
    hsm = heavy & sparse_ok
    if hsm.any():
        hs = np.flatnonzero(hsm)
        unp = np.unpackbits(Hmat[hrank[hs]], axis=1, bitorder="little")
        r_idx, b_idx = np.nonzero(unp)
        pos = out_offs[hs[r_idx]] + 20 + 4 * segment_ranks(r_idx)
        write_le_flat(out, pos, b_idx.astype(np.int64), 4)
    return out, out_offs


def valid_flat(
    data: np.ndarray, offsets: np.ndarray, m_bits: int, k: int
) -> np.ndarray:
    """Non-raising per-buffer validity AND canonicality (merge
    passthrough probe): dense (v1) buffers must NOT be sparse-eligible,
    sparse (v2) buffers must be structurally sound — so a passthrough
    single's bytes always equal what :func:`encode` emits for its bit
    set, and merge bytes never depend on partition placement."""
    m_bytes = m_bits >> 3
    ok, hp, lens = probe_headers(data, offsets, MAGIC, 16)
    if not ok.any():
        return ok
    ver = read_le_flat(data, hp + 4, 4)
    ok &= (ver == 1) | (ver == 2)
    ok &= read_le_flat(data, hp + 8, 4) == m_bits
    ok &= read_le_flat(data, hp + 12, 4) == k
    dn = np.flatnonzero(ok & (ver == 1))
    ok[dn] &= lens[dn] == 16 + m_bytes
    dn = np.flatnonzero(ok & (ver == 1))
    if len(dn):
        n_set_d = popcount_rows(gather_uniform_rows(data, offsets[dn] + 16, m_bytes))
        ok[dn[_sparse_eligible(n_set_d, m_bytes)]] = False  # encode -> v2
    sp = np.flatnonzero(ok & (ver == 2))
    ok[sp] &= lens[sp] >= 20
    sp = np.flatnonzero(ok & (ver == 2))
    if len(sp):
        n_set = read_le_flat(data, offsets[sp] + 16, 4).astype(np.int64)
        good = (lens[sp] == 20 + 4 * n_set) & _sparse_eligible(n_set, m_bytes)
        ok[sp[~good]] = False
        rows = sp[good]
        if len(rows):
            seg = np.repeat(np.arange(len(rows), dtype=np.int64), n_set[good])
            bits = read_le_flat(
                data, offsets[rows][seg] + 20 + 4 * segment_ranks(seg), 4
            ).astype(np.int64)
            bad = bits >= m_bits
            if len(bits) > 1:
                bad[1:] |= (seg[1:] == seg[:-1]) & (bits[1:] <= bits[:-1])
            ok[rows[np.unique(seg[bad])]] = False
    return ok
