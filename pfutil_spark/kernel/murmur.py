"""Vectorized 64-bit MurmurHash2 (MurmurHash64A), Redis-HLL compatible.

Re-implements the exact semantics of the reference's scalar Java version
(`/root/reference/core/src/main/java/com/mayreh/pfutil/HllUtil.java:19-66`:
constants m=0xc6a4a7935bd1e995, r=47, little-endian 8-byte chunks, 1-7 byte
tail XOR + one extra multiply, 3-step finalization) but vectorized ACROSS
ROWS with numpy uint64 modular arithmetic: the only Python-level loop is
over chunk *columns*, bounded by the longest element in the batch, never
over rows.

Pinned by the reference test vector
(`core/src/test/java/com/mayreh/pfutil/HllUtilTest.java:19-25`):
murmur64a(b"Lorem ipsum dolor sit amet, consectetur adipisicing elit",
seed=0xe17a1465) == 0x0920e0c1b7eeb261.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from .sketch_common import flat_buffers, le_words

_M = np.uint64(0xC6A4A7935BD1E995)
_R = np.uint64(47)

# Redis HLL hash seed (reference: v4/HllhdrV4.java:53, v5/HllhdrV5.java:48)
HLL_SEED = 0xADC83B19


# _TAIL_MASKS[k] keeps the low k bytes of a little-endian word
_TAIL_MASKS = np.array([(1 << (8 * k)) - 1 for k in range(9)], dtype=np.uint64)


def _gather_words(
    words: np.ndarray, total: int, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """(n, width) zero-padded little-endian word matrix of the rows at
    byte ``starts`` with ``lens`` bytes, read from ``words`` (the
    unaligned 8-byte view of a buffer holding ``total`` row bytes plus 8
    zero bytes): one unaligned 8-byte gather per row per word column,
    the bytes past each row's end masked off."""
    width = max((int(lens.max(initial=0)) + 7) // 8, 1)
    out = np.empty((width, len(lens)), dtype=np.uint64)
    for c in range(width):
        rem = np.clip(lens - 8 * c, 0, 8)
        np.bitwise_and(words[np.minimum(starts + 8 * c, total)], _TAIL_MASKS[rem], out=out[c])
    return out.T


def _pack_flat(
    data: np.ndarray, offsets: np.ndarray
) -> list[tuple[np.ndarray | None, np.ndarray, np.ndarray]]:
    """Pack rows described by Arrow-style (values, offsets) buffers —
    row i is ``data[offsets[i]:offsets[i+1]]`` — into zero-padded
    little-endian word matrices: a list of ``(rows, u64, lens)``, one
    (len(rows), width) uint64 matrix and its rows' byte lengths per
    part, where ``rows`` (None: every row, in order) are the row
    numbers of the part.

    Uniform multiple-of-8 row widths (e.g. sha256 hex) are one zero-copy
    view, other uniform widths one padded 2-D copy. Variable widths
    split into length classes — rows of 2^(k-1) to 2^k - 1 words share
    class k — each packed by :func:`_gather_words`, so every matrix is
    at most about twice its rows' bytes: one long value among many short
    ones costs its own bytes, not (rows x longest row). A per-byte
    scatter packer cost ~5x the time and memory on path-like columns
    (NOTES.md)."""
    offsets = offsets.astype(np.int64, copy=False)
    lens = np.diff(offsets)
    n = len(lens)
    if n == 0:
        return [(None, np.zeros((0, 1), dtype=np.uint64), lens)]
    base, end = int(offsets[0]), int(offsets[-1])
    seg = data[base:end]
    min_len, max_len = int(lens.min()), int(lens.max())
    if min_len == max_len > 0:
        if max_len % 8 == 0:
            u64 = np.ascontiguousarray(seg).reshape(n, max_len).view("<u8")
        else:
            padded = np.zeros((n, (max_len + 7) // 8 * 8), dtype=np.uint8)
            padded[:, :max_len] = seg.reshape(n, max_len)
            u64 = padded.view("<u8")
        return [(None, u64, lens)]
    total = end - base
    # the row bytes plus 8 zero bytes, so a word read at any position
    # <= total stays inside the buffer
    buf = np.zeros(total + 8, dtype=np.uint8)
    buf[:total] = seg
    words = le_words(buf, 8)
    starts = offsets[:-1] - base
    if ((min_len + 7) >> 3).bit_length() == ((max_len + 7) >> 3).bit_length():
        return [(None, _gather_words(words, total, starts, lens), lens)]
    cls = np.frexp((lens + 7) >> 3)[1]
    order = np.argsort(cls, kind="stable")
    bounds = np.flatnonzero(np.diff(cls[order])) + 1
    return [
        (rows, _gather_words(words, total, starts[rows], lens[rows]), lens[rows])
        for rows in np.split(order, bounds)
    ]


def _hash_flat(packed, data: np.ndarray, offsets: np.ndarray, seed: int) -> np.ndarray:
    """Run ``packed(u64, lens, seed)`` — a byte-string hash over a
    zero-padded little-endian word matrix and its rows' byte lengths —
    on every part of :func:`_pack_flat`. Shared by every byte-string
    hash kernel (MurmurHash64A here, XXH64 in ``kernel/xxhash64.py``)."""
    parts = _pack_flat(data, offsets)
    if parts[0][0] is None:
        return packed(parts[0][1], parts[0][2], seed)
    out = None
    while parts:  # popped, so each class matrix is freed once hashed
        rows, u64, lens = parts.pop()
        h = packed(u64, lens, seed)
        if out is None:
            out = np.empty(len(offsets) - 1, dtype=h.dtype)
        out[rows] = h
    return out


def murmur64a_flat(
    data: np.ndarray, offsets: np.ndarray, seed: int = HLL_SEED
) -> np.ndarray:
    """MurmurHash64A over Arrow (values, offsets) buffers — the zero-copy
    hot path used by the mapInArrow partial stage."""
    return _hash_flat(murmur64a_packed, data, offsets, seed)


def murmur64a(datas: Sequence[bytes], seed: int = HLL_SEED) -> np.ndarray:
    """MurmurHash64A of each byte string; returns (n,) uint64.

    Exact parity with the Java reference including wrap-around multiply,
    unsigned right shifts, and the tail-byte handling.
    """
    return murmur64a_flat(*flat_buffers(datas), seed)


def murmur64a_packed(u64: np.ndarray, lens: np.ndarray, seed: int = HLL_SEED) -> np.ndarray:
    n, width = u64.shape
    with np.errstate(over="ignore"):
        lens_u = lens.astype(np.uint64)
        h = np.uint64(seed & 0xFFFFFFFF) ^ (lens_u * _M)
        if n == 0:
            return h
        nchunks = (lens >> 3).astype(np.int64)
        tail = (lens & 7).astype(np.uint64)
        has_tail = tail > 0

        max_chunks = int(nchunks.max(initial=0))
        uniform = bool((lens == lens[0]).all())

        for c in range(min(width, max_chunks + 1)):
            k = u64[:, c]
            if uniform:
                # every row takes the same branch at column c
                if c < int(nchunks[0]):
                    k = k * _M
                    k = k ^ (k >> _R)
                    k = k * _M
                    h = (h ^ k) * _M
                elif bool(has_tail[0]):
                    mask = (np.uint64(1) << (tail * np.uint64(8))) - np.uint64(1)
                    h = (h ^ (k & mask)) * _M
                continue
            full = nchunks > c
            kk = k * _M
            kk = kk ^ (kk >> _R)
            kk = kk * _M
            h_full = (h ^ kk) * _M
            is_tail = (nchunks == c) & has_tail
            tmask = (np.uint64(1) << (tail * np.uint64(8))) - np.uint64(1)
            h_tail = (h ^ (k & tmask)) * _M
            h = np.where(full, h_full, np.where(is_tail, h_tail, h))

        h = h ^ (h >> _R)
        h = h * _M
        h = h ^ (h >> _R)
    return h


def murmur64a_scalar(data: bytes, seed: int = HLL_SEED) -> int:
    """Plain-Python reference implementation (for differential testing of
    the vectorized kernel only — never used in the Spark hot path)."""
    mask = (1 << 64) - 1
    m = 0xC6A4A7935BD1E995
    h = ((seed & 0xFFFFFFFF) ^ (len(data) * m)) & mask
    end = len(data) - (len(data) & 7)
    for p in range(0, end, 8):
        k = int.from_bytes(data[p : p + 8], "little")
        k = (k * m) & mask
        k ^= k >> 47
        k = (k * m) & mask
        h ^= k
        h = (h * m) & mask
    t = len(data) & 7
    if t:
        h ^= int.from_bytes(data[end:], "little")
        h = (h * m) & mask
    h ^= h >> 47
    h = (h * m) & mask
    h ^= h >> 47
    return h
