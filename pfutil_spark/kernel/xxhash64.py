"""Vectorized XXH64 with Spark's ``xxhash64`` semantics.

Spark's ``xxhash64(col)`` (Catalyst ``XxHash64``, seed 42) hashes a
string's UTF-8 bytes, or a binary value's bytes, with the public XXH64
algorithm (Yann Collet, xxHash): 32-byte stripes into four accumulator
lanes for inputs of 32 bytes or more, then up to three 8-byte words, one
4-byte word and up to three single bytes, then the avalanche. A NULL
input leaves the hash at the seed. This module reproduces that bit for
bit over Arrow (values, offsets) buffers, vectorized ACROSS ROWS with
numpy uint64 modular arithmetic, so the extension sketches can hash
their elements on a Python worker that read the parquet itself
(``operators/pyscan.py``) and produce exactly the values the JVM
projection would have.

The rows are packed into little-endian word matrices by
``murmur._hash_flat`` (the helper both byte-string hashes share; one
matrix per row-length class). The only Python loops are over 32-byte
stripes (bounded by the longest row of a class) and the at most three
tail words and three tail bytes; never over rows.
"""

from __future__ import annotations

import numpy as np

from .murmur import _hash_flat

# Spark's default seed for xxhash64 (Catalyst XxHash64)
SPARK_SEED = 42

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_U32 = np.uint64(0xFFFFFFFF)
_FF = np.uint64(0xFF)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def xxhash64_packed(u64: np.ndarray, lens: np.ndarray, seed: int = SPARK_SEED) -> np.ndarray:
    """XXH64 of each row of an (n, width) zero-padded little-endian word
    matrix whose row i holds ``lens[i]`` bytes; returns (n,) int64 (the
    signed value Spark reports)."""
    n = len(lens)
    lens = lens.astype(np.int64, copy=False)
    rows = np.arange(n, dtype=np.int64)
    s = np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        h = np.full(n, s + _P5, dtype=np.uint64)
        n_stripes = lens >> 5
        max_stripes = int(n_stripes.max(initial=0))
        if max_stripes:
            v1 = np.full(n, s + _P1 + _P2, dtype=np.uint64)
            v2 = np.full(n, s + _P2, dtype=np.uint64)
            v3 = np.full(n, s, dtype=np.uint64)
            v4 = np.full(n, s - _P1, dtype=np.uint64)
            for st in range(max_stripes):
                live = n_stripes > st
                c = 4 * st
                v1 = np.where(live, _round(v1, u64[:, c]), v1)
                v2 = np.where(live, _round(v2, u64[:, c + 1]), v2)
                v3 = np.where(live, _round(v3, u64[:, c + 2]), v3)
                v4 = np.where(live, _round(v4, u64[:, c + 3]), v4)
            acc = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
            for v in (v1, v2, v3, v4):
                acc = (acc ^ _round(np.uint64(0), v)) * _P1 + _P4
            h = np.where(n_stripes > 0, acc, h)
        h = h + lens.astype(np.uint64)

        # up to three whole 8-byte words after the stripes
        first_word = n_stripes << 2
        n_words = (lens >> 3) - first_word
        width = u64.shape[1]
        for j in range(int(n_words.max(initial=0))):
            live = n_words > j
            k = u64[rows, np.minimum(first_word + j, width - 1)]
            hj = _rotl(h ^ _round(np.uint64(0), k), 27) * _P1 + _P4
            h = np.where(live, hj, h)

        # the 1-7 tail bytes live in word lens >> 3 (zero padded)
        rem = lens & 7
        if bool(rem.any()):
            tail = u64[rows, np.minimum(lens >> 3, width - 1)]
            has4 = rem >= 4
            h4 = _rotl(h ^ ((tail & _U32) * _P1), 23) * _P2 + _P3
            h = np.where(has4, h4, h)
            tail = np.where(has4, tail >> np.uint64(32), tail)
            n_bytes = rem & 3
            for b in range(int(n_bytes.max(initial=0))):
                byte = (tail >> np.uint64(8 * b)) & _FF
                hb = _rotl(h ^ (byte * _P5), 11) * _P1
                h = np.where(n_bytes > b, hb, h)

        h = h ^ (h >> np.uint64(33))
        h = h * _P2
        h = h ^ (h >> np.uint64(29))
        h = h * _P3
        h = h ^ (h >> np.uint64(32))
    return h.view(np.int64)


def xxhash64_flat(
    data: np.ndarray,
    offsets: np.ndarray,
    valid: np.ndarray | None = None,
    seed: int = SPARK_SEED,
) -> np.ndarray:
    """Spark ``xxhash64`` of each row of Arrow-style (values, offsets)
    buffers (row i is ``data[offsets[i]:offsets[i+1]]``); rows where
    ``valid`` is False are NULL and hash to ``seed``, as in Spark."""
    h = _hash_flat(xxhash64_packed, data, offsets, seed)
    if valid is not None:
        h[~valid] = seed
    return h


def xxhash64_scalar(data: bytes | None, seed: int = SPARK_SEED) -> int:
    """Plain-Python reference (for differential testing of the vectorized
    kernel only — never used in the Spark hot path); signed like Spark."""
    mask = (1 << 64) - 1
    p1, p2, p3, p4, p5 = (int(p) for p in (_P1, _P2, _P3, _P4, _P5))

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & mask

    def rnd(acc: int, lane: int) -> int:
        return (rotl((acc + lane * p2) & mask, 31) * p1) & mask

    if data is None:
        return seed - (1 << 64) if seed >= 1 << 63 else seed
    seed &= mask
    n, pos = len(data), 0
    if n >= 32:
        v = [(seed + p1 + p2) & mask, (seed + p2) & mask, seed, (seed - p1) & mask]
        while pos + 32 <= n:
            for lane in range(4):
                v[lane] = rnd(v[lane], int.from_bytes(data[pos : pos + 8], "little"))
                pos += 8
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & mask
        for x in v:
            h = ((h ^ rnd(0, x)) * p1 + p4) & mask
    else:
        h = (seed + p5) & mask
    h = (h + n) & mask
    while pos + 8 <= n:
        h ^= rnd(0, int.from_bytes(data[pos : pos + 8], "little"))
        h = (rotl(h, 27) * p1 + p4) & mask
        pos += 8
    if pos + 4 <= n:
        h ^= (int.from_bytes(data[pos : pos + 4], "little") * p1) & mask
        h = (rotl(h, 23) * p2 + p3) & mask
        pos += 4
    while pos < n:
        h ^= (data[pos] * p5) & mask
        h = (rotl(h, 11) * p1) & mask
        pos += 1
    h ^= h >> 33
    h = (h * p2) & mask
    h ^= h >> 29
    h = (h * p3) & mask
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h
