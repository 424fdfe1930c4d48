"""Shared utilities for the extension sketches (count-min, Bloom, KLL,
t-digest).

These have no Redis wire-compat constraint (reference repo is HLL-only;
see SURVEY.md §2.4), so hashing is free to be fast: each row enters as
one 64-bit Spark ``xxhash64(col)``, computed JVM-side in codegen (8
bytes/row across Arrow instead of raw strings) or, when the Python
workers read the parquet themselves, by ``kernel/xxhash64.py`` with the
same bits; the kernels derive the per-row hash family
from that single 64-bit value with splitmix64 finalizer chains
(Steele, Lea & Flood, "Fast Splittable Pseudorandom Number Generators",
OOPSLA 2014 — public algorithm).
"""

from __future__ import annotations

import numpy as np

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (uint64 -> uint64, bijective)."""
    with np.errstate(over="ignore"):
        z = x + _SM_GAMMA
        z = (z ^ (z >> np.uint64(30))) * _SM_M1
        z = (z ^ (z >> np.uint64(27))) * _SM_M2
        z = z ^ (z >> np.uint64(31))
    return z


def hash_family(h: np.ndarray, i: int) -> np.ndarray:
    """i-th independent 64-bit hash derived from a base hash vector."""
    with np.errstate(over="ignore"):
        return splitmix64(h ^ (np.uint64(i + 1) * _SM_GAMMA))


def to_u64(col: np.ndarray) -> np.ndarray:
    """int64 hashes (e.g. Spark xxhash64 output) viewed as uint64."""
    return np.ascontiguousarray(col).view(np.uint64)


# ---------------------------------------------------------------------------
# flat-buffer helpers for the vectorized grouped fold/merge paths: many
# sketch encodings are written into / parsed out of ONE uint8 buffer at
# arbitrary (unaligned) offsets with a constant number of vectorized
# byte-plane passes — zero per-group Python (the same machinery family as
# kernel/hll.py's flat opcode scanner).
# ---------------------------------------------------------------------------

def le_words(data: np.ndarray, nbytes: int) -> np.ndarray:
    """View of contiguous uint8 ``data`` whose element ``p`` is the
    (unaligned) little-endian ``nbytes``-wide integer at byte ``p``."""
    return np.ndarray(
        (len(data) - nbytes + 1,), dtype=f"<u{nbytes}", buffer=data, strides=(1,)
    )


def write_le_flat(data: np.ndarray, pos: np.ndarray, vals: np.ndarray, nbytes: int) -> None:
    """Scatter little-endian ``nbytes``-wide (1, 2, 4 or 8) integers
    ``vals`` into ``data`` at byte positions ``pos`` (one value per
    position, windows disjoint): one unaligned scatter."""
    if len(pos):
        le_words(data, nbytes)[pos] = vals.astype(np.uint64, copy=False)


def read_le_flat(data: np.ndarray, pos: np.ndarray, nbytes: int) -> np.ndarray:
    """Gather little-endian ``nbytes``-wide (1, 2, 4 or 8) unsigned
    integers from ``data`` at byte positions ``pos`` -> uint64 array:
    one unaligned gather."""
    if len(pos) == 0:
        return np.zeros(0, dtype=np.uint64)
    return le_words(data, nbytes)[pos].astype(np.uint64)


def segment_ranks(sorted_codes: np.ndarray) -> np.ndarray:
    """0-based rank of each element within its run of equal values
    (``sorted_codes`` must be non-decreasing)."""
    n = len(sorted_codes)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.empty(n, dtype=bool)
    starts[0] = True
    np.not_equal(sorted_codes[1:], sorted_codes[:-1], out=starts[1:])
    sidx = np.flatnonzero(starts)
    return np.arange(n, dtype=np.int64) - np.repeat(
        sidx, np.diff(np.append(sidx, n))
    )


def flat_buffers(bufs: "list[bytes]") -> tuple[np.ndarray, np.ndarray]:
    """Concatenate wire buffers into the (data, int64 offsets) pair the
    flat kernels consume — the ONE definition of this little join+cumsum
    (previously re-implemented at four call sites; r5 review)."""
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    offsets = np.zeros(len(bufs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in bufs], out=offsets[1:])
    return data, offsets


def gather_f8_runs(
    data: np.ndarray, starts: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Gather ``counts[i]`` little-endian float64s starting at byte
    ``starts[i]`` for each run -> one flat float64 array in run order:
    one unaligned 8-byte gather, sequential within each run."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.float64)
    seg = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    base = np.repeat(starts, counts) + 8 * segment_ranks(seg)
    return le_words(data, 8)[base].view("<f8")


def gather_uniform_rows(data: np.ndarray, starts: np.ndarray, row_len: int) -> np.ndarray:
    """Gather equal-length byte windows ``[starts[i], starts[i]+row_len)``
    into an (n, row_len) uint8 matrix: one row gather over a
    sliding-window view, so no (n, row_len) int64 index matrix is built
    (8x the bytes it fetches)."""
    if len(starts) == 0 or row_len == 0:
        return np.zeros((len(starts), row_len), dtype=data.dtype)
    return np.lib.stride_tricks.sliding_window_view(data, row_len)[starts]


def scatter_uniform_rows(data: np.ndarray, starts: np.ndarray, rows: np.ndarray) -> None:
    """Write the rows of an (n, row_len) uint8 matrix into ``data`` at
    byte windows ``[starts[i], starts[i]+row_len)``, which must not
    overlap: the inverse of :func:`gather_uniform_rows`, in place."""
    if len(starts) and rows.shape[1]:
        np.lib.stride_tricks.sliding_window_view(data, rows.shape[1], writeable=True)[
            starts
        ] = rows


def probe_headers(
    data: np.ndarray, offsets: np.ndarray, magic: bytes, min_len: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Shared prologue of every kernel's non-raising header probe:
    ``(ok, hp, lens)`` where ``ok`` holds the magic + minimum-length
    verdict and ``hp`` is the out-of-bounds-safe header position per
    window (clamped for short trailing windows, which are already
    ``ok=False``). Callers must bail out when ``not ok.any()`` BEFORE
    reading header fields (the whole-buffer-too-short case returns
    zeroed ``hp`` that must not be dereferenced), then AND in their
    version/param/length checks."""
    n = len(offsets) - 1
    lens = np.diff(offsets)
    if len(data) < min_len:
        return np.zeros(n, dtype=bool), np.zeros(n, dtype=np.int64), lens
    hp = np.minimum(offsets[:-1], len(data) - min_len)
    ok = lens >= min_len
    for i, byte in enumerate(magic):
        ok &= data[hp + i] == byte
    return ok, hp, lens


_POPCOUNT = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
    axis=1
).astype(np.int64)


def popcount_rows(mat: np.ndarray) -> np.ndarray:
    """Set-bit count per row of a uint8 matrix (LUT, no unpackbits blowup)."""
    return _POPCOUNT[mat].sum(axis=1)


def check_arrow_binary_size(nbytes: int) -> None:
    """Arrow binary arrays carry int32 offsets: one merge partition's
    sketch output must stay under 2GB — raise the actionable fix
    instead of silently wrapping offsets."""
    if nbytes > (1 << 31) - 1:
        raise ValueError(
            "merged sketch bytes exceed 2GB in one partition; raise "
            "spark.sql.shuffle.partitions"
        )
