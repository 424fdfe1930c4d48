"""KMV (k-minimum-values) / theta sketch for distinct counting under
set operations (Beyer, Haas, Reinwald, Sismanis & Gemulla, "On synopses
for distinct-value estimation under multiset operations", SIGMOD 2007;
the threshold framework follows the Apache DataSketches theta-sketch
formulation). No reference-repo counterpart (SURVEY.md §2.4 extension
family) — same zero/update/merge/estimate/dump/restore contract as the
other kernels.

Why it exists next to HLL: HLL intersections go through
inclusion-exclusion, so their error is relative to the UNION — a small
intersection of two large sets drowns. KMV keeps an actual uniform
sample of the distinct-hash space (the k smallest 64-bit hashes), so
intersections / differences / Jaccard are estimated directly on the
sample with error relative to the threshold-scaled result:
RSE ≈ 1/sqrt(k-2) for the distinct estimate (k=2048 → ~2.2%).

State: the sorted array of the k smallest DISTINCT uint64 hashes seen.
That set is a pure function of the input value set — updates and merges
in ANY partitioning / order produce byte-identical sketches (the
library's north-star invariant, stronger than DataSketches' own
union-order guarantee).

Estimator (unbiased KMV): with fewer than k entries the sketch IS the
distinct set (exact); at capacity, E[distinct] = (k-1) / U_(k) where
U_(k) = entries[k-1] / 2^64 is the k-th smallest normalized hash.

Set ops use the inclusive threshold L = min over inputs of thr(X),
thr(X) = 2^64-1 exact-regime else entries[k-1]; every true member of the
combined set survives into the op's sample iff its hash <= L (uniform
with probability (L+1)/2^64), so |sample| / P is the estimate and the
exact regime falls out with P = 1.
"""

from __future__ import annotations

import numpy as np

from .sketch_common import read_le_flat, segment_ranks, to_u64

MAGIC = b"KMVS"
DEFAULT_K = 2048
_FULL = np.uint64(0xFFFFFFFFFFFFFFFF)
_SPAN = float(2**64)


class KmvSketch:
    __slots__ = ("k", "entries")

    def __init__(self, k: int = DEFAULT_K):
        if k < 3:
            raise ValueError(f"kmv k={k}: need k >= 3 for the (k-1)/U_k estimator")
        self.k = int(k)
        self.entries = np.empty(0, dtype=np.uint64)  # sorted, distinct

    # -- building ----------------------------------------------------------

    def update(self, hashes: np.ndarray) -> "KmvSketch":
        """Fold a batch of 64-bit hashes (int64 from Spark's xxhash64 or
        uint64) into the sketch: k smallest distinct overall."""
        h = to_u64(np.asarray(hashes))
        if len(h) == 0:
            return self
        # np.unique sorts; pre-truncating the batch keeps the concat small
        hu = np.unique(h)
        if len(hu) > self.k:
            hu = hu[: self.k]
        cand = np.unique(np.concatenate([self.entries, hu]))
        self.entries = cand[: self.k]
        return self

    def merge(self, other: "KmvSketch") -> "KmvSketch":
        if other.k != self.k:
            raise ValueError(f"kmv merge: k mismatch {self.k} vs {other.k}")
        cand = np.unique(np.concatenate([self.entries, other.entries]))
        self.entries = cand[: self.k]
        return self

    # -- estimation --------------------------------------------------------

    @property
    def threshold(self) -> np.uint64:
        """Inclusive retention bound: a hash is in the sketch iff it was
        seen and h <= threshold."""
        return self.entries[self.k - 1] if len(self.entries) >= self.k else _FULL

    def estimate(self) -> float:
        if len(self.entries) < self.k:
            return float(len(self.entries))
        u_k = float(self.entries[self.k - 1]) / _SPAN
        return (self.k - 1) / u_k

    # -- wire --------------------------------------------------------------

    def encode(self) -> bytes:
        head = MAGIC + np.array([1, self.k, len(self.entries)], dtype="<u4").tobytes()
        return head + self.entries.astype("<u8").tobytes()


def decode(buf: bytes) -> KmvSketch:
    buf = bytes(buf)
    if len(buf) < 16 or buf[:4] != MAGIC:
        raise ValueError("Invalid KMV representation")
    ver, k, n = np.frombuffer(buf, dtype="<u4", count=3, offset=4)
    if ver != 1:
        raise ValueError(f"unsupported KMV version {ver}")
    if len(buf) != 16 + 8 * int(n) or n > k:
        raise ValueError("Invalid KMV representation")
    sk = KmvSketch(int(k))
    ent = np.frombuffer(buf, dtype="<u8", count=int(n), offset=16)
    # strictly increasing (np.diff would WRAP on uint64, hiding inversions)
    if n and not np.all(ent[1:] > ent[:-1]):
        raise ValueError("Invalid KMV representation")  # must be sorted distinct
    sk.entries = ent.astype(np.uint64)
    return sk


def merge_all(sketches: list[KmvSketch]) -> KmvSketch:
    out = sketches[0]
    for s in sketches[1:]:
        out.merge(s)
    return out


# ---------------------------------------------------------------------------
# vectorized grouped fold / merge over flat buffers (zero per-group Python
# — the same machinery family as kernel/hll.py's flat opcode scanner).
# Byte parity with the scalar path is free: the sketch state (k smallest
# distinct hashes, sorted) is a pure SET function of the inputs, and the
# wire format is a direct dump of that state.
# ---------------------------------------------------------------------------

_HEAD0 = int.from_bytes(MAGIC, "little") | (1 << 32)  # magic + version 1


def _fold_grouped(
    cnt: np.ndarray, h: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Hashes laid out group by group (``cnt[i]`` of group i, in group
    order; ``h`` is sorted in place, so it must be the caller's own
    copy) -> encoded per-group k-min-distinct sketches. Returns
    ``(data, offsets)`` flat wire buffers (Arrow-binary-ready).

    Each group's hashes are sorted as one row of a matrix: a group's
    row width is its count rounded up to an eighth of the count's top
    bit, groups of one width share a matrix, and one row-wise
    ``np.sort`` per width sorts them all (padding costs at most 1/8 of
    the entries; a merge of equal full partials needs none, so its
    matrix is a view of ``h``). Sorting values this way is several
    times faster than a ``lexsort`` of (group, hash)."""
    n_groups = len(cnt)
    top = np.zeros(n_groups, dtype=np.int64)
    live = cnt > 0
    top[live] = np.log2(cnt[live]).astype(np.int64)
    gran = 1 << np.maximum(top - 3, 0)
    width = -(-cnt // gran) * gran
    widths, cls = np.unique(width, return_inverse=True)
    if len(widths) > 1:  # lay the hashes out width by width
        h = h[np.argsort(np.repeat(cls, cnt), kind="stable")]
    by_cls = np.argsort(cls, kind="stable")
    bounds = np.searchsorted(cls[by_cls], np.arange(len(widths) + 1))
    out_cnt = np.zeros(n_groups, dtype=np.int64)
    pieces = []
    pos = 0
    for c, w in enumerate(widths.tolist()):
        gids = by_cls[bounds[c] : bounds[c + 1]]
        n = cnt[gids]
        vals = h[pos : pos + int(n.sum())]
        pos += len(vals)
        if w == 0:
            continue
        if (n == w).all():
            m = vals.reshape(len(gids), w)
            keep = np.ones(m.shape, dtype=bool)
        else:
            m = np.full((len(gids), w), _FULL, dtype=np.uint64)
            keep = np.arange(w) < n[:, None]
            m[keep] = vals
        m.sort(axis=1)  # the padding (the max value) sorts after every hash
        keep[:, 1:] &= m[:, 1:] != m[:, :-1]
        nd = keep.sum(axis=1)
        over = nd > k
        if over.any():  # keep each row's k smallest: cut at its k-th
            # a row's k-th distinct hash sits at most its duplicate count
            # past column k - 1
            cap = min(w, k + int((n - nd)[over].max()))
            rank_t = np.int16 if cap <= np.iinfo(np.int16).max else np.int64
            col = np.argmax(np.cumsum(keep[:, :cap], axis=1, dtype=rank_t) == k, axis=1)
            kth = np.where(over, m[np.arange(len(gids)), col], _FULL)
            keep &= m <= kth[:, None]
        out_cnt[gids] = np.minimum(nd, k)
        pieces.append((gids, m[keep]))  # row-major: group, then ascending
    offsets = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(16 + 8 * out_cnt, out=offsets[1:])
    words = np.empty(int(offsets[-1]) // 8, dtype="<u8")
    hw = offsets[:-1] // 8
    words[hw] = _HEAD0
    words[hw + 1] = k | (out_cnt << 32)  # k, n entries
    for gids, vals in pieces:
        first = np.repeat(hw[gids] + 2, out_cnt[gids])
        words[first + segment_ranks(first)] = vals
    return words.view(np.uint8), offsets


def fold_groups_hashes(
    hashes: np.ndarray, inverse: np.ndarray, n_groups: int, k: int = DEFAULT_K
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped KMV fold: rows ``(inverse[i], hashes[i])`` -> one encoded
    sketch per group code 0..n_groups-1, byte-identical to per-group
    ``KmvSketch.update + encode`` in any order/partitioning."""
    g = np.asarray(inverse, dtype=np.int64)
    # a stable radix sort when the codes fit int16
    key = g.astype(np.int16) if n_groups <= np.iinfo(np.int16).max else g
    h = to_u64(np.asarray(hashes))[np.argsort(key, kind="stable")]
    return _fold_grouped(np.bincount(g, minlength=n_groups), h, k)


def entries_flat(
    data: np.ndarray, offsets: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Validated flat parse of many wire buffers -> ``(counts, entries)``:
    each buffer's entry count, and every buffer's entries (uint64,
    ascending within a buffer) in buffer order. Raises like
    :func:`decode` on any structurally invalid buffer; also enforces the
    uniform ``k`` the grouped merge requires (mirrors
    ``KmvSketch.merge``)."""
    n = len(offsets) - 1
    lens = np.diff(offsets)
    if (lens < 16).any():
        raise ValueError("Invalid KMV representation")
    hp = offsets[:-1]
    ok = np.ones(n, dtype=bool)
    for i, byte in enumerate(MAGIC):
        ok &= data[hp + i] == byte
    if not ok.all():
        raise ValueError("Invalid KMV representation")
    ver = read_le_flat(data, hp + 4, 4)
    if (ver != 1).any():
        raise ValueError(f"unsupported KMV version {int(ver[ver != 1][0])}")
    kk = read_le_flat(data, hp + 8, 4).astype(np.int64)
    if (kk != k).any():
        raise ValueError(f"kmv merge: k mismatch {k} vs {int(kk[kk != k][0])}")
    nn = read_le_flat(data, hp + 12, 4).astype(np.int64)
    if (lens != 16 + 8 * nn).any() or (nn > kk).any():
        raise ValueError("Invalid KMV representation")
    # every buffer is 16 + 8n bytes, so from offsets[0] on the span is
    # little-endian words: two header words, then the buffer's entries
    words = data[offsets[0] : offsets[-1]].view("<u8")
    head = np.zeros(len(words), dtype=bool)
    hw = (hp - offsets[0]) // 8
    head[hw] = head[hw + 1] = True
    ent = words[~head].astype(np.uint64, copy=False)
    # entries must rise strictly within a buffer: every fall must be
    # where a buffer starts
    starts = (np.cumsum(nn) - nn)[nn > 0][1:]
    falls = np.count_nonzero(ent[1:] <= ent[:-1])
    if falls != np.count_nonzero(ent[starts] <= ent[starts - 1]):
        raise ValueError("Invalid KMV representation")  # not sorted distinct
    return nn, ent


def merge_groups_flat(
    data: np.ndarray,
    offsets: np.ndarray,
    group_codes: np.ndarray,
    n_groups: int,
    k: int = DEFAULT_K,
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped KMV merge: wire buffers labeled by ``group_codes`` fold to
    one sketch per group — byte-identical to ``merge_all`` over each
    group's decodes, in one vectorized pass."""
    nn, ent = entries_flat(data, offsets, k)
    codes = np.asarray(group_codes, dtype=np.int64)
    if len(codes) > 1 and bool((codes[1:] < codes[:-1]).any()):
        # lay the buffers out group by group (a merge task's are already)
        order = np.argsort(codes, kind="stable")
        starts = np.cumsum(nn) - nn
        nn_o = nn[order]
        ent = ent[np.repeat(starts[order] - (np.cumsum(nn_o) - nn_o), nn_o)
                  + np.arange(len(ent))]
    cnt = np.bincount(codes, weights=nn, minlength=n_groups).astype(np.int64)
    return _fold_grouped(cnt, ent, k)


def valid_flat(data: np.ndarray, offsets: np.ndarray, k: int) -> np.ndarray:
    """Non-raising per-buffer validity (merge passthrough probe): same
    checks as :func:`entries_flat`, returned as a bool mask. Any valid
    KMV buffer is canonical (the encoding is a direct dump of the sorted
    distinct entry set), so validity alone gates passthrough."""
    from .sketch_common import probe_headers

    ok, hp, lens = probe_headers(data, offsets, MAGIC, 16)
    if not ok.any():
        return ok
    ok &= read_le_flat(data, hp + 4, 4) == 1
    ok &= read_le_flat(data, hp + 8, 4).astype(np.int64) == k
    nn = read_le_flat(data, hp + 12, 4).astype(np.int64)
    ok &= (lens == 16 + 8 * nn) & (nn <= k)
    rows = np.flatnonzero(ok)
    if len(rows):
        seg = np.repeat(np.arange(len(rows), dtype=np.int64), nn[rows])
        ent = read_le_flat(
            data, offsets[rows][seg] + 16 + 8 * segment_ranks(seg), 8
        )
        if len(ent) > 1:
            bad = (seg[1:] == seg[:-1]) & (ent[1:] <= ent[:-1])
            ok[rows[np.unique(seg[:-1][bad])]] = False
    return ok


# ---------------------------------------------------------------------------
# set operations (threshold framework)
# ---------------------------------------------------------------------------

def _op_scale(sketches: list[KmvSketch]) -> tuple[np.uint64, float]:
    """(inclusive threshold L, inverse sampling probability 2^64/(L+1))."""
    L = min(s.threshold for s in sketches)
    if L == _FULL:
        return L, 1.0
    return L, _SPAN / float(int(L) + 1)


def union(sketches: list[KmvSketch]) -> KmvSketch:
    """The union sketch IS the merge (k smallest distinct of the combined
    value set) — exact set semantics, byte-deterministic."""
    out = KmvSketch(sketches[0].k)
    out.entries = sketches[0].entries.copy()
    for s in sketches[1:]:
        out.merge(s)
    return out


def union_estimate(sketches: list[KmvSketch]) -> float:
    return union(sketches).estimate()


def intersect_estimate(a: KmvSketch, b: KmvSketch) -> float:
    """|A ∩ B| with error relative to the threshold-scaled sample —
    NOT inclusion-exclusion, so small intersections of large sets stay
    accurate."""
    L, scale = _op_scale([a, b])
    common = np.intersect1d(a.entries, b.entries, assume_unique=True)
    n = int(np.count_nonzero(common <= L))
    return n * scale


def a_not_b_estimate(a: KmvSketch, b: KmvSketch) -> float:
    """|A \\ B| over the shared sample below the combined threshold."""
    L, scale = _op_scale([a, b])
    only = np.setdiff1d(a.entries[a.entries <= L], b.entries, assume_unique=True)
    return len(only) * scale


def jaccard_estimate(a: KmvSketch, b: KmvSketch) -> float:
    """|A ∩ B| / |A ∪ B| from the shared sample below the combined
    threshold (both counts scale identically, so the ratio needs no
    rescaling)."""
    L, _ = _op_scale([a, b])
    sa = a.entries[a.entries <= L]
    sb = b.entries[b.entries <= L]
    n_union = len(np.union1d(sa, sb))
    if n_union == 0:
        return 0.0
    n_common = len(np.intersect1d(sa, sb, assume_unique=True))
    return n_common / n_union
