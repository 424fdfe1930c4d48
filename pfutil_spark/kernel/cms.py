"""Count-min sketch kernel (Cormode & Muthukrishnan, "An improved data
stream summary: the count-min sketch and its applications", J. Algorithms
2005). No reference-repo counterpart (SURVEY.md §2.4) — same mergeable
zero/update/merge/estimate/dump/restore contract as the HLL kernel.

State: (d, w) int64 counter matrix. Point-query overcount <= eps*N with
probability 1-delta for w = ceil(e/eps), d = ceil(ln 1/delta); merge is
element-wise addition (exact, associative, commutative).

Wire format (canonical encoder, HLL-style dense/sparse split): version 1
is the raw d*w counter dump; version 2 is a sparse (flat_index, count)
list, emitted whenever it is strictly smaller (nnz*12 + 4 < d*w*8).
Sparse is what makes PER-KEY sketches at near-unique-key cardinality
feasible: a one-element CMS is ~3 nonzero counters — 40 bytes sparse vs
82KB dense at the default width, a 2000x shuffle-byte reduction at 10^6
groups (measured in tools/sketch_highcard_gate.py). The encoder is a
pure function of the counter state, so sketch bytes stay identical
across partitionings/merge orders."""

from __future__ import annotations

import numpy as np

from .sketch_common import hash_family, to_u64

MAGIC = b"CMSK"
DEFAULT_DEPTH = 5
DEFAULT_WIDTH = 2048


def empty(depth: int = DEFAULT_DEPTH, width: int = DEFAULT_WIDTH) -> np.ndarray:
    return np.zeros((depth, width), dtype=np.int64)


def update(state: np.ndarray, hashes: np.ndarray, counts: np.ndarray | None = None) -> None:
    """Add rows (pre-hashed uint64/int64) to the sketch, in place.
    ``counts`` adds a weight per row (default 1)."""
    d, w = state.shape
    h = to_u64(hashes)
    wu = np.uint64(w)
    for j in range(d):
        pos = (hash_family(h, j) % wu).astype(np.int64)
        if counts is None:
            np.add.at(state[j], pos, 1)
        else:
            np.add.at(state[j], pos, counts)


def merge(states: list[np.ndarray]) -> np.ndarray:
    out = states[0].copy()
    for s in states[1:]:
        out += s
    return out


def query(state: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Estimated count per queried item: min_j state[j, h_j(x)]."""
    d, w = state.shape
    h = to_u64(np.asarray(hashes))
    wu = np.uint64(w)
    est = np.full(len(h), np.iinfo(np.int64).max, dtype=np.int64)
    for j in range(d):
        pos = (hash_family(h, j) % wu).astype(np.int64)
        np.minimum(est, state[j, pos], out=est)
    return est


def total(state: np.ndarray) -> int:
    """Total weight N (any row sums to it)."""
    return int(state[0].sum())


def inner_product(a: np.ndarray, b: np.ndarray) -> int:
    """Inner-product (equi-join size) estimate: ``min_j dot(A_j, B_j)``.

    For frequency vectors f_A, f_B the true equi-join output size is
    ``sum_v f_A(v) * f_B(v)``. Each CMS row's dot product equals that
    sum plus nonnegative collision cross-terms (both sketches use the
    same hash family per row), so the row-min NEVER undercounts, and
    overcounts by <= eps * N_A * N_B (eps = e/width) with probability
    >= 1 - exp(-depth) (Cormode & Muthukrishnan J.Algorithms'05 §4.2).
    ``a == b`` gives the second frequency moment F2 (self-join size) —
    the standard skew statistic. Accumulates in exact Python ints: at
    10^12-row scale N_A*N_B/width exceeds int64."""
    if a.shape != b.shape:
        raise ValueError(f"CMS shape mismatch: {a.shape} vs {b.shape}")
    return min(
        int(np.dot(a[j].astype(object), b[j].astype(object)))
        for j in range(a.shape[0])
    )


def error_bound(depth: int = DEFAULT_DEPTH, width: int = DEFAULT_WIDTH) -> tuple[float, float]:
    """(eps, delta): overcount <= eps*N with prob >= 1-delta."""
    return float(np.e) / width, float(np.exp(-depth))


def _sparse_eligible(nnz: int | np.ndarray, dw: int):
    """Encoder rule: sparse iff strictly smaller than the dense payload."""
    return nnz * 12 + 4 < dw * 8


def encode(state: np.ndarray) -> bytes:
    """Canonical encoder: sparse (ver 2) when strictly smaller, else the
    dense counter dump (ver 1)."""
    d, w = state.shape
    flat = np.ascontiguousarray(state).reshape(-1)
    nz = np.flatnonzero(flat)
    if _sparse_eligible(len(nz), d * w):
        head = MAGIC + np.array([2, d, w], dtype="<u4").tobytes()
        entries = np.empty(len(nz), dtype=[("i", "<u4"), ("c", "<i8")])
        entries["i"] = nz
        entries["c"] = flat[nz]
        return head + np.array([len(nz)], dtype="<u4").tobytes() + entries.tobytes()
    head = MAGIC + np.array([1, d, w], dtype="<u4").tobytes()
    return head + state.astype("<i8").tobytes()


def decode(buf: bytes) -> np.ndarray:
    if buf[:4] != MAGIC:
        raise ValueError("Invalid CMS representation")
    ver, d, w = np.frombuffer(buf, dtype="<u4", count=3, offset=4)
    d, w = int(d), int(w)
    if ver == 1:
        if len(buf) != 16 + d * w * 8:
            raise ValueError("Invalid CMS representation")
        body = np.frombuffer(buf, dtype="<i8", offset=16, count=d * w)
        return body.reshape(d, w).copy()
    if ver == 2:
        (nnz,) = np.frombuffer(buf, dtype="<u4", count=1, offset=16)
        nnz = int(nnz)
        if len(buf) != 20 + 12 * nnz or not _sparse_eligible(nnz, d * w):
            raise ValueError("Invalid CMS representation")
        entries = np.frombuffer(
            buf, dtype=[("i", "<u4"), ("c", "<i8")], count=nnz, offset=20
        )
        idx = entries["i"].astype(np.int64)
        if nnz and (
            (idx >= d * w).any() or (idx[1:] <= idx[:-1]).any()
        ):
            raise ValueError("Invalid CMS representation")  # unsorted/oob
        flat = np.zeros(d * w, dtype=np.int64)
        flat[idx] = entries["c"]
        return flat.reshape(d, w)
    raise ValueError(f"unsupported CMS version {ver}")


# ---------------------------------------------------------------------------
# vectorized grouped fold / merge over flat buffers (zero per-group
# Python). Counter addition is exact integer arithmetic, so both paths
# are byte-identical to the scalar update/merge in any order.
# ---------------------------------------------------------------------------

def _write_groups(
    nnz: np.ndarray,
    item_g: np.ndarray,
    item_idx: np.ndarray,
    item_cnt: np.ndarray,
    dense: np.ndarray,
    d: int,
    w: int,
) -> tuple[np.ndarray, np.ndarray]:
    """The wire writer of both grouped encoders: group ``g`` holds
    ``nnz[g]`` nonzero counters; the sparse-eligible groups' counters
    come as (group, flat_index, count) items sorted by (group,
    flat_index), and the other groups' counters as the rows of
    ``dense`` (one (d*w,) int64 row per dense group, in group order)."""
    from .sketch_common import scatter_uniform_rows, segment_ranks, write_le_flat

    n_groups = len(nnz)
    dw = d * w
    sparse_ok = _sparse_eligible(nnz, dw)
    payload = np.where(sparse_ok, 4 + 12 * nnz, dw * 8)
    offsets = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(16 + payload, out=offsets[1:])
    data = np.zeros(int(offsets[-1]), dtype=np.uint8)
    hp = offsets[:-1]
    for i, byte in enumerate(MAGIC):
        data[hp + i] = byte
    ones = np.ones(n_groups, dtype=np.int64)
    write_le_flat(data, hp + 4, np.where(sparse_ok, 2, 1), 4)
    write_le_flat(data, hp + 8, ones * d, 4)
    write_le_flat(data, hp + 12, ones * w, 4)
    sp = np.flatnonzero(sparse_ok)
    if len(sp):
        write_le_flat(data, hp[sp] + 16, nnz[sp], 4)
    if len(item_g):
        pos = offsets[item_g] + 20 + 12 * segment_ranks(item_g)
        write_le_flat(data, pos, item_idx, 4)
        write_le_flat(data, pos + 4, item_cnt.view(np.uint64), 8)
    dn = np.flatnonzero(~sparse_ok)
    if len(dn):
        scatter_uniform_rows(data, offsets[dn] + 16, dense.astype("<i8").view(np.uint8))
    return data, offsets


def encode_groups_items(
    item_g: np.ndarray,
    item_idx: np.ndarray,
    item_cnt: np.ndarray,
    n_groups: int,
    d: int,
    w: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Canonical wire encodings for ``n_groups`` sketches given their
    nonzero counters as (group, flat_index, count) items — sorted by
    (group, flat_index), counts nonzero. Never materializes an
    (n_groups, d*w) matrix for the sparse groups (the high-cardinality
    path: one-element sketches stay ~40 bytes end to end). Per-row bytes
    identical to :func:`encode`."""
    dw = d * w
    nnz = np.bincount(item_g, minlength=n_groups).astype(np.int64)
    sparse_ok = _sparse_eligible(nnz, dw)
    ok_item = sparse_ok[item_g]
    di = np.flatnonzero(~ok_item)
    dense = np.zeros((int((~sparse_ok).sum()), dw), dtype=np.int64)
    if len(di):
        remap = np.cumsum(~sparse_ok) - 1  # group -> dense row
        dense[remap[item_g[di]], item_idx[di]] = item_cnt[di]
    si = np.flatnonzero(ok_item)
    return _write_groups(nnz, item_g[si], item_idx[si], item_cnt[si], dense, d, w)


def encode_groups(states: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n_groups, d, w) int64 counter stack -> flat wire buffers; the
    dense groups' rows are written straight from the stack."""
    n_groups, d, w = states.shape
    flat2d = np.ascontiguousarray(states).reshape(n_groups, d * w)
    nnz = np.count_nonzero(flat2d, axis=1).astype(np.int64)
    sparse_ok = _sparse_eligible(nnz, d * w)
    sp = np.flatnonzero(sparse_ok)
    sub = flat2d[sp]
    r_idx, c_idx = np.nonzero(sub)  # row-major: sorted per group
    return _write_groups(
        nnz, sp[r_idx], c_idx.astype(np.int64), sub[r_idx, c_idx], flat2d[~sparse_ok], d, w
    )


def fold_groups(
    hashes: np.ndarray,
    inverse: np.ndarray,
    n_groups: int,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped CMS fold, sparse-native: one ``np.unique`` over the flat
    (group, depth-row, slot) keys yields every nonzero counter and its
    count — memory is O(rows x depth), NOT O(groups x d x w), so a
    131072-row direct-emit batch at default width never allocates the
    10GB dense stack."""
    h = to_u64(np.asarray(hashes))
    g = np.asarray(inverse, dtype=np.int64)
    wu = np.uint64(width)
    dw = depth * width
    keys_parts = [
        g * dw + j * width + (hash_family(h, j) % wu).astype(np.int64)
        for j in range(depth)
    ]
    uk, counts = np.unique(np.concatenate(keys_parts), return_counts=True)
    return encode_groups_items(
        uk // dw, uk % dw, counts.astype(np.int64), n_groups, depth, width
    )


def fold_groups_weighted(
    hashes: np.ndarray,
    weights: np.ndarray,
    inverse: np.ndarray,
    n_groups: int,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> tuple[np.ndarray, np.ndarray]:
    """Weighted grouped CMS fold: each row adds ``weight`` to its
    counters (byte-weighted token frequencies, size-weighted key
    popularity). Same sparse-native shape as :func:`fold_groups`; rows
    with weight <= 0 are dropped (negative increments would break the
    never-undercount guarantee). Weights are summed in float64 then
    truncated back to int64 — exact while per-counter totals stay under
    2^53 (a counter that big has long since overflowed usefulness)."""
    h = to_u64(np.asarray(hashes))
    g = np.asarray(inverse, dtype=np.int64)
    wt = np.asarray(weights).astype(np.int64)
    m = wt > 0
    h, g, wt = h[m], g[m], wt[m]
    wu = np.uint64(width)
    dw = depth * width
    keys_parts = [
        g * dw + j * width + (hash_family(h, j) % wu).astype(np.int64)
        for j in range(depth)
    ]
    uk, inv = np.unique(np.concatenate(keys_parts), return_inverse=True)
    cnt = np.bincount(
        inv, weights=np.tile(wt.astype(np.float64), depth), minlength=len(uk)
    ).astype(np.int64)
    return encode_groups_items(uk // dw, uk % dw, cnt, n_groups, depth, width)


def _parse_flat(
    data: np.ndarray, offsets: np.ndarray, depth: int, width: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Validated flat parse of many CMS buffers (dense v1 and sparse v2
    mixed) -> ``(dn, mats, seg, idx, cnt)``: the dense rows ``dn`` with
    their (len(dn), d*w) counter matrix, and the sparse rows' nonzero
    counters as items ``(row, flat_idx, count)``. Sparse rows never
    densify — the property that keeps a 10^6-row merge at O(total
    nonzeros), not O(rows*d*w)."""
    from .sketch_common import gather_uniform_rows, read_le_flat, segment_ranks

    n = len(offsets) - 1
    dw = depth * width
    lens = np.diff(offsets)
    if (lens < 16).any():
        raise ValueError("Invalid CMS representation")
    hp = offsets[:-1]
    ok = np.ones(n, dtype=bool)
    for i, byte in enumerate(MAGIC):
        ok &= data[hp + i] == byte
    if not ok.all():
        raise ValueError("Invalid CMS representation")
    ver = read_le_flat(data, hp + 4, 4)
    if ((ver != 1) & (ver != 2)).any():
        bad = ver[(ver != 1) & (ver != 2)][0]
        raise ValueError(f"unsupported CMS version {int(bad)}")
    dd = read_le_flat(data, hp + 8, 4)
    ww = read_le_flat(data, hp + 12, 4)
    if (dd != depth).any() or (ww != width).any():
        raise ValueError("Invalid CMS representation")  # param mismatch
    dn = np.flatnonzero(ver == 1)
    if (lens[dn] != 16 + dw * 8).any():
        raise ValueError("Invalid CMS representation")
    mats = gather_uniform_rows(data, hp[dn] + 16, dw * 8).view("<i8")
    sp = np.flatnonzero(ver == 2)
    if (lens[sp] < 20).any():
        raise ValueError("Invalid CMS representation")
    nnz = read_le_flat(data, hp[sp] + 16, 4).astype(np.int64)
    if (lens[sp] != 20 + 12 * nnz).any() or (~_sparse_eligible(nnz, dw)).any():
        raise ValueError("Invalid CMS representation")
    seg = np.repeat(np.arange(len(sp), dtype=np.int64), nnz)
    pos = offsets[sp][seg] + 20 + 12 * segment_ranks(seg)
    idx = read_le_flat(data, pos, 4).astype(np.int64)
    cnt = read_le_flat(data, pos + 4, 8).view(np.int64)
    if len(idx):
        bad = (idx >= dw) | (idx < 0)
        bad[1:] |= (seg[1:] == seg[:-1]) & (idx[1:] <= idx[:-1])
        if bad.any():
            raise ValueError("Invalid CMS representation")
    return dn, mats, sp[seg], idx, cnt


# merge_groups_flat sums into an (n_groups, d*w) int64 matrix when it
# takes at most _MATRIX_BUDGET bytes and holds at most _MATRIX_MAX_FILL
# cells per counter summed; otherwise it merges sparse items. The two
# bodies cost the same near 3 cells per counter at 17-400 groups of
# depth 5 x width 2048 (NOTES.md, "CMS grouped merge")
_MATRIX_BUDGET = 1 << 25
_MATRIX_MAX_FILL = 3


def merge_groups_flat(
    data: np.ndarray,
    offsets: np.ndarray,
    group_codes: np.ndarray,
    n_groups: int,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped CMS merge (``group_codes`` non-decreasing, every code
    0..n_groups-1 present). Counter addition is exact, so both bodies
    emit the bytes of a per-group decode / merge / encode:

    * MATRIX, when the (n_groups, d*w) int64 sum matrix fits
      ``_MATRIX_BUDGET`` and has at most ``_MATRIX_MAX_FILL`` cells
      per counter it sums (a dense partial counts as d*w counters):
      dense partials add in as whole rows, one ``np.add.reduceat`` per
      group's run of them, sparse items with one ``np.add.at``, then
      :func:`encode_groups`;
    * SPARSE otherwise: sum the nonzero items per (group, counter) with
      one sort + ``np.add.reduceat`` — memory O(total nonzeros), the
      body that keeps 10^6 near-empty per-key sketches cheap."""
    dw = depth * width
    codes = np.asarray(group_codes, dtype=np.int64)
    dn, mats, seg, idx, cnt = _parse_flat(data, offsets, depth, width)
    n_items = len(dn) * dw + len(idx)
    if n_groups * dw * 8 <= _MATRIX_BUDGET and n_groups * dw <= _MATRIX_MAX_FILL * n_items:
        total = np.zeros((n_groups, dw), dtype=np.int64)
        if len(dn):
            gd = codes[dn]
            runs = np.flatnonzero(np.diff(gd, prepend=-1))
            total[gd[runs]] += np.add.reduceat(mats, runs, axis=0)
        np.add.at(total.reshape(-1), codes[seg] * dw + idx, cnt)
        return encode_groups(total.reshape(n_groups, depth, width))
    if len(dn):
        r_idx, c_idx = np.nonzero(mats)
        seg = np.concatenate((dn[r_idx], seg))
        idx = np.concatenate((c_idx.astype(np.int64), idx))
        cnt = np.concatenate((mats[r_idx, c_idx], cnt))
    key = codes[seg] * dw + idx
    order = np.argsort(key)  # integer sums: the order of equal keys is free
    ks, cs = key[order], cnt[order]
    starts = np.flatnonzero(np.diff(ks, prepend=-1))
    sums = np.add.reduceat(cs, starts) if len(ks) else np.zeros(0, dtype=np.int64)
    uk = ks[starts] if len(ks) else ks
    # counters that cancel to zero (possible only with third-party
    # negative-count buffers) must be DROPPED, like the scalar encoder's
    # flatnonzero does — a zero-count sparse entry would be bytes the
    # canonical encoder never emits
    nz = sums != 0
    if not nz.all():
        uk, sums = uk[nz], sums[nz]
    return encode_groups_items(uk // dw, uk % dw, sums, n_groups, depth, width)


def valid_flat(
    data: np.ndarray, offsets: np.ndarray, depth: int, width: int
) -> np.ndarray:
    """Non-raising per-buffer validity AND canonicality (merge
    passthrough probe): a buffer passes only if it is byte-identical to
    what :func:`encode` would emit for its counter state — dense (v1)
    buffers must NOT be sparse-eligible, sparse (v2) buffers must be
    structurally sound (sorted in-range indices, no zero counts, under
    the eligibility bound). Anything else re-routes to the work path so
    pf-style merge bytes never depend on partition placement."""
    from .sketch_common import (
        gather_uniform_rows,
        probe_headers,
        read_le_flat,
        segment_ranks,
    )

    dw = depth * width
    ok, hp, lens = probe_headers(data, offsets, MAGIC, 16)
    if not ok.any():
        return ok
    ver = read_le_flat(data, hp + 4, 4)
    ok &= (ver == 1) | (ver == 2)
    ok &= read_le_flat(data, hp + 8, 4) == depth
    ok &= read_le_flat(data, hp + 12, 4) == width
    dn = np.flatnonzero(ok & (ver == 1))
    ok[dn] &= lens[dn] == 16 + dw * 8
    dn = np.flatnonzero(ok & (ver == 1))
    if len(dn):
        # canonicality: dense bytes for a sparse-eligible state are
        # non-canonical (encode would have emitted v2)
        mats = gather_uniform_rows(data, offsets[dn] + 16, dw * 8).view("<i8")
        nnz_d = np.count_nonzero(mats, axis=1)
        ok[dn[_sparse_eligible(nnz_d, dw)]] = False
    sp = np.flatnonzero(ok & (ver == 2))
    ok[sp] &= lens[sp] >= 20
    sp = np.flatnonzero(ok & (ver == 2))
    if len(sp):
        nnz = read_le_flat(data, offsets[sp] + 16, 4).astype(np.int64)
        good = (lens[sp] == 20 + 12 * nnz) & _sparse_eligible(nnz, dw)
        ok[sp[~good]] = False
        rows = sp[good]
        nnz_r = nnz[good]
        if len(rows):
            seg = np.repeat(np.arange(len(rows), dtype=np.int64), nnz_r)
            pos = offsets[rows][seg] + 20 + 12 * segment_ranks(seg)
            idx = read_le_flat(data, pos, 4).astype(np.int64)
            cnt = read_le_flat(data, pos + 4, 8).view(np.int64)
            bad = (idx >= dw) | (cnt == 0)
            if len(idx) > 1:
                bad[1:] |= (seg[1:] == seg[:-1]) & (idx[1:] <= idx[:-1])
            ok[rows[np.unique(seg[bad])]] = False
    return ok
