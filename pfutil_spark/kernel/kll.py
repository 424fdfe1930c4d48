"""KLL quantile sketch kernel (Karnin, Lang & Liberty, "Optimal quantile
approximation in streams", FOCS 2016). No reference-repo counterpart
(SURVEY.md §2.4) — mergeable zero/update/merge/quantile/rank/dump/restore
contract.

Rank error eps = O(1/k * sqrt(log(1/delta))) with O(k * log log n) space.
Compaction randomness is seeded deterministically from the sketch's own
compaction counter, so a single-threaded replay is reproducible; across
arbitrary merge orders the ESTIMATES (not bytes) are stable within the
rank-error bound — the property the tests assert.
"""

from __future__ import annotations

import numpy as np

MAGIC = b"KLLS"
DEFAULT_K = 200
_C = 2.0 / 3.0
_MIN_CAP = 8


def _int_weights(weights: np.ndarray) -> np.ndarray:
    """Weights as int64; non-finite floats become 0 (dropped by the
    w > 0 filter) and finite floats saturate at 2**62 — a float->int
    cast of an out-of-range double is platform-defined (x86 yields
    INT64_MIN, which the w > 0 filter would then silently DROP: the
    heaviest row contributing nothing). 2**62 is float64-exact and
    keeps the row's rank mass dominant."""
    w = np.asarray(weights)
    if w.dtype.kind == "f":
        w = np.where(np.isfinite(w), w, 0.0)
        w = np.minimum(w, float(1 << 62)).astype(np.int64)
    return w.astype(np.int64, copy=False)


class KllSketch:
    __slots__ = ("k", "levels", "n", "compactions")

    def __init__(self, k: int = DEFAULT_K):
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self.compactions = 0

    # -- capacities ---------------------------------------------------------

    def _cap(self, level: int) -> int:
        """Capacity of ``level``: k at the top, shrinking by c going down."""
        height = len(self.levels) - 1 - level
        return max(_MIN_CAP, int(np.ceil(self.k * (_C ** height))))

    def _total_cap(self) -> int:
        return sum(self._cap(i) for i in range(len(self.levels)))

    def _size(self) -> int:
        return sum(len(lv) for lv in self.levels)

    # -- update / compact ---------------------------------------------------

    def update(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if len(values) == 0:
            return
        self.levels[0] = np.concatenate([self.levels[0], values])
        self.n += len(values)
        self._compress()

    def update_weighted(self, values: np.ndarray, weights: np.ndarray) -> None:
        """Weighted batch update via binary expansion of the (positive,
        integer) weight: an item of weight w is inserted at level b for
        every set bit b of w. Level-b items carry weight ``2**b`` — the
        exact invariant compaction maintains — so insertion itself adds
        ZERO rank error; the KLL error analysis applies unchanged to the
        subsequent compactions. Rows with NaN value or weight <= 0 are
        dropped. Unit weights reduce exactly to :meth:`update` (all
        items land in level 0 in original order)."""
        v = np.asarray(values, dtype=np.float64)
        w = _int_weights(weights)
        m = ~np.isnan(v) & (w > 0)
        v, w = v[m], w[m]
        if len(v) == 0:
            return
        maxbits = int(w.max()).bit_length()
        while len(self.levels) < maxbits:
            self.levels.append(np.empty(0, dtype=np.float64))
        for b in range(maxbits):
            sel = ((w >> b) & 1).astype(bool)
            if sel.any():
                self.levels[b] = np.concatenate([self.levels[b], v[sel]])
        self.n += int(w.sum())
        self._compress()

    def _compress(self) -> None:
        while self._size() > self._total_cap():
            for i in range(len(self.levels)):
                if len(self.levels[i]) > self._cap(i):
                    self._compact_level(i)
                    break
            else:
                break

    def _compact_level(self, i: int) -> None:
        buf = np.sort(self.levels[i])
        # deterministic coin: seeded by (compaction index, level)
        rng = np.random.default_rng(1_000_003 * self.compactions + i)
        self.compactions += 1
        offset = int(rng.integers(0, 2))
        promoted = buf[offset::2]
        self.levels[i] = np.empty(0, dtype=np.float64)
        if i + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        self.levels[i + 1] = np.concatenate([self.levels[i + 1], promoted])

    # -- merge ---------------------------------------------------------------

    def merge(self, other: "KllSketch") -> "KllSketch":
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for i, lv in enumerate(other.levels):
            if len(lv):
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n += other.n
        self.compactions = max(self.compactions, other.compactions) + 1
        self._compress()
        return self

    # -- queries --------------------------------------------------------------

    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for i, lv in enumerate(self.levels):
            if len(lv):
                items.append(lv)
                weights.append(np.full(len(lv), 1 << i, dtype=np.int64))
        if not items:
            return np.empty(0), np.empty(0, dtype=np.int64)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def quantile(self, q: float | np.ndarray) -> np.ndarray:
        """Value(s) at normalized rank(s) q in [0, 1]."""
        it, wt = self._weighted()
        if len(it) == 0:
            return np.full(np.shape(q) or (), np.nan)
        out = quantile_arrays(it, wt, np.atleast_1d(np.asarray(q, dtype=np.float64)))
        return out if np.ndim(q) else out[0]

    def rank(self, value: float | np.ndarray) -> np.ndarray:
        """Estimated normalized rank(s) of value(s)."""
        it, wt = self._weighted()
        if len(it) == 0:
            return np.full(np.shape(value) or (), np.nan)
        out = rank_arrays(it, wt, np.atleast_1d(value))
        return out if np.ndim(value) else out[0]

    # -- serialization ----------------------------------------------------------

    def encode(self) -> bytes:
        head = MAGIC + np.array(
            [1, self.k, len(self.levels), self.compactions], dtype="<u4"
        ).tobytes()
        head += np.array([self.n], dtype="<i8").tobytes()
        sizes = np.array([len(lv) for lv in self.levels], dtype="<u4").tobytes()
        body = b"".join(lv.astype("<f8").tobytes() for lv in self.levels)
        return head + sizes + body


def decode(buf: bytes) -> KllSketch:
    if buf[:4] != MAGIC:
        raise ValueError("Invalid KLL representation")
    ver, k, n_levels, compactions = np.frombuffer(buf, dtype="<u4", count=4, offset=4)
    if ver != 1:
        raise ValueError(f"unsupported KLL version {ver}")
    n = int(np.frombuffer(buf, dtype="<i8", count=1, offset=20)[0])
    sizes = np.frombuffer(buf, dtype="<u4", count=int(n_levels), offset=28)
    sk = KllSketch(int(k))
    sk.n = n
    sk.compactions = int(compactions)
    sk.levels = []
    off = 28 + 4 * int(n_levels)
    for s in sizes:
        sk.levels.append(
            np.frombuffer(buf, dtype="<f8", count=int(s), offset=off).copy()
        )
        off += 8 * int(s)
    return sk


def quantile_arrays(it: np.ndarray, wt: np.ndarray, qs: np.ndarray) -> np.ndarray:
    """Value(s) at normalized rank(s) over a value-sorted (items,
    int64-weights) pair — the ONE quantile body behind
    :meth:`KllSketch.quantile` and the batch-decoded drift evaluators
    (shared so the two paths cannot drift; same float ops, bit for
    bit). Caller guarantees ``len(it) > 0``."""
    cum = np.cumsum(wt)
    targets = qs * cum[-1]
    pos = np.clip(np.searchsorted(cum, targets, side="left"), 0, len(it) - 1)
    return it[pos]


def rank_arrays(it: np.ndarray, wt: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Normalized rank(s) (P[X <= x], right-continuous) over a
    value-sorted (items, int64-weights) pair — the ONE rank body behind
    :meth:`KllSketch.rank` and the batch-decoded drift evaluators.
    Caller guarantees ``len(it) > 0``."""
    cum = np.concatenate(([0], np.cumsum(wt)))
    pos = np.searchsorted(it, values, side="right")
    return cum[pos] / cum[-1]


def merge_all(sketches: list[KllSketch]) -> KllSketch:
    out = sketches[0]
    for s in sketches[1:]:
        out.merge(s)
    return out


# ---------------------------------------------------------------------------
# two-sample queries over sketch pairs (index-build scale: one call per
# GROUP PAIR, never per input row).
# ---------------------------------------------------------------------------

# Conservative uniform-rank-error constant for THIS implementation's
# capacity schedule (c = 2/3, top cap k): worst observed error across
# normal/exponential/uniform/heavy-tail inputs, n up to 5*10^4, 16-way
# merged partials, is ~1.4/k (tests/test_drift.py re-checks a slice);
# 4/k leaves ~3x headroom. Theory: eps = O(1/k) for fixed failure
# probability (Karnin-Lang-Liberty FOCS'16, Thm 1).
KS_EPS_C = 4.0


def is_lossless(sk: KllSketch) -> bool:
    """True when the sketch still retains every update exactly — no
    compaction has dropped anything and all items carry weight 1 (all
    retained items at level 0, exactly ``n`` of them). ``rank`` /
    ``quantile`` are then the EXACT empirical CDF, so downstream error
    bounds collapse to 0. (The ``compactions`` counter can't be used
    here: ``merge`` bumps it even when ``_compress`` never fired.)"""
    if sk.n == 0:
        return True
    nonempty = [i for i, lv in enumerate(sk.levels) if len(lv)]
    return nonempty == [0] and len(sk.levels[0]) == sk.n


def rank_eps(sk: KllSketch) -> float:
    """Uniform normalized-rank error bound for ``sk``: 0 in the lossless
    regime (the sketch IS the data), else ``KS_EPS_C / k``."""
    return 0.0 if is_lossless(sk) else KS_EPS_C / float(sk.k)


def psi_distance(
    cur: KllSketch, ref: KllSketch, bins: int = 10, floor: float = 1e-4
) -> float:
    """Population Stability Index of ``cur`` against ``ref`` — the
    ML-ops-standard drift score: Σ (q_i - p_i) ln(q_i / p_i) over
    ``bins`` equal-mass bins of the REFERENCE distribution (edges =
    reference quantiles, the conventional construction). Rule of thumb:
    < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 major shift.

    Bin masses come from the sketches' rank estimates (exact in the
    lossless regime); empty or tied-edge bins are floored at ``floor``
    before renormalizing so the log never sees 0 (standard practice).
    Unlike :func:`ks_distance` no sound error bound is returned — PSI's
    log-ratio amplifies small-mass errors unboundedly; use KS for
    bounded decisions and PSI for the familiar dashboard number.
    Returns nan if either sketch is empty."""
    if bins < 2:
        # a single bin makes PSI identically 0 for ANY pair — a silent
        # "no drift" verdict from a miscomputed parameter
        raise ValueError(f"bins={bins}: need >= 2")
    if cur.n == 0 or ref.n == 0:
        return float("nan")
    it_c, wt_c = cur._weighted()
    it_r, wt_r = ref._weighted()
    return psi_arrays(it_c, wt_c, it_r, wt_r, bins, floor)


def ks_distance(a: KllSketch, b: KllSketch) -> tuple[float, float]:
    """Two-sample Kolmogorov-Smirnov statistic estimated from two
    sketches: ``D_hat = max |F_a(x) - F_b(x)|`` over the union of both
    sketches' retained support points, with both CDFs evaluated
    right-continuously (rank = P[X <= x], matching :meth:`KllSketch.rank`).

    Returns ``(d_est, err_bound)`` with ``|d_est - D_exact| <=
    err_bound = rank_eps(a) + rank_eps(b)``: both estimated CDFs are
    step functions jumping only at retained points, so the max over the
    union support equals ``sup_x |F_a_hat - F_b_hat|``, which is within
    the summed uniform rank errors of the true sup (attained at a data
    point). In the lossless regime the estimate is EXACT — bit-for-bit
    the empirical statistic, since ``rank`` then divides exact int64
    counts. Empty sketches yield ``(nan, inf)``."""
    if a.n == 0 or b.n == 0:
        return float("nan"), float("inf")
    pts = np.unique(np.concatenate([a._weighted()[0], b._weighted()[0]]))
    d = float(np.max(np.abs(a.rank(pts) - b.rank(pts))))
    return d, rank_eps(a) + rank_eps(b)


# ---------------------------------------------------------------------------
# batch-decoded pair evaluators (r5, VERDICT r4 item 2): the drift
# operators evaluate KS/PSI over Arrow batches of sketch PAIRS. The old
# path paid a Python ``decode`` (one frombuffer per level + object
# construction) per pair; these parse every sketch of a batch in ONE
# flat pass and evaluate over segment-sliced arrays. KS is additionally
# vectorized ACROSS pairs — integer cumulative weights make the flat
# cumsum-minus-base per-pair CDFs bit-identical to the per-sketch path,
# so ks_pairs_flat matches ks_distance float for float.
# ---------------------------------------------------------------------------

def parse_weighted_flat(
    data: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Flat parse of many KLL buffers -> ``(n, eps, items, weights,
    starts)`` with each row's retained items VALUE-sorted (stable across
    levels, the exact order :meth:`KllSketch._weighted` produces) and
    ``weights[i] = 2**level``. ``eps`` is :func:`rank_eps` per row.
    Mixed-k batches are allowed (two-sample queries are k-agnostic)."""
    k_arr, _, _, n, tot, item_row, item_level, item_val = parse_flat(data, offsets)
    order = np.lexsort((item_val, item_row))  # stable: level order on ties
    items = item_val[order]
    weights = (np.int64(1) << item_level[order]).astype(np.int64)
    starts = np.zeros(len(offsets), dtype=np.int64)
    np.cumsum(tot, out=starts[1:])
    # lossless: every retained item at level 0 AND nothing dropped
    has_upper = np.zeros(len(tot), dtype=bool)
    upper = item_level > 0
    if upper.any():
        has_upper[np.unique(item_row[upper])] = True
    lossless = ~has_upper & (tot == n)
    with np.errstate(divide="ignore"):
        eps = np.where(lossless, 0.0, KS_EPS_C / k_arr.astype(np.float64))
    return n, eps, items, weights, starts


def _slice_parsed(
    p: tuple[np.ndarray, ...], lo: int, hi: int
) -> tuple[np.ndarray, ...]:
    """Pair-range slice of a :func:`parse_weighted_flat` result (views,
    no copies; starts rebased to the slice)."""
    n, eps, items, weights, starts = p
    a, b = starts[lo], starts[hi]
    return n[lo:hi], eps[lo:hi], items[a:b], weights[a:b], starts[lo : hi + 1] - a


def ks_pairs_flat(
    pa: tuple[np.ndarray, ...],
    pb: tuple[np.ndarray, ...],
    max_chunk_items: int = 1 << 17,
) -> tuple[np.ndarray, np.ndarray]:
    """Two-sample KS for MANY sketch pairs at once, fully vectorized
    (zero per-pair Python): ``pa``/``pb`` are :func:`parse_weighted_flat`
    results with one row per pair. Returns ``(d_est, err_bound)`` —
    float-for-float identical to calling :func:`ks_distance` per pair
    (integer cumulative weights keep the flat per-pair CDF divisions
    exactly the per-sketch ones; the max runs over the same union
    support). Pairs with an empty side yield ``(nan, inf)``.

    Pair batches whose total retained-item mass exceeds
    ``max_chunk_items`` evaluate in pair-contiguous chunks (a few dozen
    Python iterations per ARROW BATCH, never per pair): the ~30 ufunc/
    fancy-index passes must run on cache/arena-resident arrays — this
    host faults fresh large allocations at ~0.12GB/s (NOTES.md), and the
    measured cliff is stark: 1.8k pairs/s at 2^24-item chunks vs 12.5k
    pairs/s at 2^16 on 488-item pairs (the r4 merge-stage lesson,
    relearned). Default 2^17 items ~= 1MB working arrays."""
    n_items_per_pair = np.diff(pa[4]) + np.diff(pb[4])
    total = int(n_items_per_pair.sum())
    P = len(pa[0])
    if total > max_chunk_items and P > 1:
        # chunk boundaries where the running item mass crosses a
        # multiple of max_chunk_items (vectorized; every chunk >= 1 pair)
        bucket = np.cumsum(n_items_per_pair) // max_chunk_items
        cuts = np.flatnonzero(np.diff(bucket, prepend=bucket[0])) .tolist()
        cuts = [0] + cuts + ([P] if (not cuts or cuts[-1] != P) else [])
        d_out = np.full(P, np.nan)
        e_out = np.full(P, np.inf)
        for lo, hi in zip(cuts[:-1], cuts[1:]):
            d, e = _ks_pairs_eval(_slice_parsed(pa, lo, hi), _slice_parsed(pb, lo, hi))
            d_out[lo:hi] = d
            e_out[lo:hi] = e
        return d_out, e_out
    return _ks_pairs_eval(pa, pb)


def _ks_pairs_eval(
    pa: tuple[np.ndarray, ...], pb: tuple[np.ndarray, ...]
) -> tuple[np.ndarray, np.ndarray]:
    n_a, eps_a, it_a, wt_a, st_a = pa
    n_b, eps_b, it_b, wt_b, st_b = pb
    P = len(n_a)
    d_out = np.full(P, np.nan)
    e_out = np.full(P, np.inf)
    cnt_a = np.diff(st_a)
    cnt_b = np.diff(st_b)
    # retained-item presence tracks n>0 for valid sketches
    valid = (n_a > 0) & (n_b > 0)
    if not valid.any():
        return d_out, e_out
    vids = np.flatnonzero(valid)
    # rebuild compact item streams over the valid pairs only
    def compact(st, cnt, items, wts):
        take_cnt = cnt[vids]
        seg = np.repeat(vids, take_cnt)
        from .sketch_common import segment_ranks

        idx = st[seg] + segment_ranks(np.repeat(np.arange(len(vids)), take_cnt))
        return items[idx], wts[idx], np.repeat(
            np.arange(len(vids), dtype=np.int64), take_cnt
        )
    ia, wa, pa_id = compact(st_a, cnt_a, it_a, wt_a)
    ib, wb, pb_id = compact(st_b, cnt_b, it_b, wt_b)
    vals = np.concatenate([ia, ib])
    wts = np.concatenate([wa, wb]).astype(np.uint64)
    side_b = np.concatenate(
        [np.zeros(len(ia), dtype=bool), np.ones(len(ib), dtype=bool)]
    )
    pid = np.concatenate([pa_id, pb_id])
    order = np.lexsort((vals, pid))
    sv, sw, sb, sp = vals[order], wts[order], side_b[order], pid[order]
    cum_a = np.cumsum(np.where(sb, np.uint64(0), sw))
    cum_b = np.cumsum(np.where(sb, sw, np.uint64(0)))
    V = len(vids)
    pstart = np.searchsorted(sp, np.arange(V))
    base_a = np.concatenate(([np.uint64(0)], cum_a))[pstart]
    base_b = np.concatenate(([np.uint64(0)], cum_b))[pstart]
    pend = np.append(pstart[1:], len(sp))
    tot_a = (cum_a[pend - 1] - base_a).astype(np.float64)
    tot_b = (cum_b[pend - 1] - base_b).astype(np.float64)
    # evaluation points = run ends of equal (pair, value): the union
    # support, each value counted once with all items <= it folded in
    is_end = np.ones(len(sp), dtype=bool)
    is_end[:-1] = (sp[1:] != sp[:-1]) | (sv[1:] != sv[:-1])
    ends = np.flatnonzero(is_end)
    ep = sp[ends]
    # uint64 subtraction is exact (mod 2^64; per-pair totals < 2^63)
    ra = (cum_a[ends] - base_a[ep]).astype(np.float64) / tot_a[ep]
    rb = (cum_b[ends] - base_b[ep]).astype(np.float64) / tot_b[ep]
    dd = np.abs(ra - rb)
    estart = np.searchsorted(ep, np.arange(V))
    d_out[vids] = np.maximum.reduceat(dd, estart)
    e_out[vids] = eps_a[vids] + eps_b[vids]
    return d_out, e_out


def psi_arrays(
    it_cur: np.ndarray,
    wt_cur: np.ndarray,
    it_ref: np.ndarray,
    wt_ref: np.ndarray,
    bins: int,
    floor: float,
) -> float:
    """PSI over two value-sorted (items, weights) pairs — the same float
    ops as :func:`psi_distance` (which delegates here), usable on
    segment slices from :func:`parse_weighted_flat`. Caller guarantees
    both sides non-empty and ``bins >= 2``."""
    edges = np.atleast_1d(
        quantile_arrays(it_ref, wt_ref, np.linspace(0.0, 1.0, bins + 1)[1:-1])
    )

    def masses(it: np.ndarray, wt: np.ndarray) -> np.ndarray:
        r = np.atleast_1d(rank_arrays(it, wt, edges))
        m = np.diff(np.concatenate(([0.0], r, [1.0])))
        m = np.maximum(m, floor)
        return m / m.sum()

    p, q = masses(it_ref, wt_ref), masses(it_cur, wt_cur)
    return float(np.sum((q - p) * np.log(q / p)))


def _compact_valid_pairs(
    st: np.ndarray, items: np.ndarray, wts: np.ndarray, vids: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Gather the segments of ``vids`` into contiguous arrays; returns
    ``(items, weights, starts)`` with starts rebased (len(vids)+1)."""
    from .sketch_common import segment_ranks

    cnt = np.diff(st)[vids]
    seg = np.repeat(vids, cnt)
    idx = st[seg] + segment_ranks(np.repeat(np.arange(len(vids)), cnt))
    starts = np.zeros(len(vids) + 1, dtype=np.int64)
    np.cumsum(cnt, out=starts[1:])
    return items[idx], wts[idx], starts


def psi_pairs_flat(
    pa: tuple[np.ndarray, ...],
    pb: tuple[np.ndarray, ...],
    bins: int,
    floor: float = 1e-4,
) -> np.ndarray:
    """PSI for MANY sketch pairs at once, zero per-pair Python (r6,
    VERDICT r5 item 4 — the ks_pairs_flat treatment applied to PSI).
    ``pa`` = current side, ``pb`` = reference side, both
    :func:`parse_weighted_flat` results. Bit-identical to calling
    :func:`psi_arrays` per pair:

    * reference quantile edges: per quantile fraction ``f`` the per-pair
      searchsorted('left') index is the count of local-cumsum values
      ``< f * W`` — the local cumsums are exact int64 (flat cumsum minus
      per-segment base), and the elementwise int64-vs-float64 comparison
      is the same promotion searchsorted performs;
    * ranks at the edges: the numerator is an exact integer weight sum
      (items <= edge), the denominator the exact int64 total — the same
      single float division rank_arrays does;
    * bin masses / floor / normalize / Σ(q-p)ln(q/p) run row-wise on
      C-contiguous (pairs, bins) matrices — numpy's pairwise reduction
      over a row is the same op sequence as over the 1-D per-pair
      vector.

    Pairs with an empty side yield nan (psi_distance's convention).
    """
    if bins < 2:
        raise ValueError(f"bins={bins}: need >= 2")
    n_c, _, it_c, wt_c, st_c = pa
    n_r, _, it_r, wt_r, st_r = pb
    P = len(n_c)
    out = np.full(P, np.nan)
    valid = (n_c > 0) & (n_r > 0)
    if not valid.any():
        return out
    vids = np.flatnonzero(valid)
    V = len(vids)
    itc, wtc, stc = _compact_valid_pairs(st_c, it_c, wt_c, vids)
    itr, wtr, str_ = _compact_valid_pairs(st_r, it_r, wt_r, vids)
    cnt_r = np.diff(str_)
    cnt_c = np.diff(stc)
    # reduceat over an empty segment returns the element AT its start
    # instead of 0, and the edge lookup below would clip to -1: a valid
    # pair (n > 0) must retain items on both sides
    if cnt_r.min() == 0 or cnt_c.min() == 0:
        raise ValueError(
            "psi_pairs_flat: a pair with n > 0 has no retained items"
        )
    seg_r = np.repeat(np.arange(V, dtype=np.int64), cnt_r)
    seg_c = np.repeat(np.arange(V, dtype=np.int64), cnt_c)
    cum_r = np.cumsum(wtr)
    base_r = np.concatenate(([np.int64(0)], cum_r))[str_[:-1]]
    w_tot_r = np.concatenate(([np.int64(0)], cum_r))[str_[1:]] - base_r
    loc_cum_r = cum_r - base_r[seg_r]  # exact per-pair cumsum (int64)
    w_tot_rf = w_tot_r.astype(np.float64)
    w_tot_cf = (
        np.add.reduceat(wtc, stc[:-1]).astype(np.float64)
        if len(wtc)
        else np.zeros(V)
    )
    qs = np.linspace(0.0, 1.0, bins + 1)[1:-1]
    r_ref = np.empty((V, bins - 1), dtype=np.float64)
    r_cur = np.empty((V, bins - 1), dtype=np.float64)
    for b in range(bins - 1):
        targets = qs[b] * w_tot_rf  # same product quantile_arrays forms
        below = (loc_cum_r < targets[seg_r]).astype(np.int64)
        pos = np.add.reduceat(below, str_[:-1])
        pos = np.clip(pos, 0, cnt_r - 1)
        edges = itr[str_[:-1] + pos]
        # rank numerators: exact integer weight of items <= edge
        num_r = np.add.reduceat(
            np.where(itr <= edges[seg_r], wtr, np.int64(0)), str_[:-1]
        )
        num_c = np.add.reduceat(
            np.where(itc <= edges[seg_c], wtc, np.int64(0)), stc[:-1]
        )
        r_ref[:, b] = num_r.astype(np.float64) / w_tot_rf
        r_cur[:, b] = num_c.astype(np.float64) / w_tot_cf
    zeros = np.zeros((V, 1))
    ones = np.ones((V, 1))

    def masses(r: np.ndarray) -> np.ndarray:
        m = np.diff(np.concatenate([zeros, r, ones], axis=1), axis=1)
        m = np.maximum(m, floor)
        return m / m.sum(axis=1, keepdims=True)

    p_m, q_m = masses(r_ref), masses(r_cur)
    out[vids] = np.sum((q_m - p_m) * np.log(q_m / p_m), axis=1)
    return out


# ---------------------------------------------------------------------------
# vectorized grouped fold over flat buffers (zero per-group Python).
# ---------------------------------------------------------------------------

def fold_groups_level0(
    values: np.ndarray, inverse: np.ndarray, n_groups: int, k: int = DEFAULT_K
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped direct-emit fold for the high-cardinality regime: each
    group's (NaN-filtered) values become a single level-0 buffer —
    byte-identical to ``KllSketch(k).update(group_values)``. Groups that
    exceed the level-0 capacity (rare by construction in the near-unique
    regime, but a skewed key can concentrate a batch) are compacted
    through the scalar sketch so the emitted buffer never exceeds the
    O(k log log n) space contract. Returns flat wire buffers
    ``(data, offsets)``."""
    from .sketch_common import segment_ranks, write_le_flat

    v = np.asarray(values, dtype=np.float64)
    g = np.asarray(inverse, dtype=np.int64)
    m = ~np.isnan(v)
    v, g = v[m], g[m]
    order = np.argsort(g, kind="stable")  # within-group original order
    v, g = v[order], g[order]
    counts = np.bincount(g, minlength=n_groups).astype(np.int64)
    big = counts > max(_MIN_CAP, k)  # level-0 capacity: update would compact
    enc_big: dict[int, bytes] = {}
    if big.any():
        gstarts = np.concatenate(([0], np.cumsum(counts)))
        for gi in np.flatnonzero(big):
            sk = KllSketch(k)
            sk.update(v[gstarts[gi] : gstarts[gi + 1]])
            enc_big[int(gi)] = sk.encode()
    row_len = 32 + 8 * counts
    if enc_big:
        for gi, b in enc_big.items():
            row_len[gi] = len(b)
    offsets = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(row_len, out=offsets[1:])
    data = np.zeros(int(offsets[-1]), dtype=np.uint8)
    small = ~big
    hp = offsets[:-1][small]
    for i, byte in enumerate(MAGIC):
        data[hp + i] = byte
    ones = np.ones(int(small.sum()), dtype=np.int64)
    cs = counts[small]
    write_le_flat(data, hp + 4, ones, 4)            # version
    write_le_flat(data, hp + 8, ones * k, 4)        # k
    write_le_flat(data, hp + 12, ones, 4)           # n_levels = 1
    write_le_flat(data, hp + 16, ones * 0, 4)       # compactions = 0
    write_le_flat(data, hp + 20, cs, 8)             # n (<i8, nonnegative)
    write_le_flat(data, hp + 28, cs, 4)             # sizes[0]
    vsel = small[g]
    if vsel.any():
        gs = g[vsel]
        pos = offsets[gs] + 32 + 8 * segment_ranks(gs)
        write_le_flat(data, pos, v[vsel].view(np.uint64), 8)
    for gi, b in enc_big.items():
        data[offsets[gi] : offsets[gi] + len(b)] = np.frombuffer(b, dtype=np.uint8)
    return data, offsets


def _total_cap_table(max_levels: int, k: int) -> np.ndarray:
    """``table[L]`` = total capacity of an L-level sketch (the threshold
    below which ``_compress`` never fires) — must mirror ``_cap`` /
    ``_total_cap`` exactly; byte parity of the weighted fold depends on
    agreeing with the scalar about the no-compaction regime."""
    caps = np.array(
        [max(_MIN_CAP, int(np.ceil(k * (_C ** h)))) for h in range(max_levels)],
        dtype=np.int64,
    )
    return np.concatenate(([0], np.cumsum(caps)))


def _bit_lengths(x: np.ndarray) -> np.ndarray:
    """Exact per-element ``int.bit_length`` for non-negative int64.
    (float log2 would misround near 2**53+ boundaries — the fold's
    n_levels must match the scalar's EXACT bit_length byte-for-byte)."""
    out = np.zeros(len(x), dtype=np.int64)
    # positive int64 has at most 63 bits; b=63 would shift into the sign
    # bit (INT64_MIN) and make the comparison vacuously true
    for b in range(63):
        out += (x >= (np.int64(1) << np.int64(b))).astype(np.int64)
    return out


def fold_groups_weighted(
    values: np.ndarray,
    weights: np.ndarray,
    inverse: np.ndarray,
    n_groups: int,
    k: int = DEFAULT_K,
) -> tuple[np.ndarray, np.ndarray]:
    """Weighted grouped direct-emit fold: binary-expansion insertion (see
    :meth:`KllSketch.update_weighted`) vectorized over all groups of a
    batch — level-b buffer of group g = g's values whose weight has bit
    b set, in original row order. Byte-identical to
    ``KllSketch(k).update_weighted(group_values, group_weights)`` for
    every group in the no-compaction regime (total expanded items <=
    the L-level capacity, L = bit_length of the group's max weight);
    larger groups compact through the scalar sketch, same as
    :func:`fold_groups_level0`. Rows with NaN value or weight <= 0
    drop; all-dropped groups emit the canonical empty sketch."""
    from .sketch_common import segment_ranks, write_le_flat

    v = np.asarray(values, dtype=np.float64)
    w = _int_weights(weights)
    g = np.asarray(inverse, dtype=np.int64)
    m = ~np.isnan(v) & (w > 0)
    v, w, g = v[m], w[m], g[m]
    order = np.argsort(g, kind="stable")  # within-group original order
    v, w, g = v[order], w[order], g[order]
    counts_rows = np.bincount(g, minlength=n_groups).astype(np.int64)
    gstarts = np.concatenate(([0], np.cumsum(counts_rows)))[:-1]
    ne = np.flatnonzero(counts_rows > 0)
    wmax = np.zeros(n_groups, dtype=np.int64)
    wsum = np.zeros(n_groups, dtype=np.int64)
    if len(ne):
        wmax[ne] = np.maximum.reduceat(w, gstarts[ne])
        wsum[ne] = np.add.reduceat(w, gstarts[ne])
    n_levels = np.maximum(_bit_lengths(wmax), 1)  # empty group -> 1 level
    B = int(n_levels.max())
    # per-(level, group) item counts + the expanded (b-major) item stream
    counts2d = np.zeros((B, n_groups), dtype=np.int64)
    exp_g, exp_v = [], []
    for b in range(B):
        selb = ((w >> b) & 1).astype(bool)
        if selb.any():
            gb = g[selb]
            counts2d[b] = np.bincount(gb, minlength=n_groups)
            exp_g.append(gb)
            exp_v.append(v[selb])
    copies = counts2d.sum(axis=0)
    big = copies > _total_cap_table(B, k)[n_levels]
    enc_big: dict[int, bytes] = {}
    for gi in np.flatnonzero(big):
        sk = KllSketch(k)
        s = gstarts[gi]
        sk.update_weighted(v[s : s + counts_rows[gi]], w[s : s + counts_rows[gi]])
        enc_big[int(gi)] = sk.encode()
    row_len = 28 + 4 * n_levels + 8 * copies
    for gi, b in enc_big.items():
        row_len[gi] = len(b)
    offsets = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(row_len, out=offsets[1:])
    data = np.zeros(int(offsets[-1]), dtype=np.uint8)
    small = ~big
    hp = offsets[:-1][small]
    for i, byte in enumerate(MAGIC):
        data[hp + i] = byte
    ones = np.ones(int(small.sum()), dtype=np.int64)
    write_le_flat(data, hp + 4, ones, 4)                 # version
    write_le_flat(data, hp + 8, ones * k, 4)             # k
    write_le_flat(data, hp + 12, n_levels[small], 4)     # n_levels
    write_le_flat(data, hp + 16, ones * 0, 4)            # compactions = 0
    write_le_flat(data, hp + 20, wsum[small], 8)         # n = sum(weights)
    small_ids = np.flatnonzero(small)
    seg = np.repeat(np.arange(len(small_ids), dtype=np.int64), n_levels[small_ids])
    lvl = segment_ranks(seg)
    write_le_flat(                                       # sizes[0..L)
        data,
        offsets[small_ids][seg] + 28 + 4 * lvl,
        counts2d[lvl, np.repeat(small_ids, n_levels[small_ids])],
        4,
    )
    if exp_g:
        eg = np.concatenate(exp_g)
        ev = np.concatenate(exp_v)
        # stable sort by group turns the b-major stream into per-group
        # (level0 items..., level1 items...) with original row order
        # inside each level — exactly the scalar's level layout
        eo = np.argsort(eg, kind="stable")
        eg, ev = eg[eo], ev[eo]
        sel = small[eg]  # groups are small/big atomically
        if sel.any():
            eg_s, ev_s = eg[sel], ev[sel]
            pos = offsets[eg_s] + 28 + 4 * n_levels[eg_s] + 8 * segment_ranks(eg_s)
            write_le_flat(data, pos, ev_s.view(np.uint64), 8)
    for gi, b in enc_big.items():
        data[offsets[gi] : offsets[gi] + len(b)] = np.frombuffer(b, dtype=np.uint8)
    return data, offsets


def popcount_sum(x: np.ndarray) -> int:
    """Total set bits across ``x`` after ``_int_weights`` coercion —
    the exact expanded-item count of a weighted KLL fold (sizes the
    direct-emit byte gate)."""
    total = 0
    x = _int_weights(x)  # same coercion as the folds the bound sizes
    x = x[x > 0]
    for b in range(63):  # positive int64: bit 63 is the sign bit
        total += int(((x >> np.int64(b)) & np.int64(1)).sum())
    return total


def parse_flat(
    data: np.ndarray, offsets: np.ndarray, k: int | None = None
) -> tuple[np.ndarray, ...]:
    """Raising flat parse of many KLL buffers in one vectorized pass —
    the shared front half of :func:`merge_groups_flat` and the drift
    pair evaluators (which previously paid a Python ``decode`` per
    sketch PAIR). Returns
    ``(ks, nlv, comp, n, tot, item_row, item_level, item_val)`` with
    items in (row, level, within-level original) order — exactly the
    wire layout order. ``k`` (when given) is enforced per buffer, like
    the CMS/Bloom flat merges enforce their params."""
    from .sketch_common import read_le_flat, segment_ranks

    n_rows = len(offsets) - 1
    offsets = np.asarray(offsets, dtype=np.int64)
    lens = np.diff(offsets)
    if n_rows == 0:
        e = np.zeros(0, dtype=np.int64)
        return e, e, e, e, e, e, e, np.zeros(0, dtype=np.float64)
    if (lens < 32).any():
        raise ValueError("Invalid KLL representation")
    hp = offsets[:-1]
    ok = np.ones(n_rows, dtype=bool)
    for i, byte in enumerate(MAGIC):
        ok &= data[hp + i] == byte
    if not ok.all():
        raise ValueError("Invalid KLL representation")
    if (read_le_flat(data, hp + 4, 4) != 1).any():
        raise ValueError("unsupported KLL version")
    ks = read_le_flat(data, hp + 8, 4).astype(np.int64)
    if k is not None and (ks != k).any():
        raise ValueError("Invalid KLL representation")  # param mismatch
    nlv = read_le_flat(data, hp + 12, 4).astype(np.int64)
    comp = read_le_flat(data, hp + 16, 4).astype(np.int64)
    n = read_le_flat(data, hp + 20, 8).view(np.int64)
    if (nlv < 1).any() or (lens < 28 + 4 * nlv).any():
        raise ValueError("Invalid KLL representation")
    # per-(row, level) sizes, then the flat item stream
    seg = np.repeat(np.arange(n_rows, dtype=np.int64), nlv)
    lvl = segment_ranks(seg)
    sizes = read_le_flat(data, hp[seg] + 28 + 4 * lvl, 4).astype(np.int64)
    tot = np.bincount(seg, weights=sizes.astype(np.float64), minlength=n_rows).astype(
        np.int64
    )
    if (lens != 28 + 4 * nlv + 8 * tot).any():
        raise ValueError("Invalid KLL representation")
    slot = np.repeat(np.arange(len(seg), dtype=np.int64), sizes)
    item_row = seg[slot]
    item_level = lvl[slot]
    # each row's items are ONE contiguous f8 run after the sizes table
    from .sketch_common import gather_f8_runs

    item_val = gather_f8_runs(data, hp + 28 + 4 * nlv, tot)
    return ks, nlv, comp, n, tot, item_row, item_level, item_val


def merge_groups_flat(
    data: np.ndarray,
    offsets: np.ndarray,
    group_codes: np.ndarray,
    n_groups: int,
    k: int = DEFAULT_K,
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped KLL merge over flat wire buffers (``group_codes``
    non-decreasing, every code present) — the concat-then-compress-once
    multiway merge, zero per-group Python in the no-compaction regime:

    * every group's merged state starts as the per-level concatenation
      of its partials' levels in arrival order (exactly what sequential
      :func:`merge_all` builds when no compaction fires), written flat;
    * groups whose retained-item total exceeds the capacity schedule
      compact through ONE scalar ``_compress`` over the already-gathered
      level arrays (never a per-partial ``decode``). Compress-once
      strictly dominates sequential pairwise merging on error, so the
      KLL merge bound applies unchanged.

    Byte parity with ``merge_all`` holds whenever the sequential merge
    never compacts (lossless strata, the EXACT-oracle regime — the
    ``compactions`` counter replays the sequential max-fold); compacted
    groups are estimate-stable like every KLL merge (NOTES.md r2).
    Scratch memory is O(n_groups * max_levels) for the per-(group,
    level) size table plus the item stream itself."""
    from .sketch_common import segment_ranks, write_le_flat

    g_row = np.asarray(group_codes, dtype=np.int64)
    _, nlv, comp, n, tot, item_row, item_level, item_val = parse_flat(
        data, offsets, k
    )
    if len(g_row) == 0:
        raise ValueError("merge_groups_flat needs at least one buffer")
    counts_rows = np.bincount(g_row, minlength=n_groups).astype(np.int64)
    gstarts = np.concatenate(([0], np.cumsum(counts_rows)))[:-1]
    gstarts = np.minimum(gstarts, len(g_row) - 1)  # trailing-empty-group safety
    n_out = np.add.reduceat(n, gstarts)
    n_out[counts_rows == 0] = 0  # reduceat repeats on empty segments
    nlv_out = np.maximum.reduceat(nlv, gstarts)
    nlv_out = np.where(counts_rows > 0, nlv_out, 1)
    # sequential merge_all bumps compactions via max(c, c_i) + 1 per
    # step; unrolled, partial i of a P-way merge contributes
    # c_i + P - max(i, 1) — replayed here so the no-compaction regime is
    # byte-identical to the scalar path
    r = segment_ranks(g_row)
    contrib = comp + counts_rows[g_row] - np.maximum(r, 1)
    comp_out = np.maximum.reduceat(contrib, gstarts)
    comp_out = np.where(counts_rows > 0, comp_out, 0)

    item_group = g_row[item_row]
    order = np.lexsort((item_level, item_group))  # stable: keeps arrival order
    item_group = item_group[order]
    item_level_s = item_level[order]
    item_val_s = item_val[order]
    tot_out = np.bincount(item_group, minlength=n_groups).astype(np.int64)
    Lmax = int(nlv_out.max()) if n_groups else 1
    counts_gl = np.bincount(
        item_group * Lmax + item_level_s, minlength=n_groups * Lmax
    ).astype(np.int64)
    big = tot_out > _total_cap_table(Lmax + 1, k)[nlv_out]
    enc_big: dict[int, bytes] = {}
    if big.any():
        istarts = np.concatenate(([0], np.cumsum(tot_out)))
        for gi in np.flatnonzero(big):
            sk = KllSketch(k)
            sk.n = int(n_out[gi])
            sk.compactions = int(comp_out[gi])
            base = istarts[gi]
            lv_sizes = counts_gl[gi * Lmax : gi * Lmax + nlv_out[gi]]
            bounds = base + np.concatenate(([0], np.cumsum(lv_sizes)))
            sk.levels = [
                item_val_s[bounds[j] : bounds[j + 1]].copy()
                for j in range(int(nlv_out[gi]))
            ]
            sk._compress()
            enc_big[int(gi)] = sk.encode()
    row_len = 28 + 4 * nlv_out + 8 * tot_out
    for gi, b in enc_big.items():
        row_len[gi] = len(b)
    out_offsets = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(row_len, out=out_offsets[1:])
    out = np.zeros(int(out_offsets[-1]), dtype=np.uint8)
    small = ~big
    hp = out_offsets[:-1][small]
    for i, byte in enumerate(MAGIC):
        out[hp + i] = byte
    ones = np.ones(int(small.sum()), dtype=np.int64)
    write_le_flat(out, hp + 4, ones, 4)                  # version
    write_le_flat(out, hp + 8, ones * k, 4)              # k
    write_le_flat(out, hp + 12, nlv_out[small], 4)       # n_levels
    write_le_flat(out, hp + 16, comp_out[small], 4)      # compactions
    write_le_flat(out, hp + 20, n_out[small], 8)         # n
    small_ids = np.flatnonzero(small)
    if len(small_ids):
        seg = np.repeat(
            np.arange(len(small_ids), dtype=np.int64), nlv_out[small_ids]
        )
        lvl = segment_ranks(seg)
        write_le_flat(                                   # sizes[0..L)
            out,
            out_offsets[small_ids][seg] + 28 + 4 * lvl,
            counts_gl[np.repeat(small_ids, nlv_out[small_ids]) * Lmax + lvl],
            4,
        )
    isel = small[item_group]
    if isel.any():
        ig = item_group[isel]
        pos = out_offsets[ig] + 28 + 4 * nlv_out[ig] + 8 * segment_ranks(ig)
        write_le_flat(out, pos, item_val_s[isel].view(np.uint64), 8)
    for gi, b in enc_big.items():
        out[out_offsets[gi] : out_offsets[gi] + len(b)] = np.frombuffer(
            b, dtype=np.uint8
        )
    return out, out_offsets


def valid_flat(data: np.ndarray, offsets: np.ndarray, k: int) -> np.ndarray:
    """Non-raising per-buffer structural validity (merge passthrough
    probe): magic / version / matching k / level-size bookkeeping
    consistent with the buffer length. ``encode(decode(b)) == b`` for
    every structurally valid buffer, so validity gates passthrough."""
    from .sketch_common import probe_headers, read_le_flat, segment_ranks

    ok, hp, lens = probe_headers(data, offsets, MAGIC, 32)
    if not ok.any():
        return ok
    ok &= read_le_flat(data, hp + 4, 4) == 1
    ok &= read_le_flat(data, hp + 8, 4).astype(np.int64) == k
    nlv = read_le_flat(data, hp + 12, 4).astype(np.int64)
    ok &= (nlv >= 1) & (lens >= 28 + 4 * nlv)
    rows = np.flatnonzero(ok)
    if len(rows):
        seg = np.repeat(np.arange(len(rows), dtype=np.int64), nlv[rows])
        sizes = read_le_flat(
            data, offsets[rows][seg] + 28 + 4 * segment_ranks(seg), 4
        ).astype(np.int64)
        tot = np.bincount(seg, weights=sizes.astype(np.float64), minlength=len(rows))
        ok[rows] = lens[rows] == 28 + 4 * nlv[rows] + 8 * tot.astype(np.int64)
    return ok
