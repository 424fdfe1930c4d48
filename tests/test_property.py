"""Property-based kernel tests (hypothesis): the vectorized kernels agree
with straightforward scalar definitions on arbitrary inputs."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pfutil_spark.kernel import hll
from pfutil_spark.kernel.murmur import murmur64a, murmur64a_scalar


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=100), min_size=1, max_size=20),
    st.integers(min_value=0, max_value=0xFFFFFFFF),
)
def test_murmur_vectorized_equals_scalar(datas, seed):
    got = murmur64a(datas, seed)
    exp = np.array([murmur64a_scalar(d, seed) for d in datas], dtype=np.uint64)
    np.testing.assert_array_equal(got, exp)


@settings(max_examples=100, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=hll.HLL_REGISTERS - 1),
        st.integers(min_value=1, max_value=32),
        max_size=200,
    )
)
def test_sparse_codec_roundtrip(updates):
    regs = hll.empty_registers()
    for pos, val in updates.items():
        regs[pos] = val
    buf = hll.encode(regs)
    assert np.array_equal(hll.decode(buf), regs)
    # wire-validity invariants
    assert hll.is_valid_hll(buf)


@settings(max_examples=100, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=hll.HLL_REGISTERS - 1),
        st.integers(min_value=1, max_value=63),
        max_size=100,
    )
)
def test_dense_codec_roundtrip_any_values(updates):
    regs = hll.empty_registers()
    for pos, val in updates.items():
        regs[pos] = val
    buf = hll.encode(regs, force_dense=True)
    assert len(buf) == hll.HLL_DENSE_SIZE
    assert np.array_equal(hll.decode(buf), regs)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(st.binary(min_size=1, max_size=20), min_size=1, max_size=50),
        min_size=2,
        max_size=5,
    ),
    st.randoms(use_true_random=False),
)
def test_merge_order_invariance_property(element_sets, rnd):
    states = []
    for elems in element_sets:
        regs = hll.empty_registers()
        idx, pl = hll.hash_and_patlen(elems, 4)
        hll.update_registers(regs, idx, pl)
        states.append(regs)
    stack = np.stack(states)
    base = hll.merge_registers(stack)
    perm = list(range(len(states)))
    rnd.shuffle(perm)
    assert np.array_equal(hll.merge_registers(stack[perm]), base)
    # merging the union stream directly gives the same registers
    all_elems = [e for es in element_sets for e in es]
    direct = hll.empty_registers()
    idx, pl = hll.hash_and_patlen(all_elems, 4)
    hll.update_registers(direct, idx, pl)
    assert np.array_equal(direct, base)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=30), min_size=1, max_size=300))
def test_estimate_never_negative_and_version_sane(elems):
    data = [e.encode() for e in elems]
    for version in (4, 5):
        regs = hll.empty_registers()
        idx, pl = hll.hash_and_patlen(data, version)
        hll.update_registers(regs, idx, pl)
        est = hll.estimate(regs, version)
        n = len(set(elems))
        assert est >= 0
        # generous sanity envelope for tiny sets
        assert abs(est - n) <= max(3, 0.05 * n)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=2000),
    st.integers(min_value=2, max_value=6),
)
def test_cms_never_undercounts_any_input(ids, depth):
    from collections import Counter

    from pfutil_spark.kernel import cms
    from pfutil_spark.kernel.sketch_common import splitmix64

    s = cms.empty(depth=depth, width=256)
    h = splitmix64(np.asarray(ids, dtype=np.uint64))
    cms.update(s, h)
    exact = Counter(ids)
    uniq = sorted(exact)
    est = cms.query(s, splitmix64(np.asarray(uniq, dtype=np.uint64)))
    for v, e in zip(uniq, est):
        assert e >= exact[v]
    assert cms.total(s) == len(ids)


@settings(max_examples=50, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=500),
    st.integers(min_value=1, max_value=12),
)
def test_bloom_never_false_negative_any_input(members, k):
    from pfutil_spark.kernel import bloom
    from pfutil_spark.kernel.sketch_common import splitmix64

    s = bloom.empty(1 << 14)
    h = splitmix64(np.fromiter(members, dtype=np.uint64, count=len(members)))
    bloom.update(s, h, k)
    assert bloom.contains(s, h, k).all()
    # roundtrip preserves membership
    s2, k2 = bloom.decode(bloom.encode(s, k))
    assert bloom.contains(s2, h, k2).all()


@settings(max_examples=30, deadline=None)
@given(st.lists(st.floats(allow_nan=False, allow_infinity=False,
                          min_value=-1e12, max_value=1e12),
                min_size=2, max_size=2000))
def test_tdigest_quantiles_within_range_any_input(values):
    from pfutil_spark.kernel import tdigest

    td = tdigest.TDigest(50)
    td.update(np.asarray(values))
    lo, hi = min(values), max(values)
    for q in (0.0, 0.25, 0.5, 0.75, 1.0):
        v = td.quantile(q)
        assert lo <= v <= hi
    assert td.quantile(0.0) == lo and td.quantile(1.0) == hi


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),      # group
            st.integers(min_value=0, max_value=hll.HLL_REGISTERS - 1),
            st.integers(min_value=1, max_value=63),      # patlen (incl >32 dense)
        ),
        min_size=1,
        max_size=400,
    )
)
def test_encode_groups_matches_canonical_encoder(updates):
    """The vectorized multi-group encoder (round-2 high-cardinality path)
    is byte-identical to encode() per group on ARBITRARY scattered
    updates, including >32 values (dense fallback) and duplicate
    (group, register) pairs (max-wins)."""
    inv = np.array([u[0] for u in updates], dtype=np.int64)
    idx = np.array([u[1] for u in updates], dtype=np.int64)
    pl = np.array([u[2] for u in updates], dtype=np.uint8)
    _, inv = np.unique(inv, return_inverse=True)
    n_groups = int(inv.max()) + 1
    data, offs = hll.encode_groups(inv, idx, pl, n_groups)
    for g in range(n_groups):
        regs = hll.empty_registers()
        m = inv == g
        np.maximum.at(regs, idx[m], pl[m])
        assert bytes(data[offs[g] : offs[g + 1]]) == hll.encode(regs)


# a register row: either scattered (position, value) updates, or a
# seeded fill at an nnz/value edge of the sparse encoder (the
# nnz*3 + 4 >= 12288 bail sits between 4094 and 4095; VAL opcodes stop
# at 32)
_scattered_row = st.dictionaries(
    st.integers(min_value=0, max_value=hll.HLL_REGISTERS - 1),
    st.integers(min_value=1, max_value=63),
    max_size=300,
)
_edge_row = st.tuples(
    st.sampled_from([0, 1, 64, 65, 4093, 4094, 4095, 4096, 8000, hll.HLL_REGISTERS]),
    st.sampled_from([1, 2, 31, 32, 33, 50]),
    st.integers(0, 2**31 - 1),
)


def _row(spec) -> np.ndarray:
    regs = hll.empty_registers()
    if isinstance(spec, dict):
        for k, v in spec.items():
            regs[k] = v
        return regs
    nnz, vmax, seed = spec
    rng = np.random.default_rng(seed)
    pos = rng.choice(hll.HLL_REGISTERS, size=nnz, replace=False)
    regs[pos] = rng.integers(1, vmax + 1, size=nnz)
    return regs


@settings(max_examples=120, deadline=None)
@given(st.lists(st.one_of(_scattered_row, _edge_row), min_size=1, max_size=10))
def test_encode_many_matches_canonical_encoder(rows):
    """The batched accumulate-path encoder is byte-identical to encode()
    row by row, whichever mix of empty, sparse, bailed and dense rows
    (and in whichever order) the batch holds."""
    regs2d = np.stack([_row(r) for r in rows])
    data, offs = hll.encode_many(regs2d)
    assert len(offs) == len(rows) + 1
    for i, regs in enumerate(regs2d):
        assert bytes(data[offs[i] : offs[i + 1]]) == hll.encode(regs)


def _pack_dense_unpackbits(regs2d: np.ndarray) -> np.ndarray:
    """Reference 6-bit packer: expand every register to bits, keep the
    low 6, repack LSB-first (the codec's original formulation)."""
    n = regs2d.shape[0]
    bits8 = np.unpackbits(
        regs2d.reshape(n * hll.HLL_REGISTERS, 1), axis=1, bitorder="little"
    )
    bits6 = bits8[:, : hll.HLL_BITS].reshape(n, hll.HLL_REGISTERS * hll.HLL_BITS)
    return np.packbits(bits6, axis=1, bitorder="little")


def _unpack_dense_unpackbits(payload: np.ndarray) -> np.ndarray:
    n = payload.shape[0]
    bits = np.unpackbits(payload, axis=1, bitorder="little")
    bits8 = np.zeros((n * hll.HLL_REGISTERS, 8), dtype=np.uint8)
    bits8[:, : hll.HLL_BITS] = bits.reshape(n * hll.HLL_REGISTERS, hll.HLL_BITS)
    return np.packbits(bits8, axis=1, bitorder="little").reshape(n, hll.HLL_REGISTERS)


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 6), st.integers(0, 2**31 - 1), st.sampled_from([1, 32, 63, 255]))
def test_dense_codec_matches_unpackbits_reference(n, seed, vmax):
    rng = np.random.default_rng(seed)
    regs = rng.integers(0, vmax + 1, size=(n, hll.HLL_REGISTERS), dtype=np.uint8)
    packed = hll.pack_dense(regs)
    np.testing.assert_array_equal(packed, _pack_dense_unpackbits(regs))
    payload = rng.integers(0, 256, size=(n, hll.HLL_DENSE_SIZE - hll.HEADER_LEN),
                           dtype=np.uint8)
    np.testing.assert_array_equal(
        hll.unpack_dense(payload), _unpack_dense_unpackbits(payload)
    )
    np.testing.assert_array_equal(hll.unpack_dense(packed), regs & 0x3F)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.dictionaries(
            st.integers(min_value=0, max_value=hll.HLL_REGISTERS - 1),
            st.integers(min_value=1, max_value=63),
            max_size=300,
        ),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([4, 5]),
)
def test_estimate_bytes_batch_bit_identical(sketch_defs, version):
    """The opcode-level estimator (round-2, no dense materialization) is
    bit-identical to decode + estimate on arbitrary mixed sparse/dense
    buffers — the padded-cumsum float-order argument, property-tested."""
    bufs = []
    for d in sketch_defs:
        regs = hll.empty_registers()
        for k, v in d.items():
            regs[k] = v
        bufs.append(hll.encode(regs))
    fast = hll.estimate_bytes_batch(bufs, version)
    slow = hll.estimate_batch(hll.decode_many(bufs), version)
    np.testing.assert_array_equal(fast, slow)


@settings(max_examples=80, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=hll.HLL_REGISTERS - 1),
        st.integers(min_value=1, max_value=32),
        max_size=200,
    )
)
def test_decode_sparse_pairs_roundtrip(d):
    regs = hll.empty_registers()
    for k, v in d.items():
        regs[k] = v
    buf = hll.encode(regs)
    if buf[4] != hll.ENC_SPARSE:
        return  # encoder chose dense; pairs path not applicable
    r, v = hll.decode_sparse_pairs(buf)
    back = hll.empty_registers()
    back[np.array(r, dtype=np.int64)] = np.array(v, dtype=np.uint8)
    np.testing.assert_array_equal(back, regs)


@given(
    n=st.integers(1, 400),
    n_groups=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_weighted_cms_fold_matches_scalar(n, n_groups, seed):
    """Property: the vectorized weighted CMS fold is byte-identical to
    per-group scalar weighted updates, for any row/group/weight mix
    (incl. zero/negative weights, which both paths must drop)."""
    from pfutil_spark.kernel import cms

    rng = np.random.default_rng(seed)
    h = rng.integers(0, 2**63, n)
    g = np.sort(rng.integers(0, n_groups, n)).astype(np.int64)
    w = rng.integers(-2, 30, n)
    data, offs = cms.fold_groups_weighted(h, w, g, n_groups, 3, 64)
    for gi in range(n_groups):
        st_ = cms.empty(3, 64)
        m = (g == gi) & (w > 0)
        cms.update(st_, h[m], counts=w[m])
        assert bytes(data[offs[gi] : offs[gi + 1]]) == cms.encode(st_), gi


@given(
    n=st.integers(1, 300),
    n_groups=st.integers(1, 8),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_weighted_tdigest_fold_matches_scalar(n, n_groups, seed):
    """Property: the grouped weighted t-digest fold matches the scalar
    update_weighted per group — same total weight (exactly), quantile
    estimates within a small tolerance of each other — with NaN values,
    NaN weights, and non-positive weights mixed in."""
    from pfutil_spark.kernel import tdigest

    rng = np.random.default_rng(seed)
    v = rng.normal(0, 10, n)
    v[rng.random(n) < 0.05] = np.nan
    w = rng.exponential(2.0, n)
    w[rng.random(n) < 0.05] = np.nan
    w[rng.random(n) < 0.05] = 0.0
    g = np.sort(rng.integers(0, n_groups, n)).astype(np.int64)
    data, offs = tdigest.fold_groups_weighted(v, w, g, n_groups, 50)
    qs = np.array([0.1, 0.5, 0.9])
    for gi in range(n_groups):
        got = tdigest.decode(bytes(data[offs[gi] : offs[gi + 1]]))
        ref = tdigest.TDigest(50)
        m = g == gi
        ref.update_weighted(v[m], w[m])
        assert abs(got.n - ref.n) <= 1e-9 * max(1.0, ref.n)
        if ref.n > 0:
            span = max(1e-9, ref.vmax - ref.vmin)
            assert np.abs(got.quantile(qs) - ref.quantile(qs)).max() <= 0.25 * span


@given(
    n=st.integers(1, 300),
    n_groups=st.integers(1, 10),
    wmax=st.sampled_from([2, 7, 63, 1 << 20]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_weighted_kll_fold_matches_scalar(n, n_groups, wmax, seed):
    """Property: the vectorized weighted KLL fold is BYTE-identical to
    per-group scalar update_weighted for any row/group/weight mix
    (incl. NaN values, zero/negative weights, and weights big enough to
    populate many levels or trip the big-group compaction path)."""
    from pfutil_spark.kernel import kll

    rng = np.random.default_rng(seed)
    v = rng.normal(0, 10, n)
    v[rng.random(n) < 0.05] = np.nan
    w = rng.integers(-1, wmax + 1, n)
    g = np.sort(rng.integers(0, n_groups, n)).astype(np.int64)
    data, offs = kll.fold_groups_weighted(v, w, g, n_groups, 64)
    for gi in range(n_groups):
        m = g == gi
        ref = kll.KllSketch(64)
        ref.update_weighted(v[m], w[m])
        assert bytes(data[offs[gi] : offs[gi + 1]]) == ref.encode(), gi


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=3000),   # n_a
    st.integers(min_value=1, max_value=3000),   # n_b
    st.integers(min_value=2, max_value=6),      # partials per side
    st.sampled_from([64, 128, 256]),            # k
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_ks_distance_bound_any_input(na, nb, parts, k, seed):
    """ks_distance's (estimate, bound) contract on arbitrary inputs and
    merge shapes: |est - exact| <= bound always; bound collapses to 0
    (and the estimate to BIT-exact) whenever both sides stay lossless."""
    from pfutil_spark.kernel import kll

    rng = np.random.default_rng(seed)
    # mix of continuous and heavily-tied integer values
    x = np.where(rng.random(na) < 0.5, rng.normal(size=na),
                 np.floor(rng.normal(size=na) * 3))
    y = np.where(rng.random(nb) < 0.5, rng.normal(loc=0.3, size=nb),
                 np.floor(rng.normal(size=nb) * 3))

    def build(v):
        sks = []
        for p in np.array_split(v, parts):
            s = kll.KllSketch(k)
            s.update(p)
            sks.append(s)
        return kll.merge_all(sks)

    a, b = build(x), build(y)
    d, e = kll.ks_distance(a, b)
    pts = np.unique(np.concatenate([x, y]))
    fx = np.searchsorted(np.sort(x), pts, side="right") / na
    fy = np.searchsorted(np.sort(y), pts, side="right") / nb
    exact = float(np.max(np.abs(fx - fy)))
    assert abs(d - exact) <= e
    if kll.is_lossless(a) and kll.is_lossless(b):
        assert e == 0.0 and d == exact


@settings(max_examples=80, deadline=None)
@given(
    st.integers(min_value=1, max_value=2000),
    st.integers(min_value=1, max_value=2000),
    st.sampled_from([64, 200]),
    st.integers(min_value=2, max_value=20),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_psi_nonnegative_finite_any_input(na, nb, k, bins, seed):
    """PSI from sketches is >= 0 and finite for ANY pair of non-empty
    inputs (termwise (q-p)ln(q/p) >= 0; floored masses keep the log
    finite), including heavy ties and disjoint supports."""
    from pfutil_spark.kernel import kll

    rng = np.random.default_rng(seed)
    x = np.floor(rng.normal(size=na) * rng.integers(1, 4))
    y = np.floor(rng.normal(loc=rng.uniform(-2, 2), size=nb) * 2)
    a = kll.KllSketch(k); a.update(x)
    b = kll.KllSketch(k); b.update(y)
    psi = kll.psi_distance(a, b, bins=bins)
    assert np.isfinite(psi) and psi >= 0.0
