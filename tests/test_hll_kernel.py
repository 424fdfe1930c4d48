"""HLL kernel golden tests — reference layer-2 (HllhdrV4Test / HllhdrV5Test
/ HllV4Test / HllV5Test), run against the 14 Redis-produced binary fixtures
vendored in the reference repo. No Spark, no JVM, no Redis in the loop:
these fixtures ARE recorded Redis behavior.
"""

import os

import numpy as np
import pytest

from pfutil_spark.kernel import hll
from tests.conftest import REDIS_FIXTURES as FIXTURES


def fixture(name: str) -> bytes:
    with open(os.path.join(FIXTURES, name), "rb") as f:
        return f.read()


def add_all(regs, elements, version):
    idx, pl = hll.hash_and_patlen(elements, version)
    hll.update_registers(regs, idx, pl)


# ---------------------------------------------------------------------------
# validity (HllhdrV4Test.java:12-26)
# ---------------------------------------------------------------------------

def test_is_valid_hll():
    assert not hll.is_valid_hll(b"")
    bad = bytes([ord(c) for c in "HYLL"]) + bytes([0, 0, 0, 0, 0xE7, 0xD8, 0, 0, 0, 0, 0, 0])
    assert not hll.is_valid_hll(bad)  # dense but wrong length
    assert hll.is_valid_hll(fixture("v4/dense_cached_55527.dat"))
    with pytest.raises(ValueError):
        hll.decode(bad)


# ---------------------------------------------------------------------------
# count parity on golden dumps (HllhdrV4Test.java:29-58, HllhdrV5Test same)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "name,version,expected",
    [
        ("v4/dense_cached_55527.dat", 4, 55527),
        ("v4/sparse_cached_1002.dat", 4, 1002),
        ("v4/sparse_nocache_1002.dat", 4, 1002),
        ("v4/dense_cached_55531.dat", 4, 55531),
        ("v4/sparse_cached_AtoZ.dat", 4, 26),
        ("v5/dense_cached_99562.dat", 5, 99562),
        ("v5/dense_nocache_99562.dat", 5, 99562),
        ("v5/sparse_cached_1001.dat", 5, 1001),
        ("v5/sparse_nocache_1001.dat", 5, 1001),
        ("v5/sparse_cached_AtoZ.dat", 5, 26),
    ],
)
def test_golden_counts(name, version, expected):
    regs = hll.decode(fixture(name))
    assert hll.estimate(regs, version) == expected
    # batch estimator agrees with scalar
    assert int(hll.estimate_batch(regs.reshape(1, -1), version)[0]) == expected


def test_empty_estimate_zero():
    regs = hll.empty_registers()
    assert hll.estimate(regs, 4) == 0
    assert hll.estimate(regs, 5) == 0


# ---------------------------------------------------------------------------
# add-mutation byte identity (HllhdrV4Test.java:61-89 / HllhdrV5Test same)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "base,redis_after,version,expected_count",
    [
        ("v4/dense_cached_55527.dat", "v4/dense_nocache_55531.dat", 4, 55531),
        ("v5/dense_cached_99562.dat", "v5/dense_cached_99571.dat", 5, 99571),
    ],
)
def test_add_mutation_byte_identity(base, redis_after, version, expected_count):
    regs = hll.decode(fixture(base))
    before = regs.copy()
    elements = [f"test{i}".encode() if i > 1 else b"test" for i in range(1, 8)]
    # only "test7" changes a register (observed real-Redis behavior)
    for e in elements[:-1]:
        add_all(regs, [e], version)
        assert np.array_equal(regs, before)
    add_all(regs, [elements[-1]], version)
    assert not np.array_equal(regs, before)

    new_repr = hll.encode(regs, cache=None, force_dense=True)
    redis_repr = fixture(redis_after)
    # registers section byte-identical to what Redis itself produced
    assert new_repr[16:] == redis_repr[16:]
    assert hll.estimate(regs, version) == expected_count


# ---------------------------------------------------------------------------
# merge (HllhdrV4Test.java:92-148 / HllhdrV5Test same)
# ---------------------------------------------------------------------------

def test_merge_empty_with_dense_byte_identity():
    other = fixture("v4/dense_cached_55531.dat")
    merged = hll.merge_registers(
        np.stack([hll.empty_registers(), hll.decode(other)])
    )
    assert hll.estimate(merged, 4) == 55531
    assert hll.encode(merged, force_dense=True)[16:] == other[16:]


def test_merge_empty_with_sparse():
    merged = hll.merge_registers(
        np.stack([hll.empty_registers(), hll.decode(fixture("v4/sparse_cached_1002.dat"))])
    )
    assert hll.estimate(merged, 4) == 1002


@pytest.mark.parametrize(
    "dense,sparse,golden,version,expected",
    [
        ("v4/dense_cached_55531.dat", "v4/sparse_cached_AtoZ.dat",
         "v4/dense_cached_55531+AtoZ_55581.dat", 4, 55581),
        ("v5/dense_cached_99571.dat", "v5/sparse_cached_AtoZ.dat",
         "v5/dense_cached_99571+AtoZ_99607.dat", 5, 99607),
    ],
)
def test_merge_multiple_byte_identity(dense, sparse, golden, version, expected):
    merged = hll.merge_registers(
        np.stack([
            hll.empty_registers(),
            hll.decode(fixture(dense)),
            hll.decode(fixture(sparse)),
        ])
    )
    assert hll.estimate(merged, version) == expected
    assert hll.encode(merged, force_dense=True)[16:] == fixture(golden)[16:]


# ---------------------------------------------------------------------------
# facade semantics (HllV4Test / HllV5Test)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("version", [4, 5])
def test_pfadd_1000_then_1001(version):
    # HllV4Test.java:19-33 — exact Redis estimator artifact: 1000 -> 1001
    regs = hll.empty_registers()
    add_all(regs, [str(i).encode() for i in range(1, 1001)], version)
    assert hll.estimate(regs, version) == 1001
    add_all(regs, [b"1001"], version)
    assert hll.estimate(regs, version) == 1002


def test_dump_roundtrip_byte_identity():
    # HllV4Test.java:46-55: merge fixture into fresh, count, dump ->
    # byte-identical INCLUDING the header cardinality cache
    other = fixture("v4/dense_cached_55527.dat")
    merged = hll.merge_registers(np.stack([hll.empty_registers(), hll.decode(other)]))
    assert hll.dump(merged, 4) == other


def test_dump_roundtrip_v5():
    other = fixture("v5/dense_cached_99562.dat")
    merged = hll.merge_registers(np.stack([hll.empty_registers(), hll.decode(other)]))
    assert hll.dump(merged, 5) == other


def test_cache_fastpath():
    buf = fixture("v4/dense_cached_55527.dat")
    cached, valid = hll.get_cache(buf)
    assert valid and cached == 55527
    assert hll.pf_count_bytes(buf, 4) == 55527
    nocache = fixture("v4/dense_nocache_55531.dat")
    _, valid = hll.get_cache(nocache)
    assert not valid
    assert hll.pf_count_bytes(nocache, 4) == 55531


def test_fresh_empty_wire_bytes():
    # fresh = 18-byte sparse buffer, cache 0 VALID (HllByteBuffer.java:27-47)
    buf = hll.encode_empty()
    assert len(buf) == 18
    assert buf[:5] == b"HYLL\x01"
    assert hll.pf_count_bytes(buf, 4) == 0
    assert np.array_equal(hll.decode(buf), hll.empty_registers())
    assert hll.dump(hll.empty_registers(), 4) == buf


# ---------------------------------------------------------------------------
# codec round-trips & our general sparse encoder
# ---------------------------------------------------------------------------

def test_dense_pack_unpack_roundtrip():
    rng = np.random.default_rng(1)
    regs = rng.integers(0, 64, size=(5, hll.HLL_REGISTERS), dtype=np.uint8)
    assert np.array_equal(hll.unpack_dense(hll.pack_dense(regs)), regs)


def test_sparse_encoder_roundtrip_redis_compatible():
    rng = np.random.default_rng(2)
    for nnz in (0, 1, 5, 100, 1000):
        regs = hll.empty_registers()
        pos = rng.choice(hll.HLL_REGISTERS, size=nnz, replace=False)
        regs[pos] = rng.integers(1, 33, size=nnz)
        buf = hll.encode(regs)
        if nnz < 3000:
            assert buf[4] == hll.ENC_SPARSE and len(buf) < hll.HLL_DENSE_SIZE
        assert np.array_equal(hll.decode(buf), regs)


def test_sparse_encoder_falls_back_to_dense():
    regs = hll.empty_registers()
    regs[0] = 40  # VAL opcode cannot represent > 32
    buf = hll.encode(regs)
    assert buf[4] == hll.ENC_DENSE and len(buf) == hll.HLL_DENSE_SIZE
    assert np.array_equal(hll.decode(buf), regs)


def test_golden_sparse_reencode_decodes_identically():
    for name in ("v4/sparse_cached_1002.dat", "v4/sparse_cached_AtoZ.dat"):
        regs = hll.decode(fixture(name))
        assert np.array_equal(hll.decode(hll.encode(regs)), regs)


# ---------------------------------------------------------------------------
# property: merge associativity / commutativity / idempotence
# ---------------------------------------------------------------------------

def test_merge_order_invariance():
    rng = np.random.default_rng(3)
    states = []
    for s in range(6):
        regs = hll.empty_registers()
        elems = [f"e{s}_{i}".encode() for i in range(rng.integers(10, 500))]
        add_all(regs, elems, 4)
        states.append(regs)
    stack = np.stack(states)
    base = hll.merge_registers(stack)
    for _ in range(5):
        perm = rng.permutation(len(states))
        assert np.array_equal(hll.merge_registers(stack[perm]), base)
    # pairwise fold == N-way, idempotence
    fold = states[0]
    for s in states[1:]:
        fold = hll.merge_registers(np.stack([fold, s]))
    assert np.array_equal(fold, base)
    assert np.array_equal(hll.merge_registers(np.stack([base, base])), base)


def test_error_bound_vs_exact():
    # published bound for 2^14 registers: 1.04/sqrt(16384) = 0.8125%; 3-sigma
    for version in (4, 5):
        for n in (100, 1000, 10_000, 100_000):
            regs = hll.empty_registers()
            add_all(regs, [f"user-{i}".encode() for i in range(n)], version)
            est = hll.estimate(regs, version)
            assert abs(est - n) / n <= 3 * 0.008125, (version, n, est)


def test_high_duplication_stream():
    # mirrors HllV4Integration high-dup case: 10^6 draws mod 100
    rng = np.random.default_rng(4)
    draws = rng.integers(0, 1 << 31, size=100_000) % 100
    regs = hll.empty_registers()
    add_all(regs, [str(d).encode() for d in draws], 4)
    exact = len(np.unique(draws))
    est = hll.estimate(regs, 4)
    assert abs(est - exact) <= max(1, round(3 * 0.008125 * exact))


def test_batch_estimators_bit_identical_to_scalar():
    """The vectorized batch estimators must match the scalar reference
    path bit-for-bit on arbitrary states (same float op order)."""
    rng = np.random.default_rng(9)
    states = [hll.empty_registers()]
    for n in (1, 5, 50, 500, 5000, 50000, 200000):
        regs = hll.empty_registers()
        idx, pl = hll.hash_and_patlen([f"x{n}_{i}".encode() for i in range(n)], 4)
        hll.update_registers(regs, idx, pl)
        states.append(regs)
    # plus adversarial: all registers maxed, random registers
    states.append(np.full(hll.HLL_REGISTERS, 50, dtype=np.uint8))
    states.append(rng.integers(0, 51, hll.HLL_REGISTERS).astype(np.uint8))
    stack = np.stack(states)
    for version in (4, 5):
        batch = hll.estimate_batch(stack, version)
        scalar = [
            hll._estimate_v4_from_parts(
                float((s == 0).sum()),
                float(np.cumsum(np.where(s > 0, np.ldexp(1.0, -s.astype(np.int64)), 0.0))[-1])
                + float((s == 0).sum()),
            )
            if version == 4
            else hll._estimate_v5_from_histo(hll.reg_histo(s))
            for s in states
        ]
        assert batch.tolist() == scalar, version
