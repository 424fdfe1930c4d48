"""Hash kernel parity tests (reference layer-1: HllUtilTest.java)."""

import numpy as np
import pytest

from pfutil_spark.kernel.murmur import HLL_SEED, murmur64a, murmur64a_flat, murmur64a_scalar


def test_reference_vector():
    # core/src/test/java/com/mayreh/pfutil/HllUtilTest.java:19-25
    data = b"Lorem ipsum dolor sit amet, consectetur adipisicing elit"
    assert murmur64a_scalar(data, 0xE17A1465) == 0x0920E0C1B7EEB261
    out = murmur64a([data], 0xE17A1465)
    assert int(out[0]) == 0x0920E0C1B7EEB261


@pytest.mark.parametrize("seed", [0xE17A1465, HLL_SEED, 0, 0xFFFFFFFF])
def test_vectorized_matches_scalar_all_lengths(seed):
    rng = np.random.default_rng(42)
    datas = []
    for ln in list(range(0, 40)) + [63, 64, 65, 127, 128, 1000]:
        datas.append(rng.integers(0, 256, size=ln, dtype=np.uint8).tobytes())
    expected = np.array([murmur64a_scalar(d, seed) for d in datas], dtype=np.uint64)
    got = murmur64a(datas, seed)
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, expected)


def test_uniform_fastpath_matches_scalar():
    rng = np.random.default_rng(7)
    for ln in (8, 64, 13):  # multiple-of-8 fast path and padded uniform path
        datas = [rng.integers(0, 256, size=ln, dtype=np.uint8).tobytes() for _ in range(100)]
        expected = np.array([murmur64a_scalar(d) for d in datas], dtype=np.uint64)
        np.testing.assert_array_equal(murmur64a(datas), expected)


def test_empty_batch_and_empty_elements():
    assert murmur64a([]).shape == (0,)
    got = murmur64a([b"", b"a", b""])
    exp = np.array([murmur64a_scalar(b""), murmur64a_scalar(b"a"), murmur64a_scalar(b"")],
                   dtype=np.uint64)
    np.testing.assert_array_equal(got, exp)


def _flat(datas):
    data = np.frombuffer(b"".join(datas), dtype=np.uint8)
    offsets = np.zeros(len(datas) + 1, dtype=np.int64)
    np.cumsum([len(d) for d in datas], out=offsets[1:])
    return data, offsets


def test_flat_matches_scalar_on_every_packer_path():
    """murmur64a_flat over Arrow-style buffers: variable widths (the
    per-word gather), uniform widths (zero-copy and padded), all-empty
    rows, and offsets that start past byte 0 (a sliced array)."""
    rng = np.random.default_rng(11)
    var = [rng.integers(0, 256, size=ln, dtype=np.uint8).tobytes()
           for ln in list(range(0, 40)) + [63, 64, 65, 127, 128, 1000, 3]]
    cases = [
        var,
        [rng.integers(0, 256, size=16, dtype=np.uint8).tobytes() for _ in range(9)],
        [rng.integers(0, 256, size=13, dtype=np.uint8).tobytes() for _ in range(9)],
        [b"", b"", b""],
        [b"x"],
    ]
    for datas in cases:
        exp = np.array([murmur64a_scalar(d) for d in datas], dtype=np.uint64)
        data, offsets = _flat(datas)
        np.testing.assert_array_equal(murmur64a_flat(data, offsets), exp)
        # the same rows behind a 5-byte prefix row, offsets sliced past it
        data, offsets = _flat([b"12345"] + datas)
        np.testing.assert_array_equal(murmur64a_flat(data, offsets[1:]), exp)


def test_one_long_row_costs_its_own_bytes():
    """A long value among many short ones is packed in its own length
    class: the peak memory of the hash stays near the batch's bytes,
    not rows x longest row (here 5,001 x 64 KiB = 328 MB)."""
    import tracemalloc

    rng = np.random.default_rng(12)
    datas = [rng.integers(0, 256, size=int(ln), dtype=np.uint8).tobytes()
             for ln in rng.integers(0, 24, size=5000)]
    datas.insert(2500, rng.integers(0, 256, size=65536 + 5, dtype=np.uint8).tobytes())
    data, offsets = _flat(datas)
    tracemalloc.start()
    try:
        got = murmur64a_flat(data, offsets)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 << 20
    exp = np.array([murmur64a_scalar(d) for d in datas], dtype=np.uint64)
    np.testing.assert_array_equal(got, exp)
