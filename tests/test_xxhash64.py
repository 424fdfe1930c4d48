"""kernel/xxhash64.py against Spark's own ``xxhash64``: the vectorized
kernel, and its plain-Python reference, must give the JVM's value for
every string and binary input, NULL included (Spark returns the seed)."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pfutil_spark.kernel.xxhash64 import SPARK_SEED, xxhash64_flat, xxhash64_scalar
from pfutil_spark.operators.hll_agg import _varbin_buffers

# lengths at and around the 4-byte word, 8-byte word and 32-byte stripe
# boundaries, beyond the 0..70 sweep
_EDGE_LENS = [95, 96, 97, 127, 128, 129, 255, 256, 1000]


def _kernel(arr: pa.Array) -> list:
    valid = arr.is_valid().to_numpy(zero_copy_only=False) if arr.null_count else None
    return xxhash64_flat(*_varbin_buffers(arr), valid).tolist()


def _spark(spark, values: list, sql_type: str) -> list:
    df = spark.createDataFrame([(v,) for v in values], f"v {sql_type}")
    return [r[0] for r in df.select(F.xxhash64("v")).collect()]


def _assert_matches_spark(spark, values: list, sql_type: str) -> None:
    arr = pa.array(values, pa.string() if sql_type == "string" else pa.binary())
    want = _spark(spark, values, sql_type)
    assert _kernel(arr) == want
    as_bytes = [v.encode() if isinstance(v, str) else v for v in values]
    assert [xxhash64_scalar(b) for b in as_bytes] == want


def test_strings_match_spark_at_every_boundary(spark):
    rng = np.random.default_rng(5)
    alphabet = list("abcxyz09 /._-") + ["é", "€", "日本", "😀"]
    values = [None, ""]
    for n in list(range(71)) + _EDGE_LENS:
        # n code points; the non-ASCII ones make the UTF-8 byte length
        # land on every residue mod 4, 8 and 32 too
        values.append("".join(rng.choice(alphabet, n)))
        values.append("a" * n)
    values.append(None)
    _assert_matches_spark(spark, values, "string")


def test_binary_matches_spark_at_every_boundary(spark):
    rng = np.random.default_rng(6)
    values = [None, b""] + [
        rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        for n in list(range(71)) + _EDGE_LENS
    ]
    _assert_matches_spark(spark, values, "binary")


@settings(max_examples=20, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.text(max_size=70)), min_size=1, max_size=40),
)
def test_strings_match_spark_property(spark, values):
    _assert_matches_spark(spark, values, "string")


@settings(max_examples=20, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.binary(max_size=70)), min_size=1, max_size=40),
)
def test_binary_matches_spark_property(spark, values):
    _assert_matches_spark(spark, values, "binary")


def test_sliced_and_uniform_batches():
    """Slice offsets (a row-group slice keeps its parent's buffers) and
    uniform-width batches (the packer's zero-copy and padded paths)."""
    rng = np.random.default_rng(9)
    for n in (8, 13, 32, 64, 40):
        vals = [rng.integers(0, 256, n, dtype=np.uint8).tobytes() for _ in range(50)]
        arr = pa.array([b"head"] + vals + [b"tail!"], pa.binary()).slice(1, len(vals))
        assert _kernel(arr) == [xxhash64_scalar(v) for v in vals]
    assert xxhash64_flat(np.zeros(0, np.uint8), np.zeros(1, np.int64)).shape == (0,)


def test_one_long_row_among_short_ones():
    """The long row hashes in its own length class (bounded memory,
    ``tests/test_murmur.py``) and every row keeps its own hash."""
    import tracemalloc

    rng = np.random.default_rng(10)
    vals = [rng.integers(0, 256, int(n), dtype=np.uint8).tobytes()
            for n in rng.integers(0, 40, 3000)]
    vals.insert(1000, rng.integers(0, 256, 65536 + 13, dtype=np.uint8).tobytes())
    arr = pa.array(vals, pa.binary())
    tracemalloc.start()
    try:
        got = _kernel(arr)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 << 20
    assert got == [xxhash64_scalar(v) for v in vals]


def test_null_hashes_to_the_seed():
    arr = pa.array([None, "x", None], pa.string())
    got = _kernel(arr)
    assert got[0] == got[2] == SPARK_SEED
    assert xxhash64_scalar(None) == SPARK_SEED
