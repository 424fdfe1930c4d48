"""Distributed HLL aggregation — the PFADD / PFMERGE / PFCOUNT surface of
the reference (`v4/HllV4.java:31-98`) industrialized as a two-phase Spark
plan.

Why hand-rolled two-phase instead of a GROUPED_AGG pandas UDF: Spark does
NOT apply partial aggregation (map-side combine) to pandas UDAFs — every
row of a group would cross the shuffle.  Here stage P reduces each input
partition to ONE constant-size sketch per group before any shuffle, so
shuffle bytes are O(groups x partitions x sketch), not O(rows) — the
property that makes the plan survive a 100x scale-up.

    stage P  mapInArrow(partial)         per-task PFADD accumulation
                                         (multi.pf_partial_multi's body)
    stage S  repartition(keys)           the only shuffle
    stage M  mapInArrow(merge)           register-wise max (PFMERGE),
                                         optionally fused with PFCOUNT
    eval     pf_count_col()              scalar pandas UDF (PFCOUNT)

Stage M (:func:`_arrow_merge_stage`) is also the merge stage of the
extension sketches (``sketch_agg``), and :func:`merge_batch` is the one
merge body of every family: each family hands it two flat hooks, a
non-raising ``valid_flat`` gate that lets canonical single-partial
groups pass through, and a ``merge_groups`` that merges the rest (here
``hll.canonical_flat`` / ``hll.merge_groups_flat``).

Skew: one hot key's partials (one per input partition) can be spread over
``salt_buckets`` intermediate merge tasks — legal because register-max is
associative + commutative (HllByteBuffer.java:341-398).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from pfutil_spark.kernel import hll

SKETCH_COL = "sketch"


def _out_schema(df: DataFrame, by: Sequence[str]) -> StructType:
    fields = [df.schema[c] for c in by]
    return StructType(list(fields) + [StructField(SKETCH_COL, BinaryType(), False)])


def _varbin_buffers(arr: "pa.Array") -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (values, offsets) numpy views of an Arrow string/binary
    array (handles 32- and 64-bit offset variants and slice offsets)."""
    import pyarrow as pa

    t = arr.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        off_dt = np.int64
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        off_dt = np.int32
    else:
        arr = arr.cast(pa.large_binary())
        off_dt = np.int64
    bufs = arr.buffers()
    itemsize = np.dtype(off_dt).itemsize
    offsets = np.frombuffer(
        bufs[1], dtype=off_dt, count=len(arr) + 1, offset=arr.offset * itemsize
    )
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return data, offsets


def _group_codes(batch: "pa.RecordBatch", by: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized multi-column grouping: dictionary-encode each key column
    (Arrow C++), then CASCADE-combine — after each column the pair codes
    are re-factorized through np.unique, so intermediate products never
    exceed n * (n+1) (no int64 overflow regardless of key-column count)."""
    import pyarrow.compute as pc

    comb = None
    first_idx = None
    for c in by:
        enc = pc.dictionary_encode(batch.column(c))
        codes = pc.fill_null(enc.indices, -1).to_numpy(zero_copy_only=False).astype(np.int64)
        if comb is None:
            comb = codes + 1
        else:
            k = int(codes.max(initial=-1)) + 2
            comb = comb * k + (codes + 1)
        # re-factorize: comb values become dense ids in [0, n_groups)
        _, first_idx, comb = np.unique(comb, return_index=True, return_inverse=True)
    return comb, first_idx


LINEAGE_COLS = ("_partition_id", "_rows_seen")


def _tiled_binary_array(item: bytes, n: int) -> "pa.Array":
    """``n`` copies of ``item`` as an Arrow binary array built from ONE
    tiled buffer — no per-element Python list (the all-empty-group
    corner of the direct-emit/merge paths must stay vectorized at
    high cardinality)."""
    import pyarrow as pa

    b = np.frombuffer(item, dtype=np.uint8)
    offs = np.arange(n + 1, dtype=np.int32) * np.int32(len(b))
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(np.tile(b, n))]
    )


def _binary_array(data: np.ndarray, offsets: np.ndarray) -> "pa.Array":
    """A kernel encoder's ``(data, int64 offsets)`` as an Arrow binary
    array, zero-copy."""
    import pyarrow as pa

    return pa.Array.from_buffers(
        pa.binary(),
        len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def _encoded_array(regs: list[np.ndarray]) -> "pa.Array":
    """Canonical wire bytes of each register vector, one
    :func:`kernel.hll.encode_many` call for the lot."""
    return _binary_array(
        *hll.encode_many(np.array(regs, dtype=np.uint8).reshape(-1, hll.HLL_REGISTERS))
    )


def _check_reserved(by: Sequence[str], reserved: Sequence[str]) -> None:
    """Fail before planning when a ``by`` column shares its name with an
    output column the operator adds (Spark would only report an
    ambiguous reference, or fail at ``collect``)."""
    for c in by:
        if c in reserved:
            raise ValueError(
                f"by column {c!r} collides with an output column this operator "
                f"adds; reserved names here: {sorted(set(reserved))}"
            )


def pf_partial(
    df: DataFrame,
    element: str,
    by: Sequence[str] = (),
    version: int = 4,
    max_groups_in_flight: int = 8192,
    lineage: bool = False,
    direct_emit_groups: int = 4096,
) -> DataFrame:
    """Stage P: per-task PFADD into per-group register vectors; emits one
    ``(by..., sketch)`` row per (task, group) — the one-element case of
    :func:`multi.pf_partial_multi` (accumulation, high-cardinality direct
    emit, NULL rule and the python-native parquet scan all live there),
    with its metric column projected away.

    ``lineage=True`` appends per-partial provenance/metrics columns
    (_partition_id, _rows_seen) for checkpoint audit tables."""
    from pfutil_spark.operators.multi import _partial_multi

    return _partial_multi(
        df,
        [element],
        by,
        version,
        max_groups_in_flight,
        direct_emit_groups,
        lineage=lineage,
        metric_col="__pf_metric",
    ).drop("__pf_metric")


def _arrow_merge_stage(
    df: DataFrame,
    keys: list[str],
    cols: list[str],
    schema: StructType,
    merge_partition,
    partitions: int | None = None,
) -> DataFrame:
    """The merge stage of every sketch family: hash-repartition
    ``(keys..., cols...)`` on ``keys`` — the only Exchange, with no
    per-partition Sort (unlike applyInPandas) — then combine each
    partition's Arrow batches into one and yield
    ``merge_partition(batch)``.

    The partition count is AQE's (``REPARTITION_BY_COL``, coalesced by
    compressed shuffle bytes) unless the caller passes ``partitions``:
    ``StreamingHllState.update`` sizes its merge on the driver from the
    state's bytes on disk and the batch's estimated size
    (``streaming.hll_stream.merge_partitions``), so stage M runs that
    many tasks. Sketch bytes cross Arrow with int32 offsets, so a
    partition over 2GB raises with the fix."""
    pruned = df.select(*keys, *cols)
    if not keys:
        target = pruned.repartition(1)
    elif partitions is None:
        target = pruned.repartition(*[F.col(c) for c in keys])
    else:
        target = pruned.repartition(partitions, *[F.col(c) for c in keys])

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        got = [b for b in batches if b.num_rows]
        if not got:
            return
        try:
            batch = pa.Table.from_batches(got).combine_chunks().to_batches()[0]
        except pa.lib.ArrowInvalid as e:  # int32 binary-offset overflow
            raise ValueError(
                "merge partition exceeds 2GB of sketch bytes; raise "
                "spark.sql.shuffle.partitions (the cap on merge partitions) "
                "or lower spark.sql.adaptive.advisoryPartitionSizeInBytes "
                "(the bytes one merge partition is sized for)"
            ) from e
        yield merge_partition(batch)

    return target.mapInArrow(fn, schema)


def merge_batch(
    batch: "pa.RecordBatch",
    keys: list[str],
    sketch_col: str,
    valid_flat,
    merge_groups,
    codes: "tuple[np.ndarray, np.ndarray] | None" = None,
) -> "pa.RecordBatch":
    """Merge ALL groups of one Arrow batch in one vectorized pass: the
    stage-M body of every sketch family, given its two flat hooks.

    * single-partial groups whose bytes ``valid_flat(data, offsets)``
      accepts (the family's canonical bytes, so no re-encode is needed)
      PASS THROUGH untouched — an Arrow ``take``; in the near-unique-key
      regime that is ~every group, which is what makes 10^6-group merges
      cheap;
    * every other group goes through ONE ``merge_groups(data, offsets,
      codes, n_groups)`` call, which returns the merged groups in code
      order (and raises on corrupt bytes).

    ``codes`` = ``(inverse, first_idx)`` precomputed by a multi-metric
    caller (one grouping shared by every metric column)."""
    import pyarrow as pa

    from pfutil_spark.kernel.sketch_common import check_arrow_binary_size

    sk = batch.column(sketch_col)
    if codes is not None:
        inverse, first_idx = codes
    elif keys:
        inverse, first_idx = _group_codes(batch, keys)
    else:
        inverse = np.zeros(batch.num_rows, dtype=np.int64)
        first_idx = np.array([0], dtype=np.int64)
    n_groups = len(first_idx)
    counts = np.bincount(inverse, minlength=n_groups)
    order = np.argsort(inverse, kind="stable")
    single_row = order[np.cumsum(counts) - counts]  # the row when counts == 1
    singles = np.flatnonzero(counts == 1)
    passthrough = np.zeros(n_groups, dtype=bool)
    if len(singles):
        sdata, soffs = _varbin_buffers(sk.take(pa.array(single_row[singles])))
        passthrough[singles] = valid_flat(sdata, soffs.astype(np.int64))
    pass_ids = np.flatnonzero(passthrough)
    work_ids = np.flatnonzero(~passthrough)
    arrays = [sk.take(pa.array(single_row[pass_ids]))]
    if len(work_ids):
        rows = order[~passthrough[inverse[order]]]  # group-sorted work rows
        work_code = np.repeat(np.arange(len(work_ids), dtype=np.int64), counts[work_ids])
        wdata, woffs = _varbin_buffers(sk.take(pa.array(rows)))
        mdata, moffs = merge_groups(wdata, woffs.astype(np.int64), work_code, len(work_ids))
        check_arrow_binary_size(int(moffs[-1]))
        arrays.append(_binary_array(mdata, moffs))
    perm = np.empty(n_groups, dtype=np.int64)
    perm[pass_ids] = np.arange(len(pass_ids))
    perm[work_ids] = len(pass_ids) + np.arange(len(work_ids))
    take = pa.array(first_idx)
    key_arrays = [batch.column(c).take(take) for c in keys]
    return pa.record_batch(
        key_arrays + [pa.concat_arrays(arrays).take(pa.array(perm))],
        names=keys + [SKETCH_COL],
    )


def _merge_stage(
    df: DataFrame,
    keys: list[str],
    sketch_col: str,
    count_version: int | None = None,
    estimate_col: str = "estimate",
    partitions: int | None = None,
) -> DataFrame:
    """The HLL merge stage (:func:`_arrow_merge_stage`, which
    ``partitions`` is passed to): every partition merges in one
    :func:`merge_record_batch` pass — canonical singles pass through,
    the rest go through ``hll.merge_groups_flat``.

    ``count_version`` FUSES the PFCOUNT estimate into the same Python
    stage and emits (keys..., estimate) instead of the sketch — a
    separate pf_count_col projection would be a second ArrowEvalPython
    round-trip over the merged sketches, and the fused estimate is
    bit-identical (same ``estimate_bytes_batch`` over the same canonical
    bytes). This ONE body backs pf_merge / pf_count_distinct /
    pf_count_distinct_multi / the north report.
    """
    _check_reserved(keys, [SKETCH_COL] if count_version is None else [estimate_col])
    out_fields = [df.schema[c] for c in keys]
    if count_version is None:
        out_fields.append(StructField(SKETCH_COL, BinaryType(), False))
    else:
        out_fields.append(StructField(estimate_col, LongType(), True))

    def merge_partition(batch: "pa.RecordBatch") -> "pa.RecordBatch":
        import pyarrow as pa

        merged = merge_record_batch(batch, keys, sketch_col)
        if count_version is None:
            return merged
        est = hll.estimate_bytes_batch(
            merged.column(SKETCH_COL).to_pylist(), count_version
        )
        arrays = [merged.column(c) for c in keys]
        arrays.append(pa.array(est, type=pa.int64()))
        return pa.record_batch(arrays, names=keys + [estimate_col])

    return _arrow_merge_stage(
        df, keys, [sketch_col], StructType(out_fields), merge_partition, partitions
    )


def _salted_premerge(
    df: DataFrame, by: list[str], sketch_col: str, salt_buckets: int
) -> DataFrame:
    """The intermediate salted merge shared by pf_merge and
    pf_count_distinct: key a first register-max fold by
    ``(by..., pmod(xxhash64(sketch), S))`` so a hot group's partials are
    reduced by S tasks before the final single-task merge (legal —
    register max is associative + commutative)."""
    salted = df.withColumn(
        "__pf_salt", F.pmod(F.xxhash64(F.col(sketch_col)), F.lit(salt_buckets))
    )
    return _merge_stage(salted, by + ["__pf_salt"], sketch_col).drop("__pf_salt")


def merge_record_batch(
    batch: "pa.RecordBatch", keys: list[str], sketch_col: str
) -> "pa.RecordBatch":
    """PFMERGE of ALL groups of one Arrow batch (a merge task's
    partition): :func:`merge_batch` with the HLL kernel's two hooks —
    module-level so tests can drive it directly."""
    return merge_batch(batch, keys, sketch_col, hll.canonical_flat, hll.merge_groups_flat)


def pf_merge(
    df: DataFrame,
    by: Sequence[str] = (),
    sketch_col: str = SKETCH_COL,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Stage M: PFMERGE all partial sketches of a group into one, every
    group of a partition in one vectorized pass (see :func:`_merge_stage`)
    — no per-group Python, so it survives millions of groups.

    ``salt_buckets=S`` inserts an intermediate merge keyed by
    ``(by..., pmod(xxhash64(sketch), S))`` so a hot group's partials are
    reduced by S tasks before the final single-task merge — the register
    max is associative/commutative so any grouping of the fold is legal.

    When to salt: a group's merge fan-in is AT MOST the number of input
    partitions (stage P pre-aggregates per partition), so salting only
    pays when that count is large — thousands of upstream partitions
    per hot key (the 1000-executor case). At small partition counts the
    extra stage costs more than it saves (measured: 2x slower at 64
    partitions); leave it off there.
    """
    by = list(by)
    if salt_buckets and salt_buckets > 1:
        df = _salted_premerge(df, by, sketch_col, salt_buckets)
        sketch_col = SKETCH_COL
    return _merge_stage(df, by, sketch_col)


def pf_count_col(sketch_col: str | Column = SKETCH_COL, version: int = 4) -> Column:
    """PFCOUNT as a scalar vectorized UDF over a sketch column
    (v4/HllhdrV4.java:127-157 / v5/HllhdrV5.java:131-157 estimators)."""

    @F.pandas_udf(LongType())
    def _count(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int64")
        # sparse-native: no (n, 16384) materialization — at millions of
        # long-tail group sketches that matrix alone would be many GB
        return pd.Series(hll.estimate_bytes_batch(list(s), version))

    return _count(F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col)


def pf_dump_col(sketch_col: str | Column = SKETCH_COL, version: int = 4) -> Column:
    """Redis-`SET`-loadable wire dump with the cardinality cache stamped
    (byte-parity with Redis cached dumps — v4/HllV4Test.java:46-55)."""

    @F.pandas_udf(BinaryType())
    def _dump(s: pd.Series) -> pd.Series:
        return pd.Series([hll.dump(r, version) for r in hll.decode_many(list(s))])

    return _dump(F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col)


def pf_restore_col(raw_col: str | Column, version: int = 4) -> Column:
    """Validate + canonicalize an externally produced Redis HLL dump into
    our in-flight encoding (restore path, v4/HllV4.java:100-127)."""

    @F.pandas_udf(BinaryType())
    def _restore(s: pd.Series) -> pd.Series:
        return pd.Series([hll.encode(r) for r in hll.decode_many(list(s))])

    return _restore(F.col(raw_col) if isinstance(raw_col, str) else raw_col)


def pf_count_distinct(
    df: DataFrame,
    element: str,
    by: Sequence[str] = (),
    version: int = 4,
    salt_buckets: int | None = None,
    estimate_col: str = "estimate",
) -> DataFrame:
    """End-to-end approximate COUNT(DISTINCT element) [GROUP BY by...] with
    Redis-PFCOUNT-identical results. The flagship operator."""
    by = list(by)
    partials = pf_partial(df, element, by, version)
    if salt_buckets and salt_buckets > 1:
        partials = _salted_premerge(partials, by, SKETCH_COL, salt_buckets)
    return _merge_stage(
        partials, by, SKETCH_COL, count_version=version, estimate_col=estimate_col
    )


def pf_sketch(
    df: DataFrame,
    element: str,
    by: Sequence[str] = (),
    version: int = 4,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Like :func:`pf_count_distinct` but returns the mergeable sketch
    column (checkpointable; feed back via :func:`pf_merge`)."""
    return pf_merge(pf_partial(df, element, by, version), by, salt_buckets=salt_buckets)
