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
extension sketches (``sketch_agg``): one exchange helper and one 2GB
guard for both families.

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

# merge-stage strategy knobs: a work group is HEAVY (matrix max-reduceat)
# when it has any dense partial or at least this many sparse items;
# heavy chunks cap their register-matrix allocation at this many bytes.
# The budget is deliberately SMALL (64 matrix rows): glibc only
# recycles freed mmap'd blocks up to ~32MB back into the arena, and
# first-touch page faults were measured at ~0.12GB/s (NOTES.md) —
# bounded chunks keep every merge task's working set in warm, reused
# memory
_HEAVY_ITEMS = 4096
_MATRIX_BUDGET = 1 << 20


def _segment_positions(sorted_codes: np.ndarray) -> np.ndarray:
    from pfutil_spark.kernel.sketch_common import segment_ranks

    return segment_ranks(sorted_codes)


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
    merge_batch,
) -> DataFrame:
    """The merge stage of every sketch family: hash-repartition
    ``(keys..., cols...)`` on ``keys`` — the only Exchange, with no
    per-partition Sort (unlike applyInPandas) and a partition count AQE
    chooses (explicit counts measured within noise of its choice,
    NOTES.md) — then combine each partition's Arrow batches into one
    and yield ``merge_batch(batch)``. Sketch bytes cross Arrow with int32
    offsets, so a partition over 2GB raises with the fix."""
    pruned = df.select(*keys, *cols)
    target = pruned.repartition(*[F.col(c) for c in keys]) if keys else pruned.repartition(1)

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
                "spark.sql.shuffle.partitions"
            ) from e
        yield merge_batch(batch)

    return target.mapInArrow(fn, schema)


def _merge_stage(
    df: DataFrame,
    keys: list[str],
    sketch_col: str,
    count_version: int | None = None,
    estimate_col: str = "estimate",
) -> DataFrame:
    """The HLL merge stage (:func:`_arrow_merge_stage`), merging ALL
    groups of a partition in one vectorized pass:

    * groups with a single partial whose bytes already carry the
      canonical invalid-cache header PASS THROUGH untouched (an Arrow
      ``take`` — zero decode/encode; in the near-unique-key regime that
      is ~every group, which is what makes 10^6-group merges cheap)
    * remaining groups batch-decode (one shift/mask ``unpack_dense`` for
      the dense ones), register-max via ``np.maximum.reduceat`` over the
      group-sorted stack, and re-encode canonically.

    Correct for any interleaving because register-max is associative /
    commutative / idempotent (HllByteBuffer.java:341-398 semantics).

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

    def merge_batch(batch: "pa.RecordBatch") -> "pa.RecordBatch":
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

    return _arrow_merge_stage(df, keys, [sketch_col], StructType(out_fields), merge_batch)


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
    """Merge ALL groups of one Arrow batch (a merge task's partition) in a
    single vectorized pass — module-level so tests can drive it directly
    and assert the no-per-group-Python property by monkeypatching the
    scalar opcode walkers (which must never be called here)."""
    import pyarrow as pa

    n = batch.num_rows
    sk = batch.column(sketch_col)
    if keys:
        inverse, first_idx = _group_codes(batch, keys)
        n_groups = len(first_idx)
    else:
        inverse = np.zeros(n, dtype=np.int64)
        first_idx = np.array([0], dtype=np.int64)
        n_groups = 1
    counts = np.bincount(inverse, minlength=n_groups)
    order = np.argsort(inverse, kind="stable")
    gstarts = np.concatenate(([0], np.cumsum(counts)))[:-1]

    data, offsets = _varbin_buffers(sk)
    lens = np.diff(offsets)
    # clamp so a (corrupt) short trailing buffer can't index past the
    # end of the values buffer — such rows fail `lens >= 18` and fall
    # through to the decode path, which raises the proper error
    if len(data) < 16:
        canon = np.zeros(n, dtype=bool)
    else:
        off0 = np.minimum(offsets[:-1], len(data) - 16)
        canon = (
            (lens >= 18)
            & (data[off0] == hll.MAGIC[0])
            & (data[off0 + 1] == hll.MAGIC[1])
            & (data[off0 + 2] == hll.MAGIC[2])
            & (data[off0 + 3] == hll.MAGIC[3])
            & (data[off0 + 15] == 0x80)
        )
        # bytes 5-14 must be zero and byte 15 exactly 0x80 — precisely the
        # _header(enc, None) bytes a stage-P partial carries. A third-party
        # single with stale cache bytes / extra flag bits re-routes to the
        # work path (canonical re-encode), so pf_merge output bytes can't
        # depend on whether that sketch shared a group with another partial
        for j in range(5, 15):
            canon &= data[off0 + j] == 0
    single_row = order[gstarts]  # the group's row when counts == 1
    passthrough = (counts == 1) & canon[single_row]
    # header probe is necessary but not sufficient — and all of the
    # deeper checks are VECTORIZED (no per-group Python, the r3 fix):
    # * sparse singles: flat opcode scan must cover exactly 16384
    #   registers (corrupt bytes re-route to the decode path → raise)
    # * dense singles: exact length, AND a sparse-eligibility probe —
    #   a dense-encoded but sparse-ELIGIBLE sketch (encode(
    #   force_dense=True) or a third-party writer) is re-routed to the
    #   work path so pf_merge output bytes never depend on which
    #   partition a partial landed in (canonical re-encode either way)
    cand = np.flatnonzero(passthrough)
    if len(cand):
        rows_c = single_row[cand]
        enc_c = data[offsets[rows_c] + 4]  # lens >= 18 via canon probe
        ok = np.zeros(len(cand), dtype=bool)
        d = np.flatnonzero(
            (enc_c == hll.ENC_DENSE) & (lens[rows_c] == hll.HLL_DENSE_SIZE)
        )
        if len(d):
            regs_d = hll.unpack_dense(
                hll.gather_dense_payloads(data, offsets, rows_c[d])
            )
            nnz_d = (regs_d != 0).sum(axis=1)
            sparse_eligible = (regs_d.max(axis=1) <= 32) & (
                nnz_d * 3 + 4 < hll.HLL_DENSE_SIZE - hll.HEADER_LEN
            )
            ok[d[~sparse_eligible]] = True  # canonical dense: pass
        sp = np.flatnonzero(enc_c == hll.ENC_SPARSE)
        if len(sp):
            rs = rows_c[sp]
            # pass through only valid AND canonical sparse bytes: a valid
            # but non-canonical encoding (third-party writer) re-routes to
            # the work path and re-encodes canonically, matching what the
            # same sketch produces when its group has >1 partial — the
            # dense probe above enforces the same for dense singles
            _, canon_sp = hll.sparse_valid_canonical_flat(
                data, offsets[rs] + hll.HEADER_LEN, offsets[rs + 1]
            )
            ok[sp] = canon_sp
        passthrough[cand[~ok]] = False

    pass_ids = np.flatnonzero(passthrough)
    work_ids = np.flatnonzero(~passthrough)
    arrays = []
    if len(pass_ids):
        arrays.append(sk.take(pa.array(single_row[pass_ids])))
    if len(work_ids):
        work_row_mask = ~passthrough[inverse[order]]
        rows = order[work_row_mask]  # group-sorted rows of work groups
        # Two complementary vectorized merge strategies, chosen PER
        # GROUP (zero per-group Python either way):
        # * LIGHT groups (all-sparse, few items): parse partials to
        #   (group, reg, val) items with the flat opcode scanner and
        #   fold through encode_groups — the near-unique long tail,
        #   where materializing 16KB register rows would be a 1000x
        #   memory blowup.
        # * HEAVY groups (any dense partial, or >= _HEAVY_ITEMS sparse
        #   items): stack their partials as a (rows, 16384) register
        #   matrix (memory-bounded chunks) and np.maximum.reduceat —
        #   dense merges are memory-bandwidth-bound there, while
        #   item-ifying them costs a multi-million-item sort (measured
        #   4x slower than a per-group decode + register-max fold on a
        #   68-group x 64-partial dense merge before this split).
        work_code = np.repeat(
            np.arange(len(work_ids), dtype=np.int64), counts[work_ids]
        )  # dense code per work ROW, group-sorted like `rows`
        wdata, woffs = _varbin_buffers(sk.take(pa.array(rows)))
        enc_w = hll.validate_headers_flat(wdata, woffs)
        dense_rows = np.flatnonzero(enc_w == hll.ENC_DENSE)
        sparse_rows = np.flatnonzero(enc_w == hll.ENC_SPARSE)
        iseg, rr_s, vv_s = hll.decode_sparse_pairs_flat(
            wdata,
            woffs[:-1][sparse_rows] + hll.HEADER_LEN,
            woffs[1:][sparse_rows],
        )
        n_wg = len(work_ids)
        item_row = sparse_rows[iseg]  # work-row index per item, sorted
        item_g = work_code[item_row]
        has_dense = np.zeros(n_wg, dtype=bool)
        has_dense[work_code[dense_rows]] = True
        heavy = has_dense | (
            np.bincount(item_g, minlength=n_wg) >= _HEAVY_ITEMS
        )
        light_sel = ~heavy[item_g]
        gg_parts = [item_g[light_sel]]
        rr_parts = [rr_s[light_sel]]
        vv_parts = [vv_s[light_sel]]
        hd_code_parts: list = []  # heavy groups whose MERGE is dense
        hd_pay_parts: list = []   # their packed 12288-byte payloads
        if heavy.any():
            R = hll.HLL_REGISTERS
            dense_payload = hll.HLL_DENSE_SIZE - hll.HEADER_LEN
            row_heavy = heavy[work_code]
            hrows = np.flatnonzero(row_heavy)  # work rows of heavy groups
            # assign heavy GROUPS to chunks by cumulative row offset so
            # one chunk's matrix stays ~_MATRIX_BUDGET bytes (+ one
            # group's fan-in; a group never splits across chunks)
            hg_codes = np.flatnonzero(heavy)
            hg_rows = np.bincount(work_code[hrows], minlength=n_wg)[hg_codes]
            cum = np.cumsum(hg_rows) - hg_rows
            rows_per_chunk = max(1, _MATRIX_BUDGET // (R * 1))
            chunk_of_group = np.full(n_wg, -1, dtype=np.int64)
            chunk_of_group[hg_codes] = cum // rows_per_chunk
            chunk_of_row = chunk_of_group[work_code]  # -1 for light rows
            slot_of_row = np.full(len(rows), -1, dtype=np.int64)
            slot_of_row[hrows] = _segment_positions(chunk_of_row[hrows])
            hitem_sel = np.flatnonzero(~light_sel)
            item_chunk = chunk_of_row[item_row[hitem_sel]]
            n_chunks = int(chunk_of_group[hg_codes].max()) + 1
            for c in range(n_chunks):  # loop over CHUNKS, not groups
                crows = np.flatnonzero(chunk_of_row == c)
                mat = np.zeros((len(crows), R), dtype=np.uint8)
                cdense = crows[enc_w[crows] == hll.ENC_DENSE]
                if len(cdense):
                    mat[slot_of_row[cdense]] = hll.unpack_dense(
                        hll.gather_dense_payloads(wdata, woffs, cdense)
                    )
                ci = hitem_sel[item_chunk == c]
                if len(ci):
                    mat[slot_of_row[item_row[ci]], rr_s[ci]] = vv_s[ci]
                cg = work_code[crows]  # nondecreasing
                gstart = np.flatnonzero(np.diff(cg, prepend=-1))
                merged = np.maximum.reduceat(mat, gstart, axis=0)
                # merged groups that would encode DENSE skip
                # item-ification entirely: pack the matrix rows straight
                # to wire payloads (in the dense-partial regime that is
                # ~every heavy group — the multi-million-item sort this
                # avoids was this merge's cost cliff there)
                nnz_m = np.count_nonzero(merged, axis=1)
                sp_ok = (merged.max(axis=1) <= 32) & (
                    nnz_m * 3 + 4 < dense_payload
                )
                if (~sp_ok).any():
                    hd_code_parts.append(cg[gstart][~sp_ok])
                    hd_pay_parts.append(hll.pack_dense(merged[~sp_ok]))
                if sp_ok.any():
                    rnz, cnz = np.nonzero(merged[sp_ok])
                    gg_parts.append(cg[gstart][sp_ok][rnz])
                    rr_parts.append(cnz.astype(np.int64))
                    vv_parts.append(merged[sp_ok][rnz, cnz])
        gg = np.concatenate(gg_parts)
        rr = np.concatenate(rr_parts)
        vv = np.concatenate(vv_parts)
        hd_codes = (
            np.concatenate(hd_code_parts)  # ascending (chunks iterate codes)
            if hd_code_parts
            else np.zeros(0, dtype=np.int64)
        )
        # groups with no nonzero register anywhere: canonical empty
        present = np.zeros(len(work_ids), dtype=bool)
        present[gg] = True
        n_present = int(present.sum())
        if n_present:
            remap = np.cumsum(present) - 1  # identity when all present
            mdata, moffs = hll.encode_groups(
                remap[gg] if n_present < len(work_ids) else gg,
                rr,
                vv,
                n_present,
            )
            from pfutil_spark.kernel.sketch_common import check_arrow_binary_size

            check_arrow_binary_size(int(moffs[-1]))
            arrays.append(_binary_array(mdata, moffs))
        hd_mask = np.zeros(len(work_ids), dtype=bool)
        hd_mask[hd_codes] = True
        n_hd = len(hd_codes)
        n_empty = len(work_ids) - n_present - n_hd
        if n_empty:
            # canonical empty sketches for all-empty groups, built as
            # one tiled buffer (no per-group list)
            arrays.append(
                _tiled_binary_array(hll.encode(hll.empty_registers()), n_empty)
            )
        if n_hd:
            # dense-merged heavy groups: canonical dense wire rows built
            # in one uniform buffer (header == _header(ENC_DENSE, None))
            from pfutil_spark.kernel.sketch_common import check_arrow_binary_size

            check_arrow_binary_size(n_hd * hll.HLL_DENSE_SIZE)
            out2d = np.zeros((n_hd, hll.HLL_DENSE_SIZE), dtype=np.uint8)
            out2d[:, 0:4] = np.frombuffer(hll.MAGIC, dtype=np.uint8)
            out2d[:, 4] = hll.ENC_DENSE
            out2d[:, 15] = 0x80  # invalid-cache flag
            out2d[:, hll.HEADER_LEN :] = np.vstack(hd_pay_parts)
            hoffs = np.arange(n_hd + 1, dtype=np.int64) * hll.HLL_DENSE_SIZE
            arrays.append(_binary_array(out2d.reshape(-1), hoffs))
    concat = pa.concat_arrays([a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a for a in arrays])
    perm = np.empty(n_groups, dtype=np.int64)
    perm[pass_ids] = np.arange(len(pass_ids))
    if len(work_ids):
        # work section order: item-encoded groups first (encode_groups
        # output order), then the all-empty groups, then dense-merged
        wperm = np.empty(len(work_ids), dtype=np.int64)
        wperm[present] = np.arange(n_present)
        empty_mask = ~present & ~hd_mask
        wperm[empty_mask] = n_present + np.arange(n_empty)
        wperm[hd_mask] = n_present + n_empty + np.arange(n_hd)
        perm[work_ids] = len(pass_ids) + wperm
    sketch_out = concat.take(pa.array(perm))
    take = pa.array(first_idx)
    key_arrays = [batch.column(c).take(take) for c in keys]
    return pa.record_batch(key_arrays + [sketch_out], names=keys + [SKETCH_COL])


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
