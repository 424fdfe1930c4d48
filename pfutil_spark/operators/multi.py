"""Multi-element sketching: build HLL sketches for SEVERAL element
columns in ONE scan (one Arrow transfer, one shuffle) — the shape of the
north-star report "distinct repos, paths, commits and content hashes per
language and globally" (BASELINE.json) where the input scan utterly
dominates at 10^12 rows and must not be repeated per metric.

Output is long-form: (by..., metric, sketch) — one row per (group x
element column); the metric column keeps the single-shuffle groupBy
co-partitioned for all metrics at once.

The report's global rows come from stage P too: each task also emits
the register max over its groups per metric (register max is
associative, so merging those per-task globals equals merging the
per-group sketches), keyed apart from real groups by an internal
``GLOBAL_COL`` discriminator. Every answer is then stage P, one
shuffle, stage M.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from pfutil_spark.kernel import hll
from pfutil_spark.operators.hll_agg import (
    SKETCH_COL,
    _group_codes,
    _binary_array,
    _encoded_array,
    _merge_count_stage,
    _out_schema,
    _tiled_binary_array,
    _varbin_buffers,
    pf_count_col,
    pf_merge,
)

# internal key column of pf_partial_multi(global_rows=True): true on the
# per-task global partials, false on group partials — so a real group
# whose by keys are NULL never merges into the global row
GLOBAL_COL = "__pf_global"


def pf_partial_multi(
    df: DataFrame,
    elements: Sequence[str],
    by: Sequence[str] = (),
    version: int = 4,
    max_groups_in_flight: int = 4096,
    direct_emit_groups: int = 4096,
    global_rows: bool = False,
) -> DataFrame:
    """Stage P over several element columns at once: one pass over the
    Arrow batches updates one register vector per (group, element col);
    emits (by..., metric, sketch).

    High-cardinality ``by`` (>= ``direct_emit_groups`` keys per batch):
    same vectorized sparse direct-emit as :func:`hll_agg.pf_partial` —
    one :func:`kernel.hll.encode_groups` call per element column, no
    (groups x 16KB x elements) matrices, no per-group Python. Groups
    whose elements are all NULL for a column still emit the canonical
    empty sketch (matching the accumulation path's semantics).

    ``global_rows=True`` (needs ``by``) emits (by..., GLOBAL_COL, metric,
    sketch): group rows carry GLOBAL_COL false, and each task that saw
    any row adds one row per metric with every ``by`` key NULL and
    GLOBAL_COL true, holding the register max over all its groups — on
    both the accumulation and the direct-emit path."""
    by = list(by)
    elements = list(elements)
    if global_rows and not by:
        raise ValueError("global_rows needs at least one by column")
    base = _out_schema(df, by)
    out_keys = base.fields[:-1]
    if global_rows:
        # global rows carry NULL keys
        out_keys = [StructField(f.name, f.dataType, True) for f in out_keys]
        out_keys.append(StructField(GLOBAL_COL, BooleanType(), False))
    schema = StructType(
        out_keys + [StructField("metric", StringType(), False), base.fields[-1]]
    )
    cast_cols = []
    for e in elements:
        t = df.schema[e].dataType.typeName()
        cast_cols.append(
            F.col(e) if t in ("string", "binary") else F.col(e).cast("string").alias(e)
        )
    pruned = df.select(*by, *cast_cols)

    fn = _partial_multi_fn(
        by, elements, version, max_groups_in_flight, direct_emit_groups, global_rows
    )

    # same python-native parquet fast path as pf_partial (see
    # operators/pyscan.py): worker-side columnar read, identical kernel
    from pfutil_spark.operators import pyscan

    ps = pyscan.try_parquet_pyscan(pruned, by + elements)
    if ps is not None:

        def pyscan_fn(id_batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            yield from fn(pyscan.read_spec_batches(ps, id_batches))

        return pyscan.task_frame(df.sparkSession, ps).mapInArrow(pyscan_fn, schema)
    return pruned.mapInArrow(fn, schema)


def _partial_multi_fn(
    by: list[str],
    elements: list[str],
    version: int,
    max_groups_in_flight: int,
    direct_emit_groups: int,
    global_rows: bool,
):
    """The ``mapInArrow`` body of :func:`pf_partial_multi`: Arrow batches
    with columns (by..., elements...) in, (by..., [GLOBAL_COL,] metric,
    sketch) batches out."""
    out_names = by + ([GLOBAL_COL] if global_rows else []) + ["metric", SKETCH_COL]

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc

        acc: dict[tuple, np.ndarray] = {}  # (key..., metric) -> registers
        glob: dict[str, np.ndarray] = {}  # metric -> task-global registers
        key_fields: list = []
        seen = False

        def group_flags(n: int) -> list:
            return [pa.array(np.zeros(n, dtype=bool))] if global_rows else []

        def flush() -> "pa.RecordBatch":
            keys = list(acc.keys())
            if global_rows:
                for k, regs in acc.items():
                    g = glob.get(k[-1])
                    if g is None:
                        glob[k[-1]] = regs.copy()
                    else:
                        np.maximum(g, regs, out=g)
            arrays = [
                pa.array([k[j] for k in keys], type=key_fields[j].type)
                for j in range(len(by))
            ]
            arrays += group_flags(len(keys))
            arrays.append(pa.array([k[-1] for k in keys], type=pa.string()))
            arrays.append(_encoded_array(list(acc.values())))
            return pa.record_batch(arrays, names=out_names)

        for batch in batches:
            if not seen:
                key_fields = [batch.schema.field(c) for c in by]
                seen = True
            if len(batch) == 0:
                continue
            if by:
                inverse, first_idx = _group_codes(batch, by)
                n_groups = len(first_idx)
                if n_groups >= direct_emit_groups:
                    take = pa.array(first_idx)
                    key_arrays = [batch.column(c).take(take) for c in by]
                    for e in elements:
                        elem = batch.column(e)
                        inv = inverse
                        if elem.null_count:
                            mask = pc.is_valid(elem)
                            np_mask = mask.to_numpy(zero_copy_only=False)
                            elem = elem.filter(mask)
                            inv = inverse[np_mask]
                        empty_bytes = hll.encode(hll.empty_registers())
                        if global_rows and e not in glob:
                            glob[e] = hll.empty_registers()
                        if len(elem):
                            data8, offs8 = _varbin_buffers(elem)
                            idx, patlen = hll.hash_and_patlen_flat(data8, offs8, version)
                            if global_rows:
                                hll.update_registers(glob[e], idx, patlen)
                            present = np.zeros(n_groups, dtype=bool)
                            present[inv] = True
                            if present.all():
                                sk_arr = _binary_array(
                                    *hll.encode_groups(inv, idx, patlen, n_groups)
                                )
                            else:
                                # all-NULL groups get the canonical empty
                                # sketch via one tiled buffer + a
                                # permutation take — no per-group Python
                                # (r3 VERDICT item 2; was an O(n_groups)
                                # bytes()-slice list comprehension)
                                remap = np.cumsum(present) - 1
                                n_present = int(present.sum())
                                present_arr = _binary_array(
                                    *hll.encode_groups(remap[inv], idx, patlen, n_present)
                                )
                                concat = pa.concat_arrays(
                                    [
                                        present_arr,
                                        _tiled_binary_array(
                                            empty_bytes, n_groups - n_present
                                        ),
                                    ]
                                )
                                perm = np.empty(n_groups, dtype=np.int64)
                                perm[present] = np.arange(n_present)
                                perm[~present] = n_present + np.arange(
                                    n_groups - n_present
                                )
                                sk_arr = concat.take(pa.array(perm))
                        else:
                            sk_arr = _tiled_binary_array(empty_bytes, n_groups)
                        yield pa.record_batch(
                            key_arrays
                            + group_flags(n_groups)
                            + [pa.array([e] * n_groups, type=pa.string()), sk_arr],
                            names=out_names,
                        )
                    continue
                take = pa.array(first_idx)
                key_cols = [batch.column(c).take(take).to_pylist() for c in by]
                group_keys = [
                    tuple(col[i] for col in key_cols) for i in range(n_groups)
                ]
            else:
                inverse = np.zeros(len(batch), dtype=np.int64)
                n_groups = 1
                group_keys = [()]
            for e in elements:
                elem = batch.column(e)
                inv = inverse
                if elem.null_count:
                    mask = pc.is_valid(elem)
                    np_mask = mask.to_numpy(zero_copy_only=False)
                    elem = elem.filter(mask)
                    inv = inverse[np_mask]
                if len(elem) == 0:
                    # EVERY value null for this column: the groups still
                    # get their (empty) accumulator — matching both the
                    # partial-null case (zero local rows below) and the
                    # direct-emit path, so the output ROW SET never
                    # depends on which path / batch split ran
                    for g in range(n_groups):
                        k = group_keys[g] + (e,)
                        if k not in acc:
                            acc[k] = hll.empty_registers()
                    continue
                data, offsets = _varbin_buffers(elem)
                idx, patlen = hll.hash_and_patlen_flat(data, offsets, version)
                local = np.zeros((n_groups, hll.HLL_REGISTERS), dtype=np.uint8)
                hll.update_registers_grouped(local, inv, idx, patlen)
                for g in range(n_groups):
                    k = group_keys[g] + (e,)
                    prev = acc.get(k)
                    if prev is None:
                        acc[k] = local[g]
                    else:
                        np.maximum(prev, local[g], out=prev)
            if len(acc) > max_groups_in_flight:
                yield flush()
                acc = {}
        if acc or not by:
            if not acc:
                for e in elements:
                    acc[(e,)] = hll.empty_registers()
            yield flush()
        if glob:
            n = len(glob)
            yield pa.record_batch(
                [pa.nulls(n, type=f.type) for f in key_fields]
                + [
                    pa.array(np.ones(n, dtype=bool)),
                    pa.array(list(glob), type=pa.string()),
                    _encoded_array(list(glob.values())),
                ],
                names=out_names,
            )

    return fn


def pf_count_distinct_multi(
    df: DataFrame,
    elements: Sequence[str],
    by: Sequence[str] = (),
    version: int = 4,
    salt_buckets: int | None = None,
) -> DataFrame:
    """(by..., metric, estimate) for every element column — one scan."""
    by = list(by)
    partials = pf_partial_multi(df, elements, by, version)
    merged = pf_merge(partials, by + ["metric"], salt_buckets=salt_buckets)
    return merged.select(
        *by, "metric", pf_count_col(SKETCH_COL, version).alias("estimate")
    )


def sourcecode_distinct_report(
    df: DataFrame,
    by: str = "lang",
    elements: Sequence[str] = ("repo", "path", "commit", "content_sha"),
    version: int = 4,
) -> DataFrame:
    """The north-star report: distinct repos / paths / commits / content
    hashes per language AND globally (by = NULL), all from ONE scan of
    the input, in one plan shape: stage P (``pf_partial_multi`` with
    ``global_rows``: per-task group partials plus per-task global
    partials), one Exchange on (by, GLOBAL_COL, metric), and one fused
    merge+PFCOUNT stage. No second shuffle and no checkpoint: the global
    rows are register maxes of the same partials (merge associativity).
    GLOBAL_COL keeps a real NULL-``by`` group apart from the global row,
    so both appear in the output. Pre-read input: 2 jobs, 3 stages (one
    of them the skipped re-listing of stage P in the result job)."""
    partials = pf_partial_multi(df, elements, (by,), version, global_rows=True)
    merged = _merge_count_stage(
        partials, [by, GLOBAL_COL, "metric"], SKETCH_COL, version, "estimate"
    )
    return merged.select(by, "metric", "estimate")
