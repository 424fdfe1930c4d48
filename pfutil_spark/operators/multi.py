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
from pyspark.sql.types import BooleanType, LongType, StringType, StructField, StructType

from pfutil_spark.kernel import hll
from pfutil_spark.operators.hll_agg import (
    LINEAGE_COLS,
    SKETCH_COL,
    _binary_array,
    _check_reserved,
    _encoded_array,
    _group_codes,
    _merge_stage,
    _out_schema,
    _salted_premerge,
    _tiled_binary_array,
    _varbin_buffers,
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
    emits (by..., metric, sketch). :func:`hll_agg.pf_partial` is the
    one-element case, so this is the only HLL stage-P body.

    Arrow-native (``mapInArrow``): element bytes are hashed straight out
    of the Arrow value/offset buffers, with no per-row Python. Groups
    accumulate ACROSS the batches of a task (flushing when more than
    ``max_groups_in_flight`` (group, metric) vectors of 16KB are held),
    so a group has at most one partial per task, not one per batch.

    High-cardinality ``by`` (>= ``direct_emit_groups`` keys per batch,
    the near-unique-key regime where accumulating buys nothing): each
    element column goes through one :func:`kernel.hll.encode_groups`
    call, with no (groups x 16KB x elements) matrices and no per-group
    Python. Both paths emit canonical bytes.

    NULL elements are dropped per column. A group whose elements are all
    NULL for a column still emits the canonical empty sketch on either
    path, so it reaches the answer with estimate 0, as in SQL's
    ``COUNT(DISTINCT e) ... GROUP BY``.

    ``global_rows=True`` (needs ``by``) emits (by..., GLOBAL_COL, metric,
    sketch): group rows carry GLOBAL_COL false, and each task that saw
    any row adds one row per metric with every ``by`` key NULL and
    GLOBAL_COL true, holding the register max over all its groups — on
    both the accumulation and the direct-emit path."""
    return _partial_multi(
        df, elements, by, version, max_groups_in_flight, direct_emit_groups, global_rows
    )


def _partial_multi(
    df: DataFrame,
    elements: Sequence[str],
    by: Sequence[str],
    version: int,
    max_groups_in_flight: int,
    direct_emit_groups: int,
    global_rows: bool = False,
    lineage: bool = False,
    metric_col: str = "metric",
) -> DataFrame:
    """:func:`pf_partial_multi`, plus what :func:`hll_agg.pf_partial`
    needs: ``lineage=True`` appends per-partial provenance columns
    (``_partition_id``, and ``_rows_seen``: the partial's non-NULL
    element rows) for checkpoint audit tables, and ``metric_col`` names
    the metric column, so that it cannot collide with a ``by`` column."""
    by = list(by)
    elements = list(elements)
    if global_rows and not by:
        raise ValueError("global_rows needs at least one by column")
    _check_reserved(
        by,
        [metric_col, SKETCH_COL]
        + ([GLOBAL_COL] if global_rows else [])
        + (list(LINEAGE_COLS) if lineage else []),
    )
    base = _out_schema(df, by)
    out_keys = base.fields[:-1]
    if global_rows:
        # global rows carry NULL keys
        out_keys = [StructField(f.name, f.dataType, True) for f in out_keys]
        out_keys.append(StructField(GLOBAL_COL, BooleanType(), False))
    lineage_fields = [StructField(c, LongType(), False) for c in LINEAGE_COLS]
    schema = StructType(
        out_keys
        + [StructField(metric_col, StringType(), False), base.fields[-1]]
        + (lineage_fields if lineage else [])
    )
    # non-string/binary elements are PFADDed by their canonical string
    # form (like redis-cli would send)
    cast_cols = []
    for e in elements:
        t = df.schema[e].dataType.typeName()
        cast_cols.append(
            F.col(e) if t in ("string", "binary") else F.col(e).cast("string").alias(e)
        )
    pruned = df.select(*by, *cast_cols)

    fn = _partial_multi_fn(
        by, elements, version, max_groups_in_flight, direct_emit_groups, global_rows,
        lineage, metric_col,
    )

    # python-native parquet fast path (operators/pyscan.py): worker-side
    # columnar read feeding the same body. Lineage needs the JVM scan's
    # real partition ids, so it always reads through the JVM.
    if not lineage:
        from pfutil_spark.operators import pyscan

        ps = pyscan.try_parquet_pyscan(pruned, by + elements)
        if ps is not None:

            def pyscan_fn(id_batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
                yield from fn(pyscan.read_spec_batches(ps, id_batches))

            return pyscan.task_frame(df.sparkSession, ps).mapInArrow(pyscan_fn, schema)
    return pruned.mapInArrow(fn, schema)


def _group_sketches(inv: np.ndarray, idx: np.ndarray, patlen: np.ndarray, n_groups: int):
    """Canonical sketch of each of ``n_groups`` groups from the register
    updates ``(idx, patlen)`` of group ``inv``, as one Arrow array. Groups
    with no update (all their elements NULL) get the canonical empty
    sketch through one tiled buffer and a permutation take — no
    per-group Python."""
    import pyarrow as pa

    present = np.zeros(n_groups, dtype=bool)
    present[inv] = True
    n_present = int(present.sum())
    arrays = []
    if n_present:
        codes = inv if n_present == n_groups else (np.cumsum(present) - 1)[inv]
        data, offs = hll.encode_groups(codes, idx, patlen, n_present)
        if offs[-1] > (1 << 31) - 1:  # pathological: ~all dense
            raise ValueError(
                "stage-P direct-emit batch exceeds 2GB of sketch bytes; lower "
                "spark.sql.execution.arrow.maxRecordsPerBatch"
            )
        if n_present == n_groups:
            return _binary_array(data, offs)
        arrays.append(_binary_array(data, offs))
    arrays.append(
        _tiled_binary_array(hll.encode(hll.empty_registers()), n_groups - n_present)
    )
    perm = np.cumsum(present) - 1
    perm[~present] = n_present + np.arange(n_groups - n_present)
    return pa.concat_arrays(arrays).take(pa.array(perm))


def _partial_multi_fn(
    by: list[str],
    elements: list[str],
    version: int,
    max_groups_in_flight: int,
    direct_emit_groups: int,
    global_rows: bool,
    lineage: bool = False,
    metric_col: str = "metric",
):
    """The ``mapInArrow`` body of :func:`pf_partial_multi`: Arrow batches
    with columns (by..., elements...) in, (by..., [GLOBAL_COL,] metric,
    sketch[, LINEAGE_COLS...]) batches out."""
    out_names = (
        by
        + ([GLOBAL_COL] if global_rows else [])
        + [metric_col, SKETCH_COL]
        + (list(LINEAGE_COLS) if lineage else [])
    )

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        acc: dict[tuple, np.ndarray] = {}  # (key..., metric) -> registers
        rows_seen: dict[tuple, int] = {}  # (key..., metric) -> element rows
        glob: dict[str, np.ndarray] = {}  # metric -> task-global registers
        key_fields: list = []
        seen = False
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1

        def group_flags(n: int) -> list:
            return [pa.array(np.zeros(n, dtype=bool))] if global_rows else []

        def lineage_arrays(counts) -> list:
            if not lineage:
                return []
            counts = np.asarray(counts, dtype=np.int64)
            return [pa.array(np.full(len(counts), pid, dtype=np.int64)), pa.array(counts)]

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
            arrays += lineage_arrays([rows_seen[k] for k in keys])
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
                take = pa.array(first_idx)
                direct = n_groups >= direct_emit_groups
                if direct:
                    key_arrays = [batch.column(c).take(take) for c in by]
                else:
                    key_cols = [batch.column(c).take(take).to_pylist() for c in by]
                    group_keys = [
                        tuple(col[i] for col in key_cols) for i in range(n_groups)
                    ]
            else:
                inverse = np.zeros(len(batch), dtype=np.int64)
                n_groups = 1
                direct = False
                group_keys = [()]
            for e in elements:
                elem = batch.column(e)
                inv = inverse
                if elem.null_count:
                    mask = pc.is_valid(elem)
                    elem = elem.filter(mask)
                    inv = inverse[mask.to_numpy(zero_copy_only=False)]
                idx, patlen = hll.hash_and_patlen_flat(*_varbin_buffers(elem), version)
                if direct:
                    if global_rows:
                        regs = glob.setdefault(e, hll.empty_registers())
                        hll.update_registers(regs, idx, patlen)
                    yield pa.record_batch(
                        key_arrays
                        + group_flags(n_groups)
                        + [
                            pa.repeat(pa.scalar(e, pa.string()), n_groups),
                            _group_sketches(inv, idx, patlen, n_groups),
                        ]
                        + lineage_arrays(np.bincount(inv, minlength=n_groups)),
                        names=out_names,
                    )
                    continue
                # a group with no non-NULL row here still gets its
                # (empty) accumulator: the output ROW SET never depends
                # on which path / batch split ran
                local = np.zeros((n_groups, hll.HLL_REGISTERS), dtype=np.uint8)
                hll.update_registers_grouped(local, inv, idx, patlen)
                counts = np.bincount(inv, minlength=n_groups)
                for g in range(n_groups):
                    k = group_keys[g] + (e,)
                    prev = acc.get(k)
                    if prev is None:
                        acc[k] = local[g]
                        rows_seen[k] = int(counts[g])
                    else:
                        np.maximum(prev, local[g], out=prev)
                        rows_seen[k] += int(counts[g])
            if len(acc) > max_groups_in_flight:
                yield flush()
                acc = {}
                rows_seen = {}
        if acc or not by:
            if not acc:
                for e in elements:
                    acc[(e,)] = hll.empty_registers()
                    rows_seen[(e,)] = 0
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
    """(by..., metric, estimate) for every element column — one scan, one
    shuffle, and one fused merge+PFCOUNT stage."""
    keys = list(by) + ["metric"]
    partials = pf_partial_multi(df, elements, by, version)
    if salt_buckets and salt_buckets > 1:
        partials = _salted_premerge(partials, keys, SKETCH_COL, salt_buckets)
    return _merge_stage(partials, keys, SKETCH_COL, count_version=version)


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
    merged = _merge_stage(
        partials, [by, GLOBAL_COL, "metric"], SKETCH_COL, count_version=version
    )
    return merged.select(by, "metric", "estimate")
