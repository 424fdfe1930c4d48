"""Generic two-phase distributed aggregation for the extension sketches
(count-min, Bloom, KLL, t-digest, KMV, SpaceSaving) — the plan shape of
the HLL operator, parameterized by a small kernel spec:

    stage P  mapInArrow(partial)         per-task fold, one binary
                                         column per metric
    stage S  repartition(keys)           the only shuffle
    stage M  mapInArrow(merge)           every metric column merged in
                                         the same task

``sketch_multi_partial`` / ``sketch_multi_merge`` hold the only stage-P
body and merge engine; the single-sketch calls (``sketch_agg``,
``sketch_partial``, ``sketch_merge``) are their one-metric case. Stage M
runs on ``hll_agg._arrow_merge_stage``, the exchange both sketch families
share, and merges each metric column with ``hll_agg.merge_batch``, the
one merge body of every family: a spec supplies its two flat hooks
(``valid_flat``, the pass-through gate, and ``merge_groups``), as the
HLL kernel does.

Transfer-frugal by design: hash-keyed sketches (CMS, Bloom, KMV)
consume Spark's ``xxhash64(col)`` (8 bytes/row), value sketches (KLL,
t-digest) the raw double column. Over a small local parquet input stage
P reads the columns on the Python workers (``operators/pyscan.py``) and
computes the same ``xxhash64`` there (``kernel/xxhash64.py``, bit for
bit); otherwise the JVM scan computes it in codegen and sends it over
Arrow.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, LongType, StructField, StructType

from pfutil_spark.kernel import bloom, cms, kll, kmv, tdigest

SKETCH_COL = "sketch"


@dataclass
class KernelSpec:
    """zero() -> state; update(state, values) -> state (may mutate);
    merge(list[state]) -> state; encode(state) -> bytes; decode(bytes) -> state.

    Required vectorized hooks (all flat-buffer, zero per-group Python —
    the machinery that lets per-key sketches survive 10^6+ groups):

    * ``fold_groups(values, inverse, n_groups) -> (data, offsets)`` —
      grouped partial fold straight from element values (int64 hashes or
      float64), used by the high-cardinality direct-emit partial path.
    * ``merge_groups(data, offsets, group_codes, n_groups) -> (data,
      offsets)`` — grouped merge of encoded sketches (``group_codes``
      non-decreasing, all codes present; output in code order) — the
      merge of every group the pass-through gate does not take.
    * ``valid_flat(data, offsets) -> bool[n]`` — non-raising per-buffer
      validity, the single-partial pass-through gate of the merge stage
      (``encode(decode(b)) == b`` holds for every valid buffer of these
      formats, so validity alone implies canonical bytes).
    * ``fold_bytes_bound(n_groups, n_rows) -> int`` — upper bound on the
      bytes a direct-emit fold would produce for a batch. Direct emit is
      only taken when this stays under ``DIRECT_EMIT_BYTES_CAP``: a
      sketch whose size is independent of its row count (Bloom's m/8
      bit array) would otherwise blow up as n_groups x fixed-size where
      the accumulation path was fine.

    ``valid_flat`` and ``merge_groups`` are the spec's half of
    ``hll_agg.merge_batch``, the one merge body of every sketch family.
    """

    zero: Callable
    update: Callable
    merge: Callable
    encode: Callable
    decode: Callable
    fold_groups: Callable
    merge_groups: Callable
    valid_flat: Callable
    fold_bytes_bound: Callable
    # weighted-element hooks (sketches whose rank mass can carry a
    # per-row weight, e.g. t-digest): update_weighted(state, values,
    # weights) -> state; fold_groups_weighted(values, weights, inverse,
    # n_groups) -> (data, offsets). Both are required when sketch_agg is
    # called with a weight column.
    update_weighted: Callable | None = None
    fold_groups_weighted: Callable | None = None
    # weight-aware direct-emit byte gate: fold_bytes_bound_weighted(
    # n_groups, n_rows, weights) -> int. Only needed when the weighted
    # fold's output size depends on the weight VALUES (KLL's binary
    # expansion emits one item per set weight bit); specs without it
    # gate weighted batches on the plain fold_bytes_bound.
    fold_bytes_bound_weighted: Callable | None = None


# per-batch output ceiling for the direct-emit fold (well under the 2GB
# Arrow int32-offset limit, and a sane executor-memory bound)
DIRECT_EMIT_BYTES_CAP = 1 << 28


def _emit_bytes_bound(spec: "KernelSpec", weighted: bool, n_groups: int,
                      n_rows: int, wts) -> int:
    """Byte bound for a direct-emit fold of one batch."""
    if weighted and spec.fold_bytes_bound_weighted is not None:
        return spec.fold_bytes_bound_weighted(n_groups, n_rows, wts)
    return spec.fold_bytes_bound(n_groups, n_rows)


def cms_spec(depth: int = cms.DEFAULT_DEPTH, width: int = cms.DEFAULT_WIDTH) -> KernelSpec:
    def update(state, values):
        cms.update(state, values)
        return state

    def update_weighted(state, values, weights):
        wt = np.asarray(weights).astype(np.int64)
        m = wt > 0  # negative increments would break never-undercount
        cms.update(state, np.asarray(values)[m], counts=wt[m])
        return state

    return KernelSpec(
        zero=lambda: cms.empty(depth, width),
        update=update,
        merge=cms.merge,
        encode=cms.encode,
        decode=cms.decode,
        fold_groups=lambda v, inv, n: cms.fold_groups(v, inv, n, depth, width),
        merge_groups=lambda d, o, g, n: cms.merge_groups_flat(d, o, g, n, depth, width),
        valid_flat=lambda d, o: cms.valid_flat(d, o, depth, width),
        # a group's sparse payload never exceeds its item count (dense is
        # only chosen when smaller), so rows*depth entries bound the lot
        fold_bytes_bound=lambda g, n: 20 * g + 12 * depth * n,
        update_weighted=update_weighted,
        fold_groups_weighted=lambda v, w, inv, n: cms.fold_groups_weighted(
            v, w, inv, n, depth, width
        ),
    )


def bloom_spec(m_bits: int = bloom.DEFAULT_BITS, k: int = bloom.DEFAULT_K) -> KernelSpec:
    def update(state, values):
        bloom.update(state, values, k)
        return state

    return KernelSpec(
        zero=lambda: bloom.empty(m_bits),
        update=update,
        merge=bloom.merge,
        encode=lambda s: bloom.encode(s, k),
        decode=lambda b: bloom.decode(b)[0],
        fold_groups=lambda v, inv, n: bloom.fold_groups(v, inv, n, m_bits, k),
        merge_groups=lambda d, o, g, n: bloom.merge_groups_flat(d, o, g, n, m_bits, k),
        valid_flat=lambda d, o: bloom.valid_flat(d, o, m_bits, k),
        # sparse v2 wire: a group costs min(dense, 20 + 4*set_bits), and
        # dense is only picked when smaller — so 20*g + 4*k*rows bounds
        # the whole batch (row-scaled; the cap still guards pathology)
        fold_bytes_bound=lambda g, n: 20 * g + 4 * k * n,
    )


def kll_spec(k: int = kll.DEFAULT_K) -> KernelSpec:
    def update(state, values):
        state.update(values)
        return state

    def update_weighted(state, values, weights):
        state.update_weighted(values, weights)
        return state

    return KernelSpec(
        zero=lambda: kll.KllSketch(k),
        update=update,
        merge=kll.merge_all,
        encode=lambda s: s.encode(),
        decode=kll.decode,
        fold_groups=lambda v, inv, n: kll.fold_groups_level0(v, inv, n, k),
        merge_groups=lambda d, o, g, n: kll.merge_groups_flat(d, o, g, n, k),
        valid_flat=lambda d, o: kll.valid_flat(d, o, k),
        fold_bytes_bound=lambda g, n: 32 * g + 8 * n,
        update_weighted=update_weighted,
        fold_groups_weighted=lambda v, w, inv, n: kll.fold_groups_weighted(
            v, w, inv, n, k
        ),
        # binary expansion emits one 8-byte item per set weight bit;
        # header worst case 28 + 4*63 per group (compacted big groups
        # only ever shrink below this)
        fold_bytes_bound_weighted=lambda g, n, w: 280 * g
        + 8 * kll.popcount_sum(w),
    )


def spacesaving_spec(m: int = 256) -> KernelSpec:
    from pfutil_spark.kernel import spacesaving as ss

    def update(state, values):
        state.update_batch(values)
        return state

    def update_weighted(state, values, weights):
        wt = np.asarray(weights).astype(np.int64)
        keep = wt > 0  # zero/negative weights must not seed theta+0 items
        state.update_batch(np.asarray(values, dtype=object)[keep], wt[keep])
        return state

    return KernelSpec(
        zero=lambda: ss.SpaceSaving(m),
        update=update,
        merge=ss.merge_all,
        encode=lambda s: s.encode(),
        decode=ss.decode,
        fold_groups=lambda v, inv, n: ss.fold_groups(v, inv, n, m),
        merge_groups=lambda d, o, g, n: ss.merge_groups_flat(d, o, g, n, m),
        valid_flat=lambda d, o: ss.valid_flat(d, o, m),
        # a group's wire row is 32B + (12 + key bytes) per kept item and
        # kept items never exceed the batch's rows for that group; 256B
        # assumed per key (SS elements are reportable values — ids,
        # terms), and the partial path's 2GB offsets check still guards
        # the pathological-long-key case
        fold_bytes_bound=lambda g, n: 32 * g + 268 * n,
        update_weighted=update_weighted,
        fold_groups_weighted=lambda v, w, inv, n: ss.fold_groups_weighted(
            v, w, inv, n, m
        ),
    )


def kmv_spec(k: int = kmv.DEFAULT_K) -> KernelSpec:
    def update(state, values):
        return state.update(values)

    return KernelSpec(
        zero=lambda: kmv.KmvSketch(k),
        update=update,
        merge=kmv.merge_all,
        encode=lambda s: s.encode(),
        decode=kmv.decode,
        fold_groups=lambda v, inv, n: kmv.fold_groups_hashes(v, inv, n, k),
        merge_groups=lambda d, o, g, n: kmv.merge_groups_flat(d, o, g, n, k),
        valid_flat=lambda d, o: kmv.valid_flat(d, o, k),
        fold_bytes_bound=lambda g, n: 16 * g + 8 * min(n, g * k),
    )


def tdigest_spec(delta: int = tdigest.DEFAULT_DELTA) -> KernelSpec:
    def update(state, values):
        state.update(values)
        return state

    def update_weighted(state, values, weights):
        state.update_weighted(values, weights)
        return state

    return KernelSpec(
        zero=lambda: tdigest.TDigest(delta),
        update=update,
        merge=tdigest.merge_all,
        encode=lambda s: s.encode(),
        decode=tdigest.decode,
        fold_groups=lambda v, inv, n: tdigest.fold_groups(v, inv, n, delta),
        merge_groups=lambda d, o, g, n: tdigest.merge_groups_flat(d, o, g, n, delta),
        valid_flat=lambda d, o: tdigest.valid_flat(d, o, delta),
        fold_bytes_bound=lambda g, n: 32 * g + 16 * min(n, g * (delta + 2)),
        update_weighted=update_weighted,
        fold_groups_weighted=lambda v, w, inv, n: tdigest.fold_groups_weighted(
            v, w, inv, n, delta
        ),
    )


# ---------------------------------------------------------------------------
# generic two-phase plan
# ---------------------------------------------------------------------------

def _one_metric(element: Column, spec: KernelSpec, weight: Column | None) -> dict:
    """The ``sketch_multi`` metrics dict of a single-sketch call: one
    metric named ``SKETCH_COL``."""
    return {SKETCH_COL: (element, spec) if weight is None else (element, spec, weight)}


def sketch_agg(
    df: DataFrame,
    element: Column,
    spec: KernelSpec,
    by: Sequence[str] = (),
    max_groups_in_flight: int = 2048,
    direct_emit_groups: int = 4096,
    weight: Column | None = None,
) -> DataFrame:
    """(by..., sketch): the one-metric case of :func:`sketch_multi`.
    ``element`` must evaluate to LONG (pre-hash) or DOUBLE (values) —
    both cross Arrow as fixed 8-byte columns. With ``weight`` (a DOUBLE
    column; requires ``spec.update_weighted`` and
    ``spec.fold_groups_weighted``) each element carries that much rank
    mass."""
    return sketch_multi(
        df, _one_metric(element, spec, weight), by, max_groups_in_flight,
        direct_emit_groups,
    )


def sketch_partial(
    df: DataFrame,
    element: Column,
    spec: KernelSpec,
    by: Sequence[str] = (),
    max_groups_in_flight: int = 2048,
    direct_emit_groups: int = 4096,
    weight: Column | None = None,
) -> DataFrame:
    """Stage P alone: one ``(by..., sketch)`` partial row per (task,
    group) — checkpointable (see sources.checkpoint.ResumableSketchJob)
    and mergeable later via :func:`sketch_merge` in any
    order/partitioning. The one-metric case of
    :func:`sketch_multi_partial`."""
    return sketch_multi_partial(
        df, _one_metric(element, spec, weight), by, max_groups_in_flight,
        direct_emit_groups,
    )


def sketch_merge(
    partials: DataFrame,
    spec: KernelSpec,
    by: Sequence[str] = (),
    sketch_col: str = SKETCH_COL,
) -> DataFrame:
    """Merge partial sketches per group (usable standalone on
    checkpointed partial tables, like hll_agg.pf_merge): the one-metric
    case of :func:`sketch_multi_merge`."""
    by = list(by)
    return sketch_multi_merge(
        partials.select(*by, F.col(sketch_col).alias(SKETCH_COL)), {SKETCH_COL: spec}, by
    )


def merge_sketch_batch(
    batch: "pa.RecordBatch",
    keys: list[str],
    sketch_col: str,
    spec: KernelSpec,
    codes: "tuple[np.ndarray, np.ndarray] | None" = None,
) -> "pa.RecordBatch":
    """Merge ALL groups of one Arrow batch (a merge task's partition):
    ``hll_agg.merge_batch`` with the spec's ``valid_flat`` /
    ``merge_groups`` hooks — module-level so tests can drive it
    directly."""
    from pfutil_spark.operators.hll_agg import merge_batch

    return merge_batch(batch, keys, sketch_col, spec.valid_flat, spec.merge_groups, codes)


# ---------------------------------------------------------------------------
# public sketch builders
# ---------------------------------------------------------------------------

def sketch_multi(
    df: DataFrame,
    metrics: "dict[str, tuple[Column, KernelSpec] | tuple[Column, KernelSpec, Column]]",
    by: Sequence[str] = (),
    max_groups_in_flight: int = 2048,
    direct_emit_groups: int = 4096,
) -> DataFrame:
    """N DIFFERENT sketches over the same table in ONE scan and ONE
    shuffle — the profile-report shape ("per language: distinct shas
    (KMV), length quantiles (t-digest), token counts (CMS), membership
    (Bloom)") that would otherwise cost one scan+shuffle per metric.
    Mirrors ``operators/multi.pf_partial_multi`` (the HLL 4-metric
    report) generalized over arbitrary :class:`KernelSpec`s.
    ``sketch_multi_partial`` + ``sketch_multi_merge`` expose the two
    stages for checkpointing (ResumableSketchMultiJob).

    ``metrics`` maps output column name -> (element Column, spec) or
    (element, spec, weight Column) for weighted metrics (the spec must
    provide ``update_weighted`` and ``fold_groups_weighted``); each
    element must evaluate to a fixed 8-byte type (pre-hashed LONG or
    DOUBLE). Nulls are dropped PER
    METRIC — element OR weight null drops that row for that metric only
    (a row missing one column still feeds the others); a group whose
    rows are all null for one metric still gets that metric's canonical
    empty sketch.

    Scale posture mirrors the HLL operator:

    * LOW-cardinality ``by`` (< ``direct_emit_groups`` distinct keys per
      batch): per-task cross-batch accumulation — one partial per (task,
      group), the shape that keeps shuffle bytes at O(groups x tasks x
      sketch).
    * HIGH-cardinality batches direct-emit via each spec's vectorized
      ``fold_groups`` (flat buffers, zero per-group Python) when the
      summed ``fold_bytes_bound`` fits ``DIRECT_EMIT_BYTES_CAP`` — else
      the batch falls back to accumulation.
    * The merge stage repartitions ONCE on the keys and merges every
      metric column inside the same task via :func:`merge_sketch_batch`:
      validated single-partial groups PASS THROUGH untouched (an Arrow
      take; at 10^6 near-unique groups that is ~every group), all other
      groups batch-merge in one ``spec.merge_groups`` call."""
    partials = sketch_multi_partial(
        df, metrics, by, max_groups_in_flight, direct_emit_groups
    )
    return sketch_multi_merge(
        partials, {m: metrics[m][1] for m in metrics}, by
    )


def sketch_multi_partial(
    df: DataFrame,
    metrics: "dict[str, tuple[Column, KernelSpec] | tuple[Column, KernelSpec, Column]]",
    by: Sequence[str] = (),
    max_groups_in_flight: int = 2048,
    direct_emit_groups: int = 4096,
) -> DataFrame:
    """Stage P of :func:`sketch_multi`: one row per (partition, group)
    with one binary column PER METRIC — checkpointable; merge later (in
    any order/partitioning) with :func:`sketch_multi_merge`. When the
    projection is one ``pyscan`` can read (raw key / double columns,
    ``xxhash64`` of a string or binary column, plain or null-safe), the
    Python workers read the parquet themselves; else the JVM scan feeds
    the same body."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pfutil_spark.operators.hll_agg import _binary_array, _check_reserved, _group_codes

    by = list(by)
    names = list(metrics.keys())
    _check_reserved(by, names)
    specs = [metrics[m][1] for m in names]
    wt_exprs = [metrics[m][2] if len(metrics[m]) > 2 else None for m in names]
    # plain bools/strings for the closure — never capture Column objects
    weighted_flags = [w is not None for w in wt_exprs]
    for m, spec, wf in zip(names, specs, weighted_flags):
        if wf and (spec.update_weighted is None or spec.fold_groups_weighted is None):
            raise ValueError(f"metric {m!r}: this spec does not support weighted elements")
    mcols = [f"__pf_m_{i}" for i in range(len(names))]
    wcols = [f"__pf_w_{i}" if wf else None for i, wf in enumerate(weighted_flags)]
    pruned = df.select(
        *by,
        *[metrics[m][0].alias(c) for m, c in zip(names, mcols)],
        *[w.alias(wc) for w, wc in zip(wt_exprs, wcols) if w is not None],
    )
    schema = StructType(
        [pruned.schema[c] for c in by]
        + [StructField(m, BinaryType(), False) for m in names]
    )

    def partial_fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        acc: dict[tuple, list] = {}
        key_fields: list = []
        seen = False

        def flush() -> "pa.RecordBatch":
            keys = list(acc.keys())
            arrays = [
                pa.array([k[j] for k in keys], type=key_fields[j].type)
                for j in range(len(by))
            ]
            for i, spec in enumerate(specs):
                arrays.append(
                    pa.array(
                        [
                            spec.encode(
                                acc[k][i] if acc[k][i] is not None else spec.zero()
                            )
                            for k in keys
                        ],
                        type=pa.binary(),
                    )
                )
            return pa.record_batch(arrays, names=by + names)

        for batch in batches:
            if not seen:
                key_fields = [batch.schema.field(c) for c in by]
                seen = True
            if len(batch) == 0:
                continue
            if by:
                inverse, first_idx = _group_codes(batch, by)
                n_groups = len(first_idx)
            else:
                inverse = np.zeros(len(batch), dtype=np.int64)
                first_idx = np.array([0], dtype=np.int64)
                n_groups = 1
            # per-metric valid rows (element OR weight nulls drop
            # independently per metric)
            per_metric = []
            for i, c in enumerate(mcols):
                col = batch.column(c)
                wcol = batch.column(wcols[i]) if weighted_flags[i] else None
                nulls = col.null_count or (wcol is not None and wcol.null_count)
                if nulls:
                    mask = pc.is_valid(col)
                    if wcol is not None:
                        mask = pc.and_(mask, pc.is_valid(wcol))
                    take = pa.array(np.flatnonzero(mask.to_numpy(zero_copy_only=False)))
                    vals = col.take(take).to_numpy(zero_copy_only=False)
                    wts = (
                        wcol.take(take).to_numpy(zero_copy_only=False)
                        if wcol is not None
                        else None
                    )
                    inv = inverse[take.to_numpy(zero_copy_only=False)]
                else:
                    vals = col.to_numpy(zero_copy_only=False)
                    wts = wcol.to_numpy(zero_copy_only=False) if wcol is not None else None
                    inv = inverse
                per_metric.append((vals, wts, inv))
            folds = [
                (s.fold_groups_weighted if wf else s.fold_groups)
                for s, wf in zip(specs, weighted_flags)
            ]
            direct_ok = by and n_groups >= direct_emit_groups
            if direct_ok:
                # the byte gate sums over metrics: k folds co-reside in
                # the same output batch, so the cap must bound their
                # TOTAL. Evaluated only after the cheap gate —
                # weighted-KLL's popcount bound is a batch-sized scan.
                total_bound = sum(
                    _emit_bytes_bound(s, wf, n_groups, len(v), w)
                    for s, wf, (v, w, __) in zip(specs, weighted_flags, per_metric)
                )
                direct_ok = total_bound <= DIRECT_EMIT_BYTES_CAP
            if direct_ok:
                arrays = [
                    batch.column(c).take(pa.array(first_idx)) for c in by
                ]
                for fold, wf, (vals, wts, inv) in zip(
                    folds, weighted_flags, per_metric
                ):
                    data, offs = (
                        fold(vals, wts, inv, n_groups)
                        if wf
                        else fold(vals, inv, n_groups)
                    )
                    if offs[-1] > (1 << 31) - 1:
                        raise ValueError(
                            "sketch_multi direct-emit batch exceeds 2GB of "
                            "sketch bytes; lower spark.sql.execution.arrow."
                            "maxRecordsPerBatch or the sketch widths"
                        )
                    arrays.append(_binary_array(data, offs))
                yield pa.record_batch(arrays, names=by + names)
                continue
            if by:
                take = pa.array(first_idx)
                key_cols = [batch.column(c).take(take).to_pylist() for c in by]
                group_keys = [
                    tuple(col[g] for col in key_cols) for g in range(n_groups)
                ]
            else:
                group_keys = [()]
            for k in group_keys:
                if k not in acc:
                    acc[k] = [None] * len(specs)
            for i, (spec, wf, (vals, wts, inv)) in enumerate(
                zip(specs, weighted_flags, per_metric)
            ):
                order = np.argsort(inv, kind="stable")
                sorted_inv = inv[order]
                bounds = np.flatnonzero(np.diff(sorted_inv)) + 1
                starts = np.concatenate(([0], bounds))
                ends = np.concatenate((bounds, [len(sorted_inv)]))
                for s, e in zip(starts, ends):
                    if s == e:
                        continue
                    k = group_keys[int(sorted_inv[s])]
                    st = acc[k][i]
                    if st is None:
                        st = acc[k][i] = spec.zero()
                    sel = order[s:e]
                    acc[k][i] = (
                        spec.update_weighted(st, vals[sel], wts[sel])
                        if wf
                        else spec.update(st, vals[sel])
                    )
            if len(acc) > max_groups_in_flight:
                yield flush()
                acc = {}
        if not acc and not by:
            acc[()] = [None] * len(specs)
        if acc:
            yield flush()

    # python-native parquet fast path (operators/pyscan.py): the workers
    # read the parquet columns (and xxhash64 the hashed elements)
    # themselves and feed the same body, as multi._partial_multi does
    from pfutil_spark.operators import pyscan

    ps = pyscan.try_parquet_pyscan(pruned, pruned.columns)
    if ps is not None:

        def pyscan_fn(id_batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            yield from partial_fn(pyscan.read_spec_batches(ps, id_batches))

        return pyscan.task_frame(df.sparkSession, ps).mapInArrow(pyscan_fn, schema)
    return pruned.mapInArrow(partial_fn, schema)


def sketch_multi_merge(
    partials: DataFrame,
    metric_specs: "dict[str, KernelSpec]",
    by: Sequence[str] = (),
) -> DataFrame:
    """Merge stage of the multi-sketch report — usable standalone on a
    CHECKPOINTED partial table (sources.checkpoint.ResumableSketchMultiJob):
    ONE repartition on the keys, every metric column merges inside the
    same task (group codes computed once, validated singles passthrough
    per column)."""
    from pfutil_spark.operators.hll_agg import (
        _arrow_merge_stage,
        _check_reserved,
        _group_codes,
    )

    by = list(by)
    names = list(metric_specs.keys())
    _check_reserved(by, names)
    specs = [metric_specs[m] for m in names]
    schema = StructType(
        [partials.schema[c] for c in by]
        + [StructField(m, BinaryType(), False) for m in names]
    )

    def merge_partition(batch: "pa.RecordBatch") -> "pa.RecordBatch":
        import pyarrow as pa

        # group codes computed ONCE per partition, shared by all metrics
        codes = _group_codes(batch, by) if by else None
        outs = [
            merge_sketch_batch(batch, by, m, spec, codes=codes)
            for m, spec in zip(names, specs)
        ]
        # merge_sketch_batch names its sketch output SKETCH_COL
        return pa.record_batch(
            [outs[0].column(c) for c in by] + [o.column(SKETCH_COL) for o in outs],
            names=by + names,
        )

    return _arrow_merge_stage(partials, by, names, schema, merge_partition)


def tdigest_edges(
    sketch_df: DataFrame, qs: Sequence[float], sketch_col: str = SKETCH_COL
) -> list[float]:
    """Quantile edge values from a (single-row) t-digest sketch table —
    the index-building driver action of the bucketing pattern: one tiny
    collect (a few KB of sketch bytes, same class of documented action
    as the Bloom broadcast), after which bucketing is pure codegen."""
    row = sketch_df.select(sketch_col).first()
    if row is None:
        # a plan with ZERO partitions emits no partials at all (same
        # regime bloom_filter_join documents) — surface it, don't
        # TypeError on None
        raise ValueError(
            "tdigest_edges: sketch table has no rows (empty/zero-partition "
            "input?) — no quantile edges exist"
        )
    buf = row[0]
    return [
        float(x)
        for x in tdigest.decode(bytes(buf)).quantile(
            np.asarray(list(qs), dtype=np.float64)
        )
    ]


def bucket_col(col: str | Column, edges: Sequence[float]) -> Column:
    """Bucket index (0..len(edges)) for ``col`` against ascending edge
    values — e.g. length-decile features from `tdigest_edges(...,
    [0.1..0.9])`. Pure JVM: a sum of ``col > edge`` comparisons over
    literal edges, whole-stage-codegen'd, no UDF; NULL stays NULL."""
    c = F.col(col) if isinstance(col, str) else col
    idx: Column = F.lit(0)
    for e in edges:
        idx = idx + F.when(c > F.lit(float(e)), 1).otherwise(0)
    return F.when(c.isNotNull(), idx.cast("long"))


def quantile_clip(
    df: DataFrame,
    col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    by: Sequence[str] = (),
    delta: int = tdigest.DEFAULT_DELTA,
) -> DataFrame:
    """Outlier clipping by estimated quantiles: keep rows whose ``col``
    lies inside the [lo, hi] quantile band — globally, or per group
    (e.g. drop the sub-p05 / post-p95 document-length tails PER
    LANGUAGE before packing). Neither pass re-sorts data: pass 1 builds
    one t-digest per group (one scan + one shuffle of constant-size
    sketch bytes), pass 2 filters against the tiny broadcast edge
    table (global form: edge LITERALS — pure whole-stage codegen, no
    join node at all). Band edges are inclusive; rows with NULL
    ``col`` — and, grouped, NULL group keys — drop (a NULL value is
    inside no band). Kept fraction is hi - lo up to the t-digest rank
    error at the two edges (tests bound it)."""
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError(f"lo={lo}, hi={hi}: need 0 <= lo <= hi <= 1")
    by = list(by)
    c = F.col(col).cast("double")
    if not by:
        edges = tdigest_edges(tdigest_sketch(df, col, delta=delta), [lo, hi])
        return df.filter((c >= F.lit(edges[0])) & (c <= F.lit(edges[1])))
    q = tdigest_quantiles_col([lo, hi])
    ed = tdigest_sketch(df, col, by=by, delta=delta).select(
        *by,
        q.getItem(0).alias("__pf_clip_lo"),
        q.getItem(1).alias("__pf_clip_hi"),
    )
    joined = df.join(F.broadcast(ed), by)
    return joined.filter(
        (c >= F.col("__pf_clip_lo")) & (c <= F.col("__pf_clip_hi"))
    ).drop("__pf_clip_lo", "__pf_clip_hi")


def _long_weight(weight_col: str) -> Column:
    """Integer weight column with NaN / Infinity / out-of-long-range
    values treated as NULL (dropped rows): a bare ``cast("long")``
    throws CAST_OVERFLOW on any of them under ANSI mode (the default
    here), aborting the job instead of dropping the row."""
    return F.col(weight_col).cast("double").try_cast("long")


def _null_safe_hash(col: str) -> Column:
    """xxhash64 that propagates NULL: Spark's xxhash64(NULL) returns the
    SEED (42), which would smuggle null rows into hash-keyed sketches as
    a phantom element; sketch_agg drops null elements, so keep them
    null."""
    c = F.col(col)
    return F.when(c.isNotNull(), F.xxhash64(c))


def cms_sketch(
    df: DataFrame, col: str, by: Sequence[str] = (),
    depth: int = cms.DEFAULT_DEPTH, width: int = cms.DEFAULT_WIDTH,
) -> DataFrame:
    """Count-min over ``col`` (any type — hashed with Spark's xxhash64)."""
    return sketch_agg(df, _null_safe_hash(col), cms_spec(depth, width), by)


def cms_weighted_sketch(
    df: DataFrame, col: str, weight_col: str, by: Sequence[str] = (),
    depth: int = cms.DEFAULT_DEPTH, width: int = cms.DEFAULT_WIDTH,
) -> DataFrame:
    """Weighted count-min: each row adds ``weight_col`` (integer, > 0;
    null/non-positive rows drop) to its item's counters — byte-weighted
    token frequency, size-weighted key popularity. Same wire format; the
    never-undercount guarantee now bounds the weighted totals."""
    return sketch_agg(
        df,
        _null_safe_hash(col),
        cms_spec(depth, width),
        by,
        weight=_long_weight(weight_col),
    )


def bloom_sketch(
    df: DataFrame, col: str, by: Sequence[str] = (),
    expected_n: int | None = None, fpr: float = 0.01,
    m_bits: int | None = None, k: int | None = None,
) -> DataFrame:
    if m_bits is None or k is None:
        m_bits, k = bloom.params_for(expected_n or 1_000_000, fpr)
    return sketch_agg(df, _null_safe_hash(col), bloom_spec(m_bits, k), by)


def kll_sketch(
    df: DataFrame, col: str, by: Sequence[str] = (), k: int = kll.DEFAULT_K
) -> DataFrame:
    return sketch_agg(df, F.col(col).cast("double"), kll_spec(k), by)


def kll_weighted_sketch(
    df: DataFrame,
    col: str,
    weight_col: str,
    by: Sequence[str] = (),
    k: int = kll.DEFAULT_K,
) -> DataFrame:
    """Weighted KLL: each row's value carries ``weight_col`` (integer,
    > 0; null / non-positive / non-finite rows drop) units of rank mass
    via binary-expansion insertion (kernel/kll.py::update_weighted) —
    token-weighted length quantiles, byte-weighted score distributions.
    Same wire format (``kll_quantiles_col`` reads it unchanged); same
    two-phase plan. Insertion adds zero rank error (level-b items weigh
    exactly 2**b); unlike t-digest's weighted path, unit weights stay
    BYTE-identical to the unweighted sketch."""
    return sketch_agg(
        df,
        F.col(col).cast("double"),
        kll_spec(k),
        by,
        weight=_long_weight(weight_col),
    )


def tdigest_sketch(
    df: DataFrame, col: str, by: Sequence[str] = (), delta: int = tdigest.DEFAULT_DELTA
) -> DataFrame:
    return sketch_agg(df, F.col(col).cast("double"), tdigest_spec(delta), by)


def tdigest_weighted_sketch(
    df: DataFrame,
    col: str,
    weight_col: str,
    by: Sequence[str] = (),
    delta: int = tdigest.DEFAULT_DELTA,
) -> DataFrame:
    """Weighted t-digest: each row's value carries ``weight_col`` units
    of rank mass — byte-weighted document-length quantiles,
    duration-weighted latency percentiles, token-weighted quality-score
    distributions. Same two-phase plan (partial -> one shuffle ->
    merge), same wire format (``tdigest_quantiles_col`` reads it
    unchanged); rows with null value/weight or weight <= 0 are dropped.
    Weighted folds are estimate-stable, not bit-stable, across batch
    splits (documented in kernel/tdigest.py::update_weighted)."""
    return sketch_agg(
        df,
        F.col(col).cast("double"),
        tdigest_spec(delta),
        by,
        weight=F.col(weight_col).cast("double"),
    )


def spacesaving_sketch(
    df: DataFrame, col: str, by: Sequence[str] = (), m: int = 256
) -> DataFrame:
    """Mergeable SpaceSaving heavy-hitters summary over ``col``."""
    return sketch_agg(df, F.col(col).cast("string"), spacesaving_spec(m), by)


def spacesaving_weighted_sketch(
    df: DataFrame, col: str, weight_col: str, by: Sequence[str] = (), m: int = 256
) -> DataFrame:
    """Weighted heavy hitters: each row contributes ``weight_col``
    (integer, > 0; null/non-positive rows drop) to its value's count —
    "which tokens account for the most BYTES", "which repos the most
    files". When a group's distinct values fit in m the summary is
    EXACT (theta stays 0); above m the usual SpaceSaving guarantees
    bound the weighted totals."""
    return sketch_agg(
        df,
        F.col(col).cast("string"),
        spacesaving_spec(m),
        by,
        weight=_long_weight(weight_col),
    )


def kmv_sketch(
    df: DataFrame, col: str, by: Sequence[str] = (), k: int = kmv.DEFAULT_K
) -> DataFrame:
    """KMV/theta distinct sketch over ``col`` (hashed with Spark's
    xxhash64). Use when you need set OPERATIONS on the results —
    intersection / difference / Jaccard with error relative to the
    sample, not the union (HLL's inclusion-exclusion weakness)."""
    return sketch_agg(df, _null_safe_hash(col), kmv_spec(k), by)


def _kmv_estimate_series(s: pd.Series) -> pd.Series:
    """Shared KMV-estimate evaluator body (Column helper + SQL
    registration use the SAME implementation — keep them in sync by
    construction)."""
    return pd.Series([kmv.decode(bytes(b)).estimate() for b in s])


def kmv_estimate_col(sketch_col: str | Column = SKETCH_COL) -> Column:
    _est = F.pandas_udf(_kmv_estimate_series, DoubleType())
    c = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    return _est(c)


def kmv_set_ops_col(a: str | Column, b: str | Column) -> Column:
    """struct<union_est, intersect_est, diff_est, jaccard> for two KMV
    sketch columns. Decodes per row — meant for the usual tiny
    evaluation frames (one row per sketch pair)."""
    out_t = StructType(
        [
            StructField("union_est", DoubleType()),
            StructField("intersect_est", DoubleType()),
            StructField("diff_est", DoubleType()),
            StructField("jaccard", DoubleType()),
        ]
    )

    @F.pandas_udf(out_t)
    def _ops(sa: pd.Series, sb: pd.Series) -> pd.DataFrame:
        rows = []
        for ba, bb in zip(sa, sb):
            A, B = kmv.decode(bytes(ba)), kmv.decode(bytes(bb))
            rows.append(
                (
                    kmv.union_estimate([A, B]),
                    kmv.intersect_estimate(A, B),
                    kmv.a_not_b_estimate(A, B),
                    kmv.jaccard_estimate(A, B),
                )
            )
        return pd.DataFrame(
            rows, columns=["union_est", "intersect_est", "diff_est", "jaccard"]
        )

    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return _ops(ca, cb)


def spacesaving_topk_col(k: int, sketch_col: str = SKETCH_COL) -> Column:
    """array<struct<value, est_count, max_overcount>> of the summary's
    top-k; est_count is an upper bound, est_count - max_overcount a
    guaranteed lower bound."""
    from pyspark.sql.types import StringType, StructField, StructType

    from pfutil_spark.kernel import spacesaving as ss

    out_t = ArrayType(
        StructType(
            [
                StructField("value", StringType()),
                StructField("est_count", LongType()),
                StructField("max_overcount", LongType()),
            ]
        )
    )

    @F.pandas_udf(out_t)
    def _topk(s: pd.Series) -> pd.Series:
        return pd.Series([ss.decode(bytes(b)).top_k(k) for b in s])

    return _topk(F.col(sketch_col))


# ---------------------------------------------------------------------------
# evaluation columns
# ---------------------------------------------------------------------------

def _hash_literals(df: DataFrame, items: Sequence) -> np.ndarray:
    """xxhash64 of literal items, computed BY SPARK so it matches the
    build-side hashing exactly. Over a one-row local relation the
    optimizer folds the projection into a ``LocalTableScan``, so the
    collect runs no Spark job."""
    import pyarrow as pa

    spark = df.sparkSession
    rows = spark.createDataFrame(pa.table({"_": [0]})).select(
        *[F.xxhash64(F.lit(it)).alias(f"h{i}") for i, it in enumerate(items)]
    ).collect()[0]
    return np.array([rows[f"h{i}"] for i in range(len(items))], dtype=np.int64)


def cms_count_for_hash_col(
    sketch: str | Column = SKETCH_COL, hashed: str | Column = "h"
) -> Column:
    """CMS point estimate for a pre-hashed item column — fully plan-side
    (NO driver actions: pair the sketch with its items via a broadcast
    cross join and hash the items with codegen ``xxhash64`` in the same
    plan). Decodes the sketch per row, so intended for small
    sketch-x-items frames (the usual evaluation shape)."""

    @F.pandas_udf(LongType())
    def _q(sk: pd.Series, h: pd.Series) -> pd.Series:
        if len(sk) == 0:
            return pd.Series([], dtype="int64")
        cache: dict[bytes, object] = {}
        out = np.empty(len(sk), dtype=np.int64)
        hs = h.to_numpy()
        for i, b in enumerate(sk):
            bb = bytes(b)
            st = cache.get(bb)
            if st is None:
                st = cache[bb] = cms.decode(bb)
            out[i] = cms.query(st, hs[i : i + 1])[0]
        return pd.Series(out)

    s = F.col(sketch) if isinstance(sketch, str) else sketch
    c = F.col(hashed) if isinstance(hashed, str) else hashed
    return _q(s, c)


def cms_counts_col(df: DataFrame, items: Sequence, sketch_col: str = SKETCH_COL) -> Column:
    """array<long> of estimated counts for ``items`` (literals) per sketch."""
    hashes = _hash_literals(df, items)

    @F.pandas_udf(ArrayType(LongType()))
    def _q(s: pd.Series) -> pd.Series:
        return pd.Series([cms.query(cms.decode(b), hashes).tolist() for b in s])

    return _q(F.col(sketch_col))


def kll_quantiles_col(qs: Sequence[float], sketch_col: str = SKETCH_COL) -> Column:
    qarr = np.asarray(list(qs), dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _q(s: pd.Series) -> pd.Series:
        return pd.Series([kll.decode(b).quantile(qarr).tolist() for b in s])

    return _q(F.col(sketch_col))


def _tdigest_quantiles_of(buf: bytes, qarr: np.ndarray) -> np.ndarray:
    """Shared t-digest quantile evaluator body (Column helper + SQL
    registration route through this one function)."""
    return tdigest.decode(bytes(buf)).quantile(qarr)


def tdigest_quantiles_col(qs: Sequence[float], sketch_col: str = SKETCH_COL) -> Column:
    qarr = np.asarray(list(qs), dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _q(s: pd.Series) -> pd.Series:
        return pd.Series([_tdigest_quantiles_of(b, qarr).tolist() for b in s])

    return _q(F.col(sketch_col))


def bloom_filter_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    fpr: float = 0.01,
    expected_n: int = 1_000_000,
) -> DataFrame:
    """Join with a Bloom pre-filter: build a Bloom filter over the right
    side's keys (ONE aggregation pass — no extra count), drop left rows
    that cannot match BEFORE the join shuffle, then join exactly. With a
    selective right side this removes most of the shuffle I/O; false
    positives are eliminated by the exact join, false negatives don't
    exist for the retained-left-rows join types.

    ``how`` is restricted to join types where dropping non-matching LEFT
    rows early is semantics-preserving (inner / left_semi / right /
    cross); 'left'/'full'/'anti' must keep unmatched left rows, so the
    pre-filter would silently change the result — raise instead.

    ``expected_n`` sizes the filter without a counting pass (default 1M
    keys -> ~1.2MB at 1% FPR). If the right side is larger the FPR
    degrades gracefully: the pre-filter just drops fewer rows, the join
    stays exact. The filter bytes ship to executors via a Spark
    broadcast variable (one copy per executor, not per task).
    """
    allowed = {"inner", "left_semi", "leftsemi", "semi", "right", "rightouter", "cross"}
    if how.replace("_", "").lower() not in {a.replace("_", "") for a in allowed}:
        raise ValueError(
            f"bloom_filter_join(how={how!r}): pre-filtering the left side "
            "drops rows that 'left'/'full'/'anti' joins must retain; use a "
            "plain join for those types"
        )
    rows = bloom_sketch(right, on, expected_n=expected_n, fpr=fpr).collect()
    if not rows:
        # a right plan with ZERO partitions (empty parquet directory,
        # optimizer-folded empty LocalRelation) emits no partials — the
        # join result is empty for every allowed join type, but let the
        # exact join produce it with the correct schema
        return left.filter(F.lit(False)).join(right, on, how)
    pre = left.filter(
        bloom_might_contain_col(on, bytes(rows[0][SKETCH_COL]), spark=left.sparkSession)
    )
    return pre.join(right, on, how)


def bloom_might_contain_col(
    col: str | Column, sketch_bytes: bytes, spark=None
) -> Column:
    """Boolean membership column against a Bloom sketch. When ``spark``
    is given the bytes ship as a broadcast variable (deserialized once
    per executor); otherwise they're closure-captured (fine for KB-scale
    filters). Usable as a semi-join pre-filter:
    ``big.filter(bloom_might_contain_col("key", blm, spark))``."""
    from pyspark.sql.types import BooleanType

    if spark is not None:
        bc = spark.sparkContext.broadcast(sketch_bytes)
        cache: dict = {}

        @F.pandas_udf(BooleanType())
        def _contains(h: pd.Series) -> pd.Series:
            if "sk" not in cache:  # decode once per worker, not per batch
                cache["sk"] = bloom.decode(bc.value)
            state, k = cache["sk"]
            return pd.Series(bloom.contains(state, h.to_numpy(), k))

    else:
        state, k = bloom.decode(sketch_bytes)

        @F.pandas_udf(BooleanType())
        def _contains(h: pd.Series) -> pd.Series:
            return pd.Series(bloom.contains(state, h.to_numpy(), k))

    c = F.col(col) if isinstance(col, str) else col
    return _contains(F.xxhash64(c))
