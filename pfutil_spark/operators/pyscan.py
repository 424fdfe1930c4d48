"""Python-native parquet scan fast path for the sketch partial stage.

Why this exists (round-6 optimization, guide §4 "the Python boundary"):
the partial stage is a ``mapInArrow`` whose input must cross JVM ->
Python. Measured on this host, that boundary costs ~1µs/row/task — a
consume-only ``mapInArrow`` over a 6M-row parquet scan takes the SAME
wall time as the full hash+accumulate pipeline (the kernel is free, the
transfer is everything). On top of that, parquet parallelism is
row-group-bound: a 126MB file with 6 row groups feeds at most 6 tasks
no matter how many splits Spark plans, so 26 of 32 local cores idle.

When the input plan is *exactly* a column projection over a local
parquet relation, none of that boundary is necessary: the Python workers
can read the parquet columns themselves (pyarrow, columnar, zero JVM
involvement) and feed the identical kernel code. Measured: the
flagship-shape global count over 6M rows went 1.68s -> 0.61s with a
bit-identical estimate.

Tasks are balanced by rows, not by row groups: the plan splits the
input's rows into ``ceil(total / rows_per_task)`` tasks of equal size,
where ``rows_per_task = max(minRowsPerTask, ceil(total / targetTasks))``.
A task may read slices of several row groups (each slice stays inside
one row group) and feeds them to the partial function as successive
batches, so it still emits one partial per group. 300k rows in 4 row
groups of 75k on 3 cores become 3 tasks of 100k rows — one wave, where
one task per row group left the fourth task running alone.

Scale honesty: this path is gated on total input size
(``pfutil.pyscan.maxInputBytes``, default cores x 128MB). Big inputs
already saturate the cluster through the normal JVM scan and fall back;
the fast path exists precisely for the small-file / few-row-group regime
where the JVM plan cannot reach the available parallelism. Detection is
conservative — any plan feature beyond a Project of raw columns
(strings, binary, integers, booleans, dates, doubles), cast(int ->
string), and Spark's ``xxhash64`` of one string or binary column (plain,
or null-safe as the hash-keyed sketches build it; hashed on the worker
by ``kernel/xxhash64.py``, bit for bit) over a non-partitioned local
parquet relation falls back to the JVM scan
(same results either way; sketch merges are partitioning-independent),
and so do footers the pyarrow read could decode differently: a codec
pyarrow lacks in any row group, or Spark's legacy (hybrid Julian) date
rebase marker when a date column is read.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame

# Spark typeName -> the Arrow type mapInArrow expects for that column.
# Conservative allowlist: anything else falls back to the JVM scan.
_PASSTHROUGH_TYPES = {
    "string": "string",
    "binary": "binary",
    "long": "int64",
    "integer": "int32",
    "short": "int16",
    "byte": "int8",
    "boolean": "bool",
    "date": "date32[day]",
    "double": "double",
}
# integral source types whose cast-to-string is engine-identical
# (decimal ASCII rendering; float/decimal/timestamp rendering is NOT
# guaranteed identical between Spark and Arrow, so they fall back)
_CASTABLE_TYPES = {"long", "integer", "short", "byte"}


# codecs pyarrow decodes without extra plugins; anything else (LZO,
# custom) must fall back to the JVM scan
_OK_CODECS = {"UNCOMPRESSED", "SNAPPY", "GZIP", "ZSTD", "LZ4", "LZ4_RAW", "BROTLI"}
# footer key Spark writes when it rebased dates to the hybrid Julian
# calendar; the JVM scan rebases them back, a pyarrow read would not
_LEGACY_DATETIME_KEY = b"org.apache.spark.legacyDateTime"


@dataclass
class PyScanPlan:
    """Driver-side description of a python-native scan, shipped to tasks
    via closure capture. ``specs`` are row-group slices (file_idx,
    row_group, slice_start, slice_len); task ``t`` reads
    ``specs[tasks[t][0]:tasks[t][1]]``. A retried/speculated task
    re-reads exactly the same rows, so the scan is idempotent."""

    files: list[str]
    specs: list[tuple[int, int, int, int]]
    # per task: [first, end) range into specs
    tasks: list[tuple[int, int]]
    # output column name -> (parquet column name, cast_to_string)
    columns: dict[str, tuple[str, bool]]
    # output column name -> arrow type string mapInArrow expects
    arrow_types: dict[str, str]
    out_order: list[str] = field(default_factory=list)
    # output column name -> keep NULL as NULL, for the columns that are
    # Spark's xxhash64 of their parquet column, computed on the worker
    # (False: a NULL hashes to the seed, as plain xxhash64 does)
    xxhash: dict[str, bool] = field(default_factory=dict)


def _strip_file_uri(uri: str) -> str | None:
    if uri.startswith("file:"):
        path = uri[5:]
        while path.startswith("//"):
            path = path[1:]
        return path
    if uri.startswith("/"):
        return uri
    return None  # remote FS — fall back to the JVM scan


def _max_input_bytes(spark) -> int:
    v = spark.conf.get("pfutil.pyscan.maxInputBytes", None)
    if v is not None:
        return int(v)
    return spark.sparkContext.defaultParallelism * (128 << 20)


def _xxhash64_attr(e):
    """The attribute of ``xxhash64(attr)`` over exactly one string (the
    default UTF-8 binary collation) or binary attribute with Spark's
    seed, else None — the shapes ``kernel/xxhash64.py`` reproduces."""
    from pfutil_spark.kernel.xxhash64 import SPARK_SEED

    if e.getClass().getSimpleName() != "XxHash64" or int(e.seed()) != SPARK_SEED:
        return None
    if e.children().size() != 1:
        return None
    a = e.children().apply(0)
    if a.getClass().getSimpleName() != "AttributeReference":
        return None
    if a.dataType().sql() not in ("STRING", "BINARY"):
        return None
    return a


def _null_safe_xxhash64_attr(e):
    """The attribute of ``CASE WHEN isnotnull(a) THEN xxhash64(a) END``
    (``sketch_agg._null_safe_hash``) with ``xxhash64(a)`` as in
    :func:`_xxhash64_attr`, else None."""
    if e.getClass().getSimpleName() != "CaseWhen" or e.elseValue().isDefined():
        return None
    if e.branches().size() != 1:
        return None
    branch = e.branches().apply(0)
    cond, a = branch._1(), _xxhash64_attr(branch._2())
    if a is None or cond.getClass().getSimpleName() != "IsNotNull":
        return None
    return a if cond.child().semanticEquals(a) else None


def try_parquet_pyscan(pruned: DataFrame, out_cols: list[str]) -> PyScanPlan | None:
    """Return a :class:`PyScanPlan` when ``pruned``'s optimized plan is
    exactly a ``Project`` over one non-partitioned local parquet relation
    whose every output is one of

    * ``attr`` or ``alias(attr)`` of a passthrough type (strings, binary,
      integers, booleans, dates and doubles, as raw values);
    * ``alias(cast(intattr as string))``;
    * ``alias(xxhash64(attr))`` over one string or binary attribute with
      Spark's seed 42 (a NULL hashes to the seed), hashed on the worker
      by ``kernel/xxhash64.py``;
    * ``alias(CASE WHEN isnotnull(attr) THEN xxhash64(attr) END)``, the
      null-safe hash of ``sketch_agg``'s hash-keyed sketches (NULL stays
      NULL);

    else ``None``. Any other expression, argument count, argument type
    or seed falls back to the JVM scan.

    Everything here is driver-side plan/footer metadata work; no job runs.
    """
    spark = pruned.sparkSession
    try:
        if len(set(out_cols)) != len(out_cols):
            return None  # duplicate output names: mapping is ambiguous
        if spark.conf.get("pfutil.pyscan.enabled", "true").lower() != "true":
            return None
        plan = pruned._jdf.queryExecution().optimizedPlan()
        cls = plan.getClass().getSimpleName()
        columns: dict[str, tuple[str, bool]] = {}
        xxhash: dict[str, bool] = {}
        if cls == "Project":
            exprs = plan.projectList()
            for i in range(exprs.size()):
                ne = exprs.apply(i)
                necls = ne.getClass().getSimpleName()
                if necls == "AttributeReference":
                    columns[ne.name()] = (ne.name(), False)
                elif necls == "Alias":
                    ch = ne.child()
                    ccls = ch.getClass().getSimpleName()
                    if ccls == "AttributeReference":
                        columns[ne.name()] = (ch.name(), False)
                    elif ccls == "Cast":
                        gc = ch.child()
                        if gc.getClass().getSimpleName() != "AttributeReference":
                            return None
                        if ch.dataType().typeName() != "string":
                            return None
                        if gc.dataType().typeName() not in _CASTABLE_TYPES:
                            return None
                        columns[ne.name()] = (gc.name(), True)
                    elif ccls in ("XxHash64", "CaseWhen"):
                        null_safe = ccls == "CaseWhen"
                        a = (_null_safe_xxhash64_attr if null_safe else _xxhash64_attr)(ch)
                        if a is None:
                            return None
                        columns[ne.name()] = (a.name(), False)
                        xxhash[ne.name()] = null_safe
                    else:
                        return None
                else:
                    return None
            rel_node = plan.child()
        elif cls == "LogicalRelation":
            rel_node = plan
            for f in pruned.schema.fields:
                columns[f.name] = (f.name, False)
        else:
            return None
        if rel_node.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = rel_node.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        if rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat":
            return None
        if rel.partitionSchema().length() != 0:
            return None
        if set(columns) != set(out_cols):
            return None
        arrow_types: dict[str, str] = {}
        for f in pruned.schema.fields:
            cast = columns[f.name][1]
            tn = f.dataType.typeName()
            if cast:
                arrow_types[f.name] = "string"
            elif tn in _PASSTHROUGH_TYPES:
                arrow_types[f.name] = _PASSTHROUGH_TYPES[tn]
            else:
                return None
        if int(plan.stats().sizeInBytes()) > _max_input_bytes(spark):
            return None
        files = []
        for uri in rel.location().inputFiles():
            p = _strip_file_uri(uri)
            if p is None or not os.path.exists(p):
                return None
            files.append(p)
        if not files or len(files) > 512:
            return None
    except Exception:
        return None  # introspection must never break a query

    # plan tasks from footers; every parse and footer read sits inside
    # the fallback: a malformed conf value or an unreadable footer means
    # the JVM scan decides the query's fate
    import pyarrow.parquet as pq

    src_cols = {src for src, _ in columns.values()}
    reads_dates = "date32[day]" in arrow_types.values()
    rg_rows: list[tuple[int, int, int]] = []  # (file_idx, rg, rows)
    try:
        target = int(
            spark.conf.get(
                "pfutil.pyscan.targetTasks", str(spark.sparkContext.defaultParallelism)
            )
        )
        # floor on rows/task: a slice decodes its whole row group's
        # column chunks, so oversplitting duplicates decode — measured at
        # 100k-row events, a 32-way oversplit LOSES 0.2s to duplicated
        # decode + task overhead while 8 tasks match the JVM scan; 65536
        # keeps tiny files at a handful of tasks. That measurement
        # predates pfutil_spark._zipcache, which took about 0.2 s off
        # every task (NOTES.md, "Per-task floor of a Python task")
        min_rows = int(spark.conf.get("pfutil.pyscan.minRowsPerTask", "65536"))
        for fi, path in enumerate(files):
            pf = pq.ParquetFile(path)
            # schema-evolved directories: a file missing one of the
            # needed columns would KeyError on the worker where the JVM
            # scan null-fills — only the JVM scan handles that correctly
            if not src_cols <= set(pf.schema_arrow.names):
                return None
            md = pf.metadata
            if reads_dates and _LEGACY_DATETIME_KEY in (md.metadata or {}):
                return None
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for j in range(rgm.num_columns):  # codec is per column chunk
                    col = rgm.column(j)
                    if (
                        col.path_in_schema.split(".")[0] in src_cols
                        and col.compression not in _OK_CODECS
                    ):
                        return None
                rg_rows.append((fi, rg, rgm.num_rows))
    except Exception:
        return None
    total = sum(r for _, _, r in rg_rows)
    rows_per_task = max(min_rows, 1, -(-total // max(1, target)))
    specs, tasks = _balanced_tasks(rg_rows, rows_per_task)
    return PyScanPlan(
        files=files,
        specs=specs,
        tasks=tasks,
        columns=columns,
        arrow_types=arrow_types,
        out_order=list(out_cols),
        xxhash=xxhash,
    )


def _balanced_tasks(
    rg_rows: list[tuple[int, int, int]], rows_per_task: int
) -> tuple[list[tuple[int, int, int, int]], list[tuple[int, int]]]:
    """Split the rows of ``rg_rows`` ((file_idx, row_group, rows) in read
    order) into ``ceil(total / rows_per_task)`` tasks whose row counts
    differ by at most one. Returns ``(specs, tasks)`` as in
    :class:`PyScanPlan`; an empty input plans one no-op task."""
    total = sum(r for _, _, r in rg_rows)
    if total == 0:
        return [(0, -1, 0, 0)], [(0, 1)]
    n_tasks = -(-total // rows_per_task)
    groups = iter([g for g in rg_rows if g[2]])
    specs: list[tuple[int, int, int, int]] = []
    tasks: list[tuple[int, int]] = []
    fi = rg = pos = left = 0
    for t in range(n_tasks):
        want = total * (t + 1) // n_tasks - total * t // n_tasks
        first = len(specs)
        while want:
            if not left:
                fi, rg, left = next(groups)
                pos = 0
            take = min(want, left)
            specs.append((fi, rg, pos, take))
            pos += take
            left -= take
            want -= take
        tasks.append((first, len(specs)))
    return specs, tasks


def task_frame(spark, plan: PyScanPlan) -> DataFrame:
    """One int64 row per task, one task per partition."""
    return spark.range(0, len(plan.tasks), 1, len(plan.tasks))


def read_spec_batches(plan: PyScanPlan, id_batches) -> Iterator:
    """Worker-side: turn this task's ids into record batches shaped
    exactly like the JVM scan's mapInArrow input (same column names,
    same Arrow types), one batch per row-group slice, so the downstream
    kernel code is byte-for-byte the same code path."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pfutil_spark.kernel.xxhash64 import xxhash64_flat
    from pfutil_spark.operators.hll_agg import _varbin_buffers

    ids: list[int] = []
    for b in id_batches:
        ids.extend(b.column("id").to_pylist())
    src_cols = sorted({src for src, _ in plan.columns.values()})
    open_files: dict[int, "pq.ParquetFile"] = {}
    for i in ids:
        first, end = plan.tasks[i]
        for fi, rg, start, length in plan.specs[first:end]:
            if rg < 0:
                continue  # empty-relation no-op task
            f = open_files.get(fi)
            if f is None:
                f = open_files[fi] = pq.ParquetFile(plan.files[fi])
            tbl = f.read_row_group(rg, columns=src_cols).slice(start, length)
            arrays = []
            for name in plan.out_order:
                src, cast = plan.columns[name]
                arr = tbl.column(src).combine_chunks()
                if name in plan.xxhash:
                    valid = (
                        arr.is_valid().to_numpy(zero_copy_only=False)
                        if arr.null_count
                        else None
                    )
                    h = xxhash64_flat(*_varbin_buffers(arr), valid)
                    keep_null = plan.xxhash[name] and valid is not None
                    arrays.append(pa.array(h, mask=~valid if keep_null else None))
                    continue
                want = pa.type_for_alias(plan.arrow_types[name])
                if cast or not arr.type.equals(want):
                    arr = pc.cast(arr, want)
                arrays.append(arr)
            yield pa.record_batch(arrays, names=plan.out_order)
