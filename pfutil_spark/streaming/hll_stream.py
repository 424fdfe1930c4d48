"""Structured-Streaming distinct counting.

The mergeable-state contract makes streaming a corollary of the batch
plan: each micro-batch reduces to per-group partial sketches (stage P,
``pf_partial``), which are unioned with the persisted sketch-state rows
and folded by ONE merge (stage M, the body of ``pf_merge``) into the
next state generation via ``foreachBatch``. PFMERGE is a register-wise max —
associative, commutative and idempotent — so the raw partials need no
merge of their own before meeting the state, and at-least-once batch
delivery still yields exactly-correct sketches: a replayed micro-batch
merges to a no-op, so the sink is effectively exactly-once for the STATE
even when the engine only guarantees at-least-once for the writes.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from pfutil_spark.operators.hll_agg import SKETCH_COL, _merge_stage, pf_count_col, pf_partial
from pfutil_spark.streaming._state import GenerationState


def merge_partitions(
    merge_bytes: int,
    shuffle_partitions: int,
    min_partitions: int,
    advisory_bytes: int,
    min_partition_bytes: int,
) -> int:
    """Tasks for a merge of ``merge_bytes`` bytes by AQE's
    shuffle-coalescing rule: partitions of about ``advisory_bytes``, but
    at least ``min_partitions`` of them while each keeps
    ``min_partition_bytes``, and at most ``shuffle_partitions``.

    AQE applies this rule to the compressed shuffle bytes once the
    shuffle has run; applied to bytes known on the driver, it sizes the
    exchange before the job, and it splits a merge that AQE would leave
    to one Python task once it passes ``min_partition_bytes``."""
    n = max(
        1,
        -(-merge_bytes // advisory_bytes),
        min(min_partitions, -(-merge_bytes // min_partition_bytes)),
    )
    return min(shuffle_partitions, n)


class StreamingHllState:
    """Persistent per-group sketch state updated per micro-batch.

    State lives as a parquet sketch table at ``state_dir`` (two
    alternating generations for atomic swap without a transactional
    catalog; with Iceberg configured this would be a single MERGE) plus
    a manifest, written at the first commit, that records the ``by``
    names and types, the ``element`` and the HLL ``version``. Reopening
    a state dir with different parameters raises instead of silently
    mixing states. A state dir committed before manifests existed is
    read once with schema inference and gains its manifest at its next
    commit.

    Plan shapes (counted by tests/test_streaming_state.py):

    * ``update()`` — stage P over the batch, union with the current
      generation, one Exchange, stage M, parquet write: 2 jobs, 3
      stages. Stage M runs n tasks, where n is
      :func:`merge_partitions` of the larger of the current
      generation's bytes on disk and the batch's estimated size (AQE's
      choice at the first commit; see ``_merge_partitions``), so each
      generation is written as n parquet files and the next state scan,
      and ``estimates()``, run n-wide. Stage P comes first in the union, so
      its Python tasks start in the first wave.
    * ``current()`` — a parquet scan with the schema pinned from the
      manifest: no job (no schema-inference pass).
    * ``estimates()`` — that scan plus the PFCOUNT projection: 1 job.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        element: str,
        by: Sequence[str] = (),
        version: int = 4,
    ):
        self.spark = spark
        # shared marker machinery; rejects ANY "://" URI — the marker is
        # driver-local file IO, and even file:// would silently diverge
        # from where Spark writes the generation parquet
        self._state = GenerationState(state_dir)
        self.state_dir = self._state.state_dir
        self.element = element
        self.by = list(by)
        self.version = version
        self._schema: StructType | None = None  # committed table schema
        self._table_schema()

    def _gen_path(self, gen: int) -> str:
        return self._state.gen_path(gen)

    def _current_gen(self) -> int:
        vals = self._state.read()
        return vals[0] if vals else -1

    def _table_schema(self) -> StructType | None:
        """The committed state's schema, pinned from the manifest after
        checking it against this instance's parameters; None before the
        first commit and for a state dir without a manifest."""
        if self._schema is None and self._state.read():
            manifest = self._state.read_manifest()
            if manifest is not None:
                got = (manifest["by"], manifest["element"], manifest["version"])
                want = (self.by, self.element, self.version)
                if got != want:
                    raise ValueError(
                        f"state dir {self.state_dir!r} holds HLL state for "
                        f"by={got[0]}, element={got[1]!r}, version={got[2]}; "
                        f"opened with by={want[0]}, element={want[1]!r}, "
                        f"version={want[2]}"
                    )
                self._schema = StructType.fromJson(manifest["schema"])
        return self._schema

    def _read_gen(self, gen: int) -> DataFrame:
        reader = self.spark.read
        schema = self._table_schema()
        if schema is not None:
            return reader.schema(schema).parquet(self._gen_path(gen))
        # committed without a manifest: infer once, pin for later reads
        df = reader.parquet(self._gen_path(gen))
        if df.columns != [*self.by, SKETCH_COL]:
            raise ValueError(
                f"state dir {self.state_dir!r} holds columns {df.columns}; "
                f"opened with by={self.by}"
            )
        self._schema = df.schema
        return df

    def current(self) -> DataFrame | None:
        gen = self._current_gen()
        if gen < 0:
            return None
        return self._read_gen(gen)

    def _merge_partitions(self, gen: int, batch_df: DataFrame) -> int | None:
        """Merge tasks for ``batch_df`` into generation ``gen``, on the
        driver with no Spark job: :func:`merge_partitions` of the larger
        of the generation's data files (the names Spark reads: not
        starting with ``_`` or ``.``) and the optimizer's size estimate
        of the batch columns stage P reads, with AQE's confs and its
        minimum of partitions (``minPartitionNum``, else the default
        parallelism, when ``parallelismFirst``; else 1).

        The estimate counts the batch's input, typically several times
        its partials (about 6x for the 20k-row batches of the
        ``state_update`` benchmark), so summing it with the state
        would oversize a merge that the state dominates; the larger of
        the two sizes a merge from whichever side dominates it.

        None, so AQE sizes the exchange from the real shuffle bytes,
        before the first commit (a 400k-row base batch on a 4-core host:
        2 tasks in 0.44 s where one took 0.53 s), when the batch's size
        is unknown to the optimizer (its default size), and when AQE's
        coalescing is off (the exchange keeps
        ``spark.sql.shuffle.partitions``, as every other merge)."""
        conf = self.spark.conf
        sc = self.spark.sparkContext
        to_bytes = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
        aqe = "spark.sql.adaptive."
        if gen < 0 or not all(
            conf.get(aqe + c).lower() == "true" for c in ("enabled", "coalescePartitions.enabled")
        ):
            return None
        plan = batch_df.select(*self.by, self.element)._jdf.queryExecution().optimizedPlan()
        batch_bytes = int(str(plan.stats().sizeInBytes()))
        if batch_bytes >= to_bytes(conf.get("spark.sql.defaultSizeInBytes")):
            return None
        with os.scandir(self._gen_path(gen)) as files:
            state_bytes = sum(
                f.stat().st_size for f in files if not f.name.startswith(("_", "."))
            )
        coalesce = aqe + "coalescePartitions."
        min_partitions = 1
        if conf.get(coalesce + "parallelismFirst").lower() == "true":
            min_partitions = int(
                conf.get(coalesce + "minPartitionNum", None) or sc.defaultParallelism
            )
        return merge_partitions(
            max(state_bytes, batch_bytes),
            int(
                conf.get(coalesce + "initialPartitionNum", None)
                or conf.get("spark.sql.shuffle.partitions")
            ),
            min_partitions,
            to_bytes(conf.get(aqe + "advisoryPartitionSizeInBytes")),
            to_bytes(conf.get(coalesce + "minPartitionSize")),
        )

    def update(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """Merge one (micro-)batch into the state: the batch's raw
        partials and the current generation's rows meet in ONE merge.
        Idempotent under replay of the same rows."""
        gen = self._current_gen()
        schema = self._table_schema()
        if schema is not None:
            for c in self.by:
                got, want = batch_df.schema[c].dataType, schema[c].dataType
                if got != want:
                    raise ValueError(
                        f"batch column {c!r} is {got.simpleString()}; the state "
                        f"in {self.state_dir!r} keys it as {want.simpleString()}"
                    )
        rows = pf_partial(batch_df, self.element, self.by, self.version)
        if gen >= 0:
            rows = rows.unionByName(self._read_gen(gen))
        n = self._merge_partitions(gen, batch_df)
        merged = _merge_stage(rows, self.by, SKETCH_COL, partitions=n)
        merged.write.mode("overwrite").parquet(self._gen_path(gen + 1))
        manifest = None
        # a manifest without a marker is left from a crashed first commit
        if gen < 0 or self._state.read_manifest() is None:
            # parquet reads every column back as nullable
            table = StructType(
                [StructField(f.name, f.dataType, True, f.metadata) for f in merged.schema]
            )
            manifest = {
                "by": self.by,
                "element": self.element,
                "version": self.version,
                "schema": table.jsonValue(),
            }
        self._state.commit(gen + 1, manifest=manifest)
        if manifest is not None:
            self._schema = table

    def estimates(self) -> DataFrame:
        cur = self.current()
        if cur is None:
            raise ValueError("no state committed yet")
        return cur.select(
            *self.by, pf_count_col(SKETCH_COL, self.version).alias("estimate")
        )


def streaming_distinct_with_state(
    stream_df: DataFrame,
    element: str,
    by: Sequence[str],
    version: int = 4,
) -> DataFrame:
    """Custom stateful streaming operator: running PFCOUNT per key via
    ``applyInPandasWithState`` — the per-key GroupState IS the serialized
    HLL sketch (constant 12KB regardless of stream length), updated with
    the vectorized PFADD kernel each micro-batch and emitting the running
    estimate. Output mode: update."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    import pandas as pd

    from pfutil_spark.kernel import hll

    by = list(by)
    out_schema = StructType(
        [stream_df.schema[c] for c in by] + [StructField("estimate", LongType(), False)]
    )
    state_schema = StructType([StructField("sketch", BinaryType(), True)])

    def fn(key, pdfs, state: GroupState):
        regs = (
            hll.decode(bytes(state.get[0])) if state.exists else hll.empty_registers()
        )
        for pdf in pdfs:
            elems = pdf[element].dropna()
            if len(elems):
                first = elems.iloc[0]
                if isinstance(first, (bytes, bytearray)):
                    datas = list(elems)
                else:
                    datas = list(elems.astype("string").str.encode("utf-8"))
                idx, pl = hll.hash_and_patlen(datas, version)
                hll.update_registers(regs, idx, pl)
        state.update((hll.encode(regs),))
        yield pd.DataFrame([(*key, hll.estimate(regs, version))], columns=by + ["estimate"])

    return stream_df.groupBy(*by).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_windowed_distinct(
    stream_df: DataFrame,
    ts: str,
    element: str,
    by: Sequence[str] = (),
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    version: int = 4,
) -> DataFrame:
    """Windowed streaming distinct count with late-data handling: a
    watermark on the event-time column bounds state, tumbling/sliding
    windows become part of the sketch key, and the per-(window, key)
    GroupState is the constant-size HLL. Output mode: update."""
    from pyspark.sql import functions as F

    # watermarks require TIMESTAMP (not TIMESTAMP_NTZ)
    stream_df = stream_df.withColumn(ts, F.col(ts).cast("timestamp"))
    win = F.window(F.col(ts), window, slide or window)
    keyed = (
        stream_df.withWatermark(ts, watermark)
        .withColumn("window_start", win.start)
        .withColumn("window_end", win.end)
    )
    return streaming_distinct_with_state(
        keyed, element, ["window_start", "window_end", *by], version
    )


def streaming_session_counts(
    stream_df: DataFrame,
    ts: str,
    by: Sequence[str],
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization on a STREAM via Spark's native
    ``session_window`` (dynamic-gap session state, watermark-bounded and
    merged by the engine — the streaming counterpart of
    :func:`operators.asof.sessionize`, whose lag+cumsum shape can't run
    incrementally). Emits one row per closed-or-updated session:
    (by..., session_start, session_end, n_events)."""
    from pyspark.sql import functions as F

    by = list(by)
    stream_df = stream_df.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        stream_df.withWatermark(ts, watermark)
        .groupBy(*by, F.session_window(F.col(ts), gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *by,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def attach_hll_foreach_batch(
    stream_df: DataFrame,
    state: StreamingHllState,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Wire a streaming DataFrame into the sketch state via foreachBatch.
    Returns the started StreamingQuery."""
    writer = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda bdf, bid: state.update(bdf, bid))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
