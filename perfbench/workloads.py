"""The benchmark's workloads.

Each workload generates its seeded inputs, writes them as parquet, builds
its oracle, warms up, and then offers two ways to run its job: the plain
job (what the end-to-end metrics time) and a traced iteration that calls
each layer's public functions separately, one span per call, so that the
per-layer metrics can be read from outside the program.

Per-layer metric names are shared by every workload; ``LAYER_SPANS``
says which layer's span each generic name is read from on that workload.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pfutil_spark.operators import hll_agg, multi, pyscan, sketch_agg
from pfutil_spark.streaming.hll_stream import StreamingHllState

from perfbench import corpus, oracle

SKETCH_COL = hll_agg.SKETCH_COL
INPUT_FILES = 4
SAMPLE_ROWS = {"full": 200_000, "tiny": 5_000}


class Timer:
    """Context manager that records the wall seconds of its block."""

    def __init__(self):
        self.elapsed = 0.0

    def __enter__(self):
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self._t0
        return False


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def consume(df: DataFrame) -> None:
    """Ship ``df`` through a ``mapInArrow`` that reads every batch and
    emits nothing: the cost of the JVM -> Python Arrow boundary alone."""

    def fn(batches):
        for _ in batches:
            pass
        yield from ()

    noop(df.mapInArrow(fn, "n long"))


def partial_stats(tbl: pa.Table, keys: list[str], sketch_cols: list[str]) -> dict[str, float]:
    """Counts over materialized partials: rows, summed sketch bytes (the
    shuffle payload) and the share of groups with exactly one partial
    (the merge stage's pass-through case)."""
    counts = tbl.group_by(keys).aggregate([([], "count_all")]).column("count_all")
    return {
        "partial.rows_out": tbl.num_rows,
        "partial.bytes": sum(
            pc.sum(pc.binary_length(tbl.column(c))).as_py() or 0 for c in sketch_cols
        ),
        "merge.passthrough_ratio": pc.sum(pc.equal(counts, 1)).as_py() / max(1, len(counts)),
    }


def single_batch(tbl: pa.Table) -> pa.RecordBatch:
    """All rows of ``tbl`` as one record batch (one merge partition)."""
    return tbl.combine_chunks().to_batches(max_chunksize=max(1, tbl.num_rows))[0]


class Workload:
    name = ""
    why = ""
    WARMUP_JOBS = 2
    # generic per-layer metric -> the span it is read from
    LAYER_SPANS: dict[str, str] = {}

    def __init__(self, seed: int, work_dir: str, scale: str):
        self.seed = seed
        self.work_dir = work_dir
        self.scale = scale

    # -- setup ------------------------------------------------------------
    def generate(self) -> None:
        """Build the in-memory input tables (runs beside session start)."""
        raise NotImplementedError

    def write(self) -> dict:
        """Write the inputs as parquet; return row, group and byte counts."""
        raise NotImplementedError

    def build_oracle(self) -> None:
        raise NotImplementedError

    def start_oracle(self) -> None:
        """Build the oracle on a thread, beside the cold warm-up job."""
        self._oracle_error: list[BaseException] = []

        def target():
            try:
                self.build_oracle()
            except BaseException as exc:  # re-raised by wait_oracle
                self._oracle_error.append(exc)

        self._oracle_thread = threading.Thread(target=target, name="oracle")
        self._oracle_thread.start()

    def wait_oracle(self) -> None:
        self._oracle_thread.join()
        if self._oracle_error:
            raise self._oracle_error[0]

    def warmup(self, spark: SparkSession) -> None:
        """Untimed jobs of every job shape (the first one cold); results
        are verified once the oracle is ready."""
        for _ in range(self.WARMUP_JOBS):
            result = self.run_job(spark, nullcontext())
            self.wait_oracle()
            if not self.check(result):
                raise RuntimeError(f"{self.name}: warm-up result failed the oracle")

    def sample(self) -> pa.Table:
        raise NotImplementedError

    # -- measured ---------------------------------------------------------
    rows_per_job = 0

    def run_job(self, spark: SparkSession, timer) -> object:
        """Run one job; ``timer`` is a context manager around the timed
        part. Returns the collected result for :meth:`check`."""
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def corrupt(self, result):
        """A deliberately wrong copy of ``result`` the oracle must reject."""
        raise NotImplementedError

    def traced_iteration(self, spark: SparkSession, tracer) -> tuple[bool, dict]:
        raise NotImplementedError

    def exhausted(self) -> bool:
        """True when the workload has no input left for another job."""
        return False

    def context(self) -> dict:
        return {}


def _scan_layers(tracer, df: DataFrame, cols: list[str], pruned: DataFrame) -> dict:
    """Scan-side spans: projected JVM scan, the Arrow-boundary floor, and
    whether the python-native parquet scan takes the operator's input."""
    with tracer.span("sources.scan"):
        noop(df.select(*cols))
    with tracer.span("scan.consume"):
        consume(df.select(*cols))
    taken = pyscan.try_parquet_pyscan(pruned, list(pruned.columns)) is not None
    return {"scan.pyscan_taken": int(taken)}


class CorpusWorkload(Workload):
    """A workload whose job reads the whole seeded corpus once."""

    BY = "lang"
    ROWS = {"full": 300_000, "tiny": 20_000}

    def __init__(self, seed, work_dir, scale):
        super().__init__(seed, work_dir, scale)
        self.rows_per_job = self.ROWS[scale]
        self.input_dir = os.path.join(work_dir, "corpus")

    def generate(self):
        n = self.rows_per_job
        self.table = corpus.Universe(self.seed, n).rows(n)

    def write(self):
        nbytes = corpus.write_parquet_dir(self.table, self.input_dir, INPUT_FILES)
        counts = {
            "rows": self.table.num_rows,
            "groups": {
                c: pc.count_distinct(self.table.column(c)).as_py()
                for c in ("lang", "repo")
            },
            "bytes": nbytes,
        }
        self._sample = self.table.take(np.arange(min(SAMPLE_ROWS[self.scale], self.table.num_rows)))
        del self.table
        return counts

    def sample(self):
        return self._sample


class LowcardLang(CorpusWorkload):
    name = "lowcard_lang"
    why = (
        "north-star report: 4 distinct counts per Zipf lang (17 groups) plus "
        "global rows; stage P accumulates register matrices, tiny merge"
    )
    ELEMENTS = ["repo", "path", "commit", "content_sha"]
    LAYER_SPANS = {
        "sources.scan_s": "sources.scan",
        "scan.consume_s": "scan.consume",
        "partial.s": "multi.partial",
        "merge.s": "hll_agg.merge",
        "merge.batch_s": "hll_agg.merge_record_batch",
        "eval.s": "hll_agg.count",
    }

    def build_oracle(self):
        self.oracle = oracle.LowcardOracle(self.input_dir, self.BY, self.ELEMENTS)

    def run_job(self, spark, timer):
        with timer:
            df = spark.read.parquet(self.input_dir)
            rows = multi.sourcecode_distinct_report(df, self.BY, self.ELEMENTS).collect()
        return [tuple(r) for r in rows]

    def check(self, result):
        return self.oracle.check(result)

    def corrupt(self, result):
        lang, metric, est = result[0]
        return [(lang, metric, est + 1)] + result[1:]

    def traced_iteration(self, spark, tracer):
        df = spark.read.parquet(self.input_dir)
        cols = [self.BY, *self.ELEMENTS]
        vals = _scan_layers(tracer, df, cols, df.select(*cols))
        keys = [self.BY, "metric"]
        with tracer.span("multi.partial"):
            partials = multi.pf_partial_multi(df, self.ELEMENTS, [self.BY]).localCheckpoint(
                eager=True
            )
        ptbl = partials.toArrow()
        vals.update(partial_stats(ptbl, keys, [SKETCH_COL]))
        with tracer.span("hll_agg.merge"):
            merged = hll_agg.pf_merge(partials, keys).localCheckpoint(eager=True)
        with tracer.span("hll_agg.count"):
            rows = merged.select(
                *keys, hll_agg.pf_count_col(SKETCH_COL).alias("estimate")
            ).collect()
        batch = single_batch(ptbl)
        with tracer.span("hll_agg.merge_record_batch"):
            hll_agg.merge_record_batch(batch, keys, SKETCH_COL)
        return self.oracle.check_subset([tuple(r) for r in rows]), vals


class SketchProfile(CorpusWorkload):
    name = "sketch_profile"
    why = (
        "per-lang KLL+t-digest of size, CMS of path hash, KMV of content hash: "
        "the extension sketches' kernels and sketch_agg plan"
    )
    # its jobs keep getting faster over the first five or so jobs of a run
    WARMUP_JOBS = 5
    QS = [0.01, 0.25, 0.5, 0.9, 0.99]
    N_ITEMS = 5
    LAYER_SPANS = {
        "sources.scan_s": "sources.scan",
        "scan.consume_s": "scan.consume",
        "partial.s": "sketch_agg.partial",
        "merge.s": "sketch_agg.merge",
        "merge.batch_s": "sketch_agg.merge_sketch_batch",
        "eval.s": "sketch_agg.eval",
    }

    @staticmethod
    def metrics() -> dict:
        return {
            "kll": (F.col("size"), sketch_agg.kll_spec()),
            "tdigest": (F.col("size"), sketch_agg.tdigest_spec()),
            "cms": (F.xxhash64(F.col("path")), sketch_agg.cms_spec()),
            "kmv": (F.xxhash64(F.col("content_sha")), sketch_agg.kmv_spec()),
        }

    def write(self):
        counts = super().write()
        # CMS query items: the first distinct paths of the input
        self.items = pc.unique(self._sample.column("path")).to_pylist()[: self.N_ITEMS]
        return counts

    def build_oracle(self):
        self.oracle = oracle.ProfileOracle(self.input_dir, self.work_dir, self.items)

    def _evaluate(self, df: DataFrame, merged: DataFrame) -> list[tuple]:
        rows = merged.select(
            self.BY,
            sketch_agg.kll_quantiles_col(self.QS, "kll"),
            sketch_agg.tdigest_quantiles_col(self.QS, "tdigest"),
            sketch_agg.kmv_estimate_col("kmv"),
            sketch_agg.cms_counts_col(df, self.items, "cms"),
        ).collect()
        return [tuple(r) for r in rows]

    def run_job(self, spark, timer):
        with timer:
            df = spark.read.parquet(self.input_dir)
            merged = sketch_agg.sketch_multi(df, self.metrics(), [self.BY])
            return self._evaluate(df, merged)

    def check(self, result):
        return self.oracle.check(result, self.QS)

    def corrupt(self, result):
        lang, kq, tq, kmv_est, cms_counts = result[0]
        return [(lang, kq, tq, 2 * kmv_est + 1000, cms_counts)] + result[1:]

    def traced_iteration(self, spark, tracer):
        df = spark.read.parquet(self.input_dir)
        metrics = self.metrics()
        pruned = df.select(self.BY, *[m[0].alias(name) for name, m in metrics.items()])
        vals = _scan_layers(tracer, df, [self.BY, "size", "path", "content_sha"], pruned)
        with tracer.span("sketch_agg.partial"):
            partials = sketch_agg.sketch_multi_partial(df, metrics, [self.BY]).localCheckpoint(
                eager=True
            )
        ptbl = partials.toArrow()
        vals.update(partial_stats(ptbl, [self.BY], list(metrics)))
        specs = {name: m[1] for name, m in metrics.items()}
        with tracer.span("sketch_agg.merge"):
            merged = sketch_agg.sketch_multi_merge(partials, specs, [self.BY]).localCheckpoint(
                eager=True
            )
        with tracer.span("sketch_agg.eval"):
            rows = self._evaluate(df, merged)
        batch = single_batch(ptbl)
        with tracer.span("sketch_agg.merge_sketch_batch"):
            for name, spec in specs.items():
                sketch_agg.merge_sketch_batch(batch.select([self.BY, name]), [self.BY], name, spec)
        return self.check(rows), vals


class StateUpdate(Workload):
    name = "state_update"
    why = (
        "closed loop of parquet micro-batches merged into a persisted per-repo "
        "HLL state, one estimates() read each; 1 in 4 batches is a replay"
    )
    BASE_ROWS = {"full": 400_000, "tiny": 10_000}
    BATCH_ROWS = {"full": 20_000, "tiny": 1_000}
    FRESH_BATCHES = {"full": 24, "tiny": 8}
    REPLAY_EVERY = 4  # every 4th update replays the batch two updates back
    LAYER_SPANS = {
        "sources.scan_s": "sources.scan",
        "scan.consume_s": "scan.consume",
        "partial.s": "hll_agg.partial",
        "merge.s": "hll_agg.merge",
        "merge.batch_s": "hll_agg.merge_record_batch",
        "eval.s": "streaming.estimates",
    }

    def __init__(self, seed, work_dir, scale):
        super().__init__(seed, work_dir, scale)
        self.rows_per_job = self.BATCH_ROWS[scale]
        self.base_dir = os.path.join(work_dir, "base")
        self.state_dir = os.path.join(work_dir, "state")
        self.read_times: list[float] = []
        self.replays = 0

    def generate(self):
        n = self.BASE_ROWS[self.scale]
        u = corpus.Universe(self.seed, n)
        self.base = u.rows(n)
        # the first batches are for warm-up; the schedule starts after them
        n_batches = self.WARMUP_JOBS - 1 + self.FRESH_BATCHES[self.scale]
        self.batches = [u.rows(self.rows_per_job) for _ in range(n_batches)]

    def write(self):
        nbytes = corpus.write_parquet_dir(self.base, self.base_dir, INPUT_FILES)
        self.batch_dirs = []
        for i, b in enumerate(self.batches):
            d = os.path.join(self.work_dir, "batches", f"b{i:03d}")
            nbytes += corpus.write_parquet_dir(b, d, 1)
            self.batch_dirs.append(d)
        self.schedule: list[int] = []
        fresh = self.WARMUP_JOBS - 1
        while fresh < len(self.batch_dirs):
            i = len(self.schedule)
            if i % self.REPLAY_EVERY == self.REPLAY_EVERY - 1:
                self.schedule.append(self.schedule[i - 2])
            else:
                self.schedule.append(fresh)
                fresh += 1
        self._next = 0
        counts = {
            "rows": self.base.num_rows,
            "batch_rows": self.rows_per_job,
            "batches": len(self.batch_dirs),
            "groups": {"repo": pc.count_distinct(self.base.column("repo")).as_py()},
            "bytes": nbytes,
        }
        self._sample = self.base.take(np.arange(min(SAMPLE_ROWS[self.scale], self.base.num_rows)))
        del self.base, self.batches
        return counts

    def sample(self):
        return self._sample

    def build_oracle(self):
        cols = ["repo", "commit"]
        self.base_tbl = oracle.read_parquet_dir(self.base_dir, cols)
        self.batch_tbls = [oracle.read_parquet_dir(d, cols) for d in self.batch_dirs]
        keys = pa.chunked_array(
            [t.column("repo").combine_chunks() for t in [self.base_tbl, *self.batch_tbls]]
        )
        self.oracle = oracle.KeyedHllOracle("repo", "commit", pc.unique(keys))
        self.oracle.apply(self.base_tbl)
        del self.base_tbl
        self.prev: dict | None = None
        self._pending: int | None = None

    def warmup(self, spark):
        self.state = StreamingHllState(spark, self.state_dir, "commit", ["repo"])
        self.state.update(spark.read.parquet(self.base_dir))
        self.wait_oracle()
        if not self.check(self._read(spark, nullcontext())):
            raise RuntimeError(f"{self.name}: warm-up state failed the oracle")
        for b in range(self.WARMUP_JOBS - 1):
            self._pending = b
            self.state.update(spark.read.parquet(self.batch_dirs[b]))
            if not self.check(self._read(spark, nullcontext())):
                raise RuntimeError(f"{self.name}: warm-up update failed the oracle")

    def exhausted(self):
        return self._next >= len(self.schedule)

    def _take_batch(self) -> int:
        b = self.schedule[self._next]
        self._next += 1
        self._pending = b
        return b

    def _read(self, spark, timer) -> dict:
        with timer:
            rows = self.state.estimates().collect()
        return {r[0]: r[1] for r in rows}

    def run_job(self, spark, timer):
        b = self._take_batch()
        with timer:
            self.state.update(spark.read.parquet(self.batch_dirs[b]))
        read = Timer()
        result = self._read(spark, read)
        self.read_times.append(read.elapsed)
        return result

    def check(self, result):
        """Exact match with the oracle after applying the batch just
        merged; a replayed batch must also leave every estimate as the
        previous read saw it."""
        b, self._pending = self._pending, None
        replay = b is not None and self.schedule[: self._next].count(b) > 1
        if b is not None:
            self.oracle.apply(self.batch_tbls[b])
        ok = result == self.oracle.expected()
        if replay:
            self.replays += 1
            ok = ok and result == self.prev
        self.prev = result
        return ok

    def corrupt(self, result):
        out = dict(result)
        k = next(iter(out))
        out[k] += 1
        return out

    def traced_iteration(self, spark, tracer):
        b = self._take_batch()
        bdf = spark.read.parquet(self.batch_dirs[b])
        cols = ["repo", "commit"]
        vals = _scan_layers(tracer, bdf, cols, bdf.select(*cols))
        with tracer.span("hll_agg.partial"):
            partials = hll_agg.pf_partial(bdf, "commit", ["repo"]).localCheckpoint(eager=True)
        state_rows = self.state.current().select("repo", SKETCH_COL)
        with tracer.span("hll_agg.merge"):
            noop(hll_agg.pf_merge(state_rows.unionByName(partials), ["repo"]))
        ptbl = partials.toArrow()
        stbl = state_rows.toArrow()
        union = pa.concat_tables([stbl, ptbl.cast(stbl.schema)])
        vals.update(partial_stats(ptbl, ["repo"], [SKETCH_COL]))
        vals["merge.passthrough_ratio"] = partial_stats(union, ["repo"], [SKETCH_COL])[
            "merge.passthrough_ratio"
        ]
        batch = single_batch(union)
        with tracer.span("hll_agg.merge_record_batch"):
            hll_agg.merge_record_batch(batch, ["repo"], SKETCH_COL)
        with tracer.span("streaming.update"):
            self.state.update(bdf)
        with tracer.span("streaming.estimates"):
            result = self._read(spark, nullcontext())
        return self.check(result), vals

    def context(self):
        files = [f.removeprefix("file:") for f in self.state.current().inputFiles()]
        return {
            "read_s_p50": statistics.median(self.read_times) if self.read_times else None,
            "replays_verified": self.replays,
            "state_bytes": sum(os.path.getsize(f) for f in files),
        }


WORKLOADS = {w.name: w for w in (LowcardLang, SketchProfile, StateUpdate)}
