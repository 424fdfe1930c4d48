"""StreamingHllState: one merge per update, sized from the state's
bytes on disk and the batch's estimated size, the manifest that pins
the state's parameters and
schema, the durable marker, and the plan shape (job, stage and task
counts) of update / estimates / current."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from pfutil_spark.operators.hll_agg import SKETCH_COL, pf_count_col, pf_merge, pf_partial
from pfutil_spark.operators.sketch_agg import kmv_spec, sketch_multi_merge, sketch_multi_partial
from pfutil_spark.streaming import StreamingHllState
from pfutil_spark.streaming import _state
from pfutil_spark.streaming.hll_stream import merge_partitions
from tests._spark_counts import spark_counts
from tests.conftest import plan_of

MIN_PARTITION_SIZE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
MB, GB = 1 << 20, 1 << 30


def _rows(spark, n, seed, keys=40):
    return spark.range(n).select(
        ((F.col("id") * 7 + seed) % keys).cast("string").alias("k"),
        (F.col("id") * 31 + seed * 100_003).cast("string").alias("u"),
    )


def _batches(spark):
    base = _rows(spark, 3000, 0)
    return base, [_rows(spark, 400, s) for s in (1, 2, 3)]


def _bytes_by_key(df):
    return {r["k"]: bytes(r[SKETCH_COL]) for r in df.collect()}


def _union(frames):
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    return union


def _reference(frames):
    return _bytes_by_key(pf_merge(pf_partial(_union(frames), "u", ["k"]), ["k"]))


def _estimates(df):
    return {r["k"]: r["estimate"] for r in df.collect()}


@pytest.fixture
def set_conf(spark):
    saved = {}

    def set_to(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, str(value))

    yield set_to
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def _part_files(state):
    return glob.glob(os.path.join(state._gen_path(state._current_gen()), "part-*"))


@pytest.mark.parametrize("partitions", [1, 6])
def test_single_merge_bytes_match_batch_merge(spark, tmp_path, set_conf, partitions):
    """base, three batches, then a replay of batch 2: the state's bytes
    equal one pf_merge(pf_partial(all rows)) — bytes depend neither on
    the partitioning nor on the order or grouping of the merges."""
    set_conf("spark.sql.shuffle.partitions", partitions)
    base, (b1, b2, b3) = _batches(spark)
    state = StreamingHllState(spark, str(tmp_path / "s"), "u", by=("k",))
    for df in (base, b1, b2, b3, b2):
        state.update(df)
    assert _bytes_by_key(state.current()) == _reference([base, b1, b2, b3])


def test_multi_task_state_merge_bytes_match_batch_merge(spark, tmp_path, set_conf):
    """A state past the minimum partition size merges in n > 1 tasks and
    is written as n files; base, three batches and a replay still give
    the bytes of one pf_merge over all rows, and the estimates stay
    those of the reference after every update."""
    set_conf(MIN_PARTITION_SIZE, "1k")
    base, (b1, b2, b3) = _batches(spark)
    updates = [base, b1, b2, b3, b2]
    state = StreamingHllState(spark, str(tmp_path / "s"), "u", by=("k",))
    for i, df in enumerate(updates):
        n = state._merge_partitions(state._current_gen(), df)
        state.update(df)
        assert n is None if i == 0 else len(_part_files(state)) == n
        want = pf_merge(pf_partial(_union(updates[: min(i, 3) + 1]), "u", ["k"]), ["k"])
        assert _bytes_by_key(state.current()) == _bytes_by_key(want)
        assert _estimates(state.estimates()) == _estimates(
            want.select("k", pf_count_col(SKETCH_COL).alias("estimate"))
        )
    assert n == min(spark.sparkContext.defaultParallelism, 8) > 1


@pytest.mark.parametrize(
    "merge_bytes,shuffle_partitions,min_partitions,want",
    [
        (0, 8, 3, 1),
        (int(1.9 * MB), 8, 3, 2),
        (10 * MB, 8, 3, 3),
        (10 * GB, 200, 3, -(-10 * GB // (64 * MB))),
        (10 * GB, 8, 3, 8),
        (10 * MB, 2, 3, 2),
        # parallelismFirst=false: AQE's minimum is one partition
        (10 * MB, 8, 1, 1),
        (100 * MB, 8, 1, 2),
    ],
)
def test_merge_partition_rule(merge_bytes, shuffle_partitions, min_partitions, want):
    """AQE's coalescing rule, at the default 64 MB advisory / 1 MB
    minimum partition sizes; ``min_partitions`` is 3 slots when
    ``parallelismFirst`` holds, else 1."""
    got = merge_partitions(merge_bytes, shuffle_partitions, min_partitions, 64 * MB, MB)
    assert got == want


def test_merge_partitions_follow_aqe_confs(spark, tmp_path, set_conf):
    """The state merge reads AQE's confs as AQE does, and leaves the
    exchange to AQE where it cannot size it: AQE off, or a batch the
    optimizer has no size for."""
    set_conf(MIN_PARTITION_SIZE, "1k")
    state = StreamingHllState(spark, str(tmp_path / "s"), "u", by=("k",))
    batch = _rows(spark, 400, 1)
    assert state._merge_partitions(-1, batch) is None  # before the first commit
    state.update(_rows(spark, 3000, 0))
    gen = state._current_gen()
    slots = spark.sparkContext.defaultParallelism
    assert state._merge_partitions(gen, batch) == min(slots, 8) > 1
    unsized = spark.createDataFrame(batch.rdd, batch.schema)
    assert state._merge_partitions(gen, unsized) is None
    set_conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 3)
    assert state._merge_partitions(gen, batch) == 3
    set_conf("spark.sql.adaptive.coalescePartitions.minPartitionNum", 2)
    assert state._merge_partitions(gen, batch) == 2
    set_conf("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    assert state._merge_partitions(gen, batch) == 1
    set_conf("spark.sql.adaptive.coalescePartitions.enabled", "false")
    assert state._merge_partitions(gen, batch) is None
    set_conf("spark.sql.adaptive.coalescePartitions.enabled", "true")
    set_conf("spark.sql.adaptive.enabled", "false")
    assert state._merge_partitions(gen, batch) is None


def test_large_batch_into_small_state_splits_like_aqe(spark, tmp_path, set_conf):
    """A batch far larger than its state is sized from the batch: the
    merge runs at least the tasks AQE gives the same merge, and the
    bytes stay those of one pf_merge over all rows."""
    set_conf(MIN_PARTITION_SIZE, "16k")
    set_conf("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism)
    base, big = _rows(spark, 40, 0), _rows(spark, 60_000, 1)
    state = StreamingHllState(spark, str(tmp_path / "s"), "u", by=("k",))
    state.update(base)
    with spark_counts(spark) as aqe:
        pf_merge(pf_partial(big, "u", ["k"]).unionByName(state.current()), ["k"]).collect()
    with spark_counts(spark) as upd:
        state.update(big)
    assert upd.stage_tasks[max(upd.stage_tasks)] >= aqe.stage_tasks[max(aqe.stage_tasks)] > 1
    assert _bytes_by_key(state.current()) == _reference([base, big])


def test_merge_plans_keep_aqe_partitioning(spark):
    """Only the state merge sizes its own exchange: pf_merge and
    sketch_multi_merge keep AQE's REPARTITION_BY_COL."""
    rows = _rows(spark, 500, 0)
    hll = pf_merge(pf_partial(rows, "u", ["k"]), ["k"])
    specs = {"kmv": kmv_spec(64)}
    partials = sketch_multi_partial(rows, {"kmv": (F.xxhash64("u"), specs["kmv"])}, by=["k"])
    multi = sketch_multi_merge(partials, specs, by=["k"])
    for df in (hll, multi):
        assert "REPARTITION_BY_COL" in plan_of(df, "simple"), plan_of(df, "simple")


def test_pinned_schema_equals_inferred(spark, tmp_path):
    d = str(tmp_path / "s")
    state = StreamingHllState(spark, d, "u", by=("k",))
    state.update(_rows(spark, 500, 0))
    gen_dir = state._gen_path(state._current_gen())
    assert state.current().schema == spark.read.parquet(gen_dir).schema


def _update_counts(spark, tmp_path):
    """Counts of one update() after the base commit, with the merge
    task count the state and the batch call for, and of estimates() and
    current()."""
    base, (b1, _, _) = _batches(spark)
    state = StreamingHllState(spark, str(tmp_path / "s"), "u", by=("k",))
    state.update(base)
    n = state._merge_partitions(state._current_gen(), b1)
    with spark_counts(spark) as upd:
        state.update(b1)
    with spark_counts(spark) as est:
        state.estimates().collect()
    with spark_counts(spark) as cur:
        state.current()
    return n, upd, est, cur


def test_plan_shape_counts(spark, tmp_path):
    """update(): 2 jobs, 3 stages, the last (merge + write) of n tasks."""
    n, upd, est, cur = _update_counts(spark, tmp_path)
    assert (upd.jobs, upd.stages) == (2, 3), upd
    assert upd.stage_tasks[max(upd.stage_tasks)] == n == 1, upd
    assert est.jobs == 1, est
    assert cur.jobs == 0, cur


def test_plan_shape_counts_multi_task_merge(spark, tmp_path, set_conf):
    """A state past the minimum partition size: the same 2 jobs and 3
    stages, with a merge stage of one task per slot."""
    set_conf(MIN_PARTITION_SIZE, "1k")
    n, upd, _, _ = _update_counts(spark, tmp_path)
    assert (upd.jobs, upd.stages) == (2, 3), upd
    assert n == min(spark.sparkContext.defaultParallelism, 8) > 1
    assert upd.stage_tasks[max(upd.stage_tasks)] == n, upd


def test_manifest_written_at_first_commit(spark, tmp_path):
    d = tmp_path / "s"
    state = StreamingHllState(spark, str(d), "u", by=("k",), version=5)
    state.update(_rows(spark, 500, 0))
    m = json.loads((d / _state.MANIFEST).read_text())
    assert (m["by"], m["element"], m["version"]) == (["k"], "u", 5)
    assert [f["name"] for f in m["schema"]["fields"]] == ["k", SKETCH_COL]


@pytest.mark.parametrize(
    "kwargs",
    [
        {"element": "u", "by": ("other",)},
        {"element": "u", "by": ()},
        {"element": "other", "by": ("k",)},
        {"element": "u", "by": ("k",), "version": 5},
    ],
)
def test_reopen_with_other_parameters_raises(spark, tmp_path, kwargs):
    d = str(tmp_path / "s")
    StreamingHllState(spark, d, "u", by=("k",)).update(_rows(spark, 500, 0))
    with pytest.raises(ValueError, match="holds HLL state for"):
        StreamingHllState(spark, d, **kwargs)


def test_manifest_without_marker_is_replaced(spark, tmp_path):
    """A first commit that crashed after the manifest but before the
    marker leaves no state: the next first commit rewrites the
    manifest with its own parameters."""
    d = tmp_path / "s"
    d.mkdir()
    (d / _state.MANIFEST).write_text(
        json.dumps({"by": ["x"], "element": "y", "version": 5, "schema": {}})
    )
    StreamingHllState(spark, str(d), "u", by=("k",)).update(_rows(spark, 500, 0))
    again = StreamingHllState(spark, str(d), "u", by=("k",))
    assert json.loads((d / _state.MANIFEST).read_text())["by"] == ["k"]
    assert _bytes_by_key(again.current()) == _reference([_rows(spark, 500, 0)])


def test_batch_with_other_key_type_raises(spark, tmp_path):
    d = str(tmp_path / "s")
    StreamingHllState(spark, d, "u", by=("k",)).update(_rows(spark, 500, 0))
    state = StreamingHllState(spark, d, "u", by=("k",))
    bad = _rows(spark, 100, 1).withColumn("k", F.col("k").cast("int"))
    with pytest.raises(ValueError, match="keys it as string"):
        state.update(bad)


def test_reopen_with_same_parameters_continues(spark, tmp_path):
    d = str(tmp_path / "s")
    base, (b1, b2, _) = _batches(spark)
    first = StreamingHllState(spark, d, "u", by=("k",))
    first.update(base)
    first.update(b1)
    again = StreamingHllState(spark, d, "u", by=("k",))
    assert again._current_gen() == 1
    again.update(b2)
    assert again._current_gen() == 2
    assert _bytes_by_key(again.current()) == _reference([base, b1, b2])


def test_state_without_manifest_reads_and_gains_one(spark, tmp_path):
    """A state dir committed before manifests existed: read with schema
    inference, then the next update writes the manifest."""
    d = tmp_path / "s"
    base, (b1, _, _) = _batches(spark)
    StreamingHllState(spark, str(d), "u", by=("k",)).update(base)
    (d / _state.MANIFEST).unlink()
    legacy = StreamingHllState(spark, str(d), "u", by=("k",))
    assert _bytes_by_key(legacy.current()) == _reference([base])
    legacy.update(b1)
    assert (d / _state.MANIFEST).exists()
    reopened = StreamingHllState(spark, str(d), "u", by=("k",))
    with spark_counts(spark) as cur:
        df = reopened.current()
    assert cur.jobs == 0, cur
    assert _bytes_by_key(df) == _reference([base, b1])


def test_state_without_manifest_checks_columns(spark, tmp_path):
    d = tmp_path / "s"
    StreamingHllState(spark, str(d), "u", by=("k",)).update(_rows(spark, 500, 0))
    (d / _state.MANIFEST).unlink()
    with pytest.raises(ValueError, match="holds columns"):
        StreamingHllState(spark, str(d), "u", by=("other",)).current()


def _fail_commit(self, *fields, manifest=None):
    raise RuntimeError("injected: crash before the marker commit")


def _fail_write(self, path, *args, **kwargs):
    # the overwrite has already cleared the target generation when the
    # job dies: leave a torn directory behind
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-torn.parquet"), "wb") as f:
        f.write(b"PAR1 torn")
    raise RuntimeError("injected: crash during the generation write")


@pytest.mark.parametrize(
    "target,fault",
    [
        (_state.GenerationState, ("commit", _fail_commit)),
        (DataFrameWriter, ("parquet", _fail_write)),
    ],
    ids=["before-marker", "during-write"],
)
def test_crash_keeps_previous_generation_and_replay_converges(
    spark, tmp_path, monkeypatch, target, fault
):
    d = str(tmp_path / "s")
    base, (b1, b2, _) = _batches(spark)
    state = StreamingHllState(spark, d, "u", by=("k",))
    state.update(base)
    state.update(b1)
    before = _bytes_by_key(state.current())
    with monkeypatch.context() as m:
        m.setattr(target, *fault)
        with pytest.raises(RuntimeError, match="injected"):
            state.update(b2)
    # the marker still names the previous generation, which is intact
    reopened = StreamingHllState(spark, d, "u", by=("k",))
    assert reopened._current_gen() == 1
    assert _bytes_by_key(reopened.current()) == before
    # replaying the batch (at-least-once delivery) converges
    reopened.update(b2)
    assert _bytes_by_key(reopened.current()) == _reference([base, b1, b2])


def test_commit_fsyncs_before_publishing(tmp_path, monkeypatch):
    """Manifest and marker are fsynced before their rename, then the
    directory is fsynced so the renames survive a crash."""
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append("fsync")
        real_fsync(fd)

    def replace(src, dst):
        events.append("replace " + os.path.basename(dst))
        real_replace(src, dst)

    monkeypatch.setattr(_state.os, "fsync", fsync)
    monkeypatch.setattr(_state.os, "replace", replace)
    gs = _state.GenerationState(str(tmp_path / "s"))
    gs.commit(0, manifest={"by": []})
    assert events == [
        "fsync", f"replace {_state.MANIFEST}",
        "fsync", f"replace {_state.MARKER}",
        "fsync",
    ]
    assert gs.read() == [0] and gs.read_manifest() == {"by": []}
    events.clear()
    gs.commit(1, 7)
    assert events == ["fsync", f"replace {_state.MARKER}", "fsync"]
    assert gs.read() == [1, 7]
