"""StreamingHllState: one merge per update, the manifest that pins the
state's parameters and schema, the durable marker, and the plan shape
(job counts) of update / estimates / current."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from pfutil_spark.operators.hll_agg import SKETCH_COL, pf_merge, pf_partial
from pfutil_spark.streaming import StreamingHllState
from pfutil_spark.streaming import _state
from tests._spark_counts import spark_counts


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


def _reference(frames):
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    return _bytes_by_key(pf_merge(pf_partial(union, "u", ["k"]), ["k"]))


@pytest.fixture
def shuffle_partitions(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")

    def set_to(n):
        spark.conf.set("spark.sql.shuffle.partitions", str(n))

    yield set_to
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("partitions", [1, 6])
def test_single_merge_bytes_match_batch_merge(spark, tmp_path, shuffle_partitions, partitions):
    """base, three batches, then a replay of batch 2: the state's bytes
    equal one pf_merge(pf_partial(all rows)) — bytes depend neither on
    the partitioning nor on the order or grouping of the merges."""
    shuffle_partitions(partitions)
    base, (b1, b2, b3) = _batches(spark)
    state = StreamingHllState(spark, str(tmp_path / "s"), "u", by=("k",))
    for df in (base, b1, b2, b3, b2):
        state.update(df)
    assert _bytes_by_key(state.current()) == _reference([base, b1, b2, b3])


def test_pinned_schema_equals_inferred(spark, tmp_path):
    d = str(tmp_path / "s")
    state = StreamingHllState(spark, d, "u", by=("k",))
    state.update(_rows(spark, 500, 0))
    gen_dir = state._gen_path(state._current_gen())
    assert state.current().schema == spark.read.parquet(gen_dir).schema


def test_plan_shape_counts(spark, tmp_path):
    base, (b1, _, _) = _batches(spark)
    state = StreamingHllState(spark, str(tmp_path / "s"), "u", by=("k",))
    state.update(base)
    with spark_counts(spark) as upd:
        state.update(b1)
    with spark_counts(spark) as est:
        state.estimates().collect()
    with spark_counts(spark) as cur:
        state.current()
    assert upd.jobs <= 2, upd
    assert est.jobs == 1, est
    assert cur.jobs == 0, cur


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
