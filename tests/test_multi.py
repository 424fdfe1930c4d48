"""Multi-element single-scan sketching (the north-star report shape)."""

from pyspark.sql import functions as F

from pfutil_spark.operators import pf_count_col, pf_count_distinct, pf_merge
from pfutil_spark.operators.hll_agg import SKETCH_COL
from pfutil_spark.operators.multi import (
    pf_count_distinct_multi,
    sourcecode_distinct_report,
)
from pfutil_spark.sources import sourcecode_table
from tests.conftest import plan_of


def test_multi_matches_single_column_runs(spark):
    src = sourcecode_table(spark, 20_000, partitions=8).withColumn(
        "content_sha", F.sha2(F.col("content"), 256)
    )
    multi = pf_count_distinct_multi(
        src, ["repo", "path", "commit", "content_sha"], by=("lang",)
    ).collect()
    got = {(r["lang"], r["metric"]): r["estimate"] for r in multi}
    for metric in ("repo", "commit", "content_sha"):
        single = pf_count_distinct(src, metric, by=("lang",)).collect()
        for r in single:
            assert got[(r["lang"], metric)] == r["estimate"], (metric, r["lang"])


def test_count_distinct_multi_fuses_merge_and_count(spark):
    """pf_count_distinct_multi runs the fused merge+PFCOUNT stage: no
    separate ArrowEvalPython node, and the same estimates as pf_merge
    followed by pf_count_col over the same partials."""
    from pfutil_spark.operators.multi import pf_partial_multi

    src = sourcecode_table(spark, 5_000, partitions=4)
    elements = ["repo", "path"]
    fused = pf_count_distinct_multi(src, elements, by=("lang",))
    assert "ArrowEvalPython" not in plan_of(fused, "simple")
    partials = pf_partial_multi(src, elements, ("lang",)).localCheckpoint()
    old = pf_merge(partials, ["lang", "metric"]).select(
        "lang", "metric", pf_count_col(SKETCH_COL).alias("estimate")
    )
    assert sorted(fused.collect()) == sorted(old.collect())


def test_sourcecode_report_global_rows_and_bounds(spark):
    src = sourcecode_table(spark, 30_000, partitions=8).withColumn(
        "content_sha", F.sha2(F.col("content"), 256)
    )
    rep = sourcecode_distinct_report(src).collect()
    rows = {(r["lang"], r["metric"]): r["estimate"] for r in rep}
    langs = {r["lang"] for r in rep if r["lang"] is not None}
    metrics = {"repo", "path", "commit", "content_sha"}
    assert {m for (_, m) in rows} == metrics
    # global row exists for every metric and matches exact within bound
    for m in metrics:
        assert (None, m) in rows
        exact = src.select(F.countDistinct(m).alias("x")).collect()[0]["x"]
        est = rows[(None, m)]
        assert abs(est - exact) <= max(1, round(3 * 0.008125 * exact)), (m, est, exact)
    # global >= every per-lang estimate (union dominates)
    for (lang, m), est in rows.items():
        if lang is not None:
            assert rows[(None, m)] >= est * 0.97  # HLL noise guard


def test_multi_null_elements_ignored(spark):
    src = (
        spark.range(1000)
        .withColumn("g", (F.col("id") % 2).cast("string"))
        .withColumn("a", F.when(F.col("id") % 3 == 0, None).otherwise(
            F.col("id").cast("string")))
        .withColumn("b", F.col("id").cast("string"))
    )
    rows = pf_count_distinct_multi(src, ["a", "b"], by=("g",)).collect()
    got = {(r["g"], r["metric"]): r["estimate"] for r in rows}
    for g in ("0", "1"):
        assert got[(g, "a")] < got[(g, "b")]
        single = pf_count_distinct(src, "a", by=("g",)).collect()
        for r in single:
            assert got[(r["g"], "a")] == r["estimate"]


def test_multi_all_null_column_rowset_partition_independent(spark):
    """An all-NULL element column must emit (group, metric) rows with
    empty sketches on EVERY path: accumulation single-partition,
    accumulation multi-partition, and direct-emit — the output row set
    may not depend on batch splits (regression: the accumulation path
    skipped fully-null batches, dropping the metric entirely)."""
    src = (
        spark.range(100)
        .withColumn("g", (F.col("id") % 4).cast("string"))
        .withColumn("a", F.col("id").cast("string"))
        .withColumn("z", F.lit(None).cast("string"))
    )
    expect = {(str(g), m) for g in range(4) for m in ("a", "z")}
    for shaped in (src.coalesce(1), src.repartition(5)):
        rows = pf_count_distinct_multi(shaped, ["a", "z"], by=("g",)).collect()
        got = {(r["g"], r["metric"]): r["estimate"] for r in rows}
        assert set(got) == expect
        for g in range(4):
            assert got[(str(g), "z")] == 0


def _old_report_rows(df, by, elements):
    """The report's row multiset as the two-shuffle plan produced it:
    per-group rows (a NULL key is a group of its own) plus one global
    row per metric with the key NULL."""
    per_group = pf_count_distinct_multi(df, elements, by=(by,)).collect()
    glob = pf_count_distinct_multi(df, elements).collect()
    rows = [(r[by], r["metric"], r["estimate"]) for r in per_group]
    rows += [(None, r["metric"], r["estimate"]) for r in glob]
    return sorted(rows, key=repr)


def test_sourcecode_report_null_lang_rows(spark):
    """A real NULL-lang group and the global row are both NULL-keyed;
    the report keeps them apart (one row each per metric)."""
    src = (
        spark.range(6000)
        .withColumn(
            "lang",
            F.when(F.col("id") % 5 == 0, None).otherwise(
                (F.col("id") % 3).cast("string")
            ),
        )
        .withColumn("repo", (F.col("id") % 97).cast("string"))
        .withColumn("path", F.col("id").cast("string"))
        .repartition(4)
    )
    elements = ["repo", "path"]
    rep = sourcecode_distinct_report(src, elements=elements).collect()
    got = sorted(((r["lang"], r["metric"], r["estimate"]) for r in rep), key=repr)
    assert got == _old_report_rows(src, "lang", elements)
    assert sum(1 for r in got if r[0] is None) == 2 * len(elements)


def test_global_partials_same_on_both_stage_p_paths(spark):
    """Global partials from the accumulation path and from the
    direct-emit path merge to the same bytes, at any partitioning."""
    from pfutil_spark.operators.multi import GLOBAL_COL, pf_partial_multi
    from pfutil_spark.operators.hll_agg import SKETCH_COL

    src = (
        spark.range(5000)
        .withColumn("k", (F.col("id") % 300).cast("string"))
        .withColumn("a", F.col("id").cast("string"))
        .withColumn("z", F.when(F.col("id") % 2 == 0, None).otherwise(F.col("id").cast("string")))
    )
    keys = ["k", GLOBAL_COL, "metric"]
    seen = set()
    for shaped in (src.coalesce(1), src.repartition(5)):
        for direct in (1, 4096):
            p = pf_partial_multi(
                shaped, ["a", "z"], by=("k",), direct_emit_groups=direct, global_rows=True
            )
            rows = pf_merge(p, keys).collect()
            seen.add(
                frozenset((r["k"], r[GLOBAL_COL], r["metric"], bytes(r[SKETCH_COL])) for r in rows)
            )
    assert len(seen) == 1
    (rows,) = seen
    assert {(m, g) for k, g, m, _ in rows if k is None} == {("a", True), ("z", True)}


def test_sourcecode_report_plan_counts(spark, tmp_path):
    """Pre-read input: stage P, one Exchange, the fused merge+count
    stage — at most 2 Spark jobs for the whole report."""
    from tests._spark_counts import spark_counts

    path = str(tmp_path / "src")
    sourcecode_table(spark, 5_000, partitions=4).withColumn(
        "content_sha", F.sha2(F.col("content"), 256)
    ).write.parquet(path)
    df = spark.read.parquet(path)
    with spark_counts(spark) as c:
        rows = sourcecode_distinct_report(df).collect()
    assert c.jobs <= 2, c
    assert sum(1 for r in rows if r["lang"] is None) == 4


def test_accumulate_partials_run_no_per_run_python(monkeypatch):
    """Stage P's accumulate-path flushes (group rows, global rows, and
    pf_partial's one-element case) encode through the batched encoder:
    with the scalar sparse encoder's run loop made to raise, the partial
    function still finishes, and its bytes equal the scalar encoder's."""
    import numpy as np
    import pyarrow as pa

    from pfutil_spark.kernel import hll
    from pfutil_spark.operators import multi

    n = 20_000
    ids = np.arange(n)
    # group x: dense (20k/3 distinct); y: sparse; z: all-NULL column "a"
    grp = np.where(ids % 3 == 0, "x", np.where(ids % 3 == 1, "y", "z"))
    a = [None if g == "z" else (str(i) if g == "x" else str(i % 50)) for i, g in zip(ids, grp)]
    b = [str(i % 700) for i in ids]
    batches = [
        pa.record_batch({"g": pa.array(grp[s : s + 5000]), "a": pa.array(a[s : s + 5000]),
                         "b": pa.array(b[s : s + 5000])})
        for s in range(0, n, 5000)
    ]

    def boom(*_args, **_kwargs):
        raise AssertionError("per-run scalar encoder called")

    monkeypatch.setattr(hll, "encode_sparse_payload", boom)
    monkeypatch.setattr(hll, "_emit_zero_runs", boom)
    fn = multi._partial_multi_fn(["g"], ["a", "b"], 4, 4096, 4096, True)
    multi_rows = pa.Table.from_batches(list(fn(iter(batches)))).to_pylist()
    single = {}
    for by in (["g"], []):
        pfn = multi._partial_multi_fn(by, ["a"], 4, 8192, 4096, False)
        single[tuple(by)] = pa.Table.from_batches(list(pfn(iter(batches)))).to_pylist()
    monkeypatch.undo()

    def expect(mask_rows, col):
        regs = hll.empty_registers()
        vals = [v.encode() for v, m in zip(col, mask_rows) if m and v is not None]
        if vals:
            hll.update_registers(regs, *hll.hash_and_patlen(vals, 4))
        return hll.encode(regs)

    got = {(r["g"], r[multi.GLOBAL_COL], r["metric"]): r["sketch"] for r in multi_rows}
    assert len(got) == 3 * 2 + 2
    for metric, col in (("a", a), ("b", b)):
        assert got[(None, True, metric)] == expect([True] * n, col)
        for g in ("x", "y", "z"):
            assert got[(g, False, metric)] == expect(grp == g, col)
    # the all-NULL group z keeps its (empty) sketch, as in the multi rows
    assert {r["g"]: r["sketch"] for r in single[("g",)]} == {
        g: expect(grp == g, a) for g in ("x", "y", "z")
    }
    assert [r["sketch"] for r in single[()]] == [expect([True] * n, a)]
    # the cases the flushes hit: dense, sparse and empty sketches
    kinds = {bytes(v)[4] for v in got.values()}
    assert kinds == {hll.ENC_DENSE, hll.ENC_SPARSE}
    assert got[("z", False, "a")] == hll.encode(hll.empty_registers())
