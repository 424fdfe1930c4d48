"""Distributed HLL tests — reference layer-3 analogue: the same element
stream through the Spark two-phase plan and through the pure-numpy kernel
must produce IDENTICAL sketch bytes at any partitioning (merge-order
independence under Spark's nondeterministic partition orders), and
estimates must match exact COUNT(DISTINCT) within the published bound.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pfutil_spark.kernel import hll
from pfutil_spark.operators import (
    pf_count_col,
    pf_count_distinct,
    pf_dump_col,
    pf_merge,
    pf_partial,
    pf_restore_col,
    pf_sketch,
)
from tests.conftest import REDIS_FIXTURES


def make_df(spark, n=5000, n_groups=7, dup=3, partitions=None):
    """Deterministic skewed synthetic frame: (grp, elem)."""
    df = (
        spark.range(n)
        .withColumn("grp", (F.col("id") % F.lit(n_groups)).cast("string"))
        .withColumn("elem", F.concat(F.lit("e"), (F.col("id") % F.lit(n // dup)).cast("string")))
    )
    if partitions:
        df = df.repartition(partitions)
    return df


def local_sketch(elements, version=4):
    regs = hll.empty_registers()
    idx, pl = hll.hash_and_patlen(elements, version)
    hll.update_registers(regs, idx, pl)
    return regs


@pytest.mark.parametrize("version", [4, 5])
def test_global_count_matches_kernel_exactly(spark, version):
    df = make_df(spark, n=3000, dup=3, partitions=5)
    est = pf_count_distinct(df, "elem", by=(), version=version).collect()[0]["estimate"]
    elems = [f"e{i}".encode() for i in range(1000)]
    assert est == hll.estimate(local_sketch(elems, version), version)


def test_grouped_count_matches_kernel_and_exact(spark):
    df = make_df(spark, n=6000, n_groups=5, dup=2, partitions=7)
    rows = pf_count_distinct(df, "elem", by=("grp",)).collect()
    got = {r["grp"]: r["estimate"] for r in rows}
    pdf = df.select("grp", "elem").toPandas()
    exact = pdf.groupby("grp")["elem"].nunique()
    assert set(got) == set(exact.index)
    for g, est in got.items():
        # kernel parity: same elements through pure numpy
        elems = [e.encode() for e in pdf[pdf["grp"] == g]["elem"].unique()]
        assert est == hll.estimate(local_sketch(elems), 4), g
        assert abs(est - exact[g]) / exact[g] <= 3 * 0.008125


@pytest.mark.parametrize("partitions", [1, 3, 16])
def test_sketch_bytes_partition_invariant(spark, partitions):
    """north_star: byte-identical merge associativity across arbitrary
    partition orderings."""
    df = make_df(spark, n=4000, n_groups=4, partitions=partitions)
    rows = pf_sketch(df, "elem", by=("grp",)).collect()
    # compare against the 1-partition run: bytes must be identical
    base = {
        r["grp"]: bytes(r["sketch"])
        for r in pf_sketch(df.coalesce(1), "elem", by=("grp",)).collect()
    }
    got = {r["grp"]: bytes(r["sketch"]) for r in rows}
    assert got == base


def test_salted_merge_identical_to_plain(spark):
    df = make_df(spark, n=5000, n_groups=3, partitions=11)
    plain = {
        r["grp"]: bytes(r["sketch"]) for r in pf_sketch(df, "elem", by=("grp",)).collect()
    }
    salted = {
        r["grp"]: bytes(r["sketch"])
        for r in pf_sketch(df, "elem", by=("grp",), salt_buckets=4).collect()
    }
    assert salted == plain


def test_dump_restore_roundtrip_through_spark(spark):
    df = make_df(spark, n=2000, partitions=4)
    sk = pf_sketch(df, "elem", by=("grp",))
    dumped = sk.select("grp", pf_dump_col("sketch", 4).alias("wire"))
    back = dumped.select(
        "grp", pf_restore_col("wire", 4).alias("sketch")
    ).select("grp", pf_count_col("sketch", 4).alias("estimate"))
    direct = sk.select("grp", pf_count_col("sketch", 4).alias("estimate"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, direct.collect()))
    # wire dumps carry a VALID stamped cache equal to the estimate
    for r in dumped.join(direct, "grp").collect():
        cached, valid = hll.get_cache(bytes(r["wire"]))
        assert valid and cached == r["estimate"]


def test_restore_golden_redis_dump_in_spark(spark):
    with open(os.path.join(REDIS_FIXTURES, "v4", "dense_cached_55527.dat"), "rb") as f:
        wire = f.read()
    pdf = pd.DataFrame({"raw": [wire]})
    df = spark.createDataFrame(pdf)
    est = df.select(
        pf_count_col(pf_restore_col("raw", 4), 4).alias("estimate")
    ).collect()[0]["estimate"]
    assert est == 55527


def test_null_elements_ignored(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"grp": ["a"] * 4, "elem": ["x", None, "y", None]})
    )
    rows = pf_count_distinct(df, "elem", by=("grp",)).collect()
    assert rows[0]["estimate"] == 2


def test_binary_elements(spark):
    df = make_df(spark, n=1000, partitions=3).withColumn(
        "elem_bin", F.encode(F.col("elem"), "utf-8")
    )
    a = pf_count_distinct(df, "elem", by=()).collect()[0]["estimate"]
    b = pf_count_distinct(df, "elem_bin", by=()).collect()[0]["estimate"]
    assert a == b


def test_sha2_invariant_spark_vs_hashlib(spark, sf_dir):
    """Per-row invariant from BASELINE.json:input_hint: Spark sha2(x,256)
    equals hashlib.sha256 row-for-row."""
    import hashlib

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    got = df.select("doc_id", F.sha2(F.col("text"), 256).alias("h")).toPandas()
    texts = df.select("doc_id", "text").toPandas()
    merged = got.merge(texts, on="doc_id")
    expect = merged["text"].map(lambda t: hashlib.sha256(t.encode()).hexdigest())
    assert (merged["h"] == expect).all()


def test_numeric_element_coerced_to_string(spark):
    df = make_df(spark, n=500)  # has long `id`
    a = pf_count_distinct(df, "id", by=()).collect()[0]["estimate"]
    b = pf_count_distinct(
        df.withColumn("id_s", F.col("id").cast("string")), "id_s", by=()
    ).collect()[0]["estimate"]
    assert a == b  # identical sketch: coercion matches explicit cast
    assert abs(a - 500) <= round(3 * 0.008125 * 500)


def test_sql_function_registration(spark):
    from pfutil_spark.functions.sql import register_sql_functions
    from pfutil_spark.operators import pf_sketch

    register_sql_functions(spark)
    sk = pf_sketch(make_df(spark, n=2000, partitions=3), "elem", by=("grp",))
    sk.createOrReplaceTempView("sketches_v")
    rows = spark.sql(
        "SELECT grp, pf_count(sketch) AS est, pf_is_valid(pf_dump(sketch)) AS ok"
        " FROM sketches_v ORDER BY grp"
    ).collect()
    assert len(rows) > 0 and all(r["ok"] and r["est"] > 0 for r in rows)
    pair = spark.sql(
        "SELECT pf_count(pf_merge_pair(a.sketch, b.sketch)) AS u FROM"
        " sketches_v a JOIN sketches_v b ON a.grp = '0' AND b.grp = '1'"
    ).collect()[0]["u"]
    assert pair > 0


def test_multi_column_group_keys_with_nulls(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "a": ["x", "x", None, None, "y", "y", "x"],
        "b": ["1", None, "1", None, "1", "1", "1"],
        "elem": [f"e{i}" for i in range(7)],
    })
    df = spark.createDataFrame(pdf)
    rows = pf_count_distinct(df, "elem", by=("a", "b")).collect()
    got = {(r["a"], r["b"]): r["estimate"] for r in rows}
    exact = pdf.groupby(["a", "b"], dropna=False)["elem"].nunique()
    assert len(got) == len(exact)
    for (a, b), x in exact.items():
        key = (None if pd.isna(a) else a, None if pd.isna(b) else b)
        assert got[key] == x, (key, got[key], x)


def test_four_column_group_keys(spark):
    df = (
        spark.range(5000)
        .withColumn("k1", (F.col("id") % 7).cast("string"))
        .withColumn("k2", (F.col("id") % 11).cast("string"))
        .withColumn("k3", (F.col("id") % 5).cast("string"))
        .withColumn("k4", (F.col("id") % 3).cast("string"))
        .withColumn("elem", F.col("id").cast("string"))
        .repartition(6)
    )
    rows = pf_count_distinct(df, "elem", by=("k1", "k2", "k3", "k4")).collect()
    exact = df.groupBy("k1", "k2", "k3", "k4").agg(
        F.countDistinct("elem").alias("x")
    ).collect()
    got = {(r["k1"], r["k2"], r["k3"], r["k4"]): r["estimate"] for r in rows}
    assert len(got) == len(exact)
    for r in exact:
        # ±1: with >1000 tiny groups, an occasional same-register
        # collision among ~5 elements is expected HLL behavior
        assert abs(got[(r["k1"], r["k2"], r["k3"], r["k4"])] - r["x"]) <= 1
