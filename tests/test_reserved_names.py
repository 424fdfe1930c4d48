"""A ``by`` column named like an output column an operator adds fails
before planning with a ``ValueError`` naming it, on every entry point
(Spark would report an ambiguous reference, or fail only at collect)."""

import pytest
from pyspark.sql import functions as F

from pfutil_spark.operators import hll_agg, multi
from pfutil_spark.operators import sketch_agg as sa


@pytest.fixture(scope="module")
def rows(spark):
    return spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)], "g string, e string, v long"
    )


def _named(df, name):
    return df.withColumnRenamed("g", name)


@pytest.mark.parametrize("name", ["metric", "sketch", "estimate"])
def test_count_distinct_multi(rows, name):
    with pytest.raises(ValueError, match=f"by column '{name}'"):
        multi.pf_count_distinct_multi(_named(rows, name), ["e"], (name,))


@pytest.mark.parametrize("name", ["metric", "sketch"])
def test_partial_multi(rows, name):
    with pytest.raises(ValueError, match=f"by column '{name}'"):
        multi.pf_partial_multi(_named(rows, name), ["e"], (name,))


def test_partial_multi_global_rows(rows):
    with pytest.raises(ValueError, match="'__pf_global'"):
        multi.pf_partial_multi(
            _named(rows, "__pf_global"), ["e"], ("__pf_global",), global_rows=True
        )


@pytest.mark.parametrize("name", ["metric", "estimate"])
def test_report(rows, name):
    with pytest.raises(ValueError, match=f"by column '{name}'"):
        multi.sourcecode_distinct_report(_named(rows, name), name, ["e"])


def test_merge(rows):
    partials = hll_agg.pf_partial(rows, "e", ["g"]).toDF("sketch", "s")
    with pytest.raises(ValueError, match="by column 'sketch'"):
        hll_agg.pf_merge(partials, ["sketch"], "s")


@pytest.mark.parametrize("name", ["sketch", "estimate"])
def test_count_distinct(rows, name):
    with pytest.raises(ValueError, match=f"by column '{name}'.*'{name}'"):
        hll_agg.pf_count_distinct(_named(rows, name), "e", [name])


def test_count_distinct_by_metric_still_works(rows):
    """``pf_count_distinct`` names its internal metric column apart, so a
    ``by`` column named ``metric`` stays legal."""
    out = hll_agg.pf_count_distinct(_named(rows, "metric"), "e", ["metric"]).collect()
    assert {r["metric"]: r["estimate"] for r in out} == {"a": 2, "b": 1}


def test_sketch(rows):
    with pytest.raises(ValueError, match="by column 'sketch'"):
        hll_agg.pf_sketch(_named(rows, "sketch"), "e", ["sketch"])


def test_sketch_multi_metric_named_like_by(rows):
    with pytest.raises(ValueError, match="by column 'g'.*'g'"):
        sa.sketch_multi(rows, {"g": (F.col("v"), sa.kmv_spec())}, ["g"])


def test_sketch_agg(rows):
    with pytest.raises(ValueError, match="by column 'sketch'"):
        sa.sketch_agg(_named(rows, "sketch"), F.col("v"), sa.kmv_spec(), ["sketch"])


def test_sketch_multi_merge(rows):
    partials = sa.sketch_multi_partial(rows, {"k": (F.col("v"), sa.kmv_spec())}, ["g"])
    with pytest.raises(ValueError, match="by column 'k'"):
        sa.sketch_multi_merge(partials.withColumnRenamed("g", "k"), {"k": sa.kmv_spec()}, ["k"])
