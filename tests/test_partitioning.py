"""Bucketed tables and explicit hash repartitioning: the co-location
machinery for repeated merges/joins at scale."""

from pyspark.sql import functions as F

from tests.conftest import plan_of
from pfutil_spark.operators import pf_sketch
from pfutil_spark.sources.partitioning import (
    read_table_name,
    repartition_by_hash,
    write_bucketed,
)


def test_bucketed_join_has_no_exchange(spark):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    a = ev.select("user_id", "event_id", "value")
    b = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    write_bucketed(a, "ev_bucketed_a", ["user_id"], num_buckets=8)
    write_bucketed(b, "ev_bucketed_b", ["user_id"], num_buckets=8)
    ta = read_table_name(spark, "ev_bucketed_a")
    tb = read_table_name(spark, "ev_bucketed_b")
    joined = ta.join(tb, "user_id")
    plan = plan_of(joined, "simple")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan  # co-located: no shuffle
    # and the result is right
    assert joined.count() == a.count()
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_repartition_by_hash_deterministic_alignment(spark):
    df = spark.range(2000).withColumn("k", (F.col("id") % 37).cast("string"))
    p1 = repartition_by_hash(df, ["k"], 8).withColumn(
        "pid", F.spark_partition_id()
    )
    p2 = repartition_by_hash(df.repartition(13), ["k"], 8).withColumn(
        "pid", F.spark_partition_id()
    )
    m1 = {r["k"]: r["pid"] for r in p1.select("k", "pid").distinct().collect()}
    m2 = {r["k"]: r["pid"] for r in p2.select("k", "pid").distinct().collect()}
    assert m1 == m2  # same key -> same partition id, any upstream layout
    # each key maps to exactly one partition
    assert p1.select("k", "pid").distinct().count() == 37


def test_bucketed_sketch_table_merge_roundtrip(spark):
    df = (
        spark.range(3000)
        .withColumn("grp", (F.col("id") % 6).cast("string"))
        .withColumn("elem", F.col("id").cast("string"))
    )
    sk = pf_sketch(df, "elem", by=("grp",))
    write_bucketed(sk, "sketches_bucketed", ["grp"], num_buckets=4)
    back = read_table_name(spark, "sketches_bucketed")
    assert {bytes(r["sketch"]) for r in back.collect()} == {
        bytes(r["sketch"]) for r in sk.collect()
    }
