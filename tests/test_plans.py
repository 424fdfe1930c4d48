"""Physical-plan regression gates: the plans we designed for are the
plans Catalyst actually produces — filter pushdown reaching the parquet
scan, column pruning before Arrow transfer, broadcast joins for small
dims, whole-stage codegen around the relational shell, and exactly ONE
shuffle in the two-phase sketch plan."""

import re

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tests.conftest import plan_of
from pfutil_spark.operators import pf_count_distinct, pf_partial

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = entry_mod._q_lineitem_pricing(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*l_shipdate.*\]", plan), plan


def test_column_pruning_in_sketch_scan(spark):
    # JVM-scan path (pyscan disabled): pruning must reach the parquet scan
    spark.conf.set("pfutil.pyscan.enabled", "false")
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet").withColumn(
            "ok", F.col("l_orderkey").cast("string")
        )
        df = pf_count_distinct(li, "ok", by=("l_returnflag",))
        plan = plan_of(df)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        # only the key + the element source column are read, not all 11
        assert cols == {"l_orderkey", "l_returnflag"}, cols
    finally:
        spark.conf.unset("pfutil.pyscan.enabled")
    # python-native scan path (default here: small local parquet): the
    # same pruning property holds on the pyscan side (test_pyscan.py
    # asserts the column list); the Spark plan has no parquet scan at all
    li = spark.read.parquet(f"{SF}/lineitem.parquet").withColumn(
        "ok", F.col("l_orderkey").cast("string")
    )
    df = pf_count_distinct(li, "ok", by=("l_returnflag",))
    assert "Range" in plan_of(df, "simple")


def test_broadcast_join_for_small_dimension(spark):
    df = entry_mod._q_orders_customer_join(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_wholestage_codegen_in_relational_shell(spark):
    df = entry_mod._q_lineitem_pricing(spark, SF)
    # AQE shows codegen subtrees only in codegen explain mode pre-execution
    assert "WholeStageCodegen" in plan_of(df, "codegen")


def test_sketch_plan_has_single_shuffle(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").withColumn(
        "ok", F.col("l_orderkey").cast("string")
    )
    df = pf_count_distinct(li, "ok", by=("l_returnflag",))
    plan = plan_of(df, "simple")
    # one Exchange for the groupBy(key) merge; no Exchange before partials
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_partials_have_no_shuffle_at_all(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").withColumn(
        "ok", F.col("l_orderkey").cast("string")
    )
    df = pf_partial(li, "ok", by=("l_returnflag",))
    plan = plan_of(df, "simple")
    assert "Exchange" not in plan, plan


def test_semi_join_dedup_uses_broadcast(spark):
    from pfutil_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(exact_dedup(d, "text", "doc_id"), "simple")
    assert "LeftSemi" in plan


def test_extension_sketch_plan_single_shuffle_no_sort(spark):
    """r4: the generic sketch_agg plan must match the HLL shape — one
    Exchange (the repartition-on-keys merge), NO per-partition Sort
    (an applyInPandas fold would plan one), and no shuffle in the
    partial."""
    from pfutil_spark.operators.sketch_agg import kmv_spec, sketch_agg, sketch_partial

    ev = spark.read.parquet(f"{SF}/events.parquet")
    spec = kmv_spec(256)
    df = sketch_agg(ev, F.xxhash64("user_id"), spec, by=("event_type",))
    plan = plan_of(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Sort " not in plan and "+- Sort" not in plan, plan
    p = sketch_partial(ev, F.xxhash64("user_id"), spec, by=("event_type",))
    assert "Exchange" not in plan_of(p, "simple")


def test_word_repetition_zero_python_two_shuffles(spark):
    """The repetition-stats plan is pure JVM (explode + two partial-
    aggregated groupBys): no Python eval nodes, exactly two Exchanges
    (doc_id,word then doc_id), codegen throughout."""
    from pfutil_spark.functions.text import word_repetition_stats

    df = word_repetition_stats(spark.read.parquet(f"{SF}/documents.parquet"))
    plan = plan_of(df, "simple")
    assert "Python" not in plan, plan  # no BatchEvalPython / ArrowEvalPython
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan_of(df) or "partial" in plan_of(df).lower()


def test_geometric_mix_plan_broadcasts_and_stays_jvm(spark):
    """The mix-resample counting side reaches the main scan as two
    BROADCASTs (1-row global min, per-stratum quotas); no Python nodes
    anywhere; the rank window sorts within strata partitions only."""
    from pfutil_spark.operators.sampling import geometric_mix_resample

    df = geometric_mix_resample(
        spark.read.parquet(f"{SF}/documents.parquet"), "doc_id", "lang"
    )
    plan = plan_of(df, "simple")
    assert "Python" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "Window" in plan, plan


def test_drift_matrix_single_shuffle_reused_sketch(spark):
    """drift_matrix: the pair join broadcasts the tiny sketch table and
    AQE's FINAL plan reuses the sketch-build exchange across the self-
    join branches — ONE FileScan + ONE hash Exchange at runtime (the
    pre-execution plan shows two; reuse lands when AQE re-plans)."""
    from pfutil_spark.operators.drift import drift_matrix

    df = drift_matrix(
        spark.read.parquet(f"{SF}/documents.parquet"), "n_chars", "lang", k=1024
    )
    df.collect()  # AQE finalizes the plan on execution
    final = plan_of(df, "simple").split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    assert "ReusedExchange" in final, final
    real_exchanges = [
        ln
        for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    ]  # the ReusedExchange node echoes its target's Exchange text
    assert len(real_exchanges) == 1, final
    assert final.count("FileScan") == 1, final
    assert "BroadcastExchange" in final, final


def test_retention_plan_no_cartesian_broadcast_sketch_pairs(spark):
    """user_retention: the exact path's one corpus-scale shuffle is the
    (user, day) distinct; the sketch-pair join broadcasts the tiny
    per-day sketch table; no CartesianProduct / nested-loop join
    anywhere; no Python in the EXACT path."""
    from pfutil_spark.operators.retention import (
        cohort_retention,
        retention_estimates,
        retention_sketches,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact_plan = plan_of(cohort_retention(ev), "simple")
    assert "CartesianProduct" not in exact_plan, exact_plan
    assert "BroadcastNestedLoopJoin" not in exact_plan, exact_plan
    assert "Python" not in exact_plan, exact_plan

    est = retention_estimates(retention_sketches(ev))
    est_plan = plan_of(est, "simple")
    assert "BroadcastExchange" in est_plan, est_plan
    assert "CartesianProduct" not in est_plan, est_plan


def test_forecast_revenue_pushdown_and_codegen(spark):
    df = entry_mod._q_forecast_revenue(spark, SF)
    plan = plan_of(df)
    # EVERY conjunct reaches the parquet scan — Catalyst rewrites even
    # the to_date() comparisons into pushable NTZ timestamp bounds
    assert re.search(r"PushedFilters: \[.*l_discount.*\]", plan), plan
    assert re.search(r"PushedFilters: \[.*l_quantity.*\]", plan), plan
    assert re.search(r"PushedFilters: \[.*l_shipdate.*\]", plan), plan
    # and the scan is pruned to exactly the four referenced columns
    assert re.search(
        r"ReadSchema: struct<l_quantity:[^,]+,l_extendedprice:[^,]+,"
        r"l_discount:[^,]+,l_shipdate:[^>]+>",
        plan,
    ), plan
    assert "Python" not in plan, plan


def test_top_return_customers_broadcasts_customer(spark):
    df = entry_mod._q_top_return_customers(spark, SF)
    plan = plan_of(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_shipping_window_activity_banded_equi_join(spark):
    df = entry_mod._q_shipping_window_activity(spark, SF)
    plan = plan_of(df, "simple")
    # the band predicate must run as a hash equi-join on the bucket id,
    # never a nested-loop/cartesian
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_late_shipment_priority_is_semi_join(spark):
    df = entry_mod._q_late_shipment_priority(spark, SF)
    plan = plan_of(df, "simple")
    # EXISTS must stay a LeftSemi (one count per order however many
    # lineitems are late) with the correlated date conjunct riding the
    # join, never a row-inflating inner join or a nested loop
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_skew_salted_join_stays_equi_join(spark):
    df = entry_mod._q_skew_salted_join(spark, SF)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan, plan
