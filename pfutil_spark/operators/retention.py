"""Cohort retention: day-over-day returning-user analytics, exact and
from checkpointed per-period HLL snapshots.

The reference exposes the HLL primitive set (PFADD/PFCOUNT/PFMERGE,
``v4/HllV4.java:23-99``); per-period retention is the canonical product
use of those primitives (one sketch per period, retained = intersection
of consecutive periods by inclusion-exclusion), provided Spark-side like
the drift suite: once the per-period sketches are checkpointed, every
historical retention number is answerable WITHOUT the historical raw
rows.

Scale posture
-------------
* :func:`activity_days` is ONE distinct over ``(user, day)`` — the only
  corpus-scale shuffle. Day-over-day matching re-joins that distinct
  set against itself on the same ``(user, day)`` keys (the probe side
  is day-shifted before the join), so the join keys match the
  distinct's own partitioning.
* Per-day aggregates and the sketch table are ~one row per period —
  driver-safe at any corpus size; the pair join of the sketch table is
  a broadcast self-join like ``kmv_similarity_matrix``.
* Retention from sketches never re-reads events: feed a persisted
  :func:`retention_sketches` table (or any ``pf_sketch`` output keyed
  by a date column) to :func:`retention_estimates`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pfutil_spark.operators.hll_agg import SKETCH_COL, pf_count_col, pf_sketch
from pfutil_spark.operators.rollup import pf_intersect_estimate_col

__all__ = [
    "activity_days",
    "cohort_retention",
    "return_gaps",
    "retention_within_k",
    "rolling_active_users",
    "retention_sketches",
    "retention_estimates",
]


def activity_days(
    df: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Distinct ``(user, day)`` activity pairs; ``day`` is the calendar
    DATE of the naive timestamp (``ts`` stays TIMESTAMP_NTZ end-to-end —
    no session timezone, no DST edge; same trap class as
    ``events_temporal_drift``). NULL users/timestamps are dropped: they
    are not attributable activity."""
    return (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("user"),
            F.to_date(ts_col).alias("day"),
        )
        .distinct()
    )


def cohort_retention(
    df: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Exact day-over-day retention: for each active day, how many of
    its users are also active on the NEXT calendar day.

    Columns: ``(day, active_users, retained_next, retention_rate)`` —
    all-integer counts plus ONE bigint/bigint IEEE division (exact
    cross-engine; days with no next-day activity keep rate 0.0, they
    are real churn observations, not missing data)."""
    act = activity_days(df, user_col, ts_col)
    counts = act.groupBy("day").agg(F.count(F.lit(1)).alias("active_users"))
    # probe side day-shifted BEFORE the join: "user active on day+1"
    # re-keyed to day, so the join is a plain (user, day) equi-join on
    # the distinct set's own keys
    nxt = act.select("user", F.date_sub("day", 1).alias("day"))
    retained = (
        act.join(nxt, ["user", "day"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("retained_next"))
    )
    out = counts.join(retained, "day", "left").select(
        "day",
        "active_users",
        F.coalesce("retained_next", F.lit(0)).cast("long").alias(
            "retained_next"
        ),
        (
            F.coalesce("retained_next", F.lit(0)).cast("long")
            / F.col("active_users")
        ).alias("retention_rate"),
    )
    return out


def return_gaps(
    df: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Per-(user, active-day) gap to the user's NEXT active day:
    ``(user, day, next_day, gap_days)`` — ``gap_days`` is NULL on each
    user's last active day (an open interval, not churn-of-known
    length). The row set is the activity distinct, so the window sorts
    each user's OWN days only (per-user partitions, never a global
    sort); one shuffle on ``user`` after the distinct."""
    from pyspark.sql.window import Window

    act = activity_days(df, user_col, ts_col)
    w = Window.partitionBy("user").orderBy("day")
    nxt = F.lead("day").over(w)
    return act.select(
        "user",
        "day",
        nxt.alias("next_day"),
        F.datediff(nxt, F.col("day")).alias("gap_days"),
    )


def retention_within_k(
    df: DataFrame,
    k: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """k-day retention: for each active day, how many of its users are
    active again within the NEXT ``k`` days (classic d1/d7/d30
    retention; ``k=1`` matches :func:`cohort_retention`). Computed from
    the per-user gap series — ``gap_days <= k`` — so the cost does not
    grow with ``k`` (no k-way join family). Columns: ``(day,
    active_users, retained_within_k, retention_rate)``."""
    if k < 1:
        raise ValueError(f"k={k}: must be >= 1")
    gaps = return_gaps(df, user_col, ts_col)
    return gaps.groupBy("day").agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum(F.when(F.col("gap_days") <= k, 1).otherwise(0))
        .cast("long")
        .alias("retained_within_k"),
    ).select(
        "day",
        "active_users",
        "retained_within_k",
        (F.col("retained_within_k") / F.col("active_users")).alias(
            "retention_rate"
        ),
    )


def rolling_active_users(
    df: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """EXACT trailing-``window_days`` active users per day (rolling
    DAU/WAU/MAU): for each day ``d`` in the table's activity range, the
    distinct users active in ``[d - window_days + 1, d]``. Emits every
    day with at least one in-window active user, clipped at the global
    max activity day (leading days report their partial windows — the
    standard dashboard convention).

    Plan: each distinct ``(user, day)`` activity pair contributes to
    exactly ``window_days`` trailing days (map-only integer-offset
    explode — no self-join family, no per-day range scan), then ONE
    count-distinct shuffle keyed by day. The shuffle is ``window_days``
    × the activity-pair count — the exact path's inherent cost; for
    large windows at corpus scale use the constant-size sketch path
    (:func:`pfutil_spark.operators.rollup.pf_sliding_distinct`), whose
    estimates this operator's exact counts gate in tests."""
    if (
        not isinstance(window_days, int)
        or isinstance(window_days, bool)
        or window_days < 1
    ):
        raise ValueError(f"window_days={window_days!r}: must be an int >= 1")
    act = activity_days(df, user_col, ts_col)
    contrib = act.select(
        "user",
        F.explode(
            F.sequence(F.lit(0), F.lit(window_days - 1))
        ).alias("__off"),
        F.col("day").alias("__d0"),
    ).select("user", F.date_add("__d0", F.col("__off")).alias("day"))
    mx = act.agg(F.max("day").alias("__mx"))
    return (
        contrib.crossJoin(F.broadcast(mx))
        .filter(F.col("day") <= F.col("__mx"))
        .groupBy("day")
        .agg(F.countDistinct("user").alias("active_users"))
    )


def retention_sketches(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    version: int = 4,
) -> DataFrame:
    """Per-day HLL sketch of the active-user set — the checkpointable
    snapshot table (``(day, sketch)``). Elements are the canonical
    string form of the user key (PFADD is byte-oriented; the cast fixes
    the wire so persisted snapshots stay mergeable across schema
    evolutions of the numeric user id type)."""
    base = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).cast("string").alias("__pf_uid"),
        F.to_date(ts_col).alias("day"),
    )
    return pf_sketch(base, "__pf_uid", by=("day",), version=version)


def retention_estimates(
    sketches: DataFrame,
    day_col: str = "day",
    sketch_col: str = SKETCH_COL,
    version: int = 4,
) -> DataFrame:
    """Day-over-day retention estimated from per-day HLL snapshots:
    ``active_est`` = PFCOUNT(day), ``retained_est`` = inclusion-exclusion
    intersection with day+1 (clamped at 0; error is union-relative —
    the Redis PFCOUNT caveat, see ``pf_intersect_estimate_col``).

    The input is one row per day, so the pair join is a broadcast
    self-join of a tiny table; days with no successor keep
    ``retained_est`` 0 (exact: no next-day set means no returning
    users)."""
    from pfutil_spark.kernel import hll

    a = sketches.select(
        F.col(day_col).alias("day"), F.col(sketch_col).alias("__sa")
    )
    b = sketches.select(
        F.date_sub(day_col, 1).alias("day"), F.col(sketch_col).alias("__sb")
    )
    pairs = a.join(F.broadcast(b), "day", "left")
    # days with no successor get the canonical EMPTY sketch, not a
    # null-guarded branch: pandas UDFs under If/CaseWhen are still
    # evaluated for every row (separate ArrowEvalPython projection), so
    # a NULL would reach decode(). Intersection with the empty set is
    # exactly 0 through inclusion-exclusion: est(A) + 0 - est(A u {}).
    empty = F.lit(hll.encode_empty())
    return pairs.select(
        "day",
        pf_count_col("__sa", version).alias("active_est"),
        pf_intersect_estimate_col(
            "__sa", F.coalesce("__sb", empty), version
        ).alias("retained_est"),
    )
