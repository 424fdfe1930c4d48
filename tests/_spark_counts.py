"""Count the Spark jobs and stages a block of driver code launches.

The block runs under a fresh job group; afterwards the listener bus is
drained and the status tracker lists the group's jobs. ``stages`` counts
the distinct stage ids of those jobs, skipped stages included (a stage
whose shuffle output is reused still appears in the next job's plan).
Counts are deterministic where wall times drift with the host, so plan
shape tests pin counts, not seconds.

    with spark_counts(spark) as c:
        df.collect()
    assert c.jobs <= 2

``stage_tasks`` maps each stage id to the tasks it planned, so a test
can pin how many tasks a stage runs (the first stage id of a query is
its scan / stage P).
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class SparkCounts:
    jobs: int = 0
    stages: int = 0
    # stage id -> planned tasks, for the stages the tracker still knows
    stage_tasks: dict[int, int] = field(default_factory=dict)


@contextmanager
def spark_counts(spark):
    sc = spark.sparkContext
    group = f"pfutil-counts-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    counts = SparkCounts()
    try:
        yield counts
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # job start/end events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        counts.jobs = len(job_ids)
        counts.stages = len(stages)
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                counts.stage_tasks[sid] = info.numTasks
