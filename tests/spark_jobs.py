"""Test helpers for what runs as a Spark job: count the jobs and tasks
a call starts, and force maintenance onto its Spark-job path."""

import contextlib
import uuid

import pytest


def spark_jobs(spark, fn):
    """``(fn(), jobs, tasks)``: what ``fn`` returned, and the Spark jobs
    and tasks it ran."""
    sc = spark.sparkContext
    group = "jobs_" + uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        for st in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(st)
            tasks += info.numTasks if info else 0
    return out, len(jobs), tasks


@contextlib.contextmanager
def distributed_maintenance(enabled: bool = True):
    """Size consolidation tasks at one cell and fold tasks at one
    fragment, so maintenance of any input bigger than that runs as a
    Spark job of ``target_splits`` tasks (the path large arrays take)
    instead of in the driver.  ``enabled=False`` changes nothing."""
    from tiledb_mariadb_spark.sources import tiledb_array, tiledb_native_write

    with pytest.MonkeyPatch.context() as mp:
        if not enabled:
            yield
            return
        mp.setattr(tiledb_array, "_CELLS_PER_TASK", 1)
        mp.setattr(tiledb_native_write, "_FRAGMENTS_PER_TASK", 1)
        yield
