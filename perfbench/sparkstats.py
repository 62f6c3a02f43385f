"""Spark job and stage counts per benchmark operation.

Each operation runs under its own job group; the jobs of a group come
from `statusTracker()`, and their stages' task counts, run time and
shuffle bytes from the application status store, which Spark keeps
even with the UI disabled.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_GROUP = "spark.jobGroup.id"


def codegen_compiles(sc) -> int:
    """Classes Spark's code generator has compiled in this JVM so far;
    a plan whose generated code is in the codegen cache compiles none."""
    metrics = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


class JobGroups:
    def __init__(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def group(self, name: str):
        """Attribute the Spark jobs run inside the block to a fresh
        group; yields its id. Groups nest: a job belongs to the
        innermost one only."""
        # unique across every JobGroups of this SparkContext
        gid = f"{name}#{uuid.uuid4().hex}"
        outer = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty(_GROUP, outer)

    def stats(self, gid: str) -> dict:
        """Totals over the group's own jobs. Skipped stages (reused shuffle output) are not counted."""
        jsc = self.sc._jsc.sc()
        # the status store is fed by an asynchronous listener bus
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "shuffle_write_bytes": 0, "run_ms": 0, "stage_run_ms": {}}
        for s in sorted(stage_ids):
            try:
                data = store.lastStageAttempt(s)
            except Py4JJavaError:
                continue  # never submitted
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += data.numTasks()
            out["failed_tasks"] += data.numFailedTasks()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["run_ms"] += data.executorRunTime()
            out["stage_run_ms"][s] = data.executorRunTime()
        return out
