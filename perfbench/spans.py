"""Timing of one operation from outside the engine.

An operation is a callable that builds a DataFrame. Untraced, it is timed
from build through a ``noop`` write. Traced, the same work is split into
three spans:

* ``build``: the callable itself, including any eager jobs it runs;
* ``plan``: ``queryExecution().executedPlan()`` (Catalyst, no jobs);
* ``exec``: the ``noop`` write.

Build runs under one Spark job group and plan + exec under another, so
``sc.statusTracker()`` can attribute jobs to them.

Counts (jobs, stages that ran, tasks, single-task stages) are read from
the status tracker after the span ends.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Span:
    build_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    build_jobs: int = 0
    exec_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    single_task_stages: int = 0

    def add(self, other: "Span") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Tracer:
    """Job-group bookkeeping for traced operations of one SparkContext."""

    sc: object
    n: int = 0

    def _group(self, tag: str) -> str:
        self.n += 1
        gid = f"perfbench-{self.n}-{tag}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def _counts(self, gid: str) -> tuple[int, int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = single = 0
        for s in stage_ids:
            si = st.getStageInfo(s)
            if si is None or si.numCompletedTasks == 0:
                continue  # skipped: its shuffle output was reused
            stages += 1
            tasks += si.numTasks
            single += si.numTasks == 1
        return len(jobs), stages, tasks, single

    def run(self, build: Callable[[], DataFrame], sink=noop) -> Span:
        """Run one operation traced; returns its span."""
        g_build = self._group("build")
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        g_exec = self._group("exec")
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sink(df)
        t3 = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        bj, bs, bt, b1 = self._counts(g_build)
        ej, es, et, e1 = self._counts(g_exec)
        return Span(t1 - t0, t2 - t1, t3 - t2, bj, ej, bs + es, bt + et, b1 + e1)

    def timed(self, fn: Callable[[], object]) -> tuple[float, int]:
        """Wall time and task count of ``fn`` under its own job group."""
        gid = self._group("layer")
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return dt, self._counts(gid)[2]
