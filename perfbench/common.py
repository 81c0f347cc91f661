"""Shared helpers for the benchmark worker: timing, statistics, Spark
status counts and the full-output action."""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager

#: the worker's result line on stdout starts with this
RESULT_PREFIX = "perfbench-result "

now = time.perf_counter
_T0 = now()


def log(msg: str) -> None:
    """Progress line on stderr (shown by the launcher with PERFBENCH_LOG=1)."""
    print(f"[{now() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def phase(work: str, name: str) -> None:
    """Tell the launcher's RSS sampler what runs now: ``run`` (the
    program: sampled) or ``harness`` (the benchmark's own checks: not
    sampled)."""
    tmp = os.path.join(work, "phase.tmp")
    with open(tmp, "w") as fh:
        fh.write(name)
    os.replace(tmp, os.path.join(work, "phase"))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def noop(df) -> None:
    """The full-output action: every column and row is computed and handed
    to Spark's no-op sink. (``count()`` would let Catalyst prune unread
    columns and windows.)"""
    df.write.format("noop").mode("overwrite").save()


def memo_entries() -> int:
    """Entries held by the ``plans.cache`` memos and the fixture-plan memo."""
    from etl_active911_spark.pipeline import fixtures
    from etl_active911_spark.plans import cache

    return sum(
        len(m)
        for m in (
            cache._LIVE, cache._MEMO, cache._QPLAN_MEMO, cache._COLS_MEMO,
            cache._CONST_DF_MEMO, fixtures._PLAN_MEMO,
        )
    )


def force_plan(df) -> None:
    """Run Catalyst analysis, optimization and physical planning without
    executing anything."""
    df._jdf.queryExecution().executedPlan()


class JobCounter:
    """Counts the Spark jobs, stages and tasks run under one job group,
    read from ``SparkContext.statusTracker()``."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0
        self.last = ""

    @contextmanager
    def group(self, name: str):
        """Run the block's jobs under a fresh job group named after ``name``."""
        self._n += 1
        self.last = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(self.last, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of the last group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self.last)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return len(jobs), stages, tasks
