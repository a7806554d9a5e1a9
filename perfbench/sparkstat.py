"""Spark's own accounting, read through the driver's status stores.

``SparkContext.statusStore`` keeps per-stage task metrics and
``SharedState.statusStore`` keeps each SQL execution's final physical plan;
both are filled by listeners that run with the web UI disabled. A
``StageWindow`` snapshots them before an action and diffs them after, so
every figure belongs to the actions inside the window.
"""

from __future__ import annotations

import re

_EXCHANGE = re.compile(r"^[\s+\-:|*]*(Exchange|ReusedExchange)\b")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _stores(spark):
    return spark.sparkContext._jsc.sc().statusStore(), spark._jsparkSession.sharedState().statusStore()


def job_ids(spark) -> set[int]:
    """Ids of the jobs the SparkContext has run so far."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _new_stages(spark, jobs_before: set[int]) -> list:
    """The last attempt of every stage that completed in the jobs started
    since ``jobs_before`` was read."""
    # the stores are filled asynchronously from the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = _stores(spark)[0]
    stage_ids = sorted({sid for j in job_ids(spark) - jobs_before for sid in _seq(store.job(j).stageIds())})
    ran = [store.lastStageAttempt(sid) for sid in stage_ids]
    return [st for st in ran if st.status().toString() == "COMPLETE"]


def task_seconds(spark, jobs_before: set[int]) -> list[float]:
    """Wall (launch to finish) of every task of the jobs started since
    ``jobs_before`` was read."""
    store = _stores(spark)[0]
    out = []
    for st in _new_stages(spark, jobs_before):
        for t in _seq(store.taskList(st.stageId(), st.attemptId(), 1 << 20)):
            if t.duration().isDefined():
                out.append(t.duration().get() / 1e3)
    return out


def count_exchanges(plan_description: str) -> int:
    """Shuffle Exchange nodes in the final physical plan of one execution
    (the adaptive plan's ``Final Plan`` section when there is one)."""
    lines = plan_description.split("\n")
    if any("== Final Plan ==" in ln for ln in lines):
        start = next(i for i, ln in enumerate(lines) if "== Final Plan ==" in ln)
        end = next((i for i, ln in enumerate(lines) if "== Initial Plan ==" in ln), len(lines))
        lines = lines[start:end]
    else:
        end = next((i for i, ln in enumerate(lines) if i > 0 and not ln.strip()), len(lines))
        lines = lines[:end]
    return sum(1 for ln in lines if _EXCHANGE.match(ln))


class StageWindow:
    """Diff of Spark's accounting over the actions run between
    ``__init__`` and :meth:`finish`. Only the jobs, stages and executions
    that are new are read, so a window costs a few calls per new stage."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._jobs = job_ids(spark)
        self._execs = _stores(spark)[1].executionsCount()

    def finish(self) -> dict:
        spark = self.spark
        ran = _new_stages(spark, self._jobs)
        store, sql = _stores(spark)
        new_jobs = job_ids(spark) - self._jobs
        execs = _seq(sql.executionsList(self._execs, 1 << 20))
        out = {
            "jobs": len(new_jobs),
            "stages": len(ran),
            "tasks": sum(st.numCompleteTasks() for st in ran),
            "executor_run_s": sum(st.executorRunTime() for st in ran) / 1e3,
            "executor_cpu_s": sum(st.executorCpuTime() for st in ran) / 1e9,
            "jvm_gc_s": sum(st.jvmGcTime() for st in ran) / 1e3,
            "input_mb": sum(st.inputBytes() for st in ran) / 2**20,
            "shuffle_write_mb": sum(st.shuffleWriteBytes() for st in ran) / 2**20,
            "shuffle_read_mb": sum(st.shuffleReadBytes() for st in ran) / 2**20,
            "exchanges": sum(count_exchanges(e.physicalPlanDescription()) for e in execs),
            "task_skew": 1.0,
        }
        # skew of the busiest stage: its slowest task over its median task
        if ran:
            top = max(ran, key=lambda st: st.executorRunTime())
            gw = spark.sparkContext._gateway
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            dist = store.taskSummary(top.stageId(), top.attemptId(), q)
            if dist.isDefined():
                med, mx = _seq(dist.get().executorRunTime())
                out["task_skew"] = mx / med if med > 0 else 1.0
        return out
