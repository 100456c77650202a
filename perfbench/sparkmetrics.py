"""Spark's own per-stage metrics, read from the driver's status store.

`sc.setJobGroup(name)` tags every job the calling thread starts; this module
sums the stages of a set of jobs from `sc._jsc.sc().statusStore()`. It works
with `spark.ui.enabled=false`: the status store is fed by the listener bus,
not by the UI.
"""

from __future__ import annotations

MB = 1 << 20


def job_ids(sc, group: str | None) -> list[int]:
    """Jobs of a job group; group None = jobs started without a group."""
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _stage_ids(sc, jobs: list[int]) -> set[int]:
    out: set[int] = set()
    tracker = sc.statusTracker()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            out.update(info.stageIds)
    return out


def _task_skew(sc, store, stage) -> float | None:
    """max / median task duration of one stage attempt (None when the
    stage ran fewer than two tasks)."""
    if stage.numCompleteTasks() < 2:
        return None
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = store.taskSummary(stage.stageId(), stage.attemptId(), q)
    if not summary.isDefined():
        return None
    dur = summary.get().duration()
    med, top = dur.apply(0), dur.apply(1)
    return top / med if med > 0 else None


def jobs_metrics(sc, jobs: list[int]) -> dict:
    """Summed stage metrics of the given jobs (each stage counted once; a
    stage skipped because its shuffle output was reused adds nothing)."""
    store = sc._jsc.sc().statusStore()
    m = {"executor_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
         "shuffle_read_mb": 0.0, "spill_mb": 0.0, "spark_jobs": len(jobs),
         "tasks": 0, "task_skew": 1.0}
    for sid in sorted(_stage_ids(sc, jobs)):
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        m["executor_s"] += st.executorRunTime() / 1000.0
        m["gc_s"] += st.jvmGcTime() / 1000.0
        m["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        m["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        m["tasks"] += st.numCompleteTasks()
        skew = _task_skew(sc, store, st)
        if skew is not None:
            m["task_skew"] = max(m["task_skew"], skew)
    return m
