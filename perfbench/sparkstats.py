"""Spark job and stage accounting from the driver's status store.

The benchmark's client is a closed loop with one request in flight, so
the jobs a request ran are exactly those with ids above the largest id
seen before it started."""

from __future__ import annotations

from py4j.protocol import Py4JError


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def last_job_id(spark) -> int:
    jobs = _store(spark).jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.length())), default=-1)


def jobs_since(spark, after: int) -> list[dict]:
    """Jobs with ids above ``after``: their completed task counts and the
    stages that ran (id, tasks, wall ms from submission to completion)."""
    store = _store(spark)
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.length()):
        job = jobs.apply(i)
        if job.jobId() <= after:
            continue
        stages = []
        ids = job.stageIds()
        for k in range(ids.length()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Py4JError:  # a skipped stage has no attempt
                continue
            if not st.completionTime().isDefined():
                continue
            stages.append({
                "id": st.stageId(),
                "tasks": st.numTasks(),
                "wall_ms": st.completionTime().get().getTime()
                - st.submissionTime().get().getTime(),
            })
        out.append({"id": job.jobId(), "tasks": job.numCompletedTasks(),
                    "stages": stages})
    return out


def scan_stage(jobs: list[dict]) -> dict | None:
    """The request's first stage: the one that reads the input, so its
    task count is the number of scan partitions."""
    stages = [s for j in jobs for s in j["stages"]]
    return min(stages, key=lambda s: s["id"]) if stages else None
