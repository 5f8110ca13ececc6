"""The benchmark's own reader of Spark's ``/api/v1`` status API.

Kept apart from the repository's tools so the benchmark's numbers do not
move when those tools change. It returns completed Spark jobs with their
job group, wall interval and the task metrics of their stages.
"""

from __future__ import annotations

import json
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=30) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    """``2026-01-01T00:00:00.123GMT`` -> epoch seconds."""
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


@dataclass
class Stage:
    stage_id: int
    num_tasks: int
    failed_tasks: int
    run_s: float  # executorRunTime summed over tasks
    cpu_s: float  # executorCpuTime (JVM thread CPU) summed over tasks
    gc_s: float
    input_bytes: int
    input_records: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int

    @property
    def kind(self) -> str:
        """Where the stage sits in a pipeline: ``map`` stages read input
        and write a shuffle, ``exchange`` stages read one shuffle and write
        the next, ``result`` stages end the job."""
        if self.shuffle_write_bytes and self.shuffle_read_bytes:
            return "exchange"
        if self.shuffle_write_bytes:
            return "map"
        return "result"


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    stages: list[Stage] = field(default_factory=list)


def completed_jobs(spark, since: float = 0.0) -> list[Job]:
    """Every finished Spark job submitted at or after ``since`` (epoch s),
    with its completed stages. Stages a job skipped (their shuffle already
    existed) are not listed under it."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = {}
    for s in _get(base, f"applications/{app}/stages?status=complete"):
        stages[s["stageId"]] = Stage(
            stage_id=s["stageId"],
            num_tasks=s["numTasks"],
            failed_tasks=s["numFailedTasks"],
            run_s=s["executorRunTime"] / 1000,
            cpu_s=s["executorCpuTime"] / 1e9,
            gc_s=s["jvmGcTime"] / 1000,
            input_bytes=s["inputBytes"],
            input_records=s["inputRecords"],
            shuffle_read_bytes=s["shuffleReadBytes"],
            shuffle_write_bytes=s["shuffleWriteBytes"],
        )
    jobs = []
    for j in sorted(_get(base, f"applications/{app}/jobs"), key=lambda j: j["jobId"]):
        start, end = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        # a stage runs in the first job that lists it; later jobs skip it
        mine = [stages.pop(i) for i in j["stageIds"] if i in stages]
        if start is None or end is None or start < since:
            continue
        jobs.append(Job(j["jobId"], j.get("jobGroup"), start, end, mine))
    return jobs
