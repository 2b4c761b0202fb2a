"""Spark's own job and stage records, read over the UI's REST API.

The REST base comes from the session's ``uiWebUrl``, never from a fixed
port. Jobs are attributed to a measured window by job id: every job with an
id above the window's starting mark belongs to it. With ``group`` set, only
jobs tagged with that ``sc.setJobGroup`` id count.
"""

from __future__ import annotations

import json
import urllib.request
from datetime import datetime, timezone

MB = 1e6


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


class SparkStats:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._base = f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
        self.cores = self._sc.defaultParallelism

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as resp:
            return json.load(resp)

    def _drain(self) -> None:
        # The status store is fed asynchronously; wait until every event
        # posted so far has been applied before reading it.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)  # noqa: SLF001

    def mark(self) -> int:
        self._drain()
        return max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def window(self, mark: int, start: float, end: float, group: str | None = None) -> dict:
        """Aggregate the jobs after ``mark`` over the wall window
        ``[start, end]`` (epoch seconds)."""
        self._drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > mark and (group is None or j.get("jobGroup") == group)]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")]
        return summarize(jobs, stages, start, end, self.cores)


def summarize(jobs: list, stages: list, start: float, end: float, cores: int) -> dict:
    wall = max(end - start, 1e-9)
    run_s = sum(s["executorRunTime"] for s in stages) / 1e3
    cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
    writes = [s["shuffleWriteBytes"] for s in stages] or [0]
    spans = sorted(
        (max(_epoch(s["submissionTime"]), start), min(_epoch(s["completionTime"]), end))
        for s in stages
        if "submissionTime" in s and "completionTime" in s
    )
    covered, reach = 0.0, start
    for lo, hi in spans:
        lo = max(lo, reach)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return {
        "wall_s": wall,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "task_run_s": run_s,
        "jvm_cpu_s": cpu_s,
        "offjvm_s": run_s - cpu_s,
        "core_occupancy": run_s / (wall * cores),
        "driver_gap_s": wall - covered,
        "shuffle_mb": sum(writes) / MB,
        "max_stage_shuffle_mb": max(writes) / MB,
        "input_mb": sum(s["inputBytes"] for s in stages) / MB,
        "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "shuffle_write_time_s": sum(s["shuffleWriteTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
    }
