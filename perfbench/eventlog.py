"""Standard-library reader for Spark's JSON event log.

Reads the rolling layout Spark 4.1 writes by default
(``<dir>/eventlog_v2_<app>/events_<n>_<app>``, numbered in order) as well
as single-file logs. The log must be uncompressed
(``spark.eventLog.compress=false``): the default zstd codec needs the
``zstandard`` module.

Jobs are charged to spans through the ``spark.jobGroup.id`` local
property, which the benchmark sets to a span id around every call it
times. A stage is charged to the job group it was submitted under (the
``Properties`` of ``SparkListenerStageSubmitted``), falling back to the
first job that lists it. Only completed stage attempts carry metrics;
stages skipped because their shuffle output was reused carry none.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# Stage accumulables summed per stage: output name -> accumulable name.
STAGE_METRICS = {
    "executor_run_ms": "internal.metrics.executorRunTime",
    "shuffle_read_bytes": None,  # local + remote, summed below
    "shuffle_write_bytes": "internal.metrics.shuffle.write.bytesWritten",
    "fetch_wait_ms": "internal.metrics.shuffle.read.fetchWaitTime",
    "memory_spill_bytes": "internal.metrics.memoryBytesSpilled",
    "disk_spill_bytes": "internal.metrics.diskBytesSpilled",
    "input_bytes": "internal.metrics.input.bytesRead",
    "scan_ms": "scan time",
    "sort_ms": "sort time",
    "py_sent_bytes": "data sent to Python workers",
    "py_returned_bytes": "data returned from Python workers",
    "py_run_ms": "time to run Python workers",
}
_SHUFFLE_READ = (
    "internal.metrics.shuffle.read.localBytesRead",
    "internal.metrics.shuffle.read.remoteBytesRead",
)
_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
)
_PREFIX = re.compile(r'^\{"Event":"([A-Za-z.]+)"')


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    group: str | None
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: list[Job]
    stages: list[Stage]

    def jobs_in(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs if j.group in groups]

    def stage_totals(self, groups: set[str]) -> dict[str, float]:
        """Sum of every stage metric over stages charged to ``groups``."""
        out = dict.fromkeys(STAGE_METRICS, 0.0)
        for s in self.stages:
            if s.group in groups:
                for k, v in s.metrics.items():
                    out[k] += v
        return out


def log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolling parts in order."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            files += [os.path.join(path, p) for p in parts]
        elif os.path.isfile(path) and not entry.startswith(".") and not entry.endswith(".inprogress"):
            files.append(path)
    return files


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _stage_metrics(accumulables: list[dict]) -> dict[str, float]:
    by_name: dict[str, float] = {}
    for a in accumulables:
        by_name[a["Name"]] = by_name.get(a["Name"], 0.0) + _num(a.get("Value"))
    out = {k: by_name.get(name, 0.0) for k, name in STAGE_METRICS.items() if name}
    out["shuffle_read_bytes"] = sum(by_name.get(n, 0.0) for n in _SHUFFLE_READ)
    return out


def _app_groups(paths: list[str]) -> list[list[str]]:
    """Group the rolling parts of one application together; a plain
    file is an application of its own."""
    groups: list[list[str]] = []
    for p in paths:
        d = os.path.dirname(p)
        rolling = os.path.basename(d).startswith("eventlog_v2_")
        if rolling and groups and os.path.dirname(groups[-1][0]) == d:
            groups[-1].append(p)
        else:
            groups.append([p])
    return groups


def parse_files(paths: list[str]) -> EventLog:
    """Parse event files. Job and stage ids restart with every
    SparkContext, so each application is resolved on its own."""
    jobs: list[Job] = []
    stages: list[Stage] = []
    for app_paths in _app_groups(paths):
        app_jobs: dict[int, Job] = {}
        stage_group: dict[int, str | None] = {}
        for path in app_paths:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    m = _PREFIX.match(line)
                    if m and m.group(1) in _WANTED:
                        _apply(json.loads(line), app_jobs, stage_group, stages)
        jobs += app_jobs.values()
    return EventLog(jobs, stages)


def _apply(ev: dict, app_jobs: dict, stage_group: dict, stages: list) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        job = Job(
            ev["Job ID"],
            props.get("spark.jobGroup.id"),
            ev["Submission Time"],
            stage_ids=list(ev.get("Stage IDs", [])),
        )
        app_jobs[job.job_id] = job
        for sid in job.stage_ids:
            stage_group.setdefault(sid, job.group)
    elif kind == "SparkListenerJobEnd":
        job = app_jobs.get(ev["Job ID"])
        if job is not None:
            job.end_ms = ev["Completion Time"]
    elif kind == "SparkListenerStageSubmitted":
        props = ev.get("Properties") or {}
        if "spark.jobGroup.id" in props:
            stage_group[ev["Stage Info"]["Stage ID"]] = props["spark.jobGroup.id"]
    else:
        info = ev["Stage Info"]
        sid = info["Stage ID"]
        stages.append(Stage(sid, stage_group.get(sid), _stage_metrics(info.get("Accumulables", []))))


def read(log_dir: str) -> EventLog:
    return parse_files(log_files(log_dir))

