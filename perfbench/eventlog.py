"""Parser for Spark's JSON event log (single file or rolling directory).

Reduces the log to jobs (submission/completion in epoch seconds, job
group, stage ids) and per-stage task-metric sums, so the benchmark can
attribute executor time, shuffle, spill, input/output bytes and GC to
the operation (job group) and engine call (span) that caused them.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
    "shuffle_write_ms", "fetch_wait_ms", "spill_bytes", "input_bytes",
    "output_bytes",
)


@dataclass
class Job:
    id: int
    start: float
    end: float | None = None
    group: str | None = None
    stages: list[int] = field(default_factory=list)
    ok: bool = True


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, dict[str, float]] = field(default_factory=dict)

    def job_metrics(self, job: Job) -> dict[str, float]:
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in job.stages:
            for k, v in self.stages.get(sid, {}).items():
                out[k] += v
        return out

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]


def _log_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    def index(name: str) -> int:
        m = re.match(r"events_(\d+)_", name)
        return int(m.group(1)) if m else 0
    names = sorted(
        (n for n in os.listdir(path) if n.startswith("events_")), key=index
    )
    return [os.path.join(path, n) for n in names]


def _task_metrics(m: dict) -> dict[str, float]:
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    return {
        "tasks": 1,
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_write_ms": sw.get("Shuffle Write Time", 0) / 1e6,
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def parse(path: str) -> EventLog:
    log = EventLog()
    for fn in _log_files(path):
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    log.jobs[e["Job ID"]] = Job(
                        e["Job ID"], e["Submission Time"] / 1e3,
                        group=props.get("spark.jobGroup.id"),
                        stages=list(e.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(e["Job ID"])
                    if job is not None:
                        job.end = e["Completion Time"] / 1e3
                        job.ok = e.get("Job Result", {}).get("Result") == "JobSucceeded"
                elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    acc = log.stages.setdefault(
                        e["Stage ID"], dict.fromkeys(STAGE_FIELDS, 0.0)
                    )
                    for k, v in _task_metrics(e["Task Metrics"]).items():
                        acc[k] += v
    return log
