"""Fold Spark's JSON event log into per-job counters.

Reads the uncompressed, unrolled log that ``sparkenv.build_session``
configures. Stages are charged to the first job that lists them (later
jobs that list a stage skip it) and tasks to their stage's job.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None
    props: dict = field(default_factory=dict)
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0  # Executor Run Time
    cpu_ns: int = 0  # Executor CPU Time
    gc_ms: int = 0  # JVM GC Time
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    task_ms: int = 0  # sum of task Finish Time - Launch Time


def fold(path: Path) -> dict[int, Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(
                    ev["Job ID"],
                    ev["Submission Time"],
                    props=ev.get("Properties") or {},
                )
                jobs[job.job_id] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"], -1))
                if job is not None:
                    job.stages += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                job.tasks += 1
                job.task_ms += max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
                job.run_ms += m.get("Executor Run Time", 0)
                job.cpu_ns += m.get("Executor CPU Time", 0)
                job.gc_ms += m.get("JVM GC Time", 0)
                job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return jobs


def app_log(event_dir: Path, app_id: str) -> Path:
    """The finished log of application ``app_id``."""
    path = event_dir / app_id
    if not path.exists():
        raise FileNotFoundError(f"no finished event log {path}")
    return path
