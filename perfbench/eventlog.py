"""Read Spark's JSON event log and attribute its jobs and task metrics
to the benchmark's ops.

The worker tags each op's build and action with a job group
``pb|<op id>|<phase>``. Jobs that carry no such group (a streaming
query runs its micro-batches from its own thread and group) are
attributed by time: the op window holding the job's submission time.
Jobs before the end of set-up that fall in no op window belong to
set-up.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_PREFIX = "pb|"
# Python stamps windows with time.time(); Spark stamps events with
# System.currentTimeMillis(), the same clock truncated to whole ms, so
# a job submitted just after a window opened may read up to 1 ms early.
_TRUNCATION_MS = 1.0

# per-job sums of task metrics, named as the per-layer metrics they feed
METRIC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "spark.run_ms",
    "spark.cpu_ms",
    "spark.gc_ms",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "io.bytes_written",
    "io.records_written",
)


def group_id(op_id: str, phase: str) -> str:
    return f"{GROUP_PREFIX}{op_id}|{phase}"


@dataclass
class Window:
    op_id: str
    phase: str  # "build" or "action"
    start_ms: float
    end_ms: float


@dataclass
class Job:
    job_id: int
    submit_ms: float
    stage_ids: list[int]
    group: str | None
    label: tuple[str, str] | None = None  # (op id, phase) or ("setup", "")
    how: str = "none"  # group | window | setup | none
    matches: int = 0  # op windows that hold the submission time
    metrics: dict = field(default_factory=lambda: dict.fromkeys(METRIC_KEYS, 0))


def _task_metrics(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    out = tm.get("Output Metrics") or {}
    return {
        "tasks": 1,
        "spark.run_ms": tm.get("Executor Run Time", 0),
        "spark.cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
        "spark.gc_ms": tm.get("JVM GC Time", 0),
        "spark.shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spark.shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spark.spill_bytes": tm.get("Memory Bytes Spilled", 0),
        "io.bytes_written": out.get("Bytes Written", 0),
        "io.records_written": out.get("Records Written", 0),
    }


def read_jobs(path: str) -> list[Job]:
    """Jobs of one application's event log, each carrying the summed
    metrics of the tasks of the stages it ran. A stage listed by
    several jobs (a reused shuffle) runs in the first of them."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_ends = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"],
                    float(ev["Submission Time"]),
                    list(ev.get("Stage IDs") or []),
                    props.get("spark.jobGroup.id"),
                )
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                task_ends.append((ev["Stage ID"], _task_metrics(ev["Task Metrics"])))
    stages_run: dict[int, set] = {}
    for sid, tm in task_ends:
        jid = stage_job.get(sid)
        if jid is None:
            continue
        stages_run.setdefault(jid, set()).add(sid)
        m = jobs[jid].metrics
        for k, v in tm.items():
            m[k] += v
    for jid, job in jobs.items():
        job.metrics["jobs"] = 1
        job.metrics["stages"] = len(stages_run.get(jid, ()))
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[Job], windows: list[Window], setup_end_ms: float) -> None:
    """Label every job with its op (by group, else by time window) or
    with set-up; a job left with label None is unattributed."""
    for job in jobs:
        hits = [
            w
            for w in windows
            if w.start_ms - _TRUNCATION_MS < job.submit_ms <= w.end_ms
        ]
        job.matches = len({w.op_id for w in hits})
        if job.group and job.group.startswith(GROUP_PREFIX):
            _, op_id, phase = job.group.split("|")
            job.label, job.how = (op_id, phase), "group"
        elif hits:
            # at a shared boundary the later window wins: a job cannot
            # be submitted by an op that has already returned
            w = max(hits, key=lambda w: w.start_ms)
            job.label, job.how = (w.op_id, w.phase), "window"
        elif job.submit_ms <= setup_end_ms:
            job.label, job.how = ("setup", ""), "setup"
