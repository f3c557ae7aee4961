"""Reader for Spark's JSON event log (plain or rolling ``eventlog_v2_*``).

Only the standard library: the log is written uncompressed (the benchmark
sets ``spark.eventLog.compress=false``), one JSON listener event per line.
``parse`` folds it into jobs, stages and tasks; ``attribute`` assigns each
job to the query span it ran in.

A job belongs to a query when its job group is the query's tag. Jobs of a
streaming micro-batch carry the stream's run id as their group instead, so
jobs whose group names no query fall back to the query whose wall-clock
window holds the job's submission time. The benchmark runs one query at a
time, so the windows do not overlap.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

TASK_FIELDS = (
    "run_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: set[int] = field(default_factory=set)  # submitted stages
    # Per stage: task count and summed task metrics.
    stage_tasks: dict[int, int] = field(default_factory=dict)
    stage_sums: dict[int, dict[str, int]] = field(default_factory=dict)
    # (launch_ms, finish_ms) of every finished task.
    task_spans: list[tuple[int, int]] = field(default_factory=list)


def log_files(log_dir: str, app_id: str) -> list[str]:
    """Files of one application's log, oldest first: the rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` parts, or the single file."""
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolling):
        parts = glob.glob(os.path.join(rolling, "events_*"))
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    single = os.path.join(log_dir, app_id)
    for path in (single, single + ".inprogress"):
        if os.path.exists(path):
            return [path]
    raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")


def _task_sums(metrics: dict) -> dict[str, int]:
    shr = metrics.get("Shuffle Read Metrics", {})
    shw = metrics.get("Shuffle Write Metrics", {})
    return {
        "run_ms": metrics.get("Executor Run Time", 0),
        "gc_ms": metrics.get("JVM GC Time", 0),
        "shuffle_read_bytes": shr.get("Remote Bytes Read", 0)
        + shr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": shw.get("Shuffle Bytes Written", 0),
        "spill_bytes": metrics.get("Memory Bytes Spilled", 0)
        + metrics.get("Disk Bytes Spilled", 0),
        "input_bytes": metrics.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": metrics.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def parse(lines) -> Log:
    """Fold listener events (an iterable of JSON lines) into a ``Log``."""
    log = Log()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit_ms=ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            log.jobs[job.job_id] = job
        elif kind == "SparkListenerStageSubmitted":
            log.stages.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            info = ev.get("Task Info", {})
            log.stage_tasks[sid] = log.stage_tasks.get(sid, 0) + 1
            acc = log.stage_sums.setdefault(sid, dict.fromkeys(TASK_FIELDS, 0))
            for k, v in _task_sums(ev.get("Task Metrics") or {}).items():
                acc[k] += v
            if info.get("Launch Time") and info.get("Finish Time"):
                log.task_spans.append((info["Launch Time"], info["Finish Time"]))
    return log


def read(log_dir: str, app_id: str) -> Log:
    def lines():
        for path in log_files(log_dir, app_id):
            with open(path, encoding="utf-8") as fh:
                yield from fh

    return parse(lines())


@dataclass
class Span:
    """One query run: its tag and wall-clock window in epoch ms."""

    tag: str
    start_ms: float
    end_ms: float


def attribute(log: Log, spans: list[Span]) -> dict[str, list[Job]]:
    """Jobs of each span, by job group first and wall-clock window second.
    Jobs outside every span (setup, warm-up, checks) are left out."""
    tags = {s.tag for s in spans}
    out: dict[str, list[Job]] = {s.tag: [] for s in spans}
    ordered = sorted(spans, key=lambda s: s.start_ms)
    for job in log.jobs.values():
        if job.group in tags:
            out[job.group].append(job)
            continue
        for s in ordered:
            if s.start_ms <= job.submit_ms <= s.end_ms:
                out[s.tag].append(job)
                break
    return out


def job_totals(log: Log, jobs: list[Job], seen: set[int]) -> dict[str, int]:
    """Stages, tasks and task-metric sums of ``jobs``. A stage shared by
    several jobs counts once: ``seen`` carries the stages already counted."""
    tot = {"jobs": len(jobs), "stages": 0, "tasks": 0, **dict.fromkeys(TASK_FIELDS, 0)}
    for job in jobs:
        for sid in job.stage_ids:
            if sid in seen or sid not in log.stages:
                continue  # counted already, or skipped (reused shuffle output)
            seen.add(sid)
            tot["stages"] += 1
            tot["tasks"] += log.stage_tasks.get(sid, 0)
            for k, v in log.stage_sums.get(sid, {}).items():
                tot[k] += v
    return tot


def busy_ms(spans: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] during which at least one task ran."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
