"""Fold Spark's own event log into per-job-group work records.

The benchmark tags every timed call with ``SparkContext.setJobGroup``; this
module reads the uncompressed JSON-lines event log (stdlib ``json`` only)
and sums, for each group, the jobs, stages and tasks it launched and the
task metrics they reported. It also keeps each job's [submit, complete]
interval so that the driver gap (wall time minus the union of job
intervals) can be computed against the call's wall span.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

PYTHON_BYTE_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class GroupWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    job_intervals_ms: list[tuple[int, int]] = field(default_factory=list)


def app_logs(log_dir: str) -> list[list[str]]:
    """Event-log files under ``log_dir``, one list per application, in
    order: Spark 4 writes a directory of rolling ``events_<n>_<app>`` files
    per application."""
    apps = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        apps.append([os.path.join(path, f) for f in parts])
    return apps


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold_events(events) -> dict[str, GroupWork]:
    """Fold one application's events into ``{job group: GroupWork}``. Jobs
    without a group are filed under the empty string."""
    out: dict[str, GroupWork] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_id = ev["Job ID"]
            job_group[job_id] = group
            job_submit[job_id] = ev["Submission Time"]
            out.setdefault(group, GroupWork()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job_id = ev["Job ID"]
            if job_id in job_group:
                out[job_group[job_id]].job_intervals_ms.append(
                    (job_submit[job_id], ev["Completion Time"])
                )
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"], "")
            out.setdefault(group, GroupWork()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            work = out.setdefault(stage_group.get(ev["Stage ID"], ""), GroupWork())
            work.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                work.task_failures += 1
            m = ev.get("Task Metrics") or {}
            work.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            work.gc_s += m.get("JVM GC Time", 0) / 1e3
            read = m.get("Shuffle Read Metrics") or {}
            work.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            work.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            work.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PYTHON_BYTE_METRICS:
                    work.python_bytes += int(acc.get("Update") or 0)
    return out


def fold_dir(log_dir: str) -> dict[str, GroupWork]:
    """Fold every application log under ``log_dir`` and drop untagged
    work. Group names are unique across applications, so the per-app
    results merge by name."""
    merged: dict[str, GroupWork] = {}
    for paths in app_logs(log_dir):
        for group, work in fold_events(_events(paths)).items():
            if not group:
                continue
            if group in merged:
                raise ValueError(f"job group {group!r} appears in two applications")
            merged[group] = work
    return merged


def driver_gap_s(start_ms: float, end_ms: float, intervals: list[tuple[int, int]]) -> float:
    """Wall time of the span [start_ms, end_ms] not covered by any job."""
    covered, cursor = 0.0, start_ms
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, cursor), min(hi, end_ms)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return max(0.0, (end_ms - start_ms) - covered) / 1e3
