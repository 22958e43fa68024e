"""Spark JSON event log → per-operation job, stage and task metrics.

The benchmark tags every timed operation with ``setJobDescription``; the
description arrives in each ``SparkListenerJobStart``'s properties, so
tasks are attributed operation → job → stage → task. Spark 4 rolls the
log into ``eventlog_v2_<app>/events_<n>_<app>`` files (uncompressed:
``spark.eventLog.compress=false``, since ``zstandard`` is not installed).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

DESC = "spark.job.description"


def log_files(log_dir: str) -> list[str]:
    """Rolled event files under ``log_dir`` in write order."""
    def index(path: str) -> int:
        return int(re.match(r"events_(\d+)_", os.path.basename(path)).group(1))
    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                  key=index)


def read_events(log_dir: str):
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _empty() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 0.0,
            "single_task_stages": 0}


def summarize(events) -> dict[str, dict]:
    """Metrics per job description (jobs without one are dropped).

    ``stages`` counts stages that ran at least one task (AQE lists
    skipped, already-materialized stages on later jobs). ``task_skew`` is
    max ÷ median task duration in the operation's longest-running stage.
    """
    stage_desc: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    stage_span: dict[int, float] = {}
    jobs: dict[str, int] = {}
    out: dict[str, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get(DESC)
            if desc is None:
                continue
            jobs[desc] = jobs.get(desc, 0) + 1
            for sid in ev.get("Stage IDs", ()):
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            desc = stage_desc.get(sid)
            if desc is None:
                continue
            agg = out.setdefault(desc, _empty())
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            agg["tasks"] += 1
            agg["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            agg["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            stage_tasks.setdefault(sid, []).append(
                (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3)
        elif kind == "SparkListenerStageCompleted":
            si = ev.get("Stage Info", {})
            if "Completion Time" in si and "Submission Time" in si:
                stage_span[si["Stage ID"]] = (si["Completion Time"]
                                              - si["Submission Time"]) / 1e3
    for desc, n in jobs.items():
        out.setdefault(desc, _empty())["jobs"] = n
    by_desc: dict[str, list[int]] = {}
    for sid, tasks in stage_tasks.items():
        by_desc.setdefault(stage_desc[sid], []).append(sid)
    for desc, sids in by_desc.items():
        agg = out[desc]
        agg["stages"] = len(sids)
        agg["single_task_stages"] = sum(len(stage_tasks[s]) == 1 for s in sids)
        slowest = max(sids, key=lambda s: stage_span.get(
            s, max(stage_tasks[s])))
        med = statistics.median(stage_tasks[slowest])
        agg["task_skew"] = (max(stage_tasks[slowest]) / med) if med > 0 else 1.0
    return out
