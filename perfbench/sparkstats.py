"""Spark's own public reporting, read from outside the package.

:func:`event_log_totals` gives job, stage and task counts and task
metrics (run and CPU time, GC, shuffle, spill, input bytes and rows,
failed tasks) per job group, or per micro-batch for streaming jobs,
parsed from the event log the traced run enables by configuration. The
batch workloads set the job groups with ``setJobGroup``. Counts are not
read from ``statusTracker()``: it is only weakly consistent (its
listener runs on the asynchronous listener bus), so right after a query
returns it can miss jobs and tasks; the event log, read after the
session has stopped, is complete.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

SMALL_STAGE_TASKS = 2

_TASK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "small_stages",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_rows",
    "failed_tasks",
)


def _task_row(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return {
        "tasks": 1,
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_rows": inp.get("Records Read", 0),
        "failed_tasks": 1 if (ev.get("Task Info") or {}).get("Failed") else 0,
    }


def _key(props: dict) -> str:
    batch = props.get("streaming.sql.batchId")
    if batch is not None:
        return f"batch:{batch}"
    return props.get("spark.jobGroup.id") or ""


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Totals per job group, or per ``batch:<id>`` for the jobs of a
    streaming micro-batch (``""`` for jobs with neither).

    Read after the session stopped, so the log is complete. A stage
    shared by several jobs is charged to the first job that listed it;
    a stage counts if any task of it ran, and is small with at most
    ``SMALL_STAGE_TASKS`` tasks."""
    stage_key: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(_TASK_FIELDS, 0.0))
    pending: list[tuple[int, dict]] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = _key(ev.get("Properties") or {})
                    totals[key]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_key.setdefault(sid, key)
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info") or {}
                    stage_tasks[info.get("Stage ID")] = info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    pending.append((ev.get("Stage ID"), _task_row(ev)))
    ran: set[int] = set()
    for sid, row in pending:
        t = totals[stage_key.get(sid, "")]
        for k, v in row.items():
            t[k] += v
        if sid not in ran:
            ran.add(sid)
            t["stages"] += 1
            t["small_stages"] += stage_tasks.get(sid, 0) <= SMALL_STAGE_TASKS
    return dict(totals)


def sum_groups(totals: dict[str, dict[str, float]], match) -> dict[str, float]:
    """Element-wise sum over every key for which ``match(key)`` holds."""
    out = dict.fromkeys(_TASK_FIELDS, 0.0)
    for key, t in totals.items():
        if match(key):
            for k, v in t.items():
                out[k] += v
    return out
