"""Reduce a Spark event log to per-window job, stage and task totals.

The benchmark attributes Spark work to its own time windows (one op, or
one pass): a job or a stage attempt belongs to the window its
submission time falls in. (A stage is not attributed via
its job: a job also lists the shuffle stages it reuses, which ran
earlier.) Busy time is the UNION of stage intervals clipped to the
window, so two overlapping stages count once; the driver gap is the
window's wall time minus that union.

Reads the rolling layout Spark writes with
``spark.eventLog.rolling.enabled=true`` and
``spark.eventLog.compress=false``: one ``eventlog_v2_<app>/`` directory
per application, holding numbered JSON-lines parts
``events_<n>_<app>`` and an ``appstatus_*`` marker with no events.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_PART_RE = re.compile(r"^events_(\d+)_")


@dataclass
class Stage:
    submit: float = 0.0     # epoch seconds
    complete: float = 0.0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class Trace:
    job_submits: list[float] = field(default_factory=list)  # epoch s
    # (stage id, attempt) -> Stage, completed attempts only
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)


def log_files(log_dir: str) -> list[str]:
    """Every rolling event-log part under ``log_dir``, in part order."""
    files: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith("eventlog_v2_"):
            parts = [(int(m.group(1)), p) for p in os.listdir(path)
                     if (m := _PART_RE.match(p))]
            files += [os.path.join(path, p) for _, p in sorted(parts)]
    return files


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _mb(n: float) -> float:
    return n / (1024 * 1024)


def reduce_events(events: list[dict]) -> Trace:
    trace = Trace()
    pending: dict[tuple[int, int], Stage] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            trace.job_submits.append(ev["Submission Time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            st = pending.setdefault(key, Stage())
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_mb += _mb(rd.get("Remote Bytes Read", 0)
                                      + rd.get("Local Bytes Read", 0))
            wr = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_mb += _mb(wr.get("Shuffle Bytes Written", 0))
            st.spill_mb += _mb(m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" not in info or "Completion Time" not in info:
                continue
            key = (info["Stage ID"], info["Stage Attempt ID"])
            st = pending.pop(key, Stage())
            st.submit = info["Submission Time"] / 1000.0
            st.complete = info["Completion Time"] / 1000.0
            trace.stages[key] = st
    return trace


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals (overlaps counted once)."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def window(trace: Trace, t0: float, t1: float) -> dict[str, float]:
    """Totals for the jobs and stage attempts submitted in ``[t0, t1)``
    (epoch seconds); stage intervals are clipped to the window."""
    stages = [st for st in trace.stages.values() if t0 <= st.submit < t1]
    busy = union_s([(st.submit, min(st.complete, t1)) for st in stages])
    return {
        "jobs": sum(t0 <= t < t1 for t in trace.job_submits),
        "stages": len(stages),
        "tasks": sum(st.tasks for st in stages),
        "stage_busy_s": busy,
        "driver_gap_s": max(0.0, (t1 - t0) - busy),
        "executor_cpu_s": sum(st.cpu_s for st in stages),
        "shuffle_read_mb": sum(st.shuffle_read_mb for st in stages),
        "shuffle_write_mb": sum(st.shuffle_write_mb for st in stages),
        "spill_mb": sum(st.spill_mb for st in stages),
    }
