"""Per-task engine metrics from Spark's own event log.

The traced run enables the event log uncompressed and unrolled, so it
is one JSON object per line. ``summarize`` keeps the tasks launched
inside the given wall-clock windows (epoch milliseconds, the timed
units) and sums their metrics. The Spark UI is off, so the log is the
only source of these numbers.
"""

from __future__ import annotations

import json

PYTHON_WORKER_METRIC = "time to run Python workers"


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _inside(t: int, windows: list[tuple[int, int]]) -> bool:
    return any(a <= t <= b for a, b in windows)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def summarize(events: list[dict], windows: list[tuple[int, int]], cores: int) -> dict:
    """Sum task metrics over the tasks launched inside ``windows``.

    Times are seconds, sizes bytes. ``dispatch_gap_s`` is the window
    time during which no task ran: driver-side planning, Python driver
    work and job/stage dispatch. ``core_busy_frac`` is task time over
    ``cores`` times the window time."""
    out = {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "jvm_gc_s": 0.0,
        "python_worker_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
    }
    busy: list[tuple[int, int]] = []
    task_ms = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if _inside(ev.get("Submission Time", 0), windows):
                out["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            if _inside(info.get("Submission Time", 0), windows):
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
            if not _inside(launch, windows):
                continue
            out["tasks"] += 1
            busy.append((launch, finish))
            task_ms += finish - launch
            m = ev.get("Task Metrics") or {}
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            out["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PYTHON_WORKER_METRIC:
                    out["python_worker_s"] += float(acc.get("Update", 0)) / 1e3
    window_ms = sum(b - a for a, b in windows)
    out["dispatch_gap_s"] = (window_ms - _union_ms(busy)) / 1e3
    out["core_busy_frac"] = task_ms / (cores * window_ms) if window_ms else 0.0
    return out
