"""Per-op Spark numbers from the benchmark session's own event log.

The traced run starts its session with ``spark.eventLog.enabled=true``
and ``spark.eventLog.compress=false``; after ``spark.stop()`` the log
is one JSON event per line.  Jobs are attributed to an op by their
submission time falling inside the op's wall-clock window, which is
sound because only one op is in flight; stages and tasks follow their
job.
"""

from __future__ import annotations

import bisect
import json
import os


def _events(log_dir: str):
    """Events in order; Spark 4 rolls the log into
    ``eventlog_v2_<app>/events_<n>_<app>`` files."""
    files = []
    for d, _, names in os.walk(log_dir):
        for name in names:
            if name.startswith("events_"):
                files.append((int(name.split("_")[1]), os.path.join(d, name)))
            elif not name.startswith((".", "appstatus_")):  # .crc checksums
                files.append((0, os.path.join(d, name)))
    for _, path in sorted(files):
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def per_op(log_dir: str, windows: list[tuple[float, float]]) -> list[dict]:
    """One dict of Spark counters per op window ``(start_ms, end_ms)``
    (epoch milliseconds, sorted and disjoint)."""
    starts = [w[0] for w in windows]

    def op_of(t_ms: float) -> int | None:
        i = bisect.bisect_right(starts, t_ms) - 1
        if i >= 0 and t_ms <= windows[i][1]:
            return i
        return None

    ops = [
        {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "executor_run_ms": 0.0,
            "executor_cpu_ms": 0.0,
            "gc_ms": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_disk_bytes": 0,
            "spill_memory_bytes": 0,
        }
        for _ in windows
    ]
    stage_op: dict[int, int] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            i = op_of(ev["Submission Time"])
            if i is None:
                continue
            ops[i]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = i
        elif kind == "SparkListenerStageCompleted":
            i = stage_op.get(ev["Stage Info"]["Stage ID"])
            if i is not None:
                ops[i]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            i = stage_op.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if i is None or not m:
                continue
            o = ops[i]
            o["tasks"] += 1
            o["executor_run_ms"] += m.get("Executor Run Time", 0)
            o["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            o["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics", {})
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            o["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            o["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            o["spill_memory_bytes"] += m.get("Memory Bytes Spilled", 0)
    return ops
