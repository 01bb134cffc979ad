"""Per-job-group totals from a Spark event log.

The traced session writes an uncompressed, non-rolling JSON-lines event
log. Jobs are attributed to the job group in their start properties
(`spark.jobGroup.id`); stages and tasks inherit the group of the first
job that lists the stage.

Per group this yields: jobs, tasks, shuffle read/write bytes, spill,
JVM GC time, output bytes, the task durations of every stage, and the
sum of each SQL metric the tasks report — among them Spark's Python
UDF metrics ("time to run Python workers", "data sent to Python
workers").
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

PY_RUN_MS = "time to run Python workers"
PY_SENT_BYTES = "data sent to Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    disk_spill_bytes: int = 0
    memory_spill_bytes: int = 0
    gc_ms: int = 0
    output_bytes: int = 0
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))
    sql_metrics: dict = field(default_factory=lambda: defaultdict(int))

    def add(self, other: GroupStats) -> GroupStats:
        out = GroupStats()
        for part in (self, other):
            for name in ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                         "disk_spill_bytes", "memory_spill_bytes", "gc_ms", "output_bytes"):
                setattr(out, name, getattr(out, name) + getattr(part, name))
            for stage, durs in part.stage_task_ms.items():
                out.stage_task_ms[stage].extend(durs)
            for name, value in part.sql_metrics.items():
                out.sql_metrics[name] += value
        return out

    def task_skew(self) -> float:
        """max / median task duration within the stage that took the
        most task time in this group (0.0 when the group ran no tasks)."""
        if not self.stage_task_ms:
            return 0.0
        durs = sorted(max(self.stage_task_ms.values(), key=sum))
        median = durs[len(durs) // 2] if len(durs) % 2 else (
            durs[len(durs) // 2 - 1] + durs[len(durs) // 2]) / 2
        return durs[-1] / median if median > 0 else 1.0


def _int(value) -> int:
    try:
        return int(value)
    except (TypeError, ValueError):
        return 0


def parse(lines) -> dict[str | None, GroupStats]:
    """Group totals from an iterable of event-log lines."""
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id")
            groups[group].jobs += 1
            for stage in event.get("Stage IDs", []):
                stage_group.setdefault(stage, group)
        elif kind == "SparkListenerTaskEnd":
            stage = event.get("Stage ID")
            g = groups[stage_group.get(stage)]
            info = event.get("Task Info") or {}
            g.tasks += 1
            if info.get("Finish Time") and info.get("Launch Time"):
                g.stage_task_ms[stage].append(info["Finish Time"] - info["Launch Time"])
            m = event.get("Task Metrics") or {}
            g.gc_ms += _int(m.get("JVM GC Time"))
            g.disk_spill_bytes += _int(m.get("Disk Bytes Spilled"))
            g.memory_spill_bytes += _int(m.get("Memory Bytes Spilled"))
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += _int(sr.get("Remote Bytes Read")) + _int(sr.get("Local Bytes Read"))
            g.shuffle_write_bytes += _int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            g.output_bytes += _int((m.get("Output Metrics") or {}).get("Bytes Written"))
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql" and acc.get("Name"):
                    g.sql_metrics[acc["Name"]] += _int(acc.get("Update"))
    return dict(groups)


def parse_file(path: str) -> dict[str | None, GroupStats]:
    with open(path) as f:
        return parse(f)


def total(groups: dict, names) -> GroupStats:
    """Sum of the named groups (missing names count as empty)."""
    out = GroupStats()
    for name in names:
        if name in groups:
            out = out.add(groups[name])
    return out
