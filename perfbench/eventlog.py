"""Spark event-log parsing: per job group counters.

The benchmark tags each traced call with its own job group
(``spark.jobGroup.id``); this module reads the JSON-lines event log Spark
writes and sums, per group, the jobs, executed stages, task run/CPU/GC
time, shuffle read+write bytes, spill bytes, Python-worker bytes (the
Arrow ``data sent to / returned from Python workers`` SQL metrics) and
input records.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, fields

PYTHON_METRIC = "Python workers"


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    input_records: int = 0
    _stage_ids: set = field(default_factory=set, repr=False)

    def add(self, other: "GroupCounters") -> None:
        for f in fields(self):
            if not f.name.startswith("_"):
                setattr(self, f.name,
                        getattr(self, f.name) + getattr(other, f.name))


def _task_counters(ev: dict, c: GroupCounters) -> None:
    m = ev.get("Task Metrics") or {}
    c.task_run_s += m.get("Executor Run Time", 0) / 1e3
    c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    c.gc_s += m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    c.shuffle_bytes += (sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0))
    c.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                      + m.get("Disk Bytes Spilled", 0))
    c.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if PYTHON_METRIC in str(acc.get("Name", "")):
            try:
                c.python_bytes += int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass  # non-numeric update: not a byte counter


def parse_lines(lines) -> dict[str | None, GroupCounters]:
    """Counters per job group id (None for untagged jobs)."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupCounters] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups.setdefault(gid, GroupCounters()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            c = groups.setdefault(stage_group.get(sid), GroupCounters())
            c._stage_ids.add(sid)
            _task_counters(ev, c)
    for c in groups.values():
        c.stages = len(c._stage_ids)
    return groups


def parse_dir(path: str) -> dict[str | None, GroupCounters]:
    """Parse every uncompressed event log file under ``path``."""
    lines: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            with open(os.path.join(root, name)) as f:
                lines.extend(f)
    return parse_lines(lines)
