"""In-memory spans around the benchmark's calls into the engine.

Each span wraps one public call: name, phase, start, end, parent and run
id.  Spans are always timed (two clock reads), because the end-to-end
metrics are computed from them.  When tracing is on, each span also runs
under its own Spark job group, so the event log attributes every job,
stage and task to the call that caused it; the spans are written out when
the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP = "spark.jobGroup.id"
WARMUP = "warmup"


@dataclass
class Span:
    id: int
    name: str
    phase: str
    parent: int | None
    run: str
    start: float
    end: float | None = None
    error: str | None = None
    info: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run}.{self.id}"

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, spark_context) -> None:
        """Start tagging jobs once a SparkContext exists (traced runs)."""
        if self.traced:
            self._sc = spark_context

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if parent is not None and (parent.phase == WARMUP or not phase):
            phase = parent.phase  # everything under a warm-up is warm-up
        sp = Span(id=len(self.spans), name=name, phase=phase or "bench",
                  parent=parent.id if parent else None, run=self.run_id,
                  start=time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self._sc
        prev = sc.getLocalProperty(JOB_GROUP) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(JOB_GROUP, sp.group)
        try:
            yield sp
        except BaseException as exc:
            sp.error = f"{type(exc).__name__}: {exc}"
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(JOB_GROUP, prev)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, minus the time its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length((c.start, c.end) for c in children.get(s.id, []))
        out[s.name] = out.get(s.name, 0.0) + s.duration - covered
    return out


def coverage(spans: list[Span], start: float, end: float) -> float:
    """Share of [start, end] covered by top-level spans."""
    wall = end - start
    if wall <= 0:
        return 0.0
    top = [(max(s.start, start), min(s.end, end)) for s in spans
           if s.parent is None and s.end is not None]
    return union_length((a, b) for a, b in top if b > a) / wall


def phase_wall(spans: list[Span], phase: str) -> float:
    """Wall time during which some span of ``phase`` was open."""
    return union_length((s.start, s.end) for s in spans
                        if s.phase == phase and s.end is not None)
