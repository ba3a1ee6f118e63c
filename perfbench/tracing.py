"""Spans recorded around calls into the engine, and Spark's own
per-stage counters read back from its event log.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run
id) and writes them out once, at the end of a run. The disabled tracer
records nothing, so untraced runs pay only a method call per boundary.
Spark counters come from the JSON event log that Spark writes when the
run enables it; every op runs under its own job group, which is how
stages are joined back to ops.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover."""
        covered: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent].append((sp.start, sp.end))
        return [
            sp.duration - union_length(covered[i], sp.start, sp.end)
            for i, sp in enumerate(self.spans)
        ]

    def dump(self, path: Path) -> None:
        selfs = self.self_times()
        rows = [
            {**asdict(sp), "id": i, "self": selfs[i]}
            for i, sp in enumerate(self.spans)
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rows))


def union_length(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# event-log accumulable name → counter; each value is summed per stage
_ACCUMULABLES = {
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "data sent to Python workers": ("python_bytes", 1),
    "data returned from Python workers": ("python_bytes", 1),
}
COUNTERS = (
    "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "python_bytes",
)


@dataclass
class StageRecord:
    group: str | None  # job group of the stage's job, if any
    start: float  # epoch seconds
    end: float
    counters: dict[str, float]


def read_event_log(log_dir: Path) -> list[StageRecord]:
    """Every completed stage in the event logs under ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: list[StageRecord] = []
    logs = (p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith("."))
    for path in sorted(logs):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Completion Time" not in info or "Submission Time" not in info:
                        continue
                    counters = {"stages": 1.0, "tasks": float(info["Number of Tasks"])}
                    for acc in info.get("Accumulables", []):
                        spec = _ACCUMULABLES.get(acc.get("Name"))
                        if spec is None:
                            continue
                        key, scale = spec
                        try:
                            val = float(acc["Value"]) * scale
                        except (KeyError, TypeError, ValueError):
                            continue
                        counters[key] = counters.get(key, 0.0) + val
                    out.append(
                        StageRecord(
                            stage_group.get(info["Stage ID"]),
                            info["Submission Time"] / 1000.0,
                            info["Completion Time"] / 1000.0,
                            counters,
                        )
                    )
    return out
