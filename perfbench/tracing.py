"""Spans recorded around calls into the engine's layers, and the Spark
event-log reader that attributes task metrics to those spans.

A span is (name, start, end, parent, run id). Spans are kept in memory and
written out once, when the run ends. A span may also name the Spark job
group that jobs launched inside it carry, so the event log of a traced run
can be split by layer.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    run_id: str
    op: int  # operation (repetition) the span belongs to
    group: str | None  # layer whose job group the span set


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op,
    so untraced operations run the same code without recording."""

    def __init__(self, run_id: str, sc=None, enabled: bool = True) -> None:
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = 0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time the enclosed block as span ``name``. With ``group``, Spark
        jobs launched inside carry job group ``<run_id>:<group>`` (the
        enclosing group is restored on exit)."""
        if not self.enabled:
            yield
            return
        prev = None
        if group is not None and self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"{self.run_id}:{group}", name)
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), float("nan"),
                               parent, self.run_id, self.op, group))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if group is not None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def self_times(self) -> list[float]:
        """Self time of every span: its duration minus the part of its
        interval covered by its direct children (children may overlap)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out.append((s.end - s.start) - covered)
        return out

    def median_self(self, name: str) -> float:
        """Median over operations of the summed self time of spans named
        ``name`` in each operation; 0.0 when no such span exists."""
        selfs = self.self_times()
        per_op: dict[int, float] = {}
        for s, t in zip(self.spans, selfs):
            if s.name == name:
                per_op[s.op] = per_op.get(s.op, 0.0) + t
        return statistics.median(per_op.values()) if per_op else 0.0

    def ops_of(self, group: str) -> int:
        """Number of operations with a span in job group ``group``."""
        return len({s.op for s in self.spans if s.group == group})

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        selfs = self.self_times()
        path.write_text(json.dumps(
            [{**asdict(s), "self": t} for s, t in zip(self.spans, selfs)]))


def read_event_logs(log_dir: Path, run_id: str) -> dict[str, dict]:
    """Per-layer task metrics from the Spark event logs under ``log_dir``.

    Stages are attributed to the job group of the first job that ran them;
    only groups of this run (``<run_id>:<layer>``) are kept. Returns, per
    layer: shuffle_write_mb, spill_mb (disk bytes spilled), gc_s (JVM GC
    time summed over tasks) and task_skew (largest max/median task-time
    ratio over the layer's stages with at least two tasks)."""
    # stage ids restart per application: key stages by (app, stage id).
    # Rolling logs are one directory per application holding events_<n>_*
    # files next to an appstatus_* marker and checksum files.
    stage_group: dict[tuple[str, int], str] = {}
    tasks: dict[tuple[str, int], list[dict]] = {}
    for f in sorted(log_dir.rglob("*")):
        if not f.is_file() or f.name.startswith((".", "appstatus")) \
                or f.name.endswith(".inprogress"):
            continue
        app = f.name if f.parent == log_dir else f.parent.name
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault((app, sid), group)
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault((app, ev["Stage ID"]), []).append(ev)

    prefix = f"{run_id}:"
    out: dict[str, dict] = {}
    for key, evs in tasks.items():
        group = stage_group.get(key, "")
        if not group.startswith(prefix):
            continue
        layer = group[len(prefix):]
        acc = out.setdefault(layer, {"shuffle_write_mb": 0.0, "spill_mb": 0.0,
                                     "gc_s": 0.0, "task_skew": 0.0})
        durs = []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0) / 1e6
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            durs.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        if len(durs) >= 2:
            med = statistics.median(durs)
            if med > 0:
                acc["task_skew"] = max(acc["task_skew"], max(durs) / med)
    return out
