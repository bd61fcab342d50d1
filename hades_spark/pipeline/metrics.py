"""Per-stage wall-clock timing shared by the deploy path
(``persist.materialize_kg``, parquet ``<out>/metrics`` rows) and the
incremental state (``incremental_kg``, ``<state_dir>/metrics.jsonl``).

Driver-side and O(#stages): no per-row accounting, nothing on the task
hot path. Per-unit lineage comes from the manifest
(``sources/manifest.py``: stage/unit/rows_out).
"""

from __future__ import annotations

import time


class StageClock:
    """Driver-side per-stage stopwatch. Segments are measured BETWEEN
    Spark actions (eager checkpoints / table writes / counts), so a
    segment's wall covers exactly the jobs that materialize that stage."""

    def __init__(self) -> None:
        self.secs: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, stage: str) -> None:
        now = time.perf_counter()
        self.secs[stage] = round(self.secs.get(stage, 0.0) + now - self._t, 3)
        self._t = now
