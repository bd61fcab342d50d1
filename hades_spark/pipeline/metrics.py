"""Per-stage lineage + throughput metrics (north-rule clause).

The reference emits per-phase progress/throughput from its batch manager
(``batch.py:162-313`` item counters, ``sync.py`` docs/sec logging); the
Spark-native restatement is a tiny append-only metrics table next to the
pipeline output:

    (run_id, stage, rows, seconds, rows_per_sec, started_at, ts)

plus the per-unit lineage the manifest already provides
(``sources/manifest.py``: stage/unit/rows_out/status — which url-hash
bucket produced which output partition). ``StageMetrics`` is deliberately
driver-side and O(#stages): no per-row accounting, nothing on the task
hot path.

``run_kg_pipeline_metered`` wires it through the flagship pipeline: one
metrics row per stage (extract+triples, canonicalize, edges) with row
counts and wall seconds, written as parquet for downstream dashboards
and returned as a dict for logs.
"""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import DataFrame, SparkSession

METRICS_SCHEMA = ("run_id string, stage string, rows long, seconds double, "
                  "rows_per_sec double, started_at timestamp, ts timestamp")


class StageMetrics:
    """Collects per-stage (rows, seconds) and appends them to a parquet
    metrics table. Usage::

        metrics = StageMetrics(spark, path, run_id="r1")
        with metrics.stage("extract") as s:
            n = df.count()
            s.rows = n
        metrics.flush()
    """

    class _Stage:
        def __init__(self, name: str):
            self.name = name
            self.rows = 0
            self.seconds = 0.0
            self._t0 = 0.0

        def __enter__(self):
            self._t0 = time.perf_counter()
            # tz-AWARE (repo convention, cf. corpus.pages_df_distributed):
            # a naive value would be reinterpreted in
            # spark.sql.session.timeZone and stored shifted
            self._started = dt.datetime.now(dt.timezone.utc)
            return self

        def __exit__(self, *exc):
            self.seconds = time.perf_counter() - self._t0
            return False

    def __init__(self, spark: SparkSession, path: str | None = None,
                 run_id: str = "run0"):
        self.spark = spark
        self.path = path
        self.run_id = run_id
        self._stages: list[StageMetrics._Stage] = []

    def stage(self, name: str) -> "StageMetrics._Stage":
        s = StageMetrics._Stage(name)
        self._stages.append(s)
        return s

    def as_rows(self) -> list[tuple]:
        now = dt.datetime.now(dt.timezone.utc)
        return [
            (self.run_id, s.name, s.rows, round(s.seconds, 4),
             round(s.rows / s.seconds, 2) if s.seconds > 0 else 0.0,
             getattr(s, "_started", now), now)
            for s in self._stages
        ]

    def as_dict(self) -> dict:
        return {
            s.name: {"rows": s.rows, "seconds": round(s.seconds, 4),
                     "rows_per_sec": round(s.rows / s.seconds, 2)
                     if s.seconds > 0 else 0.0}
            for s in self._stages
        }

    def flush(self) -> None:
        """Append collected stages to the parquet metrics table."""
        if self.path is None or not self._stages:
            return
        self.spark.createDataFrame(self.as_rows(), METRICS_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(self.path)


def run_kg_pipeline_metered(
    spark: SparkSession,
    pages: DataFrame,
    metrics_path: str | None = None,
    run_id: str = "run0",
    local_threshold: int = 20_000,
) -> tuple[DataFrame, dict]:
    """Flagship pipeline with per-stage metrics: returns (edges, metrics
    dict) and appends the metrics table when ``metrics_path`` is given.

    Stage boundaries follow the pipeline's real materialization points
    (the raw-triples cache, the canonical-map cache, the edge count), so
    the timings measure actual work, not plan construction.
    """
    from pyspark.sql import functions as F

    from ..functions.triples import raw_triples
    from ..operators.canonicalize import canonical_norm_map
    from .kg import apply_canonical_map, distinct_edges, norm_triples

    metrics = StageMetrics(spark, metrics_path, run_id)

    with metrics.stage("extract_triples") as s:
        raw = norm_triples(raw_triples(pages)).localCheckpoint(eager=True)
        s.rows = raw.count()

    with metrics.stage("canonicalize") as s:
        norms = raw.select(
            F.explode(F.array("subj_norm", "obj_norm")).alias("norm"))
        cmap = canonical_norm_map(
            norms, local_threshold=local_threshold).localCheckpoint(eager=True)
        s.rows = cmap.count()

    with metrics.stage("materialize_edges") as s:
        edges = distinct_edges(apply_canonical_map(raw, cmap)) \
            .localCheckpoint(eager=True)
        s.rows = edges.count()

    metrics.flush()
    return edges, metrics.as_dict()
