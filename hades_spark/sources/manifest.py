"""Checkpoint manifest: per-(stage, unit) completion records => exact resume.

The reference persists a completed/failed set after every item
(``batch.py:162-313``) and an incremental watermark doc
(``sync.py:265-356``); restated Spark-first as an append-only manifest
parquet table — resuming a stage = anti-join the input's unit ids against
the manifest's completed set (I3 / U3 semantics), so re-runs are idempotent
and a killed run re-runs only the units it had not recorded. A stage writes
all of its pending units in one pass partitioned by unit and records them
afterwards, so a kill mid-pass re-runs that whole pass.

Units are logical partitions of the input (e.g. url-hash buckets), not
Spark task partitions — stable across cluster sizes, which is what makes
resume exact when the N-executor run continues on 4N executors.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_SCHEMA = ("stage string, unit int, status string, rows_out long, "
                   "error string, run_id string, ts timestamp")


class Manifest:
    def __init__(self, spark: SparkSession, path: str, run_id: str = "run0"):
        self.spark = spark
        self.path = path
        self.run_id = run_id

    def _read(self) -> DataFrame:
        if not Path(self.path).exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.parquet(self.path)

    def completed_units(self, stage: str) -> DataFrame:
        return (
            self._read()
            .filter((F.col("stage") == stage) & (F.col("status") == "completed"))
            .select("unit").distinct()
        )

    def record(self, stage: str, unit: int, status: str = "completed",
               rows_out: int = 0, error: str | None = None) -> None:
        self.record_many(stage, [(unit, rows_out)], status, error)

    def record_many(self, stage: str, units: list[tuple[int, int]],
                    status: str = "completed",
                    error: str | None = None) -> None:
        """Append one row per ``(unit, rows_out)`` in a single write."""
        ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        rows = [(stage, u, status, n, error, self.run_id, ts)
                for u, n in units]
        self.spark.createDataFrame(rows, MANIFEST_SCHEMA) \
            .write.mode("append").parquet(self.path)

    def pending(self, df: DataFrame, stage: str, unit_col: str = "unit") -> DataFrame:
        """Drop rows whose unit is already completed for this stage."""
        done = self.completed_units(stage) \
            .withColumnRenamed("unit", unit_col)
        return df.join(F.broadcast(done), unit_col, "left_anti")


def with_unit(df: DataFrame, key_col: str, n_units: int = 64,
              unit_col: str = "unit") -> DataFrame:
    """Stable logical unit id from a key column (url-hash bucket)."""
    return df.withColumn(
        unit_col, F.pmod(F.xxhash64(F.col(key_col)), n_units).cast("int")
    )


def run_stage_with_resume(
    manifest: Manifest,
    stage: str,
    inp: DataFrame,
    transform,
    out_path: str,
    key_col: str,
    n_units: int = 16,
) -> None:
    """Run ``transform(df) -> DataFrame`` over every pending unit in ONE
    write partitioned by ``unit`` (``<out_path>/unit=<u>/``) with dynamic
    partition overwrite, then record the pending units in one manifest
    append. ``transform`` must keep ``key_col``: the unit is re-derived
    from it after the transform.

    Crash safety is overwrite-then-record: a crash BETWEEN the write and
    the manifest record leaves those units pending, and the resume
    rewrites their partitions instead of appending a duplicate (the
    committed-but-unrecorded window an append-based design has). The
    trade of the single pass: a killed run re-runs every unit of the
    interrupted pass, not just one. ``spark.read.parquet(out_path)``
    discovers ``unit`` as a partition column, so downstream readers also
    get the lineage of which bucket each row came from for free.

    Unit-granular, not row-granular: at 100 TB the manifest stays tiny
    (n_units rows per stage).
    """
    todo = manifest.pending(with_unit(inp, key_col, n_units), stage)
    units = sorted(r["unit"] for r in todo.select("unit").distinct().collect())
    if not units:
        return
    out = with_unit(transform(todo.drop("unit")), key_col, n_units)
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("unit").parquet(out_path)
    # explicit schema: the read stays valid when no unit wrote a row
    written = dict(
        manifest.spark.read.schema(out.schema).parquet(out_path)
        .filter(F.col("unit").isin(units))
        .groupBy("unit").count().collect()
    )
    manifest.record_many(stage, [(u, written.get(u, 0)) for u in units])
