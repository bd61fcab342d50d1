"""Materialized KG pipeline: pages -> partitioned tables on disk, with
per-stage checkpoint manifest (exact resume) and metrics rows.

Table layout (plain-parquet stand-in for the Iceberg tables of the north
rule; identical partitioning):

    <out>/pages_text/           narrow extraction output (unit-bucketed)
    <out>/mentions/  kind=...   detected mentions, partitioned by kind
    <out>/raw_triples/          surface triples (unit-bucketed)
    <out>/edges/     pred=...   canonical deduped edges, partitioned by pred
    <out>/manifest/             stage/unit completion records
    <out>/metrics/              per-stage row counts + durations

Stage 1 (extract+mention+triple) is embarrassingly parallel: every
pending manifest unit is written in one pass partitioned by unit, then
recorded — a killed run re-runs the units of the interrupted pass and
skips the recorded ones. The edge stage is the build's own chain
(``kg.norm_triples`` -> ``canonical_norm_map`` -> ``apply_canonical_map``
-> ``distinct_edges``) over the raw-triple table, so the deploy path writes
the same edges as ``distinct_edges(canonical_triples(pages))``; it is an
idempotent overwrite, so resume = rerun.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.mentions import detect_mentions_udf
from ..functions.triples import extract_triples_udf
from ..operators.canonicalize import canonical_norm_map
from ..sources.manifest import Manifest, run_stage_with_resume
from .kg import apply_canonical_map, distinct_edges, ensure_text, norm_triples


def _stage1(pages: DataFrame) -> DataFrame:
    """extract text + mentions + surface triples in ONE narrow pass
    (single scan of html, no shuffle)."""
    pages = ensure_text(pages)
    return pages.select(
        "url", "warc_ts", "lang", "text",
        detect_mentions_udf("url", "html", "text").alias("mentions"),
        extract_triples_udf("text").alias("triples"),
    )


def materialize_kg(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run0",
    n_units: int = 16,
    threshold: float = 0.8,
) -> dict:
    """Run the full pipeline to disk; returns per-stage metrics."""
    manifest = Manifest(spark, f"{out_dir}/manifest", run_id)
    metrics: list[tuple] = []

    t0 = time.perf_counter()
    run_stage_with_resume(
        manifest, "extract", pages, _stage1,
        f"{out_dir}/stage1", key_col="url", n_units=n_units,
    )
    stage1 = spark.read.parquet(f"{out_dir}/stage1")
    metrics.append((run_id, "extract", stage1.count(),
                    round(time.perf_counter() - t0, 3)))

    # project the wide stage-1 output into the public tables (cheap scans)
    t0 = time.perf_counter()
    stage1.select("url", "warc_ts", "lang", "text") \
        .write.mode("overwrite").parquet(f"{out_dir}/pages_text")
    (
        stage1.select("url", F.posexplode_outer("mentions").alias("pos", "m"))
        .filter(F.col("m").isNotNull())
        .select(
            "url",
            F.concat_ws("#", "url", F.col("pos").cast("string")).alias("mention_id"),
            F.col("m.*"),
        )
        .write.mode("overwrite").partitionBy("kind")
        .parquet(f"{out_dir}/mentions")
    )
    raw = (
        stage1.select("url", F.explode("triples").alias("t"))
        .select("url", "t.subj", "t.pred", "t.obj", "t.confidence")
    )
    raw.write.mode("overwrite").parquet(f"{out_dir}/raw_triples")
    metrics.append((run_id, "project",
                    spark.read.parquet(f"{out_dir}/raw_triples").count(),
                    round(time.perf_counter() - t0, 3)))

    # global stage: the build's canonicalize + dedup chain
    t0 = time.perf_counter()
    raw = norm_triples(spark.read.parquet(f"{out_dir}/raw_triples"))
    norms = raw.select(
        F.explode(F.array("subj_norm", "obj_norm")).alias("norm"))
    cmap = canonical_norm_map(norms, threshold=threshold).cache()
    distinct_edges(apply_canonical_map(raw, cmap)) \
        .write.mode("overwrite").partitionBy("pred") \
        .parquet(f"{out_dir}/edges")
    cmap.unpersist()
    n_edges = spark.read.parquet(f"{out_dir}/edges").count()
    metrics.append((run_id, "edges", n_edges,
                    round(time.perf_counter() - t0, 3)))

    spark.createDataFrame(
        metrics, "run_id string, stage string, rows_out long, duration_sec double"
    ).write.mode("append").parquet(f"{out_dir}/metrics")

    return {s: {"rows": r, "sec": d} for _, s, r, d in metrics}
