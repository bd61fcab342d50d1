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

Stage 1 (extract+mention+triple) is embarrassingly parallel: ONE
mapInArrow pass per page batch (``_stage1``) — every pending manifest
unit is written in one pass partitioned by unit, then recorded; a killed
run re-runs the units of the interrupted pass and skips the recorded
ones. The edge stage is the build's own chain
(``kg.norm_triples`` -> ``canonical_norm_map`` -> ``apply_canonical_map``
-> ``distinct_edges``) over the raw-triple table, so the deploy path writes
the same edges as ``distinct_edges(canonical_triples(pages))``; it is an
idempotent overwrite, so resume = rerun. ``scripts/submit_kg.py`` runs
this function under spark-submit; re-submitting the same command resumes.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField, StructType,
    TimestampType,
)

from ..functions.mentions import detect_mentions, explode_mentions
from ..operators.canonicalize import canonical_norm_map
from ..schemas import MENTION
from ..sources.manifest import Manifest, run_stage_with_resume
from ..textcore.html import decode_html_bytes
from ..textcore.route import extract_text
from ..textcore.svo import extract_triples
from .kg import apply_canonical_map, distinct_edges, norm_triples
from .metrics import StageClock

_TRIPLE = StructType(
    [StructField(c, StringType(), False) for c in ("subj", "pred", "obj")]
    + [StructField("start_char", IntegerType()),
       StructField("confidence", DoubleType())])

_STAGE1_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("text", StringType()),
    StructField("mentions", ArrayType(MENTION)),
    StructField("triples", ArrayType(_TRIPLE)),
])


def _stage1_batches(it):
    """mapInArrow kernel: (url, warc_ts, lang, html, text) batches ->
    _STAGE1_SCHEMA batches. url/warc_ts/lang pass through as Arrow columns;
    the html bytes cross into Python once and never come back."""
    m_type = to_arrow_type(_STAGE1_SCHEMA["mentions"].dataType)
    t_type = to_arrow_type(_STAGE1_SCHEMA["triples"].dataType)
    for batch in it:
        texts, mentions, triples = [], [], []
        for u, h, t in zip(batch.column("url").to_pylist(),
                           batch.column("html").to_pylist(),
                           batch.column("text").to_pylist()):
            if t is None:
                t = extract_text(u, h)
            texts.append(t)
            # decode_html_bytes: the same utf-8 -> latin-1 ladder the text
            # extraction uses, so mention surfaces match the text exactly
            mentions.append(detect_mentions(decode_html_bytes(h), t, url=u))
            triples.append(extract_triples(t))
        yield pa.RecordBatch.from_arrays(
            [batch.column("url"), batch.column("warc_ts"),
             batch.column("lang"), pa.array(texts, pa.string()),
             pa.array(mentions, m_type), pa.array(triples, t_type)],
            names=_STAGE1_SCHEMA.fieldNames())


def _stage1(pages: DataFrame) -> DataFrame:
    """extract text + mentions + surface triples in ONE narrow mapInArrow
    pass (single scan of html, no shuffle); null text is extracted from
    html, given text is kept."""
    return pages.select("url", "warc_ts", "lang", "html", "text") \
        .mapInArrow(_stage1_batches, schema=_STAGE1_SCHEMA)


def materialize_kg(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run0",
    n_units: int = 16,
    threshold: float = 0.8,
) -> dict:
    """Run the full pipeline to disk; returns per-stage metrics.

    ``run_id`` names one run of one input: calling again with the same id
    resumes stage 1 from the manifest, a new id rebuilds every table from
    ``pages``."""
    manifest = Manifest(spark, f"{out_dir}/manifest", run_id)
    clock = StageClock()
    rows: dict[str, int] = {}

    run_stage_with_resume(
        manifest, "extract", pages, _stage1,
        f"{out_dir}/stage1", key_col="url", n_units=n_units,
    )
    stage1 = spark.read.parquet(f"{out_dir}/stage1")
    rows["extract"] = stage1.count()
    clock.mark("extract")

    # project the wide stage-1 output into the public tables (cheap scans)
    stage1.select("url", "warc_ts", "lang", "text") \
        .write.mode("overwrite").parquet(f"{out_dir}/pages_text")
    explode_mentions(stage1).write.mode("overwrite").partitionBy("kind") \
        .parquet(f"{out_dir}/mentions")
    raw = (
        stage1.select("url", F.explode("triples").alias("t"))
        .select("url", "t.subj", "t.pred", "t.obj", "t.confidence")
    )
    raw.write.mode("overwrite").parquet(f"{out_dir}/raw_triples")
    rows["project"] = spark.read.parquet(f"{out_dir}/raw_triples").count()
    clock.mark("project")

    # global stage: the build's canonicalize + dedup chain
    raw = norm_triples(spark.read.parquet(f"{out_dir}/raw_triples"))
    norms = raw.select(
        F.explode(F.array("subj_norm", "obj_norm")).alias("norm"))
    cmap = canonical_norm_map(norms, threshold=threshold).cache()
    distinct_edges(apply_canonical_map(raw, cmap)) \
        .write.mode("overwrite").partitionBy("pred") \
        .parquet(f"{out_dir}/edges")
    cmap.unpersist()
    rows["edges"] = spark.read.parquet(f"{out_dir}/edges").count()
    clock.mark("edges")

    spark.createDataFrame(
        [(run_id, st, rows[st], sec) for st, sec in clock.secs.items()],
        "run_id string, stage string, rows_out long, duration_sec double",
    ).write.mode("append").parquet(f"{out_dir}/metrics")

    return {st: {"rows": rows[st], "sec": sec}
            for st, sec in clock.secs.items()}
