"""End-to-end knowledge-graph construction pipeline.

pages(url, warc_ts, html, text, lang)
  -> raw surface triples (``raw_triples``: one narrow mapInArrow pass that
                          decodes, fills null text, emits exploded SVO rows)
  -> surface norms       (JVM-side ``normalize_surface_col``, cached)
  -> canonical_norm_map  (driver-side union-find on small vocabularies, else
                          LSH + connected components over distinct norms)
  -> triples             (``apply_canonical_map``: canonical subj/obj, sha256
                          edge key; ``distinct_edges``; write by pred)

This is the Spark restatement of the reference's
``hades db graph materialize`` lifecycle (SURVEY §3.3): the declarative
edge-def loop becomes explode + semi-join + key-hash + idempotent write.

Scale shape: the only shuffles are (1) the distinct-norm aggregation
(tiny relative to pages — surfaces dedup hard), (2) the LSH/CC stages over
those distinct norms, (3) the broadcast-join of the canonical map back
onto triples (map-side, no shuffle of the big side), and (4) the final
per-pred dedup. Everything page-sized stays narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.keys import edge_content_key_col
from ..operators.canonicalize import normalize_surface_col
from .corpus import pages_df


def norm_triples(raw: DataFrame) -> DataFrame:
    """Surface triples (url, subj, pred, obj, confidence) -> the normalized
    rows every path canonicalizes: (url, pred, confidence, subj_norm,
    obj_norm). THE single copy of the projection — shared by the build,
    the staged oracle pipeline, incremental maintenance and the deploy
    path (``persist.materialize_kg``)."""
    return raw.select(
        "url", "pred", "confidence",
        normalize_surface_col(F.col("subj")).alias("subj_norm"),
        normalize_surface_col(F.col("obj")).alias("obj_norm"),
    )


def apply_canonical_map(raw: DataFrame, cmap: DataFrame,
                        broadcast_map: bool = True) -> DataFrame:
    """Raw normalized triples x (norm -> canonical_id) map -> canonical
    (subj, pred, obj) triples with content edge keys. THE single copy of
    the mapping block — shared by ``canonical_triples``, the staged
    oracle pipeline, incremental maintenance and the deploy path
    (``persist.materialize_kg``), so a semantics change lands everywhere
    at once."""
    c = F.broadcast(cmap) if broadcast_map else cmap
    subj_map = c.select(F.col("norm").alias("subj_norm"),
                        F.col("canonical_id").alias("subj_id"))
    obj_map = c.select(F.col("norm").alias("obj_norm"),
                       F.col("canonical_id").alias("obj_id"))
    return (
        raw.join(subj_map, "subj_norm", "left")
        .join(obj_map, "obj_norm", "left")
        .select(
            F.coalesce("subj_id", "subj_norm").alias("subj"),
            "pred",
            F.coalesce("obj_id", "obj_norm").alias("obj"),
            "url",
            F.col("confidence"),
        )
        .withColumn("edge_key", edge_content_key_col(
            F.col("subj"), F.col("obj"), F.col("pred")))
        .withColumn("chain_position", F.lit(None).cast("int"))
        .select("subj", "pred", "obj", "url", "edge_key",
                "confidence", "chain_position")
    )


def canonical_triples(
    pages: DataFrame,
    threshold: float = 0.8,
    broadcast_map: bool = True,
    caches: list | None = None,
    local_threshold: int = 20_000,
) -> DataFrame:
    """pages -> canonical (subj, pred, obj) triples with provenance.

    Two intermediates are cached (the exploded raw triples — so the
    extraction UDF runs once — and the canonical map). Pass a ``caches``
    list to receive them for ``unpersist()`` after your terminal action;
    long-lived sessions that call this repeatedly without cleanup
    accumulate storage until eviction."""
    from ..functions.triples import raw_triples
    from ..operators.canonicalize import canonical_norm_map

    # one narrow mapInArrow pass (decode + extract + emit exploded triple
    # rows), then JVM-side surface normalization; cached once
    raw = norm_triples(raw_triples(pages)).cache()
    if caches is not None:
        caches.append(raw)

    # single explode pass for the vocabulary, NOT union(select, select): a
    # union scans the raw cache twice, and on the first (cold) pass that
    # would re-run the extraction UDF once per branch
    norms = raw.select(
        F.explode(F.array("subj_norm", "obj_norm")).alias("norm"))
    cmap = canonical_norm_map(norms, threshold=threshold,
                              local_threshold=local_threshold).cache()
    if caches is not None:
        caches.append(cmap)
    return apply_canonical_map(raw, cmap, broadcast_map=broadcast_map)


def distinct_edges(triples: DataFrame) -> DataFrame:
    """Idempotent edge set: one row per edge_key, max confidence, min url
    as provenance representative (deterministic)."""
    return (
        triples.groupBy("subj", "pred", "obj", "edge_key")
        .agg(
            F.max("confidence").alias("confidence"),
            F.min("url").alias("url"),
            F.count("*").alias("support"),
        )
    )


def run_kg_pipeline(spark, n_pages: int = 200, seed: int = 42,
                    partitions: int | None = None) -> DataFrame:
    """Synthesize a corpus and run the full pipeline; returns canonical
    distinct edges."""
    pages = pages_df(spark, n_pages, seed=seed, partitions=partitions,
                     with_text=False)
    return distinct_edges(canonical_triples(pages))


def run_kg_pipeline_staged(spark, n_pages: int = 150, seed: int = 42,
                           stage_dir: str | None = None,
                           threshold: float = 0.8) -> DataFrame:
    """run_kg_pipeline, but staging the two post-UDF intermediates to
    parquet so the driver's DuckDB oracle can recompute the ENTIRE
    distributed tail (connected components via recursive CTE, canonical
    join, edge aggregation + sha256 keys) from identical inputs:

      <stage_dir>/raw/    (url, pred, confidence, subj_norm, obj_norm)
      <stage_dir>/pairs/  (a, b) verified alias pairs

    The Python-regex extraction itself stays covered by the fuzz/corpus
    equivalence tests (it cannot be expressed in SQL); everything AFTER the
    UDF boundary is hash-verified. The Spark side reads the staged files
    back, so oracle and query aggregate byte-identical inputs.
    """
    from ..functions.triples import raw_triples
    from ..operators.components import alternating_components
    from ..operators.lsh import char_shingles, verified_pairs

    if stage_dir is None:
        stage_dir = default_kg_stage_dir()
    pages = pages_df(spark, n_pages, seed=seed, with_text=False)
    raw = norm_triples(raw_triples(pages))
    raw.write.mode("overwrite").parquet(f"{stage_dir}/raw")
    raw = spark.read.parquet(f"{stage_dir}/raw")

    keyed = (
        raw.select(F.explode(F.array("subj_norm", "obj_norm")).alias("norm"))
        .dropDuplicates(["norm"])
        .withColumn("squash", F.regexp_replace("norm", " ", ""))
        .filter(F.length("squash") > 0)
    )
    from ..operators.canonicalize import MAX_ALIAS_SQUASH_LEN

    pairs = verified_pairs(
        keyed.filter(F.length("squash") <= MAX_ALIAS_SQUASH_LEN),
        "norm", char_shingles(F.col("squash"), 3),
        threshold=threshold, metric="containment",
        num_hashes=16, bands=16, max_bucket_size=150,
    ).select("a", "b")
    pairs.write.mode("overwrite").parquet(f"{stage_dir}/pairs")
    pairs = spark.read.parquet(f"{stage_dir}/pairs")

    comp = alternating_components(pairs, "a", "b")
    cmap = comp.select(F.col("node").alias("norm"),
                       F.col("component").alias("canonical_id"))
    return distinct_edges(apply_canonical_map(raw, cmap))


def default_kg_stage_dir() -> str:
    import os

    root = os.environ.get("HADES_ORACLE_STAGE_ROOT", "/tmp")
    return f"{root}/hades_kg_oracle_stage"


def kg_edges_oracle_sql(stage_dir: str | None = None,
                        bucket_cap: int | None = None) -> str:
    """DuckDB twin of run_kg_pipeline_staged's distributed tail: recursive-
    CTE transitive closure -> min-label components over the staged verified
    pairs, canonical join onto the staged raw triples, sha256 edge keys and
    the distinct-edge aggregation.

    ``bucket_cap`` switches to the incremental-KG state shape, which is
    SQUASH-level (see incremental_kg.py): pairs are provenance rows
    (a, b, band, bh) of squashes, filtered by LIVENESS — a pair counts
    only while >= 1 of its generating buckets still holds <= cap distinct
    squashes in the state's bucket store — then components run over
    squashes, every norm joins its squash's component (squash-identical
    norms merge with no pair at all), and the canonical id is the
    smallest NORM of the component. This re-derives both the rebuild's
    cap semantics and its label semantics independently, so the i2 hash
    check verifies the liveness + relabel machinery too."""
    if stage_dir is None:
        stage_dir = default_kg_stage_dir()
    if bucket_cap is not None:
        return f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT p.a, p.b
  FROM read_parquet('{stage_dir}/pairs/*.parquet') p
  JOIN (
    SELECT band, bh
    FROM read_parquet('{stage_dir}/buckets/*/*.parquet')
    GROUP BY band, bh HAVING count(*) <= {bucket_cap}
  ) lv USING (band, bh)
),
edges AS (
  SELECT a AS s, b AS d FROM pairs
  UNION
  SELECT b AS s, a AS d FROM pairs
),
walk AS (
  SELECT s AS node, d AS reach FROM edges
  UNION
  SELECT w.node, e.d FROM walk w JOIN edges e ON e.s = w.reach
),
comp AS (
  SELECT node, least(node, min(reach)) AS component FROM walk GROUP BY node
),
raw AS (
  SELECT url, pred, confidence, subj_norm, obj_norm
  FROM read_parquet('{stage_dir}/raw/**/*.parquet')
),
norms AS (
  SELECT DISTINCT norm FROM (
    SELECT subj_norm AS norm FROM raw
    UNION
    SELECT obj_norm AS norm FROM raw
  ) WHERE norm <> ''
),
lab AS (
  SELECT n.norm,
         coalesce(c.component, replace(n.norm, ' ', '')) AS _comp
  FROM norms n
  LEFT JOIN comp c ON c.node = replace(n.norm, ' ', '')
),
canon AS (
  SELECT _comp, min(norm) AS canonical_id FROM lab GROUP BY _comp
),
cmap AS (
  SELECT lab.norm, canon.canonical_id FROM lab JOIN canon USING (_comp)
),
triples AS (
  SELECT coalesce(cs.canonical_id, r.subj_norm) AS subj,
         r.pred,
         coalesce(co.canonical_id, r.obj_norm) AS obj,
         r.url, r.confidence
  FROM raw r
  LEFT JOIN cmap cs ON cs.norm = r.subj_norm
  LEFT JOIN cmap co ON co.norm = r.obj_norm
)
SELECT subj, pred, obj,
       sha256(subj || '|' || obj || '|' || pred) AS edge_key,
       max(confidence) AS confidence,
       min(url) AS url,
       CAST(count(*) AS BIGINT) AS support
FROM triples
GROUP BY 1, 2, 3, 4
"""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT a, b FROM read_parquet('{stage_dir}/pairs/*.parquet')
),
edges AS (
  SELECT a AS s, b AS d FROM pairs
  UNION
  SELECT b AS s, a AS d FROM pairs
),
walk AS (
  SELECT s AS node, d AS reach FROM edges
  UNION
  SELECT w.node, e.d FROM walk w JOIN edges e ON e.s = w.reach
),
comp AS (
  SELECT node, least(node, min(reach)) AS component FROM walk GROUP BY node
),
raw AS (
  SELECT url, pred, confidence, subj_norm, obj_norm
  FROM read_parquet('{stage_dir}/raw/**/*.parquet')
),
triples AS (
  SELECT coalesce(cs.component, r.subj_norm) AS subj,
         r.pred,
         coalesce(co.component, r.obj_norm) AS obj,
         r.url, r.confidence
  FROM raw r
  LEFT JOIN comp cs ON cs.node = r.subj_norm
  LEFT JOIN comp co ON co.node = r.obj_norm
)
SELECT subj, pred, obj,
       sha256(subj || '|' || obj || '|' || pred) AS edge_key,
       max(confidence) AS confidence,
       min(url) AS url,
       CAST(count(*) AS BIGINT) AS support
FROM triples
GROUP BY 1, 2, 3, 4
"""
