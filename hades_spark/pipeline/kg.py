"""End-to-end knowledge-graph construction pipeline.

pages(url, warc_ts, html, text, lang)
  -> raw surface triples (``raw_triples``: one narrow mapInArrow pass that
                          decodes, fills null text, emits exploded SVO rows)
  -> surface norms       (JVM-side ``normalize_surface_col``, cached)
  -> canonical_norm_map  (driver-side union-find on small vocabularies, else
                          LSH + connected components over distinct squashes,
                          the alias chain the incremental state also runs)
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

``run_kg_pipeline_staged`` runs the distributed chain with its inputs
staged to parquet: raw, the alias buckets and the (a, b, band, bh)
verified squash pairs, the incremental state's layout. So one DuckDB
twin, ``kg_edges_oracle_sql``, recomputes the tail of both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.keys import edge_content_key_col
from ..operators.canonicalize import ALIAS_LSH, normalize_surface_col
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


def apply_canonical_map(raw: DataFrame, cmap: DataFrame) -> DataFrame:
    """Raw normalized triples x (norm -> canonical_id) map -> canonical
    (subj, pred, obj) triples with content edge keys. THE single copy of
    the mapping block — shared by ``canonical_triples``, the staged
    oracle pipeline, incremental maintenance and the deploy path
    (``persist.materialize_kg``), so a semantics change lands everywhere
    at once. The map is broadcast: it holds one row per distinct norm,
    far fewer than the triples it is joined onto."""
    c = F.broadcast(cmap)
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
    return apply_canonical_map(raw, cmap)


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
    """run_kg_pipeline's distributed chain, staging its inputs to parquet
    so its DuckDB twin (``kg_edges_oracle_sql``) can recompute
    the ENTIRE tail after the extraction UDF from identical inputs. The
    stage dir has the incremental KG state's layout:

      <stage_dir>/raw/      (url, pred, confidence, subj_norm, obj_norm)
      <stage_dir>/buckets/  (squash, band, bh) alias LSH bucket rows
      <stage_dir>/pairs/    (a, b, band, bh) verified squash pairs

    The alias decision is ``canonical_norm_map``'s distributed branch:
    ``norm_vocab`` -> ``alias_buckets`` -> ``cap_and_self_join`` ->
    ``verified_alias_pairs`` -> ``alias_labels``. The Python-regex
    extraction itself stays covered by the fuzz/corpus equivalence tests
    (it cannot be expressed in SQL). The Spark side reads each staged
    table back, so oracle and query consume byte-identical inputs.
    """
    from ..functions.triples import raw_triples
    from ..operators.canonicalize import (alias_buckets, alias_labels,
                                          norm_vocab, verified_alias_pairs)
    from ..operators.lsh import cap_and_self_join

    if stage_dir is None:
        stage_dir = default_kg_stage_dir()

    def staged(df: DataFrame, table: str) -> DataFrame:
        df.write.mode("overwrite").parquet(f"{stage_dir}/{table}")
        return spark.read.parquet(f"{stage_dir}/{table}")

    pages = pages_df(spark, n_pages, seed=seed, with_text=False)
    raw = staged(norm_triples(raw_triples(pages)), "raw")
    vocab = norm_vocab(raw)
    buckets = staged(alias_buckets(vocab), "buckets")
    cand = cap_and_self_join(buckets.withColumnRenamed("squash", "_id"),
                             ALIAS_LSH["max_bucket_size"], keep_bucket=True)
    pairs = staged(verified_alias_pairs(cand, threshold), "pairs")
    return distinct_edges(apply_canonical_map(raw, alias_labels(vocab, pairs)))


def default_kg_stage_dir() -> str:
    import os

    root = os.environ.get("HADES_ORACLE_STAGE_ROOT", "/tmp")
    return f"{root}/hades_kg_oracle_stage"


def kg_edges_oracle_sql(stage_dir: str | None = None) -> str:
    """DuckDB twin of the squash-level edge tail, over a stage dir of
    ``run_kg_pipeline_staged`` or an incremental KG state dir (the same
    ``raw``/``buckets``/``pairs`` tables; a state partitions raw and
    buckets into ``batch=<id>`` dirs, hence the ``**`` globs).

    Pairs are provenance rows (a, b, band, bh) of squashes, filtered by
    LIVENESS: a pair counts only while >= 1 of its generating buckets
    still holds <= ``ALIAS_LSH["max_bucket_size"]`` (read at call time)
    distinct squashes in the bucket store. A recursive-CTE transitive
    closure then labels squash components with their min squash, every
    norm joins its squash's component (squash-identical norms merge with
    no pair at all), and the canonical id is the smallest NORM of the
    component; canonical join onto raw, sha256 edge keys, distinct-edge
    aggregation. This re-derives the cap and label semantics
    independently, so the hash checks verify the liveness + relabel
    machinery too."""
    if stage_dir is None:
        stage_dir = default_kg_stage_dir()
    bucket_cap = ALIAS_LSH["max_bucket_size"]
    return f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT p.a, p.b
  FROM read_parquet('{stage_dir}/pairs/*.parquet') p
  JOIN (
    SELECT band, bh
    FROM read_parquet('{stage_dir}/buckets/**/*.parquet')
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
