"""Entity canonicalization: surface forms -> canonical entity ids.

The reference's canonicalization layer is pure string key rules
(``core/database/keys.py:15-87``); the Spark-native extension required at
web scale (the same real-world entity surfacing under many keys: 'HADES' /
'hades' / 'H.A.D.E.S.') is:

  1. normalize each surface (lower, strip non-alnum runs to single space),
  2. MinHash-LSH over character 3-grams of the SQUASH (the norm with its
     spaces removed) -> candidate alias pairs of squashes,
  3. exact containment verification at ``threshold``,
  4. connected components over the verified squash pairs,
  5. canonical_id = min(normalized form) within each component.

Steps 2-5 are the alias decision, and this module owns it: ``ALIAS_LSH``
plus the four functions ``norm_vocab`` -> ``alias_buckets`` ->
(``lsh.cap_and_self_join``) -> ``verified_alias_pairs`` ->
``alias_labels``. The build's distributed path, the incremental KG
state (``pipeline/incremental_kg.py``: init, update, delete) and the
staged oracle pipeline (``kg.run_kg_pipeline_staged``) call the same
functions, which is what keeps a maintained state equal to a rebuild. Every step is a DataFrame op; the CC loop is the only iteration.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

from .components import alternating_components
from .lsh import (cap_and_self_join, char_shingles, lsh_buckets,
                  pair_scores)

_NON_ALNUM = re.compile(r"[^a-z0-9]+")


# A squash longer than this is never an entity-alias CANDIDATE: real
# mentions are short, and the over-length tail is extraction garbage
# (format-mismatched pages emit whole-document "mentions") whose multi-KB
# shingle sets swamp minhashing and the verify join for zero semantic
# value — measured: ~10k such norms stalled an 800k-page reingest for
# 40+ minutes in the LSH hash stage. Capped norms stay self-canonical,
# and squash-IDENTICAL giants still merge through the squash key itself
# (exact dedup needs no shingles). ``alias_buckets`` applies the cap, so
# the build and the incremental state's bucket store share it.
MAX_ALIAS_SQUASH_LEN = 256

#: The LSH config of the alias decision. ``bands == num_hashes`` (one
#: signature row per band) so low-Jaccard containment pairs ('spark' in
#: 'apachespark') still surface as candidates. ``max_bucket_size`` caps
#: buckets before pairing: an alias pair always shares rare
#: ENTITY-SPECIFIC grams and therefore co-occurs in a small bucket in
#: some band; buckets past ~150 are boilerplate-gram collisions that
#: only generate cross-entity candidate noise (measured on a 154k-squash
#: vocabulary: cap 500 -> 100 loses ZERO verified pairs and cuts ~27% of
#: the stage wall). A dict, read at call time, so that patching one key
#: reaches every caller.
ALIAS_LSH = dict(num_hashes=16, bands=16, max_bucket_size=150)


def normalize_surface(s: str) -> str:
    """Pure-python twin of normalize_surface_col (for tests / oracles)."""
    return _NON_ALNUM.sub(" ", s.lower()).strip()


def normalize_surface_col(c) -> F.Column:
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def norm_vocab(rows: DataFrame) -> DataFrame:
    """-> (norm, squash), one row per distinct norm whose squash is
    non-empty. ``rows`` holds a ``norm`` column, or is normalized triple
    rows (``kg.norm_triples``), whose subj_norm and obj_norm are both
    taken."""
    norm = F.col("norm") if "norm" in rows.columns \
        else F.explode(F.array("subj_norm", "obj_norm"))
    return (
        rows.select(norm.alias("norm"))
        .dropDuplicates(["norm"])
        .withColumn("squash", F.regexp_replace("norm", " ", ""))
        .filter(F.length("squash") > 0)
    )


def alias_buckets(vocab: DataFrame) -> DataFrame:
    """(…, squash) -> (squash, band, bh) minhash-LSH bucket rows under
    ``ALIAS_LSH``. The minhash groupBy collapses repeated squashes, so
    there is one row per (squash, band) and bucket populations count
    DISTINCT squashes. Rows are a pure function of the squash, so rows
    stored earlier (the incremental state's bucket store) and fresh ones
    are interchangeable. Over-long squashes (``MAX_ALIAS_SQUASH_LEN``)
    get no rows: they never pair and never count against a cap."""
    squashes = vocab.select("squash") \
        .filter(F.length("squash") <= MAX_ALIAS_SQUASH_LEN)
    return lsh_buckets(
        squashes, "squash", char_shingles(F.col("squash"), 3),
        num_hashes=ALIAS_LSH["num_hashes"], bands=ALIAS_LSH["bands"],
    ).select(F.col("_id").alias("squash"), "band", "bh")


def verified_alias_pairs(cand: DataFrame, threshold: float) -> DataFrame:
    """Candidate squash pairs (a, b, band, bh) -> the ones whose 3-gram
    containment reaches ``threshold``, keeping their generating bucket
    (so a bucket store can re-evaluate the cap as buckets change),
    materialized. Only the squashes of a candidate are shingled, from
    the squash string itself; ``pair_scores`` hashes them once."""
    keyed = (
        cand.select(F.explode(F.array("a", "b")).alias("squash"))
        .dropDuplicates(["squash"])
        .select(F.col("squash").alias("_id"),
                char_shingles(F.col("squash"), 3).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    return pair_scores(cand, keyed, threshold, "containment",
                       keep_cols=("band", "bh")) \
        .select("a", "b", "band", "bh").localCheckpoint(eager=True)


def alias_labels(vocab: DataFrame, pairs: DataFrame) -> DataFrame:
    """(norm, squash) x squash pairs -> (norm, canonical_id). Components
    run over squashes, so squash-identical norms ('alpha beta' /
    'alphabeta') share one through the squash key even with no pair at
    all; the canonical id is the lexicographically-smallest NORM of the
    component. ``pairs`` may be provenance rows (a, b, band, bh), one per
    generating bucket; components consume the distinct pair set."""
    comp = alternating_components(
        pairs.select("a", "b").dropDuplicates(["a", "b"]), "a", "b")
    base = vocab.select("norm", "squash")
    comp_of = F.coalesce("component", F.col("squash"))
    return (
        base.join(comp, base.squash == comp.node, "left")
        .select("norm", F.min("norm").over(Window.partitionBy(comp_of))
                .alias("canonical_id"))
    )


def canonical_norm_map(
    norms: DataFrame,
    threshold: float = 0.8,
    local_threshold: int = 20_000,
) -> DataFrame:
    """normalized forms (a ``norm`` column of ``normalize_surface_col``
    output) -> (norm, canonical_id), one row per distinct non-empty norm.

    canonical_id is the lexicographically-smallest norm in the norm's
    alias component; norms with no alias partner canonicalize to
    themselves.

    Adaptive execution (the policy of ``alternating_components``): when the
    distinct vocabulary fits under ``local_threshold`` the alias graph is
    computed driver-side (exact shingle inverted index + verified
    containment + union-find — a candidate SUPERSET of the banded-LSH
    path, so never less complete); above it the distributed chain runs
    (``alias_buckets`` -> ``cap_and_self_join`` ->
    ``verified_alias_pairs`` -> ``alias_labels``). ``local_threshold=0``
    forces distributed (tests do).
    """
    vocab = norm_vocab(norms).localCheckpoint(eager=False)
    cap = ALIAS_LSH["max_bucket_size"]
    if local_threshold > 0 and vocab.count() <= local_threshold:
        mapping = _local_canonical(vocab.collect(), threshold, cap)
        return _local_map_df(norms.sparkSession, mapping)
    cand = cap_and_self_join(
        alias_buckets(vocab).withColumnRenamed("squash", "_id"), cap,
        keep_bucket=True)
    return alias_labels(vocab, verified_alias_pairs(cand, threshold))


def _local_map_df(spark, mapping: dict[str, str]) -> DataFrame:
    """Driver mapping dict -> single-partition Arrow-backed DataFrame.

    NOT ``createDataFrame(list_of_tuples)``: that route parallelizes the
    rows as a pickled Python RDD over ``defaultParallelism`` partitions,
    so every downstream scan — including each BroadcastExchange build in
    ``apply_canonical_map`` (one per join key) — blocks on a python
    worker per partition just to deserialize a handful of rows (measured
    3.2s per broadcast build, twice, on the cold bench path). The pandas
    route ships one Arrow batch to the JVM at creation; scans are then
    pure JVM with no python boundary at all."""
    from ..functions.localdf import arrow_local_df

    return arrow_local_df(spark, list(mapping.items()),
                          "norm string, canonical_id string")


def _local_canonical(norm_rows, threshold: float,
                     max_bucket_size: int) -> dict[str, str]:
    """Driver-side alias clustering over (norm, squash) rows: shingle
    inverted index -> candidate pairs -> exact containment -> union-find.
    Same contract as the distributed path; candidates are a superset of
    banded LSH's."""
    shingles = {
        r["norm"]: {r["squash"][i: i + 3]
                    for i in range(max(len(r["squash"]) - 2, 1))}
        for r in norm_rows
        if len(r["squash"]) <= MAX_ALIAS_SQUASH_LEN
    }
    index: dict[str, list[str]] = {}
    for norm, sh in shingles.items():
        for g in sh:
            index.setdefault(g, []).append(norm)

    parent: dict[str, str] = {n: n for n in shingles}
    # over-cap norms never enter the shingle index, but squash-IDENTICAL
    # norms must still merge (the distributed path gets this for free via
    # the squash component key) — union them here by exact squash
    by_squash: dict[str, str] = {}
    for r in norm_rows:
        if len(r["squash"]) <= MAX_ALIAS_SQUASH_LEN:
            continue
        parent.setdefault(r["norm"], r["norm"])
        first = by_squash.setdefault(r["squash"], r["norm"])
        if first != r["norm"]:
            lo, hi = sorted((first, r["norm"]))
            parent[hi] = lo

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen: set[tuple[str, str]] = set()
    for bucket in index.values():
        if len(bucket) > max_bucket_size:
            continue  # boilerplate shingle — skip, like the LSH bucket cap
        for i in range(len(bucket)):
            for j in range(i + 1, len(bucket)):
                a, b = bucket[i], bucket[j]
                key = (a, b) if a < b else (b, a)
                if key in seen:
                    continue
                seen.add(key)
                sa, sb = shingles[a], shingles[b]
                inter = len(sa & sb)
                if inter / min(len(sa), len(sb)) >= threshold:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        lo, hi = (ra, rb) if ra < rb else (rb, ra)
                        parent[hi] = lo

    return {n: find(n) for n in parent}
