"""Entity canonicalization: surface forms -> canonical entity ids.

The reference's canonicalization layer is pure string key rules
(``core/database/keys.py:15-87``); the Spark-native extension required at
web scale (the same real-world entity surfacing under many keys: 'HADES' /
'hades' / 'H.A.D.E.S.') is:

  1. normalize each surface (lower, strip non-alnum runs to single space),
  2. MinHash-LSH over character 3-grams of the squashed form -> candidate
     alias pairs (plus the exact-normalized-form pairs, which LSH finds
     trivially),
  3. exact-Jaccard verification at ``threshold``,
  4. connected components over the verified alias graph,
  5. canonical_id = min(normalized form) within each component.

Every step is a DataFrame op; the CC loop is the only iteration.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from .components import alternating_components
from .lsh import char_shingles, verified_pairs

_NON_ALNUM = re.compile(r"[^a-z0-9]+")


# A squash longer than this is never an entity-alias CANDIDATE: real
# mentions are short, and the over-length tail is extraction garbage
# (format-mismatched pages emit whole-document "mentions") whose multi-KB
# shingle sets swamp minhashing and the verify join for zero semantic
# value — measured: ~10k such norms stalled an 800k-page reingest for
# 40+ minutes in the LSH hash stage. Capped norms stay self-canonical,
# and squash-IDENTICAL giants still merge through the squash key itself
# (exact dedup needs no shingles). The cap is mirrored by the incremental
# state's bucket store and the staged oracle pipeline, so the
# rebuild == incremental invariant holds under it.
MAX_ALIAS_SQUASH_LEN = 256


def normalize_surface(s: str) -> str:
    """Pure-python twin of normalize_surface_col (for tests / oracles)."""
    return _NON_ALNUM.sub(" ", s.lower()).strip()


def normalize_surface_col(c) -> F.Column:
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def _distributed_norm_components(
    norms: DataFrame,
    threshold: float,
    num_hashes: int,
    bands: int,
    max_bucket_size: int,
    max_iter: int,
) -> DataFrame:
    """(norm, squash) -> (norm, canonical_id), distributed.

    LSH + verification + CC run over DISTINCT SQUASHES, not norms:
    squash-identical norms ('alpha beta' / 'alphabeta') have identical
    shingle sets (containment 1.0 at any threshold), so they cluster FOR
    FREE via the squash key itself — running them through LSH would put
    each group in the same bucket in EVERY band (J = 1.0), multiplying
    candidate-pair volume by bands for zero information. On a 200k-norm
    vocabulary this removes ~35% of LSH rows and the single largest
    source of duplicated pairs. canonical_id = min norm across the
    component (same contract as before: squash-level components are
    relabeled with the smallest member NORM)."""
    squashes = norms.select("squash").dropDuplicates(["squash"]) \
        .filter(F.length("squash") <= MAX_ALIAS_SQUASH_LEN)
    pairs = verified_pairs(
        squashes, "squash", char_shingles(F.col("squash"), 3),
        threshold=threshold, metric="containment",
        num_hashes=num_hashes, bands=bands,
        max_bucket_size=max_bucket_size,
    )
    # large-star/small-star: O(log^2 n) rounds regardless of alias-chain
    # diameter (min-label is O(diameter) and raises past max_iter)
    comp = alternating_components(pairs, "a", "b", max_iter=max(max_iter, 50))
    lab = (
        norms.join(comp, norms.squash == comp.node, "left")
        .select("norm",
                F.coalesce("component", F.col("squash")).alias("_comp"))
    )
    canon = lab.groupBy("_comp").agg(F.min("norm").alias("canonical_id"))
    return lab.join(canon, "_comp").select("norm", "canonical_id")


def canonical_norm_map(
    norms: DataFrame,
    norm_col: str = "norm",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 16,
    max_bucket_size: int = 150,
    max_iter: int = 15,
    local_threshold: int = 20_000,
) -> DataFrame:
    """normalized forms (``normalize_surface_col`` output) ->
    (norm, canonical_id), one row per distinct non-empty norm.

    canonical_id is the lexicographically-smallest norm in the norm's
    alias component; norms with no alias partner canonicalize to
    themselves.

    ``max_bucket_size=150`` (tighter than the generic LSH default): an
    alias pair always shares rare ENTITY-SPECIFIC grams and therefore
    co-occurs in a small bucket in some band; buckets past ~150 are
    boilerplate-gram collisions ('the/system/...' substrings) that only
    generate cross-entity candidate noise. Measured on a 154k-squash
    vocabulary: cap 500 -> 100 loses ZERO verified pairs and cuts ~27%
    of the stage wall (the verify join is the stage's dominant cost).

    Adaptive execution (same policy as connected_components): when the
    distinct vocabulary fits under ``local_threshold`` the alias graph is
    computed driver-side (exact shingle inverted index + verified
    containment + union-find — a candidate SUPERSET of the banded-LSH
    path, so never less complete); the distributed LSH + CC path runs
    above it. ``local_threshold=0`` forces distributed (tests do).
    """
    keyed = (
        norms.select(F.col(norm_col).alias("norm"))
        .dropDuplicates(["norm"])
        .withColumn("squash", F.regexp_replace("norm", " ", ""))
        .filter(F.length("squash") > 0)
        .localCheckpoint(eager=False)
    )
    if local_threshold > 0 and keyed.count() <= local_threshold:
        spark = norms.sparkSession
        mapping = _local_canonical(keyed.collect(), threshold, max_bucket_size)
        return _local_map_df(spark, mapping)

    return _distributed_norm_components(
        keyed, threshold, num_hashes, bands, max_bucket_size, max_iter)


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
