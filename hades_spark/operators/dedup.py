"""Deduplication family for large-scale training-data pipelines.

- exact:        hash-groupBy on normalized content, keep min id
- minhash LSH:  word-shingle MinHash -> banded LSH -> verified Jaccard ->
                connected components -> one survivor per near-dup cluster
- simhash:      64-bit simhash + banded hamming blocking
- n-gram jaccard: exact pairwise (LSH-pruned) word-3-gram similarity
- embedding:    cosine near-dup via operators/similarity.neardup_pairs

The reference's dedup machinery is key-level seen-sets
(``python_edge_resolver.py:143-181``, ``sync.py:496-543`` anti-join); the
content-level near-dup family is the web-scale extension the north rule's
training-data use case needs. Every variant is shuffle-bounded: grouping
keys are content hashes / LSH buckets, never raw text.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .components import alternating_components
from .lsh import token_shingles, verified_pairs


def normalized_text_col(c) -> F.Column:
    """Whitespace-collapsed lowercase form — the exact-dedup key basis."""
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the minimum id per exact (normalized) content group.

    groupBy on the sha2 of normalized text — map-side combinable, and the
    shuffle key is a 64-hex hash (uniform, skew-free) rather than the text.
    """
    keyed = df.withColumn(
        "_ck", F.sha2(normalized_text_col(F.col(text_col)), 256)
    )
    return (
        keyed.groupBy("_ck")
        .agg(F.min(id_col).alias(id_col),
             F.count("*").cast("bigint").alias("dup_count"))
        .drop("_ck")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_words: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 500,
) -> DataFrame:
    """(a, b, score) near-duplicate pairs by word-shingle Jaccard."""
    norm = df.select(
        F.col(id_col).alias("_id"),
        normalized_text_col(F.col(text_col)).alias("_norm"),
    )
    return verified_pairs(
        norm, "_id", token_shingles(F.col("_norm"), shingle_words),
        threshold=threshold, metric="jaccard",
        num_hashes=num_hashes, bands=bands, max_bucket_size=max_bucket_size,
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    **kw,
) -> DataFrame:
    """Survivor set: one representative (min id) per near-dup component,
    plus all rows that matched nothing."""
    pairs = minhash_dedup_pairs(df, id_col, text_col, threshold, **kw)
    # large-star/small-star: near-dup boilerplate chains can have large
    # diameter at web scale; alternation converges in O(log^2 n) rounds
    comp = alternating_components(pairs, "a", "b")
    ids = df.select(F.col(id_col).alias("node"))
    labelled = ids.join(comp, "node", "left").withColumn(
        "component", F.coalesce("component", "node")
    )
    survivors = labelled.groupBy("component").agg(F.min("node").alias(id_col))
    return df.join(
        survivors.select(id_col), id_col, "left_semi"
    )


def resolve_survivors(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    order_by: list,
    a_col: str = "a",
    b_col: str = "b",
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Near-dup cluster resolution: pairs -> connected components -> ONE
    survivor per cluster by an explicit quality policy.

    ``minhash_dedup`` keeps the min id — fine for tests, wrong for corpus
    building, where the survivor should be the BEST member (longest /
    highest quality score), not the lexicographic first. ``order_by`` is a
    list of Columns over ``df`` ranking cluster members best-first; ties
    MUST be broken by a unique column (append ``F.col(id_col)``) or the
    survivor is nondeterministic.

    Returns one row per cluster: (component, survivor <id_col>,
    cluster_size). Singletons (rows matching nothing) are their own
    clusters with component = own id, size 1 — the output is a full
    partition of the corpus.

    Scale shape: the pair set and therefore the component map are orders
    of magnitude smaller than the corpus (only near-dups appear), so the
    label join broadcasts; the survivor pick is one groupBy on component
    — max_by avoids a corpus-wide sort-window. Nothing touches text.
    """
    from pyspark.sql import Column

    from .components import alternating_components

    comp = alternating_components(pairs, a_col, b_col,
                                  local_threshold=local_threshold)
    labelled = (
        df.join(F.broadcast(comp.withColumnRenamed("node", id_col)),
                id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    rank_cols = [c if isinstance(c, Column) else F.col(c) for c in order_by]
    # max_by over a struct: struct comparison is lexicographic over fields,
    # so encode "best-first" by negating/inverting in the caller's exprs
    rank = F.struct(*[c.alias(f"_o{i}") for i, c in enumerate(rank_cols)])
    return labelled.groupBy("component").agg(
        F.max_by(F.col(id_col), rank).alias(id_col),
        F.count("*").cast("bigint").alias("cluster_size"),
    )


def simhash_udf(bits: int = 64):
    """64-bit simhash over whitespace tokens (deterministic blake2b token
    hashes, +/-1 bit votes, sign -> bit)."""
    import hashlib

    @F.pandas_udf("long")
    def _sim(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        weights = np.zeros(bits, dtype=np.int64)
        for s in batches:
            out = []
            for text in s.fillna(""):
                weights[:] = 0
                for tok in text.lower().split():
                    h = int.from_bytes(
                        hashlib.blake2b(tok.encode(), digest_size=8).digest(),
                        "big",
                    )
                    for b in range(bits):
                        weights[b] += 1 if (h >> b) & 1 else -1
                val = 0
                for b in range(bits):
                    if weights[b] > 0:
                        val |= 1 << b
                # to signed 64-bit
                if val >= 1 << 63:
                    val -= 1 << 64
                out.append(val)
            yield pd.Series(out, dtype="int64")

    return _sim


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """(a, b, hamming) candidate pairs with hamming(simhash) <= max_hamming.

    Blocking: split the 64-bit simhash into ``bands`` contiguous chunks; by
    pigeonhole, any pair within ``bands-1`` bit flips shares at least one
    chunk — so pairing only inside chunk-match buckets is lossless for
    max_hamming < bands. Exact hamming verification afterwards.
    """
    sim = simhash_udf()
    hashed = df.select(F.col(id_col).alias("_id"),
                       sim(F.col(text_col)).alias("_sh"))
    return simhash_pairs_from_hashes(hashed, "_id", "_sh",
                                     max_hamming=max_hamming, bands=bands)


def simhash_pairs_from_hashes(
    hashed: DataFrame,
    id_col: str = "_id",
    sh_col: str = "_sh",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Banded candidate generation + exact hamming verification over a
    precomputed (id, simhash) table — the blocking tail of
    ``simhash_pairs``, exposed so a staged hash table can be re-verified
    (lossless for max_hamming < bands, so output == brute-force pairs)."""
    if bands < 1 or 64 % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide 64: a remainder leaves high bits "
            f"covered by NO band, silently breaking the pigeonhole "
            f"losslessness guarantee")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) for "
            f"lossless banded blocking (pigeonhole)")
    hashed = hashed.select(F.col(id_col).alias("_id"),
                           F.col(sh_col).alias("_sh"))
    width = 64 // bands
    chunks = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("_sh"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("bh"),
        )
        for b in range(bands)
    ]
    bucketed = hashed.select(
        "_id", "_sh", F.explode(F.array(*chunks)).alias("bk")
    ).select("_id", "_sh", "bk.band", "bk.bh")

    a = bucketed.select("band", "bh", F.col("_id").alias("a"),
                        F.col("_sh").alias("sha"))
    b = bucketed.select("band", "bh", F.col("_id").alias("b"),
                        F.col("_sh").alias("shb"))
    hamming = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming.alias("hamming"))
        .dropDuplicates(["a", "b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def edit1_pairs(
    strings: DataFrame,
    str_col: str = "s",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """All unordered pairs of DISTINCT strings at Levenshtein distance
    exactly 1 — typo-variant matching (the SymSpell deletion-neighborhood
    device), without an all-pairs product.

    Exactness at distance 1: two distinct strings with one substitution
    share the deletion at that position; with one insertion/deletion, the
    shorter IS a deletion variant of the longer. So blocking each string
    on {itself} ∪ {its length-1 deletions} and self-joining on the block
    key finds every candidate; a JVM ``levenshtein(a, b) == 1`` probe
    discards the false positives (two different substitutions sharing a
    deletion). Dedup to ``a < b`` canonical pairs.

    Shuffle shape: variant fan-out is len(s)+1 rows per string (bounded
    by the alias-length cap upstream); the self-join keys on the variant
    string — ``max_bucket_size`` drops degenerate hot blocks (e.g. the
    deletions of very common short tokens) before they square, the same
    guard as the LSH bucket cap, and dropped blocks are a documented
    recall trade at distance-1 on pathological vocabularies.
    """
    s = strings.select(F.col(str_col).alias("_s")).where(
        F.col("_s").isNotNull() & (F.col("_s") != "")).distinct()
    # block keys: the string itself + every single-char deletion
    variants = s.select(
        "_s",
        F.explode(F.array_union(
            F.array(F.col("_s")),
            F.transform(
                F.sequence(F.lit(1), F.length("_s")),
                lambda i: F.concat(
                    F.substring(F.col("_s"), F.lit(1), i - 1),
                    F.col("_s").substr(i + 1, F.length("_s")))),
        )).alias("_v"))
    # count first, THEN join members back: a degenerate hot block is
    # dropped by its count alone and never materializes as one
    # collect_list buffer in a single reduce task
    blocks = (
        variants.groupBy("_v").agg(F.count("*").alias("_n"))
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size))
        .select("_v")
    )
    capped = variants.join(blocks, "_v").select("_s", "_v")
    a = capped.select(F.col("_s").alias("a"), "_v")
    b = capped.select(F.col("_s").alias("b"), "_v")
    return (
        a.join(b, "_v")
        .where(F.col("a") < F.col("b"))
        .where(F.levenshtein("a", "b") == 1)
        .select("a", "b").distinct()
    )


def jaccard_join_exact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join at ``threshold`` — the
    prefix-filtering All-Pairs/PPJoin scheme (Bayardo et al. 2007),
    complementing the approximate MinHash path with a no-false-negatives
    guarantee at a stated threshold.

    Exactness: with every doc's distinct-token set sorted by one GLOBAL
    order (document frequency asc, token asc — rarest first), the first
    token two qualifying sets share sits inside both sets' prefixes of
    length ``|s| - ceil(t*|s|) + 1``: J >= t forces ``|intersect| >=
    ceil(t*|s|)`` per side, and all shared tokens sort at or after that
    first one. So a self-join on exploded PREFIX tokens finds every
    qualifying pair; a length-ratio prune (``t*|a| <= |b|``) and an
    exact ``array_intersect`` Jaccard verify finish it.

    Shuffle shape: global token frequencies are one combinable groupBy;
    per-doc sorted sets one more; the candidate self-join keys on
    PREFIX tokens, which are the rarest tokens by construction — the
    frequency order IS the skew guard (a stopword shared by every doc
    sorts last and never enters a prefix at sane thresholds). Verify
    joins candidates back to the bounded doc->set map. Returns
    ``(a, b, jaccard)`` with ``a < b``.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    kid = F.col(id_col)
    toks = (
        docs.select(kid.alias("_id"),
                    F.explode(F.array_distinct(F.filter(
                        F.split(F.lower(F.coalesce(F.col(text_col),
                                                   F.lit(""))), r"\s+"),
                        lambda t: t != ""))).alias("_t"))
    )
    freq = toks.groupBy("_t").agg(F.count("*").alias("_df"))
    ordered = (
        toks.join(freq, "_t")
        .groupBy("_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("_df"), F.col("_t")))),
            lambda s: s["_t"]).alias("_set"))
        .withColumn("_n", F.size("_set"))
        .where(F.col("_n") > 0)
    )
    prefix_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    prefixes = ordered.select(
        "_id", "_n",
        F.explode(F.slice("_set", F.lit(1), prefix_len)).alias("_t"))

    a = prefixes.select(F.col("_id").alias("a"), F.col("_n").alias("_na"),
                        "_t")
    b = prefixes.select(F.col("_id").alias("b"), F.col("_n").alias("_nb"),
                        "_t")
    cand = (
        a.join(b, "_t")
        .where(F.col("a") < F.col("b"))
        # length prune: J >= t forces t*max(|a|,|b|) <= min(|a|,|b|)
        .where(F.least("_na", "_nb")
               >= F.ceil(F.lit(threshold) * F.greatest("_na", "_nb")))
        .select("a", "b").distinct()
    )
    sa = ordered.select(F.col("_id").alias("a"), F.col("_set").alias("_sa"))
    sb = ordered.select(F.col("_id").alias("b"), F.col("_set").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    return (
        cand.join(sa, "a").join(sb, "b")
        .withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
