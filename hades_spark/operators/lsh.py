"""MinHash + banded LSH candidate-pair generation — entirely JVM-side.

The scale path for near-duplicate detection and entity canonicalization:
instead of the O(n^2) similarity join, each row is shingled, min-hashed with
``num_hashes`` independent hash functions, the signature is split into
``bands``, and only rows sharing a (band, band-hash) bucket are paired.
Candidate pairs are then verified with exact Jaccard over the shingle sets.

Everything is built-in ``pyspark.sql.functions`` (xxhash64, explode,
array_intersect, ...) so the whole thing stays inside whole-stage codegen;
the only shuffles are the signature groupBy, the bucket self-join and the
cross-band pair dedup, all on well-distributed hash keys; the exact
verification tail broadcasts the shingled vocabulary while its estimated
byte size is small and degrades to a shuffle join past the threshold. Giant
buckets (boilerplate shingles / stop surfaces) are capped with
``max_bucket_size`` to bound the pair explosion — the skew guard the
north rule asks for.
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window, functions as F


def char_shingles(col, n: int = 3):
    """Distinct character n-grams of a (already normalized) string column."""
    # sequence of start offsets -> transform to substrings -> distinct
    return F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.length(col) - F.lit(n - 1), F.lit(1)),
            ),
            lambda i: F.substring(col, i, F.lit(n)),
        )
    )


def token_shingles(col, n: int = 3):
    """Distinct word n-grams (space-tokenized) of a string column."""
    toks = F.filter(F.split(col, r"\s+"), lambda t: t != "")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def minhash_signature(shingled: DataFrame, id_col: str,
                      shingle_col: str = "shingles",
                      num_hashes: int = 32) -> DataFrame:
    """(id, shingles: array<string>) -> (id, sig: array<long> of length k).

    One explode + one groupBy; the k min-hashes are computed as k min()
    aggregates of seeded xxhash64 values (seed folded in via concat).
    """
    exploded = shingled.select(id_col, F.explode(shingle_col).alias("sh"))
    aggs = [
        F.min(F.xxhash64(F.concat(F.lit(f"s{i}|"), F.col("sh")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = exploded.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_buckets(
    df: DataFrame,
    id_col: str,
    shingle_expr,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """-> (_id, band, bh): one row per (row, band) with the banded minhash
    bucket key. The shared core of ``lsh_candidate_pairs`` — also used
    standalone for bucket-size diagnostics (skew evidence at scale)."""
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}); "
            f"otherwise bands silently hash zero/partial signature rows")
    rows_per_band = num_hashes // bands
    expr = F.col(shingle_expr) if isinstance(shingle_expr, str) \
        else shingle_expr
    shingled = df.select(F.col(id_col).alias("_id"),
                         expr.alias("shingles"))
    shingled = shingled.filter(F.size("shingles") > 0)
    sig = minhash_signature(shingled, "_id", num_hashes=num_hashes)

    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.concat_ws(
                ",", *[F.col("sig")[b * rows_per_band + r].cast("string")
                       for r in range(rows_per_band)]
            )).alias("bh"),
        )
        for b in range(bands)
    ]
    return sig.select("_id", F.explode(F.array(*band_cols)).alias("bk")) \
              .select("_id", "bk.band", "bk.bh")


def lsh_bucket_size_stats(
    df: DataFrame,
    id_col: str,
    shingle_expr,
    num_hashes: int = 32,
    bands: int = 8,
    cap: int = 200,
) -> dict:
    """Bucket-size distribution of the banded LSH blocking — the skew
    diagnostic the scale bench reports: how many buckets exist, their
    p50/p95/p99/max sizes, and how many rows/buckets the ``cap`` guard
    drops (each size-n bucket costs n^2 candidate pairs)."""
    sizes = lsh_buckets(df, id_col, shingle_expr,
                        num_hashes=num_hashes, bands=bands) \
        .groupBy("band", "bh").count()
    # one materialization for the two actions below (quantiles + agg) —
    # otherwise the full shingle+minhash+explode chain runs twice
    sizes = sizes.select(F.col("count").cast("double").alias("n")) \
                 .localCheckpoint(eager=False)
    qs = sizes.approxQuantile("n", [0.5, 0.95, 0.99], 0.001)
    if not qs:  # empty frame: approxQuantile returns [], not NaNs
        return {"buckets": 0, "p50": 0.0, "p95": 0.0, "p99": 0.0,
                "max": 0, "cap": cap, "capped_buckets": 0,
                "capped_rows": 0}
    p50, p95, p99 = qs
    agg = sizes.agg(
        F.count("*").alias("buckets"),
        F.max("n").alias("max"),
        F.sum(F.when(F.col("n") > cap, F.lit(1)).otherwise(F.lit(0)))
         .alias("capped_buckets"),
        F.sum(F.when(F.col("n") > cap, F.col("n")).otherwise(F.lit(0)))
         .alias("capped_rows"),
    ).collect()[0]
    return {
        "buckets": int(agg["buckets"]),
        "p50": p50, "p95": p95, "p99": p99,
        "max": int(agg["max"]),
        "cap": cap,
        "capped_buckets": int(agg["capped_buckets"]),
        "capped_rows": int(agg["capped_rows"]),
    }


def cap_and_self_join(buckets: DataFrame,
                      max_bucket_size: int,
                      distinct: bool = True,
                      keep_bucket: bool = False) -> DataFrame:
    """(_id, band, bh) bucket rows -> (a, b) candidate pairs, a < b: cap
    pathological buckets (boilerplate) BEFORE the self-join, pair within
    surviving buckets, dedup. THE single copy of the cap + pairing
    semantics: ``lsh_candidate_pairs``, the touch-pruned generator
    ``touching_pairs_from_buckets`` and the alias decision
    (``canonicalize.canonical_norm_map``'s distributed path and the
    incremental KG state's init and delete) all call it — the
    incremental == rebuild invariant depends on one owner.

    ``distinct=False`` skips the final (a, b) dedup — an EXCHANGE of the
    full multi-10M-row candidate frame. Callers feeding the broadcast
    verification tail (``pair_scores(..., pairs_distinct=False)``) defer
    dedup past the score filter, where the frame is 100-1000x smaller
    (round-5 scaling decomposition: this exchange was the dominant
    non-scaling term of the `pairs` stage on shared-bandwidth hosts).

    ``keep_bucket=True`` emits (a, b, band, bh) — one row per GENERATING
    bucket, so callers can persist pair provenance (the incremental-KG
    store needs it to re-evaluate the bucket cap as buckets grow; see
    pipeline/incremental_kg.py). Those rows are unique by construction
    when the bucket rows are (one self-join row per pair per bucket), so
    no dedup runs and ``distinct`` does not apply."""
    # Deliberately a window count + streaming self-join, NOT a
    # collect_list + combinatorial array transform: the array shape was
    # measured 2x SLOWER on the 200k-page vocabulary (same-JVM A/B,
    # scripts/pairs_ab.py — materializing up to n(n-1)/2 structs per
    # bucket before explode is GC-heavy and the nested transform/slice
    # falls out of whole-stage codegen, while the join streams pairs).
    # The window and the join share the (band, bh) exchange, and the
    # verification tail downstream no longer shuffles the pair frame at
    # all while the vocabulary broadcasts (see pair_scores).
    counted = buckets.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "bh"))
    ).filter(F.col("bucket_n") <= max_bucket_size).drop("bucket_n")
    # materialize the capped bucket rows ONCE before the self-join: both
    # join sides consume `counted`, and without a checkpoint each side
    # recompiles and re-executes the ENTIRE upstream chain (shingle ->
    # minhash groupBy -> band explode -> window cap) — the compiled plan
    # showed the full chain duplicated under the join, one copy per side
    # (plans/r06/verified_pairs_before.txt). The checkpointed frame is
    # (n x bands) skinny rows; both sides then scan materialized blocks.
    counted = counted.localCheckpoint(eager=False)

    left = counted.select(F.col("band"), F.col("bh"), F.col("_id").alias("a"))
    right = counted.select(F.col("band"), F.col("bh"), F.col("_id").alias("b"))
    joined = left.join(right, ["band", "bh"]).filter(F.col("a") < F.col("b"))
    if keep_bucket:
        return joined.select("a", "b", "band", "bh")
    pairs = joined.select("a", "b")
    return pairs.dropDuplicates(["a", "b"]) if distinct else pairs


#: default broadcast ceiling for the hashed vocabulary in pair_scores.
#: The broadcast materializes once on the driver and once per executor;
#: 256 MiB keeps that envelope well inside a 4-8 GiB executor even with
#: the ~2x relation-build overhead of a BroadcastHashJoin hash map.
BROADCAST_THRESHOLD_BYTES = 256 << 20


def pair_scores(pairs: DataFrame, keyed: DataFrame, threshold: float,
                metric: str,
                broadcast_threshold_rows: int = 1_000_000,
                broadcast_threshold_bytes: int = BROADCAST_THRESHOLD_BYTES,
                broadcast: bool | None = None,
                pairs_distinct: bool = True,
                keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Exact set-metric verification tail: (a, b) pairs x (_id, sh)
    shingled frame -> (a, b, score >= threshold). One owner for the
    jaccard/containment semantics.

    Two scale moves, both exact:

    - shingles are hashed to int64 (xxhash64 per element, dedup after)
      BEFORE the join, so the candidate-pair frame shuffles/compares
      primitive long arrays instead of UTF8 string arrays — set sizes and
      therefore scores are unchanged up to a ~2^-64 per-element collision
      (the 200k-page bench verifies the same 34,979 pairs either way);
    - when the keyed vocabulary is small BOTH join sides broadcast, so the
      multi-10M-row candidate frame never shuffles at all — candidate
      generation, verification and the score filter fuse into one
      map-side stage. Past the threshold (web-scale vocabularies) it
      stays a shuffle join on the well-distributed id keys.

    The broadcast gate is BYTE-estimated, not row-counted: one aggregate
    over ``keyed`` measures (rows, total shingle elements) and the
    estimate ``elements*8 + rows*48`` (int64 payload + array/row
    overhead) must stay under ``broadcast_threshold_bytes`` AND rows
    under ``broadcast_threshold_rows`` — a 900k-row vocabulary of
    50-element arrays is ~0.4 GiB and takes the shuffle path even though
    its row count looks small. Pass ``broadcast=True/False`` to skip the
    measuring aggregate entirely when the caller already knows the size
    (this also keeps plan construction fully lazy). Without the
    override, building the returned plan runs one Spark job over
    ``keyed`` — callers should pass a checkpoint-materialized frame (as
    ``verified_pairs`` does) so that job is a cheap re-scan, not a
    re-evaluation of the shingling lineage.

    ``pairs_distinct=False`` declares that ``pairs`` may hold duplicate
    (a, b) rows (a near-dup pair collides in many bands; the per-band
    self-join emits it once per collision). The dedup then lands where it
    is cheapest FOR THE CHOSEN JOIN MODE: in broadcast mode the dup rows
    ride the map-side probe for free (identical score per copy — score is
    a pure function of the two shingle sets) and the exchange dedups the
    POST-FILTER frame, 100-1000x smaller than the candidate frame; in
    shuffle mode the dedup stays BEFORE the join, where it shrinks the
    big exchange instead. Output is distinct (a, b) either way.

    ``keep_cols`` names extra columns of ``pairs`` (e.g. the (band, bh)
    provenance from ``cap_and_self_join(keep_bucket=True)``) to carry
    through to the output; every dedup key becomes (a, b, *keep_cols), so
    the output is one row per (pair, provenance) with its score — the
    score is still a pure function of (a, b).
    """
    dedup_keys = ["a", "b", *keep_cols]
    hashed = F.array_distinct(F.transform("sh", lambda s: F.xxhash64(s)))
    # hash ONCE, materialize, and derive both probe relations from the
    # materialized frame. The earlier same-projection-twice form carried
    # TWO BroadcastExchange builds, each re-evaluating the shingle hash
    # over the whole vocabulary (the round-5 "serial verify-tail" cost).
    # With the checkpoint each build is a bare scan of materialized
    # blocks, so the hash computation runs once end to end. Exchange
    # REUSE on top of that is real but not guaranteed: the production
    # canonicalization pipeline compiles one vocabulary build plus a
    # ReusedExchange for the second probe (verified in the final
    # adaptive plan at both 39.6k- and 154k-squash vocabularies), while
    # isolated two-probe shapes over the same checkpointed frame can
    # compile two independent builds (seen in their final adaptive plans,
    # with the frame cached instead and with AQE off too) — so the
    # guarantee this code relies on is only the single lineage
    # evaluation; the worst case is one extra hash-table build, bounded
    # by the broadcast gate below (<= broadcast_threshold_rows rows and
    # <= broadcast_threshold_bytes payload); past the gate the tail is
    # a shuffle join and no driver-side relation is built at all.
    kh = keyed.select("_id", hashed.alias("_sh_h")) \
              .localCheckpoint(eager=False)
    ka = kh.select("_id", "_sh_h")
    kb = kh.select("_id", "_sh_h")
    small = broadcast
    if small is None:
        try:
            # size the ACTUAL broadcast payload (hashed int64 arrays) off
            # the materialized frame — this same job doubles as the
            # checkpoint's materialization pass, so the hash computation
            # runs exactly once end to end
            rows, elems = kh.agg(
                F.count("*"), F.coalesce(F.sum(F.size("_sh_h")), F.lit(0))
            ).first()
            est_bytes = int(elems) * 8 + int(rows) * 48
            small = (rows <= broadcast_threshold_rows
                     and est_bytes <= broadcast_threshold_bytes)
        except (AnalysisException, Py4JJavaError) as exc:
            # a broken input frame will fail again (more usefully) at the
            # join; don't mask it here, but don't die sizing either
            warnings.warn(f"pair_scores size probe failed, using shuffle "
                          f"join: {exc}", RuntimeWarning)
            small = False
    if small:
        ka, kb = F.broadcast(ka), F.broadcast(kb)
    elif not pairs_distinct:
        # shuffle mode ships every candidate row across the exchange:
        # collapse duplicates FIRST so the big shuffle stays minimal
        pairs = pairs.dropDuplicates(dedup_keys)
        pairs_distinct = True
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    if metric == "jaccard":
        score = inter / F.size(F.array_union("sh_a", "sh_b"))
    elif metric == "containment":
        score = inter / F.least(F.size("sh_a"), F.size("sh_b"))
    else:
        raise ValueError(f"unknown metric: {metric}")
    carry = list(keep_cols)
    out = (
        pairs.join(ka, F.col("a") == ka["_id"])
        .select("a", "b", *carry, F.col("_sh_h").alias("sh_a"))
        .join(kb, F.col("b") == kb["_id"])
        .select("a", "b", *carry, "sh_a", F.col("_sh_h").alias("sh_b"))
        .withColumn("score", score)
        .filter(F.col("score") >= threshold)
        .select("a", "b", *carry, "score")
    )
    if not pairs_distinct:
        # broadcast mode: dedup AFTER the map-side probe + filter, on the
        # verified frame (duplicate copies carry identical scores, so any
        # survivor is the same row)
        out = out.dropDuplicates(dedup_keys)
    return out


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    shingle_expr,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 200,
    distinct: bool = True,
) -> DataFrame:
    """-> (a, b) candidate id pairs (a < b) sharing >= 1 LSH bucket.

    ``shingle_expr`` is a Column producing array<string> shingles, OR the
    string name of an existing array column (so callers that already
    shingled — e.g. verified_pairs — don't pay the shingling pass twice).
    ``distinct=False`` defers the pair dedup to the caller (see
    ``cap_and_self_join``).
    """
    buckets = lsh_buckets(df, id_col, shingle_expr,
                          num_hashes=num_hashes, bands=bands)
    return cap_and_self_join(buckets, max_bucket_size, distinct=distinct)


def verified_pairs(
    df: DataFrame,
    id_col: str,
    shingle_expr,
    threshold: float,
    metric: str = "jaccard",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 200,
) -> DataFrame:
    """LSH candidates verified with an exact set metric -> (a, b, score).

    metric='jaccard'      |A∩B| / |A∪B|   — near-duplicate detection
    metric='containment'  |A∩B| / min(|A|,|B|) — alias/abbreviation graphs
                          ('spark' ⊆ 'apachespark'). Use bands == num_hashes
                          (1 row per band) so low-Jaccard containment pairs
                          still surface as candidates.
    """
    # shingle ONCE: candidate generation and verification reuse the
    # materialized shingled frame instead of re-evaluating shingle_expr
    # over the input three times. localCheckpoint (not .cache()) so the
    # blocks are reference-tracked and freed when the result is GC'd —
    # repeated dedup/canonicalize calls in a long-lived session must not
    # accumulate catalog-pinned storage.
    keyed = df.select(F.col(id_col).alias("_id"), shingle_expr.alias("sh")) \
              .filter(F.size("sh") > 0).localCheckpoint(eager=False)
    # distinct=False + pairs_distinct=False: the candidate-pair dedup
    # lands after the broadcast probe's score filter (or, in shuffle
    # mode, right back before the join) — the multi-10M-row candidate
    # frame never pays its own exchange (round-5 scaling fix)
    pairs = lsh_candidate_pairs(keyed, "_id", "sh",
                                num_hashes=num_hashes, bands=bands,
                                max_bucket_size=max_bucket_size,
                                distinct=False)
    return pair_scores(pairs, keyed, threshold, metric,
                       pairs_distinct=False)


def touching_pairs_from_buckets(buckets: DataFrame, touch: DataFrame,
                                max_bucket_size: int) -> DataFrame:
    """(_id, band, bh) bucket rows + touch id set -> candidate
    (a, b, band, bh) rows with >= 1 endpoint in ``touch``, generated ONLY
    from buckets containing a touch id, one row per generating bucket
    (see ``cap_and_self_join(keep_bucket=True)``); caps apply to the full
    bucket contents, so the pairs are exactly the touch-adjacent subset
    of what the full self-join emits. The incremental KG update feeds it
    its persistent bucket store (pre-computed bucket rows). ``touch`` must
    be unique by ``_id``: each touch row flags the pairs it ends, so a
    repeated id repeats them."""
    keys = buckets.join(touch, "_id", "left_semi").select("band", "bh")
    pruned = buckets.join(keys, ["band", "bh"], "left_semi")
    pairs = cap_and_self_join(pruned, max_bucket_size, keep_bucket=True)
    # one pass over the pairs: flag either endpoint against the touch set
    ta = touch.select(F.col("_id").alias("a"), F.lit(True).alias("_ta"))
    tb = touch.select(F.col("_id").alias("b"), F.lit(True).alias("_tb"))
    return pairs.join(ta, "a", "left").join(tb, "b", "left") \
        .filter(F.col("_ta") | F.col("_tb")).select("a", "b", "band", "bh")
