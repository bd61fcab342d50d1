"""Connected components over a pair/edge DataFrame — iterative joins.

The alternating large-star/small-star algorithm expressed with plain
DataFrame ops (the traversal-join pattern the reference runs through AQL,
``database.py:2646-2660``): component = min node id reachable, in
O(log^2 n) rounds whatever the graph's diameter, so long boilerplate-anchor
chains (SURVEY §7.4.3) stay cheap. Pair sets small enough to collect run a
driver-side union-find with the same result.

Scale notes: each round is two shuffles; the edge set is
localCheckpoint()ed every round to truncate lineage so the plan doesn't
grow across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def alternating_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """(a, b) undirected pairs -> (node, component) via the alternating
    large-star/small-star algorithm (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14 — public algorithm), converging in
    O(log^2 n) ROUNDS instead of min-label propagation's O(diameter):
    component = min reachable node id (ids compared with the natural
    ordering of the column type).

    Each round is two shuffles (a groupBy per star step); the edge set is
    localCheckpoint()ed per round to truncate lineage. Convergence is
    detected by an (edge-count, hash-sum) fingerprint — one cheap aggregate.

    Adaptive execution: the verified alias/near-dup pair set is
    typically orders of magnitude smaller than the corpus, so when it
    fits under ``local_threshold`` pairs it is collected once and
    driver-side union-find runs (identical result, no iteration
    overhead); pass 0 to force the distributed loop (tests do).
    """
    if local_threshold > 0:
        # count-then-collect (a global limit over shuffled input hits
        # CollectLimit's incremental-scan overhead, growing with partitions)
        slim = pairs.select(F.col(a_col), F.col(b_col)).cache()
        if slim.count() <= local_threshold:
            a_type = pairs.schema[a_col].dataType.simpleString()
            out = _local_components(pairs.sparkSession, slim.collect(), a_type)
            slim.unpersist()
            return out
        slim.unpersist()

    nodes = (
        pairs.select(F.col(a_col).alias("node"))
        .union(pairs.select(F.col(b_col).alias("node")))
        .distinct()
        .cache()
    )

    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=True)
    )

    def _large_star(e: DataFrame) -> DataFrame:
        # symmetric view; for each u: m = min(neighbors ∪ {u});
        # attach every STRICTLY LARGER neighbor to m.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient each edge large->small; for each u: m = min(smaller
        # neighbors); attach u and every smaller neighbor != m to m.
        oriented = (
            e.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        attach_nbrs = (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        attach_self = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            attach_nbrs.union(attach_self)
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )

    def _fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a long sum of 64-bit hashes overflows under ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = _fingerprint(edges)
    converged = False
    for _ in range(max_iter):
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        nfp = _fingerprint(nxt)
        edges = nxt
        if nfp == fp:
            converged = True
            break
        fp = nfp
    if not converged:
        raise RuntimeError(
            f"alternating_components did not converge in {max_iter} rounds")

    # converged edge set is a star forest (child -> center=min); centers map
    # to themselves, as do isolated nodes (self-pairs in the input)
    mapping = edges.groupBy("u").agg(F.min("v").alias("component")) \
        .withColumnRenamed("u", "node")
    out = (
        nodes.join(mapping, "node", "left")
        .select("node",
                F.coalesce("component", F.col("node")).alias("component"))
    )
    nodes.unpersist()
    return out


def _local_components(spark, pair_rows, id_type: str = "string") -> DataFrame:
    """Driver-side union-find over collected pairs (path compression +
    union by min id so the representative matches the distributed path)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in pair_rows:
        a, b = r[0], r[1]
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
        parent.setdefault(a, find(a))
        parent.setdefault(b, find(b))

    nodes = set(parent)
    out = [(n, find(n)) for n in sorted(nodes)]
    # Arrow-backed local frame: downstream consumers join/broadcast this
    # mapping repeatedly, and the pickled-RDD createDataFrame form would
    # pay a python-worker round trip per partition per scan (see localdf)
    from ..functions.localdf import arrow_local_df

    return arrow_local_df(spark, out, f"node {id_type}, component {id_type}")
