"""Benchmark harness — one JSON line to stdout.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the end-to-end KG
pipeline over a synthetic page corpus; reports per-query seconds and the
primary metric (KG triples/sec end-to-end).

    {"metric": "kg_triples_per_sec", "value": N, "unit": "sec",
     "queries": {...}, "sf": 0.1, ...}

Env knobs:
    SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local core count (default 32)
    BENCH_PAGES          KG corpus size (default 20000)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "a1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "j1_three_way_lookup_join",
    "j2_decorrelated_count_join",
    "w1_adjacent_context_sum",
    "a2_explode_group_count",
    "t1_recency_topk",
]


def run(sf_dir: str, cpus: int, n_pages: int) -> dict:
    from hades_spark.queries import SPARK_QUERIES
    from hades_spark.session import get_spark

    # keep the driver-parsed output clean (VERDICT r3 #7): no console
    # progress bars, and JVM logs (including the benign late-task
    # updateAccumulators ERROR race after async cache release — cause
    # documented in scripts/bench_log4j2.properties) go to a file, never
    # stderr. Real failures still raise from the Python actions below.
    log_conf = Path(__file__).resolve().parent / "scripts" / \
        "bench_log4j2.properties"
    spark = get_spark(
        "hades_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Dlog4j.configurationFile=file:{log_conf}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, float] = {}

    # warm the JVM/parquet footers once so per-query times measure the query
    for t in ["lineitem", "orders", "customer", "events", "documents"]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    for name in HEADLINE:
        fn = SPARK_QUERIES[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        results[name] = round(time.perf_counter() - t0, 4)
        _ = n

    # end-to-end KG pipeline: pages -> canonical edges. The input is a
    # parquet pages table on disk (the sandbox stand-in for the north
    # rule's Iceberg table) — generated once per (n_pages, richness) and
    # reused, so the timed section measures the pipeline, not synthesis.
    from hades_spark.pipeline.corpus import pages_df_distributed
    from hades_spark.pipeline.kg import canonical_triples, distinct_edges

    richness = int(os.environ.get("BENCH_RICHNESS", "30"))
    # BENCH_VOCAB > 0 switches the corpus to the parameterized synthetic
    # entity vocabulary (Zipf-skewed, alias clusters): distinct normalized
    # surfaces then exceed canonicalization's local_threshold, so the
    # DISTRIBUTED LSH+CC path is what gets timed (the 100-TB-critical
    # stage; with the fixed 8-entity vocabulary every run resolves in the
    # driver-side union-find fallback).
    vocab = int(os.environ.get("BENCH_VOCAB", "0"))
    local_threshold = int(os.environ.get("BENCH_LOCAL_THRESHOLD", "20000"))
    corpus_root = os.environ.get("BENCH_CORPUS_DIR", "/tmp/hades_bench_corpus")
    # v2: corpus generator now emits markdown/latex pages too —
    # version tag invalidates round-1 cached corpora
    # vocab corpora carry a v3 tag: the round-3 review fixed the Zipf
    # sampler (top index now reachable), which changes vocab-mode bytes;
    # the legacy vocab=0 generator is untouched, so its v2 cache stands
    corpus_dir = (f"{corpus_root}/pages_v3_n{n_pages}_r{richness}"
                  f"_s42_vocab{vocab}" if vocab else
                  f"{corpus_root}/pages_v2_n{n_pages}_r{richness}_s42")
    gen0 = time.perf_counter()
    if not Path(corpus_dir, "_SUCCESS").exists():
        pages_df_distributed(spark, n_pages, seed=42, partitions=cpus * 2,
                             richness=richness, vocab_size=vocab) \
            .write.mode("overwrite").parquet(corpus_dir)
    pages = spark.read.parquet(corpus_dir)
    gen_sec = time.perf_counter() - gen0

    t0 = time.perf_counter()
    kg_caches: list = []
    triples = canonical_triples(pages, caches=kg_caches,
                                local_threshold=local_threshold)
    edges = distinct_edges(triples)
    n_edges = edges.count()
    kg_sec = time.perf_counter() - t0
    n_triples = triples.count()  # cached upstream; cheap recount
    results["kg_pipeline"] = round(kg_sec, 4)

    triples_per_sec = n_triples / kg_sec if kg_sec > 0 else 0.0

    # Distributed-canonicalization evidence in the DEFAULT bench: when
    # BENCH_VOCAB is unset (the driver's per-round invocation), run ONE
    # extra small vocab-corpus pipeline so BENCH_r{N}.json records the
    # REAL LSH+CC path (the legacy 8-entity corpus resolves in the
    # driver-side union-find fallback; its headline number stays the
    # round-over-round comparable metric).
    vocab_extra = {}
    if not vocab:
        # the headline run's caches are never touched again on this path —
        # free them BEFORE the timed vocab pipeline (pinned storage could
        # evict/slow its own localCheckpoint blocks). Blocking unpersist:
        # the async default lets block removal race the next pipeline's
        # stage completions (the updateAccumulators log noise)
        for c in kg_caches:
            c.unpersist(True)
        kg_caches = []
        vpages_n = int(os.environ.get("BENCH_VOCAB_PAGES", "20000"))
        vvocab = int(os.environ.get("BENCH_VOCAB_SIZE", "150000"))
        vdir = (f"{corpus_root}/pages_v3_n{vpages_n}_r{richness}"
                f"_s42_vocab{vvocab}")
        if not Path(vdir, "_SUCCESS").exists():
            pages_df_distributed(spark, vpages_n, seed=42,
                                 partitions=cpus * 2, richness=richness,
                                 vocab_size=vvocab) \
                .write.mode("overwrite").parquet(vdir)
        vpages = spark.read.parquet(vdir)
        tv = time.perf_counter()
        vcaches: list = []
        vtriples = canonical_triples(vpages, caches=vcaches,
                                     local_threshold=local_threshold)
        vedges_n = distinct_edges(vtriples).count()
        v_sec = time.perf_counter() - tv
        v_triples_n = vtriples.count()
        from pyspark.sql import functions as F

        # post-squash-filter count — the SAME predicate
        # canonical_norm_map's local-vs-distributed decision applies, so
        # kg_vocab_canon_path reports the path that actually ran
        v_norms = (
            vcaches[0].select(
                F.explode(F.array("subj_norm", "obj_norm")).alias("norm"))
            .dropDuplicates(["norm"])
            .filter(F.length(F.regexp_replace("norm", " ", "")) > 0)
            .count()
        )
        for c in vcaches:
            c.unpersist(True)
        vocab_extra = {
            "kg_vocab_pipeline_sec": round(v_sec, 4),
            "kg_vocab_triples_per_sec": round(v_triples_n / v_sec, 2)
            if v_sec > 0 else 0.0,
            "kg_vocab_pages": vpages_n,
            "kg_vocab_size": vvocab,
            "kg_vocab_distinct_norms": v_norms,
            "kg_vocab_edges": vedges_n,
            "kg_vocab_canon_path": ("distributed"
                                    if v_norms > local_threshold
                                    else "local"),
        }

    # vocab-mode diagnostics (untimed): vocabulary size, which
    # canonicalization path ran, and the LSH bucket-size distribution —
    # the skew evidence for the distributed blocking at scale
    vocab_diag = {}
    if vocab:
        from pyspark.sql import functions as F

        from hades_spark.operators.canonicalize import ALIAS_LSH, norm_vocab
        from hades_spark.operators.lsh import lsh_bucket_size_stats

        raw = kg_caches[0]  # cached raw triples (url, pred, *_norm)
        norms = norm_vocab(raw)
        n_norms = norms.count()  # post-squash-filter: the same count
        # canonical_norm_map's local-vs-distributed decision uses
        from hades_spark.operators.lsh import char_shingles

        # bucket stats over distinct SQUASHES at the alias cap — the blocking
        # the production canonicalization path ACTUALLY runs (norm-level
        # stats at cap 500 would overstate bucket sizes: squash-identical
        # norms are deduped before LSH)
        squashes = norms.select("squash").dropDuplicates(["squash"])
        vocab_diag = {
            "kg_vocab": vocab,
            "kg_distinct_norms": n_norms,
            "kg_distinct_squashes": squashes.count(),
            "kg_canon_path": ("distributed"
                              if n_norms > local_threshold else "local"),
            "kg_lsh_buckets": lsh_bucket_size_stats(
                squashes, "squash", char_shingles(F.col("squash"), 3),
                num_hashes=ALIAS_LSH["num_hashes"], bands=ALIAS_LSH["bands"],
                cap=ALIAS_LSH["max_bucket_size"]),
        }
    for c in kg_caches:
        c.unpersist(True)

    sf = 0.1
    if "sf0.01" in sf_dir:
        sf = 0.01
    elif "sf0.001" in sf_dir:
        sf = 0.001

    out = {
        "metric": "kg_triples_per_sec",
        "value": round(triples_per_sec, 2),
        "unit": "sec",
        "queries": results,
        "sf": sf,
        "kg_pages": n_pages,
        "kg_triples": n_triples,
        "kg_edges": n_edges,
        "kg_gen_sec": round(gen_sec, 2),
        "kg_richness": richness,
        "cpus": cpus,
        **vocab_extra,
        **vocab_diag,
    }
    spark.stop()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("BENCH_PAGES", "20000"))
    print(json.dumps(run(sf_dir, cpus, n_pages)))


if __name__ == "__main__":
    main()
