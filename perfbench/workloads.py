"""Workload inputs, the operations the benchmark times, and the checks on
their outputs.

Inputs are synthetic page corpora from ``hades_spark.pipeline.corpus``,
written to parquet before any timing starts and cached by (seed, pages,
richness, vocabulary, start) plus a content hash of the generator code, so
a generator change can never reuse stale bytes. The engine only ever sees
the parquet.

Expected outputs come from the corpus generator's own ground truth, not
from the pipeline: every SVO sentence the generator writes records its
canonical triple and the two surface forms it used, which gives each
expected edge's key, support (sentence count), max confidence (the
extractor's span-length rule) and min url. The build workloads must match
that edge set exactly.
"""

from __future__ import annotations

import hashlib
import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from hades_spark.functions.triples import raw_triples
from hades_spark.operators.canonicalize import (MAX_ALIAS_SQUASH_LEN,
                                                canonical_norm_map,
                                                normalize_surface,
                                                normalize_surface_col)
from hades_spark.operators.components import alternating_components
from hades_spark.operators.lsh import (char_shingles, lsh_bucket_size_stats,
                                       lsh_candidate_pairs, verified_pairs)
from hades_spark.pipeline.corpus import gen_pages, pages_df_distributed
from hades_spark.pipeline.incremental_kg import incremental_update, init_state
from hades_spark.pipeline.kg import (apply_canonical_map, canonical_triples,
                                     distinct_edges)
from hades_spark.pipeline.persist import materialize_kg
from hades_spark.sources.io import write_table

from tracing import Tracer

# production LSH parameters of canonical_norm_map / incremental_kg
LSH = dict(num_hashes=16, bands=16, max_bucket_size=150)
CONTAINMENT = 0.8
# canonical_norm_map's default: above it the distributed LSH path runs
LOCAL_THRESHOLD = 20_000
# corpus files per input table, fixed so the scan layout does not depend
# on the core count
CORPUS_FILES = 8
EDGE_COLS = ["edge_key", "support", "confidence", "url", "subj", "pred", "obj"]


@dataclass(frozen=True)
class Corpus:
    pages: int
    richness: int
    vocab: int = 0  # 0: the fixed 8-entity vocabulary
    start: int = 0  # first page index
    batch_pages: int = 0  # >0: written partitioned into batch=<k> dirs


# 3000 pages of ~25 KB: extraction dominates the build
FIXED = Corpus(pages=3000, richness=30)
# Zipf base and follow-on crawl batches (disjoint page indices). An update
# costs 10-20 s on 4 vCPUs almost regardless of batch or base size (it is
# dozens of small Spark jobs), so both stay small.
ZIPF_BASE = Corpus(pages=400, richness=5, vocab=150_000)
BATCH_PAGES = 100
MAX_BATCHES = 6  # room for more timed updates once they get faster
ZIPF_BATCHES = Corpus(pages=BATCH_PAGES * MAX_BATCHES, richness=5,
                      vocab=150_000, start=ZIPF_BASE.pages,
                      batch_pages=BATCH_PAGES)


def generator_hash(root: Path) -> str:
    """Content hash of the corpus generator and the text code it calls."""
    h = hashlib.sha256()
    files = [root / "hades_spark/pipeline/corpus.py",
             *sorted((root / "hades_spark/textcore").glob("*.py"))]
    for f in files:
        h.update(f.relative_to(root).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def corpus_dir(spark: SparkSession, cache: Path, gen_hash: str, seed: int,
               c: Corpus) -> Path:
    """Parquet directory holding corpus ``c`` for ``seed``; generated on
    first use and published by an atomic rename."""
    key = hashlib.sha256(
        f"{gen_hash}|{seed}|{c.pages}|{c.richness}|{c.vocab}|{c.start}"
        f"|{c.batch_pages}".encode()).hexdigest()[:16]
    d = cache / (f"s{seed}-n{c.pages}-r{c.richness}-v{c.vocab}-o{c.start}"
                 f"-b{c.batch_pages}-{key}")
    if (d / "_SUCCESS").exists():
        return d
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    df = pages_df_distributed(spark, c.pages, seed=seed,
                              partitions=CORPUS_FILES, richness=c.richness,
                              vocab_size=c.vocab, start=c.start)
    w = df.write.mode("overwrite")
    if c.batch_pages:
        idx = F.regexp_extract("url", r"/docs/(\d+)\.", 1).cast("int")
        df = df.withColumn(
            "batch", ((idx - c.start) / c.batch_pages).cast("int"))
        w = df.write.mode("overwrite").partitionBy("batch")
    w.parquet(str(tmp))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d


# ------------------------------------------------------------ expectations

def span_confidence(subj: str, obj: str) -> float:
    """The SVO extractor's confidence rule: 1.0 for short spans, decaying
    0.01 per character past 40, floored at 0.5."""
    return round(max(0.5, 1.0 - 0.01 * max(0, len(subj) + len(obj) - 40)), 4)


def edge_key(subj: str, obj: str, pred: str) -> str:
    return hashlib.sha256(f"{subj}|{obj}|{pred}".encode()).hexdigest()


@dataclass
class Expected:
    edges: dict  # (subj, pred, obj) -> [support, confidence, url]
    raw_triples: int
    distinct_norms: int

    def rows(self):
        return [(edge_key(s, o, p), sup, conf, url)
                for (s, p, o), (sup, conf, url) in self.edges.items()]


def expected_kg(n_pages: int, seed: int, vocab: int) -> Expected:
    """Expected distinct edges over pages [0, n_pages) from the generator's
    ground truth. Canonical ids are the smallest normalized surface among
    each entity's observed variants, as in
    ``corpus.expected_canonical_triples``."""
    pages = gen_pages(n_pages, seed, compute_text=False, vocab_size=vocab)
    observed: dict[str, set[str]] = {}
    for p in pages:
        for (s_c, _, o_c), (s_s, o_s) in zip(p.truth, p.surfaces):
            observed.setdefault(s_c, set()).add(normalize_surface(s_s))
            observed.setdefault(o_c, set()).add(normalize_surface(o_s))
    cid = {c: min(v) for c, v in observed.items()}
    edges: dict = {}
    n_raw = 0
    for p in pages:
        for (s_c, pred, o_c), (s_s, o_s) in zip(p.truth, p.surfaces):
            n_raw += 1
            conf = span_confidence(s_s, o_s)
            e = edges.get((cid[s_c], pred, cid[o_c]))
            if e is None:
                edges[(cid[s_c], pred, cid[o_c])] = [1, conf, p.url]
            else:
                e[0] += 1
                e[1] = max(e[1], conf)
                e[2] = min(e[2], p.url)
    norms = set().union(*observed.values()) if observed else set()
    return Expected(edges, n_raw, len(norms))


def edge_digest(rows) -> str:
    """Order-independent digest of (edge_key, support, confidence, url)
    rows: the sum of per-row hashes modulo 2**128 (a sum, not an xor, so
    duplicated rows do not cancel)."""
    total = 0
    for k, sup, conf, url in rows:
        h = hashlib.sha256(f"{k}\t{int(sup)}\t{float(conf)!r}\t{url}"
                           .encode()).digest()
        total = (total + int.from_bytes(h[:16], "big")) % (1 << 128)
    return f"{total:032x}"


@dataclass
class Check:
    ok: bool
    precision: float
    recall: float
    problems: list


def check_edges(edges: DataFrame, exp: Expected) -> Check:
    """Compare an edge table with the expectation: edge count, digest, and
    precision/recall of the (subj, pred, obj) set."""
    got = edges.select(*EDGE_COLS).collect()
    keys = {(r.subj, r.pred, r.obj) for r in got}
    want = set(exp.edges)
    hit = len(keys & want)
    precision = hit / len(keys) if keys else 0.0
    recall = hit / len(want) if want else 0.0
    problems = []
    if len(got) != len(want):
        problems.append(f"edge count {len(got)} != expected {len(want)}")
    digest = edge_digest((r.edge_key, r.support, r.confidence, r.url)
                         for r in got)
    if digest != edge_digest(exp.rows()):
        problems.append("edge digest differs from the expected edges")
    if precision < 0.95 or recall < 0.95:
        problems.append(f"precision {precision:.4f} / recall {recall:.4f} "
                        f"below 0.95")
    return Check(not problems, precision, recall, problems)


# -------------------------------------------------------------- operations

def build_kg(pages: DataFrame, out_dir: str, tr: Tracer,
             local_threshold: int = LOCAL_THRESHOLD) -> int:
    """pages -> written distinct edges, composed from the public layer
    functions exactly as ``kg.canonical_triples`` composes them:
    raw_triples -> canonical_norm_map -> apply_canonical_map ->
    distinct_edges -> write_table partitioned by pred. Returns the raw
    triple count (read from the cache after the write). ``local_threshold``
    is canonical_norm_map's: 0 forces its distributed LSH path.

    Traced, each layer's output is materialized inside its span so the span
    holds that layer's work; untraced, the plan runs lazily as in
    production and the extra actions show up as trace overhead."""
    with tr.span("triples.extract", "triples"):
        raw = raw_triples(pages).select(
            "url", "pred", "confidence",
            normalize_surface_col(F.col("subj")).alias("subj_norm"),
            normalize_surface_col(F.col("obj")).alias("obj_norm"),
        ).cache()
        if tr.enabled:
            raw.count()
    with tr.span("canonicalize.map", "canonicalize"):
        norms = raw.select(
            F.explode(F.array("subj_norm", "obj_norm")).alias("norm"))
        cmap = canonical_norm_map(norms, threshold=CONTAINMENT,
                                  local_threshold=local_threshold).cache()
        if tr.enabled:
            cmap.count()
    with tr.span("kg.edges", "kg"):
        edges = distinct_edges(apply_canonical_map(raw, cmap))
        if tr.enabled:
            edges = edges.cache()
            edges.count()
    with tr.span("io.write", "io"):
        write_table(edges, out_dir, partition_by=["pred"])
    n_raw = raw.count()
    for df in (edges, cmap, raw):
        df.unpersist(True)
    return n_raw


def init_kg_state(spark: SparkSession, base: Path, state_dir: str) -> None:
    init_state(spark, spark.read.parquet(str(base)), state_dir,
               threshold=CONTAINMENT)


def update_kg_state(spark: SparkSession, batch: Path, state_dir: str,
                    batch_id: str, tr: Tracer) -> dict:
    with tr.span("incremental_kg.update", "incremental_kg"):
        return incremental_update(spark, spark.read.parquet(str(batch)),
                                  state_dir, threshold=CONTAINMENT,
                                  batch_id=batch_id)


# ------------------------------------------------- traced diagnostic passes

def squash_set(pages: DataFrame) -> DataFrame:
    """Distinct alias-candidate squashes of a corpus: the set
    canonical_norm_map's distributed path hands to LSH."""
    raw = raw_triples(pages).select(
        normalize_surface_col(F.col("subj")).alias("s"),
        normalize_surface_col(F.col("obj")).alias("o"))
    return (raw.select(F.explode(F.array("s", "o")).alias("norm"))
            .select(F.regexp_replace("norm", " ", "").alias("squash"))
            .filter((F.length("squash") > 0)
                    & (F.length("squash") <= MAX_ALIAS_SQUASH_LEN))
            .dropDuplicates(["squash"])
            .localCheckpoint())


def lsh_components_pass(pages: DataFrame, tr: Tracer) -> dict:
    """Time the public LSH and connected-components calls on the corpus's
    squash set with the production parameters. Only reachable inside
    canonical_norm_map otherwise, so these numbers come from this separate
    pass."""
    squashes = squash_set(pages)
    sh = char_shingles(F.col("squash"), 3)
    with tr.span("lsh.candidates", "lsh"):
        candidates = lsh_candidate_pairs(squashes, "squash", sh, **LSH).count()
    with tr.span("lsh.pairs", "lsh"):
        pairs = verified_pairs(squashes, "squash", sh, threshold=CONTAINMENT,
                               metric="containment", **LSH).localCheckpoint()
        verified = pairs.count()
    with tr.span("lsh.buckets", "lsh"):
        buckets = lsh_bucket_size_stats(
            squashes, "squash", sh, num_hashes=LSH["num_hashes"],
            bands=LSH["bands"], cap=LSH["max_bucket_size"])
    with tr.span("components.cc", "components"):
        nodes = alternating_components(pairs, "a", "b", max_iter=50).count()
    return {"lsh.candidates": candidates, "lsh.verified": verified,
            "lsh.verify_yield": verified / candidates if candidates else 0.0,
            "lsh.bucket_p99": buckets["p99"],
            "lsh.capped_buckets": buckets["capped_buckets"],
            "components.nodes": nodes}


def materialize_pass(spark: SparkSession, pages: DataFrame, out_dir: Path,
                     tr: Tracer) -> tuple[dict, DataFrame]:
    """The deployment path, ``persist.materialize_kg``, over the same
    corpus. Returns its stage numbers and the written edge table."""
    with tr.span("persist.materialize", "persist"):
        st = materialize_kg(spark, pages, str(out_dir))
    wall = sum(v["sec"] for v in st.values())
    return ({"persist.extract_s": st["extract"]["sec"],
             "persist.project_s": st["project"]["sec"],
             "persist.edges_s": st["edges"]["sec"],
             "persist.triples_per_s": st["project"]["rows"] / wall,
             "mentions.rows": spark.read.parquet(
                 str(out_dir / "mentions")).count(),
             "manifest.units": spark.read.parquet(
                 str(out_dir / "manifest")).count()},
            spark.read.parquet(str(out_dir / "edges")))


def rebuild_matches_state(spark: SparkSession, pages: DataFrame,
                          state_dir: str) -> bool:
    """State edges == a from-scratch distributed rebuild over the same
    pages (the incremental-maintenance invariant)."""
    caches: list = []
    rebuilt = distinct_edges(canonical_triples(
        pages, caches=caches, local_threshold=0)).localCheckpoint()
    cols = ["subj", "pred", "obj", "edge_key", "confidence", "url", "support"]
    rebuilt = rebuilt.select(*cols)
    state = spark.read.parquet(f"{state_dir}/edges").select(*cols)
    same = (rebuilt.exceptAll(state).count() == 0
            and state.exceptAll(rebuilt).count() == 0)
    for c in caches:
        c.unpersist(True)
    return same
