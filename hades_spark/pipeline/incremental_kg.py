"""Incremental KG maintenance (stage-2): fold new pages into an existing
canonical map + edge table WITHOUT re-extracting or re-pairing old pages.

Round-2 streaming covered stage-1 only (``streaming/kg_stream.py``); new
pages previously forced a full canonical-map recompute. This module keeps a
persistent state directory and applies the watermark-batch update the
north rule's resumable-pipeline contract implies:

  <state_dir>/raw/     (url, pred, confidence, subj_norm, obj_norm)
                       — batch=<id>/ partitions, exactly-once appends
  <state_dir>/buckets/ (squash, band, bh) persistent LSH bucket store over
                       DISTINCT SQUASHES — batch=<id>/ partitions; updates
                       hash NEW squashes only and read prior signatures
                       from here
  <state_dir>/pairs/   (a, b, band, bh) verified SQUASH alias pairs WITH
                       generating-bucket provenance, one row per bucket
                       that produced the pair; the CC input is the
                       distinct (a, b) of the rows whose bucket is still
                       under the cap ("live")
  <state_dir>/cmap/    (norm, canonical_id)
  <state_dir>/edges/   (subj, pred, obj, edge_key, confidence, url, support)

The LSH unit is the SQUASH (norm with spaces removed), NOT the norm: the
state calls the alias decision of ``operators/canonicalize.py`` — the
code the full-rebuild path runs — for its vocabulary (``norm_vocab``),
bucket rows (``alias_buckets``, under ``ALIAS_LSH``), verification
(``verified_alias_pairs``) and labels (``alias_labels``). Squash-identical
norms cluster for free via the squash key (no pairs needed, immune to the
bucket cap), and bucket populations are counted in DISTINCT SQUASHES, so
the cap binds identically in both paths.
Keying by norm instead diverged at scale: a large squash-group inflated
norm-level bucket counts past the cap where the rebuild's squash-level
count stayed under it (800k-base bench, ~280 edge diffs).

``incremental_update``:
  1. extract triples from the NEW pages only (the expensive stage never
     re-runs on old pages);
  2. generate alias pairs TOUCHING a new squash via the bucket store
     (``touching_pairs_from_buckets`` + ``verified_alias_pairs``): only
     buckets containing a new squash self-join, shingles come from the
     squash string itself (no raw re-scan), and old-old pairs come from
     state;
  3. recompute connected components ONLY for affected components (old
     components adjacent to a new or liveness-flipped pair, plus the
     squashes of all new norms — a new norm can MERGE two previously
     separate components, and can lower its component's min-norm
     canonical id even when its squash is already known). Only these
     ``sub_norms`` can change label, so ``changed`` is the recomputed
     sub-map joined to the old map where the label differs; a new norm
     has no old label and counts as changed;
  4. rewrite ONLY the affected edge keys: the keys of old rows touching a
     changed norm (under both maps) plus the keys of the new rows, each
     re-aggregated over all its contributors — via a pred-partitioned
     ``upsert_by_key`` keyed on (edge_key, pred): only the pred
     partitions the keys name are rewritten, no moved-key scan runs, and
     the keys a component merge dissolved are deleted in the same pass.

``incremental_delete`` runs the same steps with the signs flipped (a
purge, re-paired downward cap crossings, removed norms), and
``incremental_reingest`` is a delete leg then an update leg. The steps
they share are written once: ``_open_state`` (heal compactions and a
pairs/cmap swap crash window, init or refuse an incomplete state, replay
a completed id, build a missing bucket store once, refuse older table
layouts), ``_recluster`` (scope, components, new map, ``changed``),
``_rewrite_edges`` and ``_auto_compact``.

Every batch-sized intermediate is materialized exactly once, and the
update is latency-bound (its Spark job count sets its wall time), so:
dedup only where multiplicity or a broadcast's size needs it — never
right before a semi or anti join, where Spark keeps the dedup and pays an
exchange for nothing; broadcast hints go only on frames bounded by the
batch or by the vocabulary (``apply_canonical_map`` already broadcasts
the whole map).

INVARIANT (tested e2e + hash-verified by the ``i2_incremental_kg`` /
``s8_incremental_delete`` oracles): after any sequence of updates AND
deletes, the edge table is byte-identical to a full rebuild over the
surviving pages — INCLUDING when a bucket crosses the LSH cap between
operations (the round-5 800k-base bench caught exactly that divergence:
123 crossing buckets, 275/290 edge diffs). The pairs store keeps
per-bucket provenance and the component recompute filters pairs by
LIVENESS (>= 1 generating bucket still under the cap — a pure function
of the current bucket population, which a full rebuild computes the same
way). Under updates buckets only grow (a squash's minhash signature
never changes), so liveness only turns off and provenance recorded at
generation time is complete forever. ``incremental_delete`` is the one
operation that SHRINKS them: it removes vocabulary-departing squashes
from the store, prunes their pairs (a removed squash can be a
component's bridge), and re-pairs any bucket crossing the cap DOWNWARD
— the one case where a rebuild would emit pairs the store never
generated (they were over-cap at every prior batch).

Reference seams: ``nl_graph_materialize.py:366-387`` (onDuplicate=replace
idempotent load), ``sync.py:496-543`` (watermark + anti-join dedup of new
documents).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import time
import uuid
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.triples import raw_triples
from ..operators.canonicalize import (ALIAS_LSH, alias_buckets,
                                      alias_labels, norm_vocab,
                                      verified_alias_pairs)
from ..operators.lsh import cap_and_self_join, touching_pairs_from_buckets
from ..sources.io import (delete_by_key, recover_table, replace_table,
                          upsert_by_key, write_table)
from .kg import apply_canonical_map, distinct_edges, norm_triples
from .metrics import StageClock

# the state tables' columns and types as written; a batch store adds its
# ``batch`` partition column. Read with this schema, a scan skips the
# Spark job that infers one from a parquet footer, and ``batch`` is a
# string whatever its ids look like. crawl_ts is read by inference: its
# warc_ts keeps the type of the pages it came from
_SCHEMAS = {
    "raw": {"url": "string", "pred": "string", "confidence": "double",
            "subj_norm": "string", "obj_norm": "string"},
    "buckets": {"squash": "string", "band": "int", "bh": "bigint"},
    "pairs": {"a": "string", "b": "string", "band": "int", "bh": "bigint"},
    "cmap": {"norm": "string", "canonical_id": "string"},
}
_RAW_COLS = list(_SCHEMAS["raw"])

# edge-key sets broadcast only up to this many MEASURED candidate rows:
# 500k rows of a sha256 key or a (subj, pred, obj) triple stay within
# ~100 MB, a safe driver envelope; a component-merge storm's arbitrarily
# large key set (SURVEY §7.4.3, VERDICT r3 #1) falls back to shuffle joins
_BROADCAST_KEYS_MAX = 500_000

_STORE_COLS = {"raw": _RAW_COLS, "buckets": list(_SCHEMAS["buckets"]),
               "crawl_ts": ["url", "warc_ts"]}
# batch-dir stores that append/compact/heal together. crawl_ts is a tiny
# (url, warc_ts) sidecar — one row per url per ingesting batch — consulted
# only by incremental_reingest's crawl-ordering guard (raw rows don't
# carry the crawl timestamp; storing it per-row would bloat every triple).
# Legacy states without the dir just skip the guard.
_BATCH_STORES = ("raw", "buckets", "crawl_ts")

# tables of an older layout, which the incremental == full-rebuild
# invariant cannot hold over: (data files, the column they lack, why)
_LEGACY = {
    "pairs": ("part-*.parquet", "band", "lacks bucket provenance (band, "
              "bh): a pre-provenance state's pairs cannot be re-evaluated "
              "against the cap as buckets change"),
    "buckets": ("batch=*/part-*.parquet", "squash", "is keyed by norm: a "
                "pre-squash-level state's bucket populations use other cap "
                "semantics than the full rebuild"),
}


def _emit_metrics(state_dir: str, batch_id, op: str,
                  secs: dict, rows: dict) -> dict:
    """Append one JSON line per stage to ``<state_dir>/metrics.jsonl`` —
    the north rule's per-stage throughput/lineage seam for the
    INCREMENTAL path (the batch pipeline's twin is
    ``persist.materialize_kg``, which writes parquet metrics rows). A
    line records (batch, op, stage, sec, rows). JSONL over parquet here
    deliberately: one tiny driver-side append per update instead of a
    small-parquet-file explosion across thousands of watermark batches,
    still trivially loadable (``spark.read.json``)."""
    stages = {st: {"sec": sec, "rows": rows.get(st)}
              for st, sec in secs.items()}
    with open(Path(state_dir) / "metrics.jsonl", "a") as f:
        for st, v in stages.items():
            f.write(json.dumps({"batch": str(batch_id), "op": op,
                                "stage": st, **v}) + "\n")
    return stages


# ---------------------------------------------------------------- meta
# <state_dir>/_meta.json is the tiny driver-side manifest (the stand-in
# for an Iceberg snapshot log): which batch ids COMMITTED end-to-end
# (exactly-once replay detection survives compaction) and which
# compaction records absorbed which batch dirs. Written atomically
# (tmp + os.replace); single-writer per state dir, ENFORCED by the
# _writer.lock O_EXCL file every mutating entry point takes.

class StateLockedError(RuntimeError):
    """Another writer holds the state directory's lock."""


@contextlib.contextmanager
def _state_lock(state_dir: str):
    """SINGLE-WRITER contract, made loud. The state stores commit via
    driver-side tmp+rename and a json manifest — safe against crashes,
    NOT against two concurrent updaters interleaving manifests. Every
    mutating entry point (init / update / compact) takes this O_EXCL
    lock file; a second writer fails immediately with StateLockedError
    instead of corrupting state silently.

    Staleness: the lock records the holder's pid; a lock whose pid is no
    longer alive (same host — the driver is one process even on a
    cluster) is broken and re-acquired. On a setup with drivers on
    DIFFERENT hosts this check cannot see the other driver — there you
    need a real catalog/storage lock (Iceberg's optimistic manifest
    commit); this file is the local stand-in.
    """
    Path(state_dir).mkdir(parents=True, exist_ok=True)
    lock = Path(state_dir) / "_writer.lock"
    for _attempt in (0, 1):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                pid = int(lock.read_text().strip() or "0")
            except (OSError, ValueError):
                pid = 0
            alive = False
            if pid > 0:
                try:
                    os.kill(pid, 0)
                    alive = True
                except ProcessLookupError:
                    alive = False
                except PermissionError:
                    alive = True
            if alive:
                raise StateLockedError(
                    f"{lock} held by live pid {pid}; the incremental KG "
                    f"state supports exactly one writer") from None
            lock.unlink(missing_ok=True)  # stale: holder died
    else:  # pragma: no cover - raced twice
        raise StateLockedError(f"could not acquire {lock}")
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        lock.unlink(missing_ok=True)


def _meta_path(state_dir: str) -> Path:
    return Path(state_dir) / "_meta.json"


def _load_meta(state_dir: str) -> dict:
    p = _meta_path(state_dir)
    if p.exists():
        return json.loads(p.read_text())
    return {"completed": [], "compactions": []}


def _save_meta(state_dir: str, meta: dict) -> None:
    p = _meta_path(state_dir)
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.parent / f".{p.name}.tmp-{uuid.uuid4().hex[:8]}"
    tmp.write_text(json.dumps(meta, indent=1))
    os.replace(tmp, p)


def _mark_completed(state_dir: str, meta: dict, batch_id: str) -> None:
    if batch_id not in meta["completed"]:
        meta["completed"].append(batch_id)
        _save_meta(state_dir, meta)


def _absorbed_ids(meta: dict, store: str) -> set:
    out: set = set()
    for rec in meta["compactions"]:
        out.update(rec.get(store, []))
    return out


def _heal_compactions(state_dir: str, meta: dict) -> None:
    """Idempotently finish every committed compaction record (the commit
    point is the manifest write): rename the staged combined dir in,
    delete the absorbed batch dirs, and sweep staged dirs whose
    compaction never committed. A crash at ANY point inside
    ``compact_state`` converges here on the next call — readers that go
    through ``incremental_update``/``compact_state`` never observe a
    store with both a compact batch and its absorbed sources visible."""
    recorded = {r["id"] for r in meta["compactions"]}
    for rec in meta["compactions"]:
        for store in _BATCH_STORES:
            absorbed = rec.get(store, [])
            if not absorbed:
                continue
            root = Path(state_dir) / store
            dest = root / f"batch={rec['id']}"
            tmp = root / f".compact-{rec['id']}.tmp"
            if not dest.exists() and tmp.exists():
                tmp.rename(dest)
            # delete absorbed dirs only once the combined data is live
            # (or was itself absorbed by a later compaction)
            if dest.exists() or rec["id"] in _absorbed_ids(meta, store):
                for aid in absorbed:
                    shutil.rmtree(root / f"batch={aid}",
                                  ignore_errors=True)
    for store in _BATCH_STORES:
        root = Path(state_dir) / store
        if not root.exists():
            continue
        for tmp in root.glob(".compact-*.tmp"):
            cid = tmp.name[len(".compact-"):-len(".tmp")]
            if cid not in recorded:
                shutil.rmtree(tmp, ignore_errors=True)


def compact_state(spark: SparkSession, state_dir: str,
                  min_batches: int = 2) -> dict:
    """Coalesce committed batch dirs into one baseline batch each; see
    ``_compact_state_locked``. Takes the single-writer lock."""
    with _state_lock(state_dir):
        return _compact_state_locked(spark, state_dir, min_batches)


def _compact_state_locked(spark: SparkSession, state_dir: str,
                          min_batches: int = 2) -> dict:
    """Coalesce committed ``raw/batch=*`` and ``buckets/batch=*`` dirs
    into ONE baseline batch each — the Iceberg-manifest-compaction
    stand-in that keeps thousands of watermark updates from becoming a
    small-file explosion (every ``_read_raw`` lists and footer-reads
    every batch dir).

    Exactly-once is preserved: only batches recorded COMPLETED in the
    manifest are absorbed (a crashed update's pending dir is left alone
    for its resume), absorbed ids stay in the manifest forever, and a
    replayed old batch id still short-circuits in ``incremental_update``
    even though its dir is gone. Crash-safe: combined data is staged to
    hidden ``.compact-<id>.tmp`` dirs (invisible to Spark partition
    discovery), the manifest append is the single commit point, and
    ``_heal_compactions`` finishes the rename+delete on the next call.

    Legacy states (created before the manifest existed) are migrated on
    first call by treating every current batch dir as completed — but
    ONLY if the state passes ``_state_complete`` (all four tables
    present): a legacy state abandoned mid-init has a raw batch whose
    rows never reached edges, and absorbing it as "committed" would bake
    the half-applied batch in forever. Such states raise instead."""
    meta_existed = _meta_path(state_dir).exists()
    meta = _load_meta(state_dir)
    _heal_compactions(state_dir, meta)
    rawroot = Path(state_dir) / "raw"
    if not meta_existed and rawroot.exists():
        if not _state_complete(state_dir):
            raise ValueError(
                f"compact_state: {state_dir} has no manifest and is "
                f"incomplete (a crashed pre-manifest init/update); finish "
                f"the build via incremental_update first, then compact")
        legacy = sorted(d.name.split("=", 1)[1]
                        for d in rawroot.glob("batch=*"))
        meta["completed"] = legacy
        _save_meta(state_dir, meta)
    extra = {"rebuild"} | {r["id"] for r in meta["compactions"]}
    cid = f"c-{uuid.uuid4().hex[:12]}"
    rec: dict = {"id": cid}
    stats: dict = {}
    for store in _BATCH_STORES:
        root = Path(state_dir) / store
        if not root.exists():
            continue
        dirs = {d.name.split("=", 1)[1] for d in root.glob("batch=*")}
        elig = sorted(dirs & (set(meta["completed"]) | extra))
        if len(elig) < min_batches:
            continue
        if store in _SCHEMAS:
            combined = _read_table(spark, state_dir, store)
        else:  # crawl_ts: an all-numeric id set infers an int batch
            combined = spark.read.parquet(str(root)) \
                .withColumn("batch", F.col("batch").cast("string"))
        combined = combined.filter(F.col("batch").isin(elig)) \
            .select(*_STORE_COLS[store])
        if store == "crawl_ts":
            # a url re-crawled across absorbed batches keeps only its
            # newest timestamp — exactly what the ordering guard reads
            combined = combined.groupBy("url") \
                .agg(F.max("warc_ts").alias("warc_ts"))
        write_table(combined, str(root / f".compact-{cid}.tmp"))
        rec[store] = elig
        stats[f"{store}_batches_absorbed"] = len(elig)
    if len(rec) == 1:
        return {"compacted": False}
    meta["compactions"].append(rec)
    _save_meta(state_dir, meta)  # COMMIT
    _heal_compactions(state_dir, meta)
    return {"compacted": True, "id": cid, **stats}


def _read_table(spark: SparkSession, state_dir: str,
                table: str) -> DataFrame:
    """Read a state table with its known schema. A legacy file would fill
    a column it lacks with NULLs under that schema, so an older layout is
    refused first, from the footer of one data file, on the driver."""
    if table in _LEGACY:
        files, col, why = _LEGACY[table]
        part = next(Path(state_dir, table).glob(files), None)
        if part is not None and col not in pq.read_schema(part).names:
            raise ValueError(
                f"{state_dir}/{table} {why}; rebuild the state with "
                f"init_state over the full corpus once.")
    cols = _SCHEMAS[table] | (
        {"batch": "string"} if table in _BATCH_STORES else {})
    ddl = ", ".join(f"{c} {t}" for c, t in cols.items())
    return spark.read.schema(ddl).parquet(f"{state_dir}/{table}")


def _read_raw(spark: SparkSession, state_dir: str,
              exclude: str | None = None) -> DataFrame:
    """The raw store is laid out as ``raw/batch=<id>/`` partitions (each
    appended with an atomic dir rename — exactly-once); project away the
    batch partition column, after dropping batch ``exclude`` if given."""
    raw = _read_table(spark, state_dir, "raw")
    if exclude is not None:
        raw = raw.filter(F.col("batch") != F.lit(str(exclude)))
    return raw.select(*_RAW_COLS)


def _append_batch_dir(df: DataFrame, state_dir: str, sub: str,
                      batch_id: str,
                      absorbed: set | None = None) -> bool:
    """Append one batch under ``<state_dir>/<sub>/batch=<id>`` exactly
    once: write to a hidden tmp dir, then atomically rename it in.
    Returns False (no-op) if the batch dir already exists OR the id was
    absorbed by a compaction (its rows live inside a compact batch) —
    the crash-resume signal that this batch is already in the store."""
    root = Path(state_dir) / sub
    dest = root / f"batch={batch_id}"
    if dest.exists() or batch_id in (absorbed or ()):
        return False
    root.mkdir(parents=True, exist_ok=True)
    tmp = root / f".batch-{batch_id}.tmp-{uuid.uuid4().hex[:8]}"
    write_table(df, str(tmp))
    tmp.rename(dest)
    return True


def _append_crawl_ts(pages: DataFrame, state_dir: str, batch_id: str,
                     meta: dict) -> None:
    """Record the batch's per-url crawl timestamp in the ``crawl_ts``
    sidecar (one tiny row per url; max over in-batch duplicates). Fed by
    init/update/reingest; consulted only by ``incremental_reingest``'s
    crawl-ordering guard. Tolerates ts-less callers (legacy frames)
    — the guard simply has nothing to compare for those urls. Idempotent
    per batch id (same atomic-dir-rename machinery as raw).
    ``incremental_delete`` leaves sidecar entries in place: they are
    inert while the url is absent from raw (the guard only consults
    overlap urls), and they re-arm the guard at the historical max if
    the url is later re-added."""
    if "warc_ts" not in pages.columns:
        return
    _append_batch_dir(
        pages.select("url", "warc_ts").groupBy("url")
        .agg(F.max("warc_ts").alias("warc_ts")),
        state_dir, "crawl_ts", batch_id,
        absorbed=_absorbed_ids(meta, "crawl_ts"))


def _touching_rows(raw: DataFrame, norms: DataFrame) -> DataFrame:
    """Rows of ``raw`` whose subj_norm OR obj_norm is in ``norms`` (each
    norm once) — one pass: two left joins flag either side, then a
    filter. NEVER dropDuplicates: legitimately repeated raw rows must keep
    their multiplicity or recomputed support counts drift from a full
    rebuild."""
    hit = F.broadcast(norms.select("norm", F.lit(True).alias("_hit")))
    return (
        raw.join(hit.select(F.col("norm").alias("subj_norm"),
                            F.col("_hit").alias("_hs")), "subj_norm", "left")
        .join(hit.select(F.col("norm").alias("obj_norm"),
                         F.col("_hit").alias("_ho")), "obj_norm", "left")
        .filter(F.col("_hs") | F.col("_ho"))
        .select(*raw.columns)
    )


def _live_buckets(bk: DataFrame, norms: DataFrame) -> DataFrame:
    """(band, bh) of the buckets in ``bk`` (squash, band, bh) that hold a
    squash of ``norms`` and are still under the cap. Every pair with an
    endpoint in ``norms`` came from such a bucket, so sizes are computed
    for those buckets only (O(their contents)). Their key set broadcasts
    without a dedup: ``bk`` has one row per squash and band, so the set
    has at most bands x squashes rows."""
    keys = bk.join(F.broadcast(norms.select("squash")), "squash",
                   "left_semi").select("band", "bh")
    return (
        bk.join(F.broadcast(keys), ["band", "bh"], "left_semi")
        .groupBy("band", "bh").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= ALIAS_LSH["max_bucket_size"])
        .select("band", "bh")
    )


def _recluster(old_cmap: DataFrame, seed_pairs: DataFrame,
               pairs: DataFrame, store: DataFrame, clock: StageClock,
               added: DataFrame | None = None,
               removed: DataFrame | None = None
               ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Recompute the components an update or delete can have changed.

    The scope is every old component holding a squash of ``seed_pairs``
    or of the ``added`` (new) / ``removed`` (norm, squash) frames: live
    pairs never span components, so whole components keep the min-norm
    labels globally correct, and any norm of a squash witnesses its old
    component (squash-identical norms share one). ``sub_norms`` (scope
    minus removed plus added) is clustered over the ``pairs`` rows LIVE
    in the post-operation bucket ``store`` — >= 1 generating bucket under
    the cap, exactly the pairs a full rebuild would generate.

    Returns ``sub_norms``, ``new_cmap`` and ``changed`` (the sub-map
    norms whose canonical id changed; a new norm counts), each
    materialized. No dedup: each set only feeds a semi/anti join."""
    sq = F.regexp_replace("norm", " ", "").alias("squash")
    seeds = seed_pairs.select(F.explode(F.array("a", "b")).alias("squash"))
    for norms in (added, removed):
        if norms is not None:
            seeds = seeds.unionByName(norms.select("squash"))
    affected_ids = old_cmap.select(sq, "canonical_id") \
        .join(F.broadcast(seeds), "squash", "left_semi") \
        .select("canonical_id")
    sub_norms = old_cmap \
        .join(F.broadcast(affected_ids), "canonical_id", "left_semi")
    if removed is not None:
        sub_norms = sub_norms.join(removed.select("norm"), "norm",
                                   "left_anti")
    sub_norms = sub_norms.select("norm", sq)
    if added is not None:
        sub_norms = sub_norms.unionByName(added.select("norm", "squash"))
    sub_norms = sub_norms.localCheckpoint(eager=True)
    clock.mark("scope")
    sub_pairs = pairs.join(
        F.broadcast(sub_norms.select(F.col("squash").alias("a"))), "a",
        "left_semi") \
        .join(_live_buckets(store, sub_norms), ["band", "bh"], "left_semi")
    sub_cmap = alias_labels(sub_norms, sub_pairs) \
        .localCheckpoint(eager=True)
    # materialized once: the edge rewrite maps through it twice and the
    # commit writes it. It drops sub_norms and the removed norms (each
    # in scope via its own squash) from the old map: both materialized
    gone = sub_norms.select("norm")
    if removed is not None:
        gone = gone.unionByName(removed.select("norm"))
    new_cmap = old_cmap.join(F.broadcast(gone), "norm", "left_anti") \
        .unionByName(sub_cmap).localCheckpoint(eager=True)
    clock.mark("components")
    changed = old_cmap.withColumnRenamed("canonical_id", "_old") \
        .join(sub_cmap, "norm", "right") \
        .filter(~F.col("_old").eqNullSafe(F.col("canonical_id"))) \
        .select("norm").localCheckpoint(eager=True)
    return sub_norms, new_cmap, changed


def _row_counts(frames: dict[str, DataFrame]) -> dict[str, int]:
    """Row counts of several frames in ONE grouped job."""
    tagged = [df.select(F.lit(k).alias("_t")) for k, df in frames.items()]
    got = dict(functools.reduce(DataFrame.unionByName, tagged)
               .groupBy("_t").count().collect())
    return {k: got.get(k, 0) for k in frames}


def _rewrite_edges(spark: SparkSession, state_dir: str, raw: DataFrame,
                   old_rows: DataFrame, new_rows: DataFrame,
                   old_cmap: DataFrame, new_cmap: DataFrame,
                   stats: dict[str, DataFrame]
                   ) -> tuple[dict[str, int], dict[str, DataFrame]]:
    """Fold a relabel into the edge table. Candidate keys are those
    ``old_rows`` derive under ``old_cmap`` plus those ``new_rows`` derive
    under ``new_cmap``; each is re-aggregated over ALL its contributors in
    ``raw``, and an old candidate nothing derives any more is deleted —
    one partition-scoped upsert. Returns the row counts of the ``stats``
    frames (each materialized; counted in the job that sizes the
    candidate set) and the materialized "recomputed" and "dead" key
    frames (rewritten and deleted), which the caller counts with its
    commit stats.

    The OLD-map keys ride in the candidate set because a relabel can
    SPLIT a component: part of it keeps the old label, and an old key
    whose trigger contributors relabeled away may STILL be derivable from
    its label-stable remaining contributors — without it as a candidate
    that key would never be recomputed and would be wrongly classified
    dead (the 800k delete bench caught exactly this shape)."""
    def keys_of(rows: DataFrame, cmap: DataFrame, old: bool) -> DataFrame:
        return apply_canonical_map(rows, cmap).select(
            "subj", "pred", "obj", "edge_key", F.lit(old).alias("_old"))

    # candidate keys only need (subj, pred, obj, edge_key): no aggregate.
    # Deduped once (edge_key determines subj, pred, obj), so its count
    # bounds the rewritten plus the deleted key sets
    key_edges = keys_of(old_rows, old_cmap, True) \
        .unionByName(keys_of(new_rows, new_cmap, False)) \
        .dropDuplicates(["edge_key", "_old"]).localCheckpoint(eager=True)
    n = _row_counts({**stats, "keys": key_edges})
    small = n["keys"] <= _BROADCAST_KEYS_MAX
    hint = F.broadcast if small else (lambda df: df)
    # recompute over ALL contributor rows (support counts every
    # contributor), so recomputed values equal a full rebuild's for those
    # keys. The semi-join on (subj, pred, obj) runs right after the map
    # lookups, before the edge key is hashed or any row is shuffled, so
    # the aggregate only sees contributor rows.
    recomputed = distinct_edges(
        apply_canonical_map(raw, new_cmap).join(
            hint(key_edges.select("subj", "pred", "obj")),
            ["subj", "pred", "obj"], "left_semi")) \
        .localCheckpoint(eager=True)
    # dead = old candidates the recompute did NOT produce. They carry
    # pred, so the upsert knows their partition without a moved-key scan,
    # and stay a DATAFRAME end-to-end: a driver collect + isin literal
    # list would blow the driver/plan exactly in a merge storm
    dead = key_edges.filter("_old").select("edge_key", "pred") \
        .join(hint(recomputed.select("edge_key")), "edge_key", "left_anti") \
        .localCheckpoint(eager=True)
    upsert_by_key(spark, recomputed, f"{state_dir}/edges",
                  ["edge_key", "pred"], partition_by=["pred"],
                  delete_keys=dead, broadcast_keys=small)
    return n, {"recomputed": recomputed, "dead": dead}


def _state_complete(state_dir: str) -> bool:
    """True when every state table committed (a crash mid-init leaves a
    raw/ dir without pairs/cmap/edges — that state must re-init, not take
    the update path and fail reading missing tables)."""
    return all(Path(state_dir, t).exists()
               for t in ("raw", "pairs", "cmap", "edges")) and \
        any(Path(state_dir, "raw").glob("batch=*"))


def init_state(spark: SparkSession, pages: DataFrame, state_dir: str,
               threshold: float = 0.8, batch_id: str = "init") -> None:
    """Full build of the state directory from an initial page batch.
    Idempotent under re-runs with the same ``batch_id`` (the append
    no-ops once committed; pairs/cmap swap atomically; the edge write is
    last), so a crashed init converges by re-running it. Takes the
    single-writer lock."""
    with _state_lock(state_dir):
        _init_state_locked(spark, pages, state_dir, threshold, batch_id)


def _init_state_locked(spark: SparkSession, pages: DataFrame,
                       state_dir: str, threshold: float = 0.8,
                       batch_id: str = "init") -> None:
    meta = _load_meta(state_dir)
    _heal_compactions(state_dir, meta)
    Path(state_dir, "raw").mkdir(parents=True, exist_ok=True)
    # sweep half-written append tmp dirs from a crashed previous attempt
    for tmp in Path(state_dir, "raw").glob(".batch-*.tmp-*"):
        shutil.rmtree(tmp, ignore_errors=True)
    clock = StageClock()
    appended = _append_batch_dir(norm_triples(raw_triples(pages)),
                                 state_dir, "raw", batch_id,
                                 absorbed=_absorbed_ids(meta, "raw"))
    _append_crawl_ts(pages, state_dir, batch_id, meta)
    clock.mark("extract")
    batch_dir = Path(state_dir) / "raw" / f"batch={batch_id}"
    if not appended and batch_dir.exists():
        # the batch id is already in the store: legit idempotent resume
        # means SAME pages — verify (cheaply, by row count) instead of
        # silently dropping different pages under a reused id
        stored = spark.read.parquet(str(batch_dir)).count()
        fresh = norm_triples(raw_triples(pages)).count()
        if stored != fresh:
            raise ValueError(
                f"init_state: raw/batch={batch_id} already holds {stored} "
                f"rows but the given pages produce {fresh} — a batch id "
                f"was reused with different content; pass a fresh "
                f"batch_id (new pages are NOT silently dropped)")
    raw = _read_raw(spark, state_dir)
    vocab = norm_vocab(raw)
    # seed the persistent bucket store (updates extend it per batch and
    # never re-hash the full vocabulary). Like an update, hash only the
    # squashes the store lacks: after a crashed init, the store already
    # holds that attempt's rows, and a re-init under a fresh id must not
    # count those squashes twice in the bucket populations
    bk_root = Path(state_dir) / "buckets"
    unhashed = vocab
    if any(bk_root.glob("batch=*")):
        unhashed = vocab.join(
            _read_table(spark, state_dir, "buckets").select("squash"),
            "squash", "left_anti")
    _append_batch_dir(alias_buckets(unhashed), state_dir, "buckets",
                      batch_id, absorbed=_absorbed_ids(meta, "buckets"))
    clock.mark("hash")
    # verified SQUASH pairs WITH bucket provenance (a, b, band, bh), paired
    # from the store just written (the vocabulary is hashed once): the
    # pairs table keeps one row per generating bucket so later updates
    # can re-evaluate the cap as buckets grow (liveness = some generating
    # bucket still <= cap). All rows written here are live by
    # construction (cap_and_self_join drops over-cap buckets).
    store = _read_table(spark, state_dir, "buckets") \
        .select(F.col("squash").alias("_id"), "band", "bh")
    replace_table(verified_alias_pairs(
        cap_and_self_join(store, ALIAS_LSH["max_bucket_size"],
                          keep_bucket=True), threshold),
        f"{state_dir}/pairs")
    clock.mark("verify")
    pairs = _read_table(spark, state_dir, "pairs")
    cmap = alias_labels(vocab, pairs)
    replace_table(cmap, f"{state_dir}/cmap")
    clock.mark("components")
    cmap = _read_table(spark, state_dir, "cmap")
    write_table(distinct_edges(apply_canonical_map(raw, cmap)),
                f"{state_dir}/edges",
                partition_by=["pred"])
    clock.mark("edges")
    # the batch is now fully reflected in edges — record it so an
    # exactly-once replay short-circuits even after compaction removed
    # its batch dir
    _mark_completed(state_dir, meta, batch_id)
    clock.mark("commit")
    # counts from the written parquet: footer metadata, not recomputes
    _emit_metrics(state_dir, batch_id, "init", clock.secs, {
        "verify": pairs.count(),
        "components": cmap.count(),
        "edges": spark.read.parquet(f"{state_dir}/edges").count(),
    })


class _State:
    """An opened state dir: its manifest plus its pairs, cmap and bucket
    tables, each read on first use (reingest itself reads none; an older
    layout is refused by ``_read_table``)."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 meta: dict) -> None:
        self.spark, self.dir, self.meta = spark, state_dir, meta

    @functools.cached_property
    def pairs(self) -> DataFrame:
        return _read_table(self.spark, self.dir, "pairs")

    @functools.cached_property
    def cmap(self) -> DataFrame:
        return _read_table(self.spark, self.dir, "cmap")

    @functools.cached_property
    def buckets(self) -> DataFrame:
        """(squash, band, bh, batch)"""
        return _read_table(self.spark, self.dir, "buckets")


def _open_state(spark: SparkSession, state_dir: str, op_id: str | None,
                init_pages: DataFrame | None = None,
                threshold: float = 0.8) -> _State | dict:
    """The entry step of update, delete and reingest (under the lock).
    It first heals a previous run's crash windows — a half-applied
    compaction could double-expose absorbed batch dirs, and a restored
    pairs/cmap swap flips the state complete. Then:

    - an incomplete state (fresh, or a crashed init) is built from
      ``init_pages`` under the CALLER'S id, so a resume of this batch
      finds its batch=<id> marker instead of double-counting under a
      second id (an id-less init gets a UNIQUE id: a fixed "init" could
      collide with a crashed init's raw/batch=init of DIFFERENT pages and
      drop the new ones); without ``init_pages`` it is refused;
    - a completed ``op_id`` is an exactly-once replay, a no-op (its dir
      may have been compacted away);
    - a state older than the bucket store gets the store built once,
      from every raw batch but ``op_id``'s.

    Returns the ``_State``, or the init/replay stats to return as-is."""
    meta = _load_meta(state_dir)
    _heal_compactions(state_dir, meta)
    recover_table(f"{state_dir}/pairs")
    recover_table(f"{state_dir}/cmap")
    if not _state_complete(state_dir):
        if init_pages is None:
            raise ValueError(
                f"{state_dir} is not a complete state (crashed init?); "
                f"finish the build via incremental_update first")
        _init_state_locked(spark, init_pages, state_dir, threshold,
                           batch_id=op_id or f"init-{uuid.uuid4().hex[:12]}")
        return {"initialized": True,
                "edges": spark.read.parquet(f"{state_dir}/edges").count()}
    if op_id is not None and op_id in meta["completed"]:
        return {"initialized": False, "replayed": True,
                "edges": spark.read.parquet(f"{state_dir}/edges").count()}
    if not any(Path(state_dir, "buckets").glob("batch=*")):
        _append_batch_dir(
            alias_buckets(norm_vocab(_read_raw(spark, state_dir, op_id))),
            state_dir, "buckets", "rebuild")
    return _State(spark, state_dir, meta)


def _auto_compact(spark: SparkSession, state_dir: str, stats: dict,
                  every: int | None) -> None:
    """Once the raw store holds ``every`` batch dirs, compact them into
    one baseline batch (``None`` disables); update and reingest end with
    it. It is a separate commit AFTER the operation's completed-marker —
    a crash between the two leaves a committed operation and a no-op'd
    compaction, nothing half-done."""
    if every is not None and \
            len(list(Path(state_dir, "raw").glob("batch=*"))) >= every:
        stats["compaction"] = _compact_state_locked(spark, state_dir,
                                                    min_batches=2)


def incremental_update(spark: SparkSession, new_pages: DataFrame,
                       state_dir: str, threshold: float = 0.8,
                       batch_id: str | None = None,
                       compact_every_n_batches: int | None = 32) -> dict:
    """Fold ``new_pages`` into the state; returns update stats.

    ``batch_id`` makes the update EXACTLY-ONCE resumable: the raw append
    is an atomic ``raw/batch=<id>`` dir rename, so a crash anywhere in
    the update (before or after the edge upsert, before or after the
    append) converges on re-run with the same batch_id — the batch's rows
    are counted once whether they sit in the store or in ``new_pages``.
    Without a batch_id, re-running the same batch double-counts (the
    caller owns dedup, e.g. via the watermark manifest).

    AUTO-COMPACTION: once the raw store holds
    ``compact_every_n_batches`` batch dirs (default 32), the update ends
    by compacting them into one baseline batch, so an unattended
    thousand-update stream keeps O(1) dirs without anyone remembering to
    call ``compact_state``. Pass ``None`` to disable (callers that
    schedule compaction themselves).

    Takes the single-writer lock for the whole update (two concurrent
    updaters raise StateLockedError instead of interleaving manifests).
    """
    with _state_lock(state_dir):
        stats = _incremental_update_locked(spark, new_pages, state_dir,
                                           threshold, batch_id)
        if not stats.get("replayed"):
            _auto_compact(spark, state_dir, stats, compact_every_n_batches)
        return stats


def _incremental_update_locked(spark: SparkSession, new_pages: DataFrame,
                               state_dir: str, threshold: float = 0.8,
                               batch_id: str | None = None) -> dict:
    st = _open_state(spark, state_dir, batch_id, new_pages, threshold)
    if isinstance(st, dict):
        return st
    cur_batch = batch_id or f"b-{uuid.uuid4().hex[:12]}"
    clock = StageClock()
    new_raw = norm_triples(raw_triples(new_pages)).localCheckpoint(eager=True)
    clock.mark("extract")
    already_appended = (
        batch_id is not None
        and (Path(state_dir) / "raw" / f"batch={batch_id}").exists())
    # crash-resume: the batch is in the store; exclude it from the "old"
    # side so the recompute sees each row exactly once
    old_raw = _read_raw(spark, state_dir,
                        batch_id if already_appended else None)
    old_pairs, old_cmap = st.pairs, st.cmap

    # 2. alias pairs touching a NEW squash, generated from the PERSISTENT
    # bucket store: minhash signatures are computed for squashes never
    # seen before ONLY — the store carries every previous batch's bucket
    # rows, so an update is O(new vocab + touched buckets), never a
    # full-vocabulary re-hash. Old-old pairs come from state. A new norm
    # whose squash is already stored adds NOTHING to the bucket
    # population (populations count distinct squashes, like the rebuild),
    # so it can neither create pairs nor flip liveness — it only joins
    # its squash's component and competes in the min-norm relabel.
    new_norms = norm_vocab(new_raw) \
        .join(old_cmap.select("norm"), "norm", "left_anti") \
        .localCheckpoint(eager=True)
    clock.mark("norms")
    store_old = st.buckets.filter(F.col("batch") != F.lit(str(cur_batch))) \
        .select("squash", "band", "bh")
    new_bk = alias_buckets(
        new_norms.join(store_old.select("squash"), "squash", "left_anti")) \
        .localCheckpoint(eager=True)
    clock.mark("hash")
    all_bk = store_old.unionByName(new_bk) \
        .select(F.col("squash").alias("_id"), "band", "bh")
    # the touch set, each squash once: every bucketed squash has exactly
    # one row per band (an unbucketed one can pair with nothing)
    cand = touching_pairs_from_buckets(
        all_bk, new_bk.filter(F.col("band") == 0)
        .select(F.col("squash").alias("_id")),
        ALIAS_LSH["max_bucket_size"])
    # scope, components and the commit all read the verified rows
    touching_prov = verified_alias_pairs(cand, threshold)
    _append_batch_dir(new_bk, state_dir, "buckets", cur_batch)
    # touching pairs are disjoint from old pairs except on a resume after
    # the pairs swap: the dedup matters only for the table write
    all_pairs = old_pairs.unionByName(touching_prov)
    merged_pairs = all_pairs.dropDuplicates(["a", "b", "band", "bh"])
    clock.mark("verify")

    # CAP CROSSINGS: a touched bucket whose population (distinct
    # squashes) crosses max_bucket_size with this batch would contribute
    # NO pairs in a full rebuild — its previously generated pairs must
    # lose that bucket's support (they stay alive only via some other
    # still-under-cap bucket). Only touched buckets change size, so the
    # scan is O(touched bucket contents); under updates buckets only grow,
    # so a bucket that crossed never comes back.
    cap = ALIAS_LSH["max_bucket_size"]
    crossing = (
        store_old.select("band", "bh", F.lit(0).alias("_new"))
        .join(F.broadcast(new_bk.select("band", "bh")), ["band", "bh"],
              "left_semi")
        .unionByName(new_bk.select("band", "bh", F.lit(1).alias("_new")))
        .groupBy("band", "bh")
        .agg(F.count("*").alias("_n"), F.sum("_new").alias("_add"))
        .filter((F.col("_n") - F.col("_add") <= cap) & (F.col("_n") > cap))
        .select("band", "bh")
    )
    # 3. recompute ONLY affected components: those adjacent to a new pair
    # OR a liveness-flipped pair, plus those of every new norm's squash (a
    # new norm can lower its component's min-norm canonical id even when
    # its squash — and therefore the pair set — is unchanged)
    dimmed = old_pairs.join(F.broadcast(crossing), ["band", "bh"],
                            "left_semi")
    sub_norms, new_cmap, changed = _recluster(
        old_cmap, touching_prov.unionByName(dimmed), all_pairs,
        store_old.unionByName(new_bk), clock, added=new_norms)

    # 4. rewrite only affected edge keys: rows touching a norm whose
    # canonical changed (old relabeled components) or a new norm, plus
    # every new row — a new row over entirely-old norms still increments
    # the support of an existing edge key. The old rows touching a
    # changed norm are scanned once and serve both maps.
    old_touching = _touching_rows(old_raw, changed).localCheckpoint(eager=True)
    n, rewritten = _rewrite_edges(
        spark, state_dir, old_raw.unionByName(new_raw), old_touching,
        old_touching.unionByName(new_raw), old_cmap, new_cmap, stats={
            "extract": new_raw, "norms": new_norms, "hash": new_bk,
            "scope": sub_norms, "components": new_cmap, "changed": changed})
    clock.mark("edges")

    # persist the grown state (atomic batch append under the SAME id the
    # bucket append used; atomic swaps for pairs/cmap)
    if not already_appended:
        _append_batch_dir(new_raw, state_dir, "raw", cur_batch)
    # outside the guard: a crash between the raw append and this line
    # resumes with already_appended=True and must still record the ts
    _append_crawl_ts(new_pages, state_dir, cur_batch, st.meta)
    # ATOMIC swaps (write-tmp + rename), never a bare overwrite: a crash
    # mid-write must leave the OLD pairs/cmap readable — losing old-old
    # pairs would split components forever (touching-pair generation
    # never regenerates them)
    replace_table(merged_pairs, f"{state_dir}/pairs")
    replace_table(new_cmap, f"{state_dir}/cmap")
    # LAST: the completed marker — everything above is idempotent, so a
    # crash before this line resumes via the batch-dir path, and a crash
    # after it short-circuits as a replay
    _mark_completed(state_dir, st.meta, cur_batch)
    clock.mark("commit")
    # merged_pairs runs once, in its write: count the written table
    n |= _row_counts(
        {**rewritten, "verify": _read_table(spark, state_dir, "pairs")})
    stages = _emit_metrics(state_dir, cur_batch, "update", clock.secs, {
        k: n[k] for k in ("extract", "norms", "hash", "verify", "scope",
                          "components")} | {"edges": n["recomputed"]})
    return {
        "initialized": False,
        "new_norms": n["norms"],
        "changed_norms": n["changed"],
        "edges_rewritten": n["recomputed"],
        "edges_deleted": n["dead"],
        "stages": stages,
    }


def incremental_delete(spark: SparkSession, urls, state_dir: str,
                       threshold: float = 0.8,
                       delete_id: str | None = None) -> dict:
    """PURGE every triple contributed by ``urls`` from the standing state —
    the incremental twin of the per-doc purge (S8, reference
    ``nl_graph_materialize.py``'s delete-on-reingest seam) with the SAME
    invariant as ``incremental_update``: after the delete, the edge table
    is byte-identical to a full rebuild over the remaining pages.

    Deletion is the HARD direction for the LSH state, because the
    vocabulary can SHRINK — three effects a naive raw-purge misses:

    - a squash left with no surviving norm leaves the vocabulary: its
      bucket rows disappear, pairs with it as an endpoint must stop
      feeding CC (a removed squash can be the BRIDGE of a component — the
      component must split exactly like a rebuild without it), and its
      components' min-norm canonical may change;
    - bucket populations only shrink, so a bucket can cross the cap
      DOWNWARD: a rebuild over the remaining corpus WOULD pair its
      members, but the store never generated those pairs (they were
      over-cap at every previous batch) — crossing buckets re-pair their
      CURRENT membership and the verified pairs merge into the store
      (previously stored-but-dimmed pairs re-light via the same rows);
    - edge keys lose contributors: support re-aggregates for every key a
      removed row contributed to, and keys with no remaining contributor
      are deleted (folded into the same partition-scoped table pass).

    EXACTLY-ONCE: pass a ``delete_id`` — a completed delete replays as a
    no-op, and a crashed one converges on re-run: the removed rows are
    STAGED (atomic rename) before the raw purge starts, so a re-run after
    a partial purge still sees the full removed set; the raw purge,
    bucket purge, and edge upsert are idempotent; pairs/cmap swap
    atomically AFTER the edge fix; the completed marker is last.

    ``urls`` is a DataFrame with a ``url`` column or an iterable of url
    strings. Deleting the ENTIRE corpus raises — remove the state dir
    instead (an empty state has no readable tables).
    """
    with _state_lock(state_dir):
        return _incremental_delete_locked(spark, urls, state_dir,
                                          threshold, delete_id)


def _incremental_delete_locked(spark: SparkSession, urls, state_dir: str,
                               threshold: float,
                               delete_id: str | None) -> dict:
    st = _open_state(spark, state_dir, delete_id)
    if isinstance(st, dict):
        return st
    del_id = delete_id or f"del-{uuid.uuid4().hex[:12]}"
    clock = StageClock()
    # the url set only feeds semi/anti joins: no dedup
    if isinstance(urls, DataFrame):
        urls_df = urls.select("url")
    else:
        urls_df = spark.createDataFrame([(u,) for u in urls], "url string")
    urls_df = urls_df.localCheckpoint(eager=True)

    # STAGE the removed rows FIRST (atomic rename): the raw purge below is
    # per-partition — a crash mid-purge loses the purged rows from the
    # store, and a re-run must still see the FULL removed set to scope the
    # vocabulary/pair/edge fixes
    stage = Path(state_dir) / f"_del-{del_id}"
    removed_path = stage / "removed"
    if not removed_path.exists():
        stage.mkdir(parents=True, exist_ok=True)
        tmp = stage / f".removed.tmp-{uuid.uuid4().hex[:8]}"
        write_table(_read_raw(spark, state_dir)
                    .join(urls_df, "url", "left_semi"), str(tmp))
        tmp.rename(removed_path)
    removed = spark.read.parquet(str(removed_path)) \
        .localCheckpoint(eager=True)
    n_removed = removed.count()
    clock.mark("stage")
    if n_removed == 0:
        if delete_id is not None:
            _mark_completed(state_dir, st.meta, del_id)
        shutil.rmtree(stage, ignore_errors=True)
        return {"deleted_rows": 0, "replayed": False,
                "edges": spark.read.parquet(f"{state_dir}/edges").count()}

    # refuse BEFORE purging anything: an emptied store has no readable
    # tables (and destroying data before raising would strand the state)
    if _read_raw(spark, state_dir).join(urls_df, "url", "left_anti") \
            .isEmpty():
        raise ValueError(
            f"incremental_delete: removing these urls empties "
            f"{state_dir}; delete the state directory instead")
    # purge the raw store (idempotent per-batch-partition swaps; only
    # batch dirs holding a removed url are rewritten)
    delete_by_key(spark, f"{state_dir}/raw", urls_df, ["url"],
                  partition_by=["batch"], broadcast_keys=True)
    remaining = _read_raw(spark, state_dir)
    clock.mark("purge")

    old_pairs, old_cmap = st.pairs, st.cmap
    store_rows = st.buckets.select("squash", "band", "bh")
    cap = ALIAS_LSH["max_bucket_size"]

    # norms that leave the vocabulary: candidates are the removed rows'
    # norms (small); a candidate survives iff some REMAINING row still
    # uses it (column-pruned corpus scan, semi-joined to the candidates)
    cand_norms = norm_vocab(removed)
    present = remaining \
        .select(F.explode(F.array("subj_norm", "obj_norm")).alias("norm")) \
        .join(F.broadcast(cand_norms.select("norm")), "norm", "left_semi")
    removed_norms = cand_norms.join(present, "norm", "left_anti") \
        .localCheckpoint(eager=True)
    # squashes that leave: no surviving norm squashes to them (cmap holds
    # the full pre-delete vocabulary, so the check is vocab-sized).
    # Deduped: removed_squashes counts them
    cand_sq = removed_norms.select("squash").dropDuplicates(["squash"])
    surviving_sq = (
        old_cmap.select(
            F.regexp_replace("norm", " ", "").alias("squash"), "norm")
        .join(F.broadcast(cand_sq), "squash", "left_semi")
        .join(F.broadcast(removed_norms.select("norm")), "norm", "left_anti")
        .select("squash")
    )
    removed_sq = cand_sq.join(surviving_sq, "squash", "left_anti") \
        .localCheckpoint(eager=True)
    clock.mark("norms")

    # DOWNWARD cap crossings: a bucket losing a removed squash whose
    # population drops from > cap to <= cap would pair its members in a
    # rebuild — but the store never generated those pairs. Re-pair the
    # bucket's CURRENT membership (<= cap rows each, O(touched buckets)).
    dead_bk = store_rows.join(F.broadcast(removed_sq), "squash", "left_semi")
    pop_gone = dead_bk.groupBy("band", "bh").agg(F.count("*").alias("_ng"))
    pop_before = store_rows \
        .join(F.broadcast(dead_bk.select("band", "bh")), ["band", "bh"],
              "left_semi") \
        .groupBy("band", "bh").agg(F.count("*").alias("_nb"))
    crossing = (
        pop_before.join(pop_gone, ["band", "bh"])
        .filter((F.col("_nb") > cap) & (F.col("_nb") - F.col("_ng") <= cap))
        .select("band", "bh")
    )
    cur_store = store_rows.join(removed_sq, "squash", "left_anti")
    members = cur_store.join(crossing, ["band", "bh"], "left_semi") \
        .select(F.col("squash").alias("_id"), "band", "bh")
    regen = verified_alias_pairs(
        cap_and_self_join(members, cap, keep_bucket=True), threshold)
    # pairs with a removed endpoint leave the store PERMANENTLY (a removed
    # squash may be the bridge of a component — keeping the pair would
    # keep the component merged where a rebuild splits it)
    pruned_pairs = old_pairs \
        .join(removed_sq.withColumnRenamed("squash", "a"), "a",
              "left_anti") \
        .join(removed_sq.withColumnRenamed("squash", "b"), "b",
              "left_anti")
    merged_pairs = pruned_pairs.unionByName(regen) \
        .dropDuplicates(["a", "b", "band", "bh"]).localCheckpoint(eager=True)
    clock.mark("verify")

    # affected components: every removed norm's squash (splits, min-norm
    # relabels) + every re-paired squash (downward crossings can MERGE);
    # liveness against the POST-delete population (the bucket-store purge
    # happens later in the commit order; subtract at the DataFrame level)
    sub_norms, new_cmap, changed = _recluster(
        old_cmap, regen, merged_pairs, cur_store, clock,
        removed=removed_norms)

    # edge fix: keys whose support changed = keys of rows touching a
    # relabeled norm + keys the removed rows contributed to (their
    # remaining contributors re-aggregate; keys with none die). The
    # removed rows existed under the OLD map, so they ride in both maps'
    # candidate rows.
    source = _touching_rows(remaining, changed).unionByName(removed) \
        .localCheckpoint(eager=True)
    n, rewritten = _rewrite_edges(
        spark, state_dir, remaining, source, source, old_cmap, new_cmap,
        stats={"norms": removed_norms, "squashes": removed_sq,
               "verify": merged_pairs, "scope": sub_norms,
               "components": new_cmap, "changed": changed})
    clock.mark("edges")

    # commit: pairs/cmap swap AFTER the edge fix (a crash in between
    # re-runs the whole delete against the OLD maps — the edge upsert is
    # idempotent), bucket purge after the swaps (crossing detection and
    # liveness already used post-delete populations), marker last
    replace_table(merged_pairs, f"{state_dir}/pairs")
    replace_table(new_cmap, f"{state_dir}/cmap")
    delete_by_key(spark, f"{state_dir}/buckets", removed_sq, ["squash"],
                  partition_by=["batch"], broadcast_keys=True)
    _mark_completed(state_dir, st.meta, del_id)
    shutil.rmtree(stage, ignore_errors=True)
    clock.mark("commit")
    n |= _row_counts(rewritten)
    stages = _emit_metrics(state_dir, del_id, "delete", clock.secs, {
        "stage": n_removed, "norms": n["norms"], "verify": n["verify"],
        "scope": n["scope"], "components": n["components"],
        "edges": n["recomputed"],
    })
    return {
        "replayed": False,
        "deleted_rows": n_removed,
        "removed_norms": n["norms"],
        "removed_squashes": n["squashes"],
        "changed_norms": n["changed"],
        "edges_rewritten": n["recomputed"],
        "edges_deleted": n["dead"],
        "stages": stages,
    }


def incremental_reingest(spark: SparkSession, pages: DataFrame,
                         state_dir: str, threshold: float = 0.8,
                         batch_id: str | None = None,
                         compact_every_n_batches: int | None = 32) -> dict:
    """RE-CRAWL semantics: fold ``pages`` into the state where a url may
    already be present — the reference's delete-on-reingest contract
    (``nl_graph_materialize.py`` onDuplicate=replace): the url's OLD
    triples are purged and the new page's triples take their place, so
    the state equals a rebuild in which each url contributes its LATEST
    crawl only. A plain ``incremental_update`` would double-count
    (the old raw rows stay in the store).

    Before the purge, two guards drop the urls that need no change: a
    url whose crawl (``warc_ts``; within the batch, each url's newest) is
    STRICTLY older than the state's recorded one in the ``crawl_ts``
    sidecar, so replaying last week's batch cannot regress it; and a url
    whose normalized triple multiset equals the stored one (change
    detection on the extraction; byte-level checks belong upstream).

    EXACTLY-ONCE: with a ``batch_id``, the purge commits under
    ``<batch_id>-purge`` and the insert under ``batch_id`` — each leg
    replays/resumes independently through the same machinery as
    update/delete, so a crash between the legs converges on re-run.
    Auto-compaction fires after the insert leg under the same
    ``compact_every_n_batches`` contract as ``incremental_update``.
    Returns the merged stats dict ({"purge": ..., "update": ...}).
    """
    purge_id = f"{batch_id}-purge" if batch_id else None
    with _state_lock(state_dir):
        st = _open_state(spark, state_dir, batch_id, pages, threshold)
        if isinstance(st, dict):
            return st
        t_guard = time.perf_counter()
        if "warc_ts" in pages.columns:
            # within-batch latest-crawl: keep each url's newest row only
            # (batch-bounded window — never corpus-sized)
            w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
            pages = pages.withColumn("_rn", F.row_number().over(w)) \
                .filter(F.col("_rn") == 1).drop("_rn")
        page_urls = pages.select("url").dropDuplicates(["url"])
        stored_urls = _read_raw(spark, state_dir) \
            .select("url").dropDuplicates(["url"])
        overlap = page_urls.join(stored_urls, "url", "left_semi") \
            .localCheckpoint(eager=True)
        ts_root = Path(state_dir) / "crawl_ts"
        if ("warc_ts" in pages.columns and ts_root.exists()
                and not overlap.isEmpty()):
            # cross-batch ordering: drop recrawls STRICTLY older than the
            # state's recorded crawl ts — before the (expensive)
            # fingerprint extraction ever sees them. The sidecar scan is
            # two tiny columns semi-joined to the batch's overlap urls.
            stored_ts = spark.read.parquet(str(ts_root)) \
                .join(overlap, "url", "left_semi") \
                .groupBy("url").agg(F.max("warc_ts").alias("_stored"))
            stale = pages.select("url", "warc_ts") \
                .join(stored_ts, "url") \
                .filter(F.col("warc_ts") < F.col("_stored")) \
                .select("url").localCheckpoint(eager=True)
            n_stale = stale.count()
            overlap = overlap.join(stale, "url", "left_anti") \
                .localCheckpoint(eager=True)
            # stale urls must not reach the insert leg either: they are
            # neither brand-new (they're stored) nor in overlap now
            pages = pages.join(stale, "url", "left_anti")
            page_urls = pages.select("url").dropDuplicates(["url"])
        else:
            n_stale = 0
        if not overlap.isEmpty():
            # a url is UNCHANGED when its stored triple multiset equals
            # the fresh extraction: one order-insensitive per-url
            # fingerprint on each side (sorted row-hash list, so
            # multiplicity counts), inner-joined on url. Only OVERLAP
            # pages are extracted here — brand-new urls skip straight to
            # the insert leg, so the batch's dominant extraction cost is
            # paid once, not twice, on the mostly-new-urls crawl shape.
            new_raw = norm_triples(raw_triples(
                pages.join(overlap, "url", "left_semi"))) \
                .localCheckpoint(eager=True)

            def _fp(rows: DataFrame) -> DataFrame:
                h = F.xxhash64("pred", "confidence", "subj_norm",
                               "obj_norm")
                return rows.join(overlap, "url", "left_semi") \
                    .select("url", h.alias("_h")) \
                    .groupBy("url") \
                    .agg(F.xxhash64(F.sort_array(F.collect_list("_h")))
                         .alias("_fp"))

            old_fp = _fp(_read_raw(spark, state_dir)) \
                .withColumnRenamed("_fp", "_old")
            new_fp = _fp(new_raw).withColumnRenamed("_fp", "_new")
            # LEFT joins from overlap, null-safe compare: a url whose
            # fresh crawl extracts ZERO triples has no new_fp row at all
            # — an inner join would silently drop it as "unchanged" when
            # it must be purged (null fp != stored fp)
            diff_urls = overlap.join(old_fp, "url", "left") \
                .join(new_fp, "url", "left") \
                .filter(~F.col("_old").eqNullSafe(F.col("_new"))) \
                .select("url")
            overlap = overlap.join(diff_urls, "url", "left_semi") \
                .localCheckpoint(eager=True)
        stats: dict = {"initialized": False, "replayed": False}
        n_over = overlap.count()
        stats["reingested_urls"] = n_over
        stats["stale_dropped"] = n_stale
        if batch_id is not None:
            # record the WHOLE surviving batch's crawl timestamps now —
            # including unchanged-skipped recrawls, which never reach the
            # insert leg: their newer ts must still arm the guard, or a
            # delayed middle-aged crawl with different content would later
            # replace content a newer crawl already confirmed. The insert
            # leg's own append no-ops on the existing batch dir. Replay
            # safety: an own-batch ts in the store compares EQUAL, and the
            # stale filter is strictly-less-than, so a crash-and-rerun
            # still reaches the fingerprint guard and converges.
            _append_crawl_ts(pages, state_dir, batch_id, st.meta)
        # the insert url set MATERIALIZES BEFORE the purge: the purge
        # swaps raw partition files, and a lazy plan over the pre-purge
        # read would fail FILE_NOT_EXIST when evaluated afterwards. Both
        # sets are batch-bounded (small), never corpus-sized.
        keep = page_urls.join(stored_urls, "url", "left_anti") \
            .unionByName(overlap).dropDuplicates(["url"]) \
            .localCheckpoint(eager=True)
        stats["guard_sec"] = round(time.perf_counter() - t_guard, 3)
        if n_over:
            t0 = time.perf_counter()
            stats["purge"] = _incremental_delete_locked(
                spark, overlap, state_dir, threshold, purge_id)
            stats["purge_sec"] = round(time.perf_counter() - t0, 3)
        # insert: BRAND-NEW urls + the changed re-crawls (their old rows
        # are gone now). Unchanged re-crawls are dropped entirely.
        to_insert = pages.join(keep, "url", "left_semi")
        if to_insert.isEmpty():
            if batch_id is not None:
                # RELOAD the manifest: the purge leg may have appended
                # its own completed-marker since ``st.meta`` was read —
                # saving the stale dict would clobber it
                _mark_completed(state_dir, _load_meta(state_dir), batch_id)
            stats["update"] = {"skipped": True, "reason": "no changes"}
            return stats
        t0 = time.perf_counter()
        stats["update"] = _incremental_update_locked(
            spark, to_insert, state_dir, threshold, batch_id)
        stats["update_sec"] = round(time.perf_counter() - t0, 3)
        _auto_compact(spark, state_dir, stats, compact_every_n_batches)
        return stats
