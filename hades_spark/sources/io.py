"""Table IO abstraction: one module gating every write.

On a runtime with an Iceberg catalog the same calls route to
``df.writeTo(tbl).append()`` / ``MERGE INTO``; in this sandbox they produce
an identical partition layout on plain parquet paths (``tbl/part=.../``),
so the pipeline code is catalog-agnostic (SURVEY §7.0 / §7.4.5).

Key behaviors re-expressed from the reference:
- **idempotent upsert** (``onDuplicate=replace`` NDJSON import,
  ``nl_graph_materialize.py:366-387``): ``upsert_by_key`` = read existing,
  anti-join old rows whose key reappears, union new, atomic swap.
- **salted repartition** (north-rule skew handling; reference is
  single-node so had none — SURVEY §4 O12): spread hot partition keys over
  ``n_salts`` shuffle buckets.
- **partition-pruned reads**: filters on the partition column prune
  directories for free.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.localdf import arrow_local_df


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None,
                mode: str = "overwrite") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read with crash-window healing: restore a whole-table ``.bak``
    (interrupted ``replace_table`` swap) and any partition-leaf ``.bak``
    (interrupted ``_upsert_partition_scoped`` leaf swap) BEFORE the scan —
    a plain ``spark.read`` of a half-swapped table would silently miss the
    renamed-away partition."""
    p = Path(path)
    _recover_table(p)
    if p.exists():
        _recover_partitions(p)
    return spark.read.parquet(path)


def replace_table(df: DataFrame, path: str,
                  partition_by: list[str] | None = None) -> None:
    """ATOMIC full-table replace: write to a hidden tmp dir, swap via
    rename-to-bak + rename-in, drop bak. Unlike a plain
    ``mode('overwrite')`` write (which DELETES the live dir before the
    job commits), a crash at any point leaves either the old or the new
    table readable — ``recover_table`` (called here and by readers that
    care) heals the one-rename window."""
    p = Path(path)
    _recover_table(p)
    tmp = p.parent / f".{p.name}.tmp-{uuid.uuid4().hex[:8]}"
    write_table(df, str(tmp), partition_by=partition_by)
    bak = p.parent / f".{p.name}.bak-{uuid.uuid4().hex[:8]}"
    if p.exists():
        p.rename(bak)
    tmp.rename(p)
    shutil.rmtree(bak, ignore_errors=True)


def recover_table(path: str) -> None:
    """Public wrapper over the whole-table crash-window healer (restore
    the newest ``.bak`` when the live dir is missing)."""
    _recover_table(Path(path))


def hashable_columns(df: DataFrame) -> list[str]:
    """Columns xxhash64 accepts: Spark rejects MapType RECURSIVELY (a map
    nested inside an array/struct also fails), so exclude any dtype whose
    string contains 'map<'. Shared by the salting helpers here and in
    operators/skew.py."""
    cols = [c for c, t in df.dtypes if "map<" not in t]
    return cols or df.columns


def salted_repartition(df: DataFrame, key_col: str, n_partitions: int,
                       n_salts: int = 8,
                       salt_cols: list[str] | None = None) -> DataFrame:
    """Repartition on (key, salt) so a single hot key spreads over
    ``n_salts`` buckets; drop the salt after the exchange.

    The salt is a hash of row CONTENT (``salt_cols``, default: every
    column), never ``monotonically_increasing_id()``: a content hash gives
    the same partition assignment when an upstream task is retried, so a
    mid-write retry can't duplicate/lose rows (the classic nondeterministic-
    repartition hazard)."""
    cols = salt_cols if salt_cols else hashable_columns(df)
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols]), n_salts)
    )
    return salted.repartition(n_partitions, F.col(key_col), F.col("_salt")) \
                 .drop("_salt")


def _nullsafe_on(left, right, cols):
    """eqNullSafe conjunction over ``cols`` — one key-matching semantic for
    BOTH upsert paths (a NULL key must replace an existing NULL key)."""
    cond = None
    for c in cols:
        e = left[c].eqNullSafe(right[c])
        cond = e if cond is None else cond & e
    return cond


def upsert_by_key(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    key_cols: list[str],
    partition_by: list[str] | None = None,
    delete_keys: DataFrame | None = None,
    broadcast_keys: bool = True,
) -> None:
    """MERGE-INTO semantics on a parquet path: rows in ``new_rows`` replace
    existing rows with the same key; everything else is kept. Write goes to
    a temp dir then atomically swaps, so a crash mid-write never leaves a
    half table (the tmp-rename pattern of ``state_manager.py:84-117``).

    ``delete_keys`` folds a DELETE into the SAME pass: rows matching one of
    those keys are dropped (unless re-added by ``new_rows``). A caller that
    would otherwise run ``delete_by_key`` + ``upsert_by_key`` back-to-back
    pays ONE table read + ONE affected-partition rewrite instead of two —
    at 100 TB the table pass IS the cost. ``broadcast_keys=False`` keeps
    the key matches as shuffle joins for key sets too large to broadcast
    (e.g. a component-merge storm's dead-edge set)."""
    p = Path(path)
    _recover_table(p)
    # key sets only feed semi/anti joins: no dedup (Spark would keep it
    # and pay an exchange for nothing)
    all_keys = new_rows.select(*key_cols)
    if delete_keys is not None:
        all_keys = all_keys.unionByName(delete_keys.select(*key_cols))
    if p.exists() and partition_by:
        _upsert_partition_scoped(spark, new_rows, p, key_cols, partition_by,
                                 keys_df=all_keys,
                                 broadcast_keys=broadcast_keys)
        return

    if p.exists():
        existing = spark.read.parquet(path).alias("_ex")
        keys = (F.broadcast(all_keys) if broadcast_keys else all_keys) \
            .alias("_keys")
        # NULL-SAFE key match, same as the partition-scoped path: plain
        # equality would never match a NULL key, so a NULL-key row in
        # new_rows would be appended NEXT TO the old NULL-key row instead
        # of replacing it
        keep = existing.join(
            keys, _nullsafe_on(existing, keys, key_cols), "left_anti")
        merged = keep.unionByName(new_rows)
    else:
        merged = new_rows

    # the merged plan lazily reads the old files, so write the temp table
    # FIRST (materializing the merge), then swap directories atomically
    tmp = Path(str(p.parent / f".{p.name}.tmp-{uuid.uuid4().hex[:8]}"))
    write_table(merged, str(tmp), partition_by=partition_by)
    bak = Path(str(p.parent / f".{p.name}.bak-{uuid.uuid4().hex[:8]}"))
    if p.exists():
        p.rename(bak)
    tmp.rename(p)
    shutil.rmtree(bak, ignore_errors=True)


def _upsert_partition_scoped(
    spark: SparkSession,
    new_rows,
    p: Path,
    key_cols: list[str],
    partition_by: list[str],
    keys_df: DataFrame | None = None,
    broadcast_keys: bool = True,
) -> None:
    """MERGE INTO on a partitioned table, touching ONLY the partitions that
    appear in ``new_rows`` (Iceberg dynamic-overwrite semantics; the seam
    where ``df.writeTo(tbl).overwritePartitions()`` plugs in). At 100 TB a
    one-partition upsert reads and rewrites one partition, not the table.

    Steps: (1) collect the affected partition set once = partitions named
    by the new rows PLUS any partition currently holding one of the keys.
    When ``partition_by`` is a subset of ``key_cols`` a key names its own
    partition, so the keys' partition values ARE that set; otherwise
    detecting moved keys takes a column-pruned scan of the key + partition
    columns across ALL partitions; (2) semi-join the existing table to
    the affected partitions with NULL-SAFE equality (plain equality would
    never match a NULL partition value, and the swap would then DELETE the
    live __HIVE_DEFAULT_PARTITION__ data); (3) anti-join out replaced keys
    (null-safe), union the new rows; (4) write the merged affected
    partitions to a temp dir; (5) swap the partition dirs present in the
    temp output or emptied by the merge. Untouched partition directories
    are never REWRITTEN.

    Atomicity is PER PARTITION (the Iceberg catalog gives whole-table
    snapshot atomicity; this parquet stand-in cannot): each swap is
    rename-to-bak + rename-in + drop-bak, and ``_recover_partitions``
    (called on entry) restores any partition whose swap crashed between
    the two renames, so a crash never loses data across a re-run.

    ``new_rows=None`` + ``keys_df`` flips this into a partition-scoped
    DELETE-by-key: rows matching a key are dropped, nothing is added, and
    only partitions holding a matching key are rewritten.
    ``broadcast_keys=False`` keeps the key matches as shuffle joins — the
    delete path's default, since a component-merge storm can produce a
    dead-key set too large to broadcast.
    """
    _recover_partitions(p)
    nullsafe_on = _nullsafe_on

    raw_keys = (keys_df if keys_df is not None else new_rows) \
        .select(*key_cols)
    keys = (F.broadcast(raw_keys) if broadcast_keys else raw_keys) \
        .alias("_keys")
    if set(partition_by) <= set(key_cols):
        # keys cannot move partitions; the new rows' keys are among them
        affected = raw_keys.select(*partition_by)
    else:
        # partitions currently holding one of the keys (key + partition
        # columns only => column-pruned scan of all partitions)
        scan = spark.read.parquet(str(p)) \
            .select(*key_cols, *partition_by).alias("_scan")
        affected = scan.join(keys, nullsafe_on(scan, keys, key_cols),
                             "left_semi").select(*partition_by)
        if new_rows is not None:
            affected = affected.unionByName(new_rows.select(*partition_by))
    # collected ONCE: the rows drive both the scan's semi-join (a local
    # broadcast, no second run of the plan) and the dir swap below
    aff_rows = affected.distinct().collect()
    aff = F.broadcast(arrow_local_df(spark, aff_rows, ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in affected.schema.fields))).alias("_aff")

    # an upsert reads the table with its new rows' schema: no footer
    # inference job, and partition values typed as the rows type them
    reader = spark.read if new_rows is None \
        else spark.read.schema(new_rows.schema)
    live = reader.parquet(str(p)).alias("_live")
    existing = live.join(aff, nullsafe_on(live, aff, partition_by),
                         "left_semi")
    existing_a = existing.alias("_ex")
    keep = existing_a.join(
        keys, nullsafe_on(existing_a, keys, key_cols), "left_anti")
    merged = keep if new_rows is None \
        else keep.unionByName(new_rows.select(*existing.columns))

    tmp = p.parent / f".{p.name}.tmp-{uuid.uuid4().hex[:8]}"
    write_table(merged, str(tmp), partition_by=partition_by)

    # swap every affected partition dir: ones present in the temp output,
    # plus ones the merge left EMPTY (all rows moved out) — those must be
    # dropped from the live table. Drop candidates are derived from the
    # LIVE partition dirs on disk (Spark's own escaping, decoded), never by
    # re-encoding values by hand — hand-encoding misses Hive %-escaping and
    # the NULL -> __HIVE_DEFAULT_PARTITION__ mapping, silently leaving the
    # moved-away rows live (duplicate keys under MERGE semantics).
    depth = len(partition_by)
    pattern = "/".join(["*=*"] * depth)
    tmp_leaves = {leaf.relative_to(tmp) for leaf in tmp.glob(pattern)}
    affected_vals = {
        tuple(_partition_value_str(r[c]) for c in partition_by)
        for r in aff_rows
    }
    live_affected = {
        leaf.relative_to(p) for leaf in p.glob(pattern)
        if _decode_partition_leaf(leaf.relative_to(p)) in affected_vals
    }
    for rel in sorted(tmp_leaves | live_affected, key=str):
        live_leaf = p / rel
        tmp_leaf = tmp / rel
        live_leaf.parent.mkdir(parents=True, exist_ok=True)
        if tmp_leaf.exists():
            bak = live_leaf.parent / \
                f".{live_leaf.name}.bak-{uuid.uuid4().hex[:8]}"
            if live_leaf.exists():
                live_leaf.rename(bak)
            tmp_leaf.rename(live_leaf)
            shutil.rmtree(bak, ignore_errors=True)
        elif live_leaf.exists():
            # partition emptied by the merge (every key moved elsewhere):
            # rename to a DROP marker — distinct from the .bak swap marker
            # so a crash between rename and rmtree is never mistaken for an
            # interrupted swap and resurrected (_recover_partitions always
            # deletes .drop-* markers, never restores them)
            drop = live_leaf.parent / \
                f".{live_leaf.name}.drop-{uuid.uuid4().hex[:8]}"
            live_leaf.rename(drop)
            shutil.rmtree(drop, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def _partition_value_str(v) -> str | None:
    """Value -> the string Spark writes into the partition dir name
    (None stays None; booleans lowercase; everything else str())."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _decode_partition_leaf(rel: Path) -> tuple[str | None, ...]:
    """Decode a Hive-style partition dir path (``col=value/...``) back to
    the value tuple: %-unescape (Spark escapes with URL-style %XX) and map
    ``__HIVE_DEFAULT_PARTITION__`` back to None."""
    from urllib.parse import unquote

    vals: list[str | None] = []
    for seg in rel.parts:
        _, _, raw = seg.partition("=")
        v = unquote(raw)
        vals.append(None if v == "__HIVE_DEFAULT_PARTITION__" else v)
    return tuple(vals)


def _recover_table(p: Path) -> None:
    """Heal the whole-table swap's crash window: if the live path is
    missing but a sibling ``.{name}.bak-*`` exists (crash between
    rename-to-bak and rename-in), restore the newest bak — otherwise a
    re-run would see no table and silently drop all prior rows."""
    if p.exists():
        return
    baks = sorted(p.parent.glob(f".{p.name}.bak-*"),
                  key=lambda b: b.stat().st_mtime)
    if baks:
        baks[-1].rename(p)


def _recover_partitions(p: Path) -> None:
    """Restore partitions whose swap crashed between rename-to-bak and
    rename-in: a ``.<name>.bak-*`` dir whose live sibling is missing is
    the pre-crash data — move it back. ``.drop-*`` markers are the
    opposite: an INTENTIONALLY emptied partition whose rmtree was
    interrupted — always delete, never restore (restoring would resurrect
    rows whose keys already moved to another partition: duplicate keys)."""
    for drop in p.rglob(".*.drop-*"):
        shutil.rmtree(drop, ignore_errors=True)
    for bak in p.rglob(".*.bak-*"):
        name = bak.name
        live_name = name[1:name.rindex(".bak-")]
        live = bak.parent / live_name
        if not live.exists():
            bak.rename(live)
        else:
            shutil.rmtree(bak, ignore_errors=True)


def delete_where(spark: SparkSession, path: str, condition,
                 partition_by: list[str] | None = None) -> None:
    """Row-level delete (``DELETE FROM tbl WHERE ...`` — S8 semantics):
    rewrite the table without matching rows, atomic swap. Pass
    ``partition_by`` for partitioned tables — the rewrite must keep the
    directory layout or later partition-scoped upserts would merge against
    a flattened table."""
    p = Path(path)
    _recover_table(p)
    if not p.exists():
        return
    # heal interrupted partition-leaf swaps FIRST: a leaf renamed to .bak
    # but not yet replaced is live data, and the whole-table rewrite below
    # would otherwise permanently drop it
    _recover_partitions(p)
    # SQL DELETE removes only rows where the predicate is TRUE; rows where
    # it evaluates to NULL are KEPT (NOT NULL is NULL and would be filtered
    # out by a bare ~condition).
    remaining = spark.read.parquet(path).filter(
        ~F.coalesce(condition, F.lit(False)))
    tmp = str(p.parent / f".{p.name}.tmp-{uuid.uuid4().hex[:8]}")
    w = remaining.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    bak = str(p.parent / f".{p.name}.bak-{uuid.uuid4().hex[:8]}")
    p.rename(bak)
    Path(tmp).rename(p)
    shutil.rmtree(bak, ignore_errors=True)


def delete_by_key(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: list[str],
    partition_by: list[str] | None = None,
    broadcast_keys: bool = False,
) -> None:
    """``DELETE FROM tbl WHERE (key) IN (SELECT key FROM keys)`` with the
    key set as a DATAFRAME — the scale-safe sibling of ``delete_where``:
    the keys are anti-joined distributed (shuffle join by default;
    ``broadcast_keys=True`` for provably small sets), never collected to
    the driver or inlined as an ``isin`` literal list, so a key set of any
    size works without blowing the driver or the plan.

    On a partitioned table only the partitions holding a matching key are
    read and rewritten (same column-pruned key scan + per-partition atomic
    swap as ``upsert_by_key``); unpartitioned tables take one anti-join +
    whole-table atomic swap."""
    p = Path(path)
    _recover_table(p)
    if not p.exists():
        return
    _recover_partitions(p)
    if partition_by:
        _upsert_partition_scoped(
            spark, None, p, key_cols, partition_by,
            keys_df=keys, broadcast_keys=broadcast_keys)
        return
    live = spark.read.parquet(str(p)).alias("_live")
    k = keys.select(*key_cols)
    k = (F.broadcast(k) if broadcast_keys else k).alias("_keys")
    remaining = live.join(k, _nullsafe_on(live, k, key_cols), "left_anti")
    tmp = p.parent / f".{p.name}.tmp-{uuid.uuid4().hex[:8]}"
    write_table(remaining, str(tmp))
    bak = p.parent / f".{p.name}.bak-{uuid.uuid4().hex[:8]}"
    p.rename(bak)
    tmp.rename(p)
    shutil.rmtree(bak, ignore_errors=True)


def drain_batches(df, key_col: str, n_batches: int):
    """I5 paginated draining (``sync.py`` keyset pagination semantics):
    yield ``n_batches`` disjoint, collectively-exhaustive DataFrame slices
    of ``df``, each a predicate on the key — so every batch is an
    independent pushed-down scan, exactly like the reference's
    'start after last key, LIMIT n' drain loop but without a serial cursor.

    Numeric keys get true key-RANGE pages (approxQuantile bounds: each
    batch is a contiguous key interval, the keyset-pagination shape);
    non-numeric keys fall back to deterministic hash buckets
    (``pmod(xxhash64(key), n)`` — same stability guarantee, no ordering).
    Ranges are half-open ``(lo, hi]`` with the first batch left-unbounded,
    so rows are never duplicated or dropped regardless of bound ties.
    """
    dt = dict(df.dtypes)[key_col]
    numeric = dt in ("tinyint", "smallint", "int", "bigint",
                     "float", "double") or dt.startswith("decimal")
    if numeric and n_batches > 1:
        qs = [i / n_batches for i in range(1, n_batches)]
        bounds = df.stat.approxQuantile(key_col, qs, 0.001)
        if len(bounds) < n_batches - 1:
            # approxQuantile ignores NULLs; an all-NULL (or empty) key
            # column yields no bounds — fall back to hash buckets, which
            # handle NULLs uniformly
            numeric = False
    if numeric and n_batches > 1:
        edges = [None] + bounds + [None]
        for i in range(n_batches):
            lo, hi = edges[i], edges[i + 1]
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(key_col) > F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(key_col) <= F.lit(hi))
            if i == 0:
                # NULL keys ride the first batch: a NULL comparison is
                # NULL and would otherwise drop those rows from EVERY
                # batch, breaking the exhaustiveness contract
                cond = cond | F.col(key_col).isNull()
            yield df.filter(cond)
    else:
        for i in range(n_batches):
            yield df.filter(
                F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_batches)) == i)
