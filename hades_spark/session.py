"""SparkSession construction with scale-appropriate defaults.

Centralises the config we rely on everywhere:
- AQE on (runtime re-planning, skew-join splitting at 100 TB),
- Arrow on (the Python stages are ``mapInArrow`` kernels and Arrow-backed
  local frames),
- shuffle partitions sized to the local core count (on a real cluster this
  is set by spark-submit; 2-3x total cores is the usual starting point),
- a generated-code cache that holds the KG engine's working set.

The codegen cache. Spark compiles each whole-stage-codegen and expression
class with Janino and keeps the result in one JVM-wide LRU keyed by the
generated source. Its size, ``spark.sql.codegen.cache.maxEntries``, is a
static conf with a default of 100, and it is read once, when the first
class of the JVM compiles. The incremental operations overflow that
default: a 100-page ``incremental_update`` generates 245 distinct
classes and a delete 120, so at 100 entries the LRU evicted each class
before its next use. Every update then recompiled about 315 classes (a
delete 283, an init 111-124) and ran them as fresh bytecode that the JIT
had not compiled yet. ``CODEGEN_CACHE_ENTRIES`` sizes the cache to every
KG operation's classes together, with margin, so a warm operation
compiles nothing once adaptive execution has run its plan in the stage
orders it takes: AQE numbers a query's codegen stages in the order it
creates their query stages, which follows the order earlier stages
finish in, and the number is part of the class name, so a new order
compiles those stages once more. Tasks read the size from the SQL conf
that Spark propagates as task local properties, where an executor's
first compile finds it (checked in local mode only, where driver and
executors share one JVM and one cache). A session built outside
``get_spark`` keeps Spark's 100 (``scripts/submit_kg.py``, whose one
``materialize_kg`` runs each stage once, has nothing to reuse), and so
does a JVM whose first class compiled before a ``get_spark`` session set
the conf.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``. One round of init (400 Zipf
#: pages), two 100-page updates, a delete, a reingest, a distributed build
#: and ``materialize_kg`` generates 619 distinct classes in one
#: ``local[4]`` session. At this cap a second round on fresh state dirs
#: compiles 0 to 8 and a third 0 to 4 (stage orders an earlier round did
#: not take, see above). The cap is about 3x the measured set, so
#: larger batches' plan variants and the other operators sharing a JVM
#: still fit; JVM metaspace stayed near 180 MB with the cap at 100 or here.
CODEGEN_CACHE_ENTRIES = 2000

#: app ids whose python-worker pool has been (or is being) pre-warmed
_WARMED_APPS: set[str] = set()


def _warm_python_workers(spark: SparkSession, slots: int) -> None:
    """Fork + warm the python worker pool in the background.

    The first Python stage of a fresh session pays a serialized cold
    start: daemon launch, one worker fork per task slot, and a per-worker
    import storm (pyarrow + this package's regex-compiling text modules)
    — measured at 4-5s of wall on local[32], charged to whatever query
    happens to run first. Running one trivial mapInArrow pass over
    ``slots`` partitions from a daemon thread at session build moves that
    cost off the query path: worker reuse (`spark.python.worker.reuse`,
    default true) keeps the warmed workers alive for every later stage.

    The warm function imports the extraction hot-path modules so workers
    are module-warm, not just process-warm. Failures are swallowed —
    warming is an optimization, never a correctness dependency."""

    def _warm(it):
        from .textcore import route, svo  # noqa: F401  (worker preload)

        for batch in it:
            yield batch

    def _run():
        try:
            spark.range(0, slots, 1, slots).mapInArrow(_warm, "id long") \
                .write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # session stopped early / noop sink unavailable

    def _run_jvm():
        # One-time lazy JVM class inits that otherwise land inside the
        # first query to touch them. Spark 4's collation-aware case
        # mapping (CollationAwareUTF8String) loads the ICU tables in a
        # static initializer on the first NON-ASCII lower()/upper():
        # measured 4.3s on an idle JVM and 10-16s when 32 task threads
        # convoy on the class-init monitor mid-stage (the kg extraction
        # stage's normalize_surface_col was paying exactly this).
        try:
            spark.sql(
                "SELECT lower('ÄÖÜß'), upper('äöüß'), initcap('äöüß')"
            ).collect()
        except Exception:
            pass
        # generic plan-shape warm pass over synthetic range data: compiles
        # and JITs the shared execution machinery (whole-stage codegen /
        # janino, HashAggregate, BroadcastExchange, shuffle subsystem,
        # TakeOrderedAndProject, Window) so the first REAL query of a
        # session doesn't pay the cold paths. Deliberately generic — it
        # touches no user tables and no real query text, so nothing is
        # precomputed; measured ~1s off the first aggregation/join
        # queries of a fresh session.
        try:
            from pyspark.sql import Window, functions as F

            r = spark.range(0, 1000)
            agg = r.groupBy((F.col("id") % 7).alias("k")) \
                   .agg(F.sum("id").alias("s"), F.count("*").alias("c"))
            agg.join(F.broadcast(
                        spark.range(0, 7).withColumnRenamed("id", "k")),
                     "k") \
               .orderBy(F.desc("s")).limit(5).collect()
            w = Window.partitionBy((F.col("id") % 3).alias("p")) \
                      .orderBy("id")
            r.select(F.sum("id").over(w).alias("x")) \
             .write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    threading.Thread(target=_run, name="hades-worker-warmup",
                     daemon=True).start()
    threading.Thread(target=_run_jvm, name="hades-jvm-warmup",
                     daemon=True).start()


def get_spark(
    app_name: str = "hades_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    Args:
        app_name: Spark application name.
        master: e.g. ``local[8]``; defaults to ``local[$SPARK_GRAFT_CPUS]``
            (or ``local[*]``) when unset. On a real cluster pass None and
            let spark-submit decide.
        shuffle_partitions: override for ``spark.sql.shuffle.partitions``.
        extra_conf: additional key/value config pairs; they override the
            defaults above, ``spark.sql.codegen.cache.maxEntries`` too.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        else:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # pandas-UDF-heavy scans want more, smaller splits than the 128MB
        # default: split count caps stage parallelism, and per-split Arrow
        # batches pipeline better through the python workers
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()

    # pre-warm the python worker pool once per app, local mode only (on a
    # cluster, executor counts/dynamic allocation make a one-shot warm
    # pass meaningless; executors warm on first real stage instead).
    # Opt-out for callers that never run Python stages.
    if (os.environ.get("HADES_SKIP_WORKER_WARMUP") != "1"
            and spark.sparkContext.master.startswith("local")):
        app_id = spark.sparkContext.applicationId
        if app_id not in _WARMED_APPS:
            _WARMED_APPS.add(app_id)
            slots = spark.sparkContext.defaultParallelism
            _warm_python_workers(spark, slots)
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-generated parquet tables."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
