"""SparkSession factory with the engine's scale posture baked in.

Local mode is for tests/bench only; the same config block is what we would
ship to a 1000-executor cluster (AQE on, skew-join handling, sensible
broadcast threshold). ``spark.sql.shuffle.partitions`` is sized from the
local core count — on a real cluster this is left to AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class cache size (spark.sql.codegen.cache.maxEntries),
# see get_spark.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "funnel_report_etl_pipeline__spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for the local core count so the driver's
    bench harness controls parallelism.

    The session keeps Spark's generated classes across queries on purpose:
    ``spark.sql.codegen.cache.maxEntries`` is sized to the engine's working
    set, so a warm re-run of a plan shape reuses its compiled class instead
    of recompiling it with Janino. The cache holds code, never results:
    every query still recomputes its rows. The conf is static, so it takes
    effect only when this call starts the session (the first codegen fixes
    the cache size for the JVM's lifetime).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # ---- scale posture: identical on a real cluster ----
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # deterministic semantics across engines (DuckDB oracle parity)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # TIMESTAMP(NANOS) parquet (events.ts) is illegal for Spark's reader
        # by default; read as nanos-since-epoch long, converted in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet micros with isAdjustedToUTC=false would otherwise infer as
        # TIMESTAMP_NTZ (Spark 4 default), breaking unix_micros()/LTZ plans;
        # with the session TZ pinned to UTC the LTZ reading is identical to
        # DuckDB's naive-timestamp reading of the same file
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Arrow for the pandas-UDF slow path and toPandas at sinks
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # generated-class cache (LRU, default 100 entries): one
        # corpus_versioned benchmark pass (MERGE, change feed, MinHash dedup,
        # IVF serve) compiles ~150 distinct classes, so under the default
        # every warm pass evicted and recompiled 80-126 of them; with 1000
        # it recompiles none, and the headroom covers wider query mixes.
        # Static conf: set at session start or not at all.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # ---- local-mode only knobs ----
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # bucketed-table demos/tests write here, never into the repo
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
    )
    # NOTE: spark.driver.memory cannot be set here — the driver JVM is
    # already up before builder configs apply in pyspark local mode. Set it
    # via PYSPARK_SUBMIT_ARGS / spark-submit.
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_all_caches(spark: SparkSession) -> None:
    """Drop every cached/persisted block, then run a JVM GC — the
    between-queries hygiene step for single-JVM many-query harnesses
    (bench.py, tools/time_sweep.py, A/B probes).

    localCheckpoint pins MEMORY_AND_DISK RDDs for the session lifetime, so
    a ~200-query sweep accumulates checkpoint debt that GC-thrashes late
    memory-heavy queries (round-8 sweeps: bigram 77 s dirty vs 5.6 s
    clean). The engine keeps no materialized frame outside a query's own
    lineage, so dropping the session's blocks is the whole reset: there
    is no module state to clear alongside it.

    Cleared: the CacheManager's cached plans, every persistent RDD block
    (localCheckpoints included) and, through the GC, their bytes. Kept on
    purpose: Spark's generated-class cache (``get_spark``) and the JIT's
    compiled code. Both are code for plan shapes, not data: no row of an
    earlier query can reach a later one through them, and dropping them
    would only bill every query for recompiling classes the warm-up
    already compiled. Failures are swallowed
    (printed, not raised): if one query broke the JVM/session, the
    cleanup must not also destroy the harness run that is collecting the
    remaining results.
    """
    import sys as _sys

    try:
        spark.catalog.clearCache()
        it = (
            spark._jsparkSession.sparkContext()
            .getPersistentRDDs()
            .valuesIterator()
        )
        while it.hasNext():
            it.next().unpersist(False)
    except Exception as exc:  # noqa: BLE001 — harness hygiene, never fatal
        print(f"release_all_caches: {type(exc).__name__}: {exc}", file=_sys.stderr)
    try:
        # Round 15: explicit JVM GC as the LAST hygiene step, outside any
        # timed region. The unpersists above drop block references, but the
        # bytes linger until a collection happens to run; in a single-JVM
        # many-query harness the next query then pays the previous queries'
        # collection debt mid-measurement (quiet-machine A/B: the two
        # queries right after the allocation-heavy ann_* family —
        # assoc_rules_brand 5.07 s → 1.6 s, ann_recall_audit 3.71 s →
        # 1.6 s — while no query got slower; see OPTIMIZATION_r15.md).
        spark._jvm.System.gc()
    except Exception as exc:  # noqa: BLE001
        print(f"release_all_caches: {type(exc).__name__}: {exc}", file=_sys.stderr)


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: the count of Spark's
    ``CodegenMetrics`` compilation-time histogram. A generated-class cache
    hit compiles nothing, so a plan re-run in steady state adds 0."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
