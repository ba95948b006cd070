"""SparkSession factory with the engine's scale posture baked in.

Local mode is for tests/bench only; the same config block is what we would
ship to a 1000-executor cluster (AQE on, skew-join handling, sensible
broadcast threshold). ``spark.sql.shuffle.partitions`` is sized from the
local core count — on a real cluster this is left to AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "funnel_report_etl_pipeline__spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for the local core count so the driver's
    bench harness controls parallelism.
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
    is no module state to clear alongside it. Failures are swallowed
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
