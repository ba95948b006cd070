"""Source layer: testdata catalog + reference-compatible CSV readers.

Two source families:

* ``TestDataCatalog`` — the driver's TPC-H-ish parquet tables
  (/root/testdata/sf*/, TESTDATA.md). Parquet, self-describing, columnar;
  all engine queries run on these.
* ``read_funnel_csv`` — compatibility reader for the reference's
  directory-per-day CSV layout ({base}/{dd_mm_yyyy}/{dataset}-{date}.csv,
  reference report_engine.py:99-194, docs/DATA_SOURCES.md:7-17). One
  multi-path scan per window — never a per-day query loop.

At 100 TB the CSV layout would be converted once to Parquet partitioned by
(event_date, entity_id-bucket); ``read_funnel_csv`` exists so a user of the
reference can point the engine at their existing landing zone unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from funnel_report_etl_pipeline__spark.sources.datespec import DateWindow

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


@dataclass
class TestDataCatalog:
    """Lazy catalog over one scale-factor directory of parquet tables.

    Registers each table as a temp view on first access so both the
    DataFrame API and ``spark.sql`` can reach it. Views are per-SparkSession
    global; re-registration is idempotent.
    """

    spark: SparkSession
    sf_dir: str = DEFAULT_SF_DIR
    _cache: dict[str, DataFrame] = field(default_factory=dict)

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            # runtime-settable (verified): needed even when the caller built
            # the session without funnel_report_etl_pipeline__spark.session
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # day-grain queries render days via date_format under the
            # session timezone; DuckDB's naive timestamps are effectively
            # UTC, so pin the session TZ — parity must not depend on the
            # container's TZ being UTC
            self.spark.conf.set("spark.sql.session.timeZone", "UTC")
            # events.ts as parquet micros with isAdjustedToUTC=false must
            # read as LTZ (== DuckDB's naive read under a UTC session), not
            # TIMESTAMP_NTZ — NTZ breaks unix_micros() and the funnel plans
            self.spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            df = self.spark.read.parquet(path)
            if name == "events" and dict(df.dtypes).get("ts") == "bigint":
                # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
                # reader rejects; with nanosAsLong it arrives as an epoch-nanos
                # long. Truncate to micros (matching DuckDB's ns→µs read) and
                # restore the timestamp type so downstream plans are identical.
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            df.createOrReplaceTempView(name)
            self._cache[name] = df
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        # catalog.lineitem / catalog.events sugar
        if name.startswith("_"):
            raise AttributeError(name)
        return self.table(name)


_CATALOGS: dict[tuple[int, str], TestDataCatalog] = {}


def catalog_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shared per-(session, sf_dir) catalog so repeated query builds reuse
    the cached DataFrames/temp views instead of re-reading parquet footers
    with a fresh catalog per call (the registry's `_t` helpers route here)."""
    key = (id(spark), sf_dir)
    cat = _CATALOGS.get(key)
    if cat is None or cat.spark is not spark:
        cat = TestDataCatalog(spark, sf_dir)
        _CATALOGS[key] = cat
    return cat.table(name)


# ---------------------------------------------------------------------------
# Reference-compatible CSV sources
# ---------------------------------------------------------------------------

# dataset name → filename stem (reference report_engine.py:99,126,154,180)
_FUNNEL_DATASETS = {
    "uf_stages": "uf-stages-user-funnel",
    "otp_summary": "otp-summary-user-funnel",
    "discovery_summary": "discovery-summary-user-funnel",
    "user_funnel": "user-funnel",
}


def funnel_csv_paths(base: str, dataset: str, window: DateWindow) -> list[str]:
    """Exact per-day paths for a window — the Spark analogue of the
    reference's path construction (report_engine.py:72, 84, 99)."""
    stem = _FUNNEL_DATASETS[dataset]
    return [
        os.path.join(base, d.strftime("%d_%m_%Y"), f"{stem}-{d.strftime('%d_%m_%Y')}.csv")
        for d in window.days()
    ]


def _filesystem(spark: SparkSession, paths: list[str]) -> tuple:
    """(Path class, FileSystem) for a non-empty list of paths under one base.

    The FileSystem is resolved once, from the first path, through the
    Hadoop API, so HDFS/S3/GCS work as well as file:// (os.path.exists only
    sees the driver's local disk); every further path then costs one JVM
    round trip, not a ``getFileSystem`` lookup each."""
    # one lookup by full name: the attribute chain jvm.org.apache... costs
    # five round trips, four of them classpath misses that scan every jar
    path_cls = getattr(spark.sparkContext._jvm, "org.apache.hadoop.fs.Path")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return path_cls, path_cls(paths[0]).getFileSystem(hconf)


def _existing_paths(spark: SparkSession, paths: list[str]) -> list[str]:
    """Filter to paths that exist (exact per-path ``exists``)."""
    if not paths:
        return []
    path_cls, fs = _filesystem(spark, paths)
    return [p for p in paths if fs.exists(path_cls(p))]


def _matching_globs(spark: SparkSession, globs: list[str]) -> list[str]:
    """Keep only glob patterns that match ≥1 path (Hadoop globStatus).
    Spark raises PATH_NOT_FOUND for a glob with zero matches, so an empty
    month in a window must be dropped BEFORE the read — not caught after,
    which would throw away the other months' data."""
    if not globs:
        return []
    path_cls, fs = _filesystem(spark, globs)
    out = []
    for g in globs:
        status = fs.globStatus(path_cls(g))
        if status is not None and len(status) > 0:
            out.append(g)
    return out


def month_glob_paths(base: str, dataset: str, window: DateWindow) -> list[str]:
    """Month-glob paths ``{base}/*{mm_yyyy}/{stem}-*.csv`` covering the
    window (reference S3: report_engine.py:84, 96-100) — an over-read that
    must be refined by the Date column (D2/F4)."""
    stem = _FUNNEL_DATASETS[dataset]
    return [os.path.join(base, f"*{m}", f"{stem}-*.csv") for m in window.month_prefixes()]


def read_funnel_csv(
    spark: SparkSession,
    base: str,
    dataset: str,
    window: DateWindow,
    schema: T.StructType,
    entity_id: str | None = None,
    strict: bool = False,
    month_glob: bool = False,
) -> DataFrame:
    """One multi-path CSV scan for the whole window.

    Replaces the reference's per-day / per-month query loop + client-side
    concat (report_engine.py:94-198, U1 at :103,:131,:159,:188) with a
    single scan; the union is implicit in the multi-path read and the
    entity filter is pushed to the scan by Catalyst (F1).

    ``month_glob=True`` reproduces the reference's stages strategy for
    month-partitioned layouts (S3 + D2/F4, report_engine.py:96-107): scan
    whole-month globs, then refine the over-read with an exact
    ``to_date(Date, 'dd-MM-yyyy') BETWEEN start AND end`` mask on the CSV
    Date column instead of relying on directory naming.

    ``strict=True`` → FAILFAST on malformed rows; default PERMISSIVE
    matches the reference's forgiving behavior (empty frame on error,
    report_engine.py:60-62).
    """
    if month_glob:
        if "Date" not in schema.fieldNames():
            raise ValueError(f"{dataset}: month_glob needs a Date column to refine")
        paths = _matching_globs(spark, month_glob_paths(base, dataset, window))
        if not paths:
            return spark.createDataFrame([], schema)
        reader = (
            spark.read.schema(schema)
            .option("header", True)
            .option("mode", "FAILFAST" if strict else "PERMISSIVE")
        )
        df = reader.csv(paths)
        # try_to_date: a malformed Date cell must drop the row (PERMISSIVE
        # contract), not kill the job under Spark 4's ANSI default
        df = df.filter(
            F.try_to_date(F.col("Date"), "dd-MM-yyyy").between(
                F.lit(window.start), F.lit(window.end)
            )
        )
    else:
        paths = _existing_paths(spark, funnel_csv_paths(base, dataset, window))
        if not paths:
            return spark.createDataFrame([], schema)
        reader = (
            spark.read.schema(schema)
            .option("header", True)
            .option("mode", "FAILFAST" if strict else "PERMISSIVE")
        )
        df = reader.csv(paths)
    if entity_id is not None:
        key = "Entity_ID" if "Entity_ID" in schema.fieldNames() else "entity_id"
        df = df.filter(F.col(key) == entity_id)
    return df


def metadata_column_stats(spark: SparkSession, path: str, col: str) -> DataFrame:
    """COUNT/MIN/MAX of a parquet column served from FOOTER METADATA —
    no row data read. Uses the v2 parquet source's aggregate pushdown
    (`PushedAggregation` in the scan), which the engine's default v1
    source does not implement; both confs are scoped to this call and
    restored. At 100 TB this is the difference between profiling a table
    in seconds (footers only) and scanning it — the fast path behind
    `column_stats_orders`-style audits when exact NDV is not needed.
    The returned frame is materialized eagerly (collect + recreate) so
    the restored session confs cannot silently re-plan it later."""
    saved_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    saved_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try:
        df = spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(col).alias("min_val"),
            F.max(col).alias("max_val"),
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "PushedAggregation: [COUNT" not in plan:
            raise RuntimeError("aggregate pushdown did not engage:\n" + plan)
        rows = df.collect()
    finally:
        if saved_v1 is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", saved_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", saved_agg)
    return spark.createDataFrame(rows, df.schema)
