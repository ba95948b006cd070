"""Reference-parity queries: one per SURVEY.md §2 inventory row.

These re-express every data operation of the reference pipeline
(report_engine.py — Drill SQL strings + pandas post-processing) on the
driver's testdata tables. The mapping of reference datasets onto testdata
roles follows FIXTURES.md §6: ``events`` plays the row-grain user_funnel,
``lineitem``/``orders`` play the numeric summary tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.functions.core import dsum, pct_of, pct_of_sql
from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# S2/P1/F1 — single-table scan with pushed-down equality predicate
# (reference report_engine.py:109-112: SELECT * ... WHERE Entity_ID = id)
# ---------------------------------------------------------------------------


@register(
    "scan_filter_eq",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE user_id = 7
    """,
    tags=("parity", "F1", "S2", "P1"),
)
def scan_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality predicate + column projection; Catalyst pushes both into
    the parquet scan (PushedFilters + ReadSchema)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") == 7)
        .select("event_id", "user_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# F2/F3 — IN-list + not-null + not-empty predicates
# (reference report_engine.py:181-182)
# ---------------------------------------------------------------------------


@register(
    "filter_in_notnull",
    oracle="""
    SELECT event_id, event_type
    FROM events
    WHERE event_type IN ('signup','purchase','error')
      AND event_type IS NOT NULL AND event_type <> ''
    """,
    tags=("parity", "F2", "F3"),
)
def filter_in_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3: IN-list + NOT NULL + not-empty predicates, all pushed to the
    scan (reference report_engine.py:181-182, 195-196)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("signup", "purchase", "error")
            & F.col("event_type").isNotNull()
            & (F.col("event_type") != "")
        )
        .select("event_id", "event_type")
    )


# ---------------------------------------------------------------------------
# F4 — date-range (BETWEEN) filter after parse
# (reference report_engine.py:104-107: month-glob over-read + exact mask;
#  here a single range predicate does partition pruning at scale)
# ---------------------------------------------------------------------------


@register(
    "date_between",
    oracle="""
    SELECT event_id, ts, user_id, event_type
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 23:59:59'
    """,
    tags=("parity", "F4"),
)
def date_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/D2: timestamp-range BETWEEN filter — the reference's month-glob
    over-read + client mask (report_engine.py:104-107) as one pruned scan."""
    return (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("ts").between(
                F.to_timestamp(F.lit("2024-01-10 00:00:00")),
                F.to_timestamp(F.lit("2024-01-20 23:59:59")),
            )
        )
        .select("event_id", "ts", "user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# A1 — ungrouped SUM(CAST(c AS DOUBLE)) (reference report_engine.py:123-125)
# ---------------------------------------------------------------------------


@register(
    "agg_sum_cast",
    oracle="""
    SELECT
      CAST(SUM(CAST(l_quantity      AS DECIMAL(22,4))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,4))) AS DOUBLE) AS sum_price,
      CAST(SUM(CAST(l_discount      AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc
    FROM lineitem
    """,
    tags=("parity", "A1"),
)
def agg_sum_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row sums; partial→final hash aggregation executor-side (the
    reference's per-day SUM + client combine collapses into this)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_discount").alias("sum_disc"),
    )


# ---------------------------------------------------------------------------
# A2/C2 — SUM(CAST(NULLIF(c,'') AS DOUBLE)) with the empty-string guard
# (reference report_engine.py:149-153)
# ---------------------------------------------------------------------------


@register(
    "agg_sum_nullif",
    oracle="""
    SELECT
      CAST(SUM(CAST(NULLIF(CAST(l_quantity AS VARCHAR), '') AS DECIMAL(22,4))) AS DOUBLE)
        AS sum_qty_nullif,
      CAST(SUM(CASE WHEN NULLIF(l_returnflag, '') IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_flagged
    FROM lineitem
    """,
    tags=("parity", "A2", "C2"),
)
def agg_sum_nullif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/C2: SUM over NULLIF(c,'') — the empty-string→NULL guard of the
    reference's discovery aggregation (report_engine.py:149-153)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.sum(
            F.nullif(F.col("l_quantity").cast("string"), F.lit("")).cast("decimal(22,4)")
        )
        .cast("double")
        .alias("sum_qty_nullif"),
        F.sum(
            F.when(F.nullif(F.col("l_returnflag"), F.lit("")).isNotNull(), 1).otherwise(0)
        ).alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# A3 — grouped count (reference report_engine.py:179-183)
# ---------------------------------------------------------------------------


@register(
    "grouped_count",
    oracle="""
    SELECT event_type, COUNT(event_type) AS cnt
    FROM events
    WHERE event_type IS NOT NULL AND event_type <> ''
    GROUP BY event_type
    """,
    tags=("parity", "A3"),
    bench=True,
)
def grouped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: grouped COUNT on a low-cardinality key (reference
    report_engine.py:179-183); partial/final hash agg, one small shuffle."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & (F.col("event_type") != ""))
        .groupBy("event_type")
        .agg(F.count("event_type").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# A4/A5 — partial→final re-aggregation. The reference runs one query per
# day and re-sums client-side (report_engine.py:121-131, 177-191); the
# engine expresses the same two-level aggregation declaratively and
# Spark's hash aggregate already computes partial sums per partition.
# ---------------------------------------------------------------------------


@register(
    "partial_final_agg",
    oracle="""
    SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS cnt,
           CAST(SUM(day_value) AS DOUBLE) AS total_value
    FROM (
      SELECT event_type, CAST(ts AS DATE) AS day,
             COUNT(*) AS cnt,
             SUM(CAST(value AS DECIMAL(22,4))) AS day_value
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ) per_day
    GROUP BY event_type
    """,
    tags=("parity", "A4", "A5"),
)
def partial_final_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5: per-day partial aggregates re-aggregated to entity grain —
    the reference's N+1 per-day query pattern (report_engine.py:121-131,
    177-191) as one declarative two-level groupBy."""
    ev = _t(spark, sf_dir, "events")
    per_day = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(22,4)")).alias("day_value"),
    )
    return per_day.groupBy("event_type").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("day_value").cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# A6 — column-wise truncate-then-sum (reference report_engine.py:222-225:
# astype(float).astype(int) per cell, then sum)
# ---------------------------------------------------------------------------


@register(
    "stage_totals",
    oracle="""
    SELECT
      CAST(SUM(CAST(TRUNC(CAST(l_quantity      AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_qty_t,
      CAST(SUM(CAST(TRUNC(CAST(l_extendedprice AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_price_t,
      CAST(SUM(CAST(TRUNC(CAST(l_tax           AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_tax_t
    FROM lineitem
    """,
    tags=("parity", "A6", "C3"),
)
def stage_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/C3: truncate-toward-zero per cell THEN sum (pandas
    astype(float).astype(int) order, reference report_engine.py:222-225)."""
    li = _t(spark, sf_dir, "lineitem")

    def tsum(c: str, alias: str):
        return F.sum(F.col(c).cast("double").cast("long")).alias(alias)

    return li.agg(
        tsum("l_quantity", "sum_qty_t"),
        tsum("l_extendedprice", "sum_price_t"),
        tsum("l_tax", "sum_tax_t"),
    )


# ---------------------------------------------------------------------------
# U1 — UNION ALL of per-window scans (reference pd.concat at
# report_engine.py:103,131,159,188). At scale this is one multi-range scan.
# ---------------------------------------------------------------------------


@register(
    "union_all_days",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt FROM (
      SELECT event_type FROM events
      WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-10 00:00:00'
      UNION ALL
      SELECT event_type FROM events
      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
    ) u GROUP BY event_type
    """,
    tags=("parity", "U1"),
)
def union_all_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION ALL of two window scans then re-aggregate — the
    reference's pd.concat of per-day frames (report_engine.py:103-188)."""
    ev = _t(spark, sf_dir, "events")

    def window(lo: str, hi: str) -> DataFrame:
        return ev.filter((F.col("ts") >= F.lit(lo).cast("timestamp")) & (F.col("ts") < F.lit(hi).cast("timestamp"))).select("event_type")

    u = window("2024-01-05 00:00:00", "2024-01-10 00:00:00").unionByName(
        window("2024-01-15 00:00:00", "2024-01-20 00:00:00")
    )
    return u.groupBy("event_type").agg(F.count("*").alias("cnt"))


# ---------------------------------------------------------------------------
# A8/F5 — conditional aggregation (reference report_engine.py:277-281:
# fi_req_ok = Success + Failed counts, picked by post-agg row filters)
# ---------------------------------------------------------------------------


@register(
    "conditional_sum",
    oracle="""
    SELECT
      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
        + COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_converted,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(22,4)) END) AS DOUBLE)
        AS purchase_value,
      COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
    FROM events
    """,
    tags=("parity", "A8", "F5"),
)
def conditional_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/F5: conditional aggregation replacing the reference's post-agg
    row filters (fi_req_ok = Success + Failed, report_engine.py:277-281)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", 1))
            + F.count(F.when(F.col("event_type") == "signup", 1))
        ).alias("n_converted"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(22,4)"))
        )
        .cast("double")
        .alias("purchase_value"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
    )


# ---------------------------------------------------------------------------
# J1 — scalar-aggregate cross join (reference report_engine.py:239-291:
# four 1-row frames combined by Python arithmetic → here broadcast cross
# join of 1-row aggregates + one wide select)
# ---------------------------------------------------------------------------


@register(
    "scalar_crossjoin",
    oracle="""
    SELECT li.sum_qty, o.n_orders, e.n_purchases,
           CAST(li.sum_qty / o.n_orders AS DOUBLE) AS qty_per_order,
           li.sum_qty - e.n_purchases AS qty_minus_purchases
    FROM
      (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(22,4))) AS DOUBLE) AS sum_qty FROM lineitem) li,
      (SELECT COUNT(*) AS n_orders FROM orders) o,
      (SELECT COUNT(*) AS n_purchases FROM events WHERE event_type = 'purchase') e
    """,
    tags=("parity", "J1"),
)
def scalar_crossjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: cross join of 1-row scalar aggregates + derived arithmetic —
    the reference's build_report_table scalar scope
    (report_engine.py:239-291) as broadcast joins."""
    li = _t(spark, sf_dir, "lineitem").agg(dsum("l_quantity").alias("sum_qty"))
    o = _t(spark, sf_dir, "orders").agg(F.count("*").alias("n_orders"))
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.count("*").alias("n_purchases"))
    )
    wide = li.crossJoin(F.broadcast(o)).crossJoin(F.broadcast(e))
    return wide.select(
        "sum_qty",
        "n_orders",
        "n_purchases",
        (F.col("sum_qty") / F.col("n_orders")).cast("double").alias("qty_per_order"),
        (F.col("sum_qty") - F.col("n_purchases")).alias("qty_minus_purchases"),
    )


# ---------------------------------------------------------------------------
# M1 — percentage with zero-guard + banker's rounding (reference `_pct`,
# report_engine.py:228-230; Python round == HALF_EVEN == Spark bround ==
# DuckDB round_even, verified)
# ---------------------------------------------------------------------------


@register(
    "pct_bround",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS total FROM events),
         g AS (SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type)
    SELECT g.event_type, g.cnt,
           CASE WHEN t.total > 0
                THEN round_even(CAST(g.cnt AS DOUBLE) / t.total * 100, 1)
                ELSE 0.0 END AS pct
    FROM g, t
    """,
    tags=("parity", "M1"),
)
def pct_bround(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: zero-guarded percent-of-total with HALF_EVEN rounding — Spark
    bround ≡ Python round ≡ DuckDB round_even (reference _pct,
    report_engine.py:228-230)."""
    ev = _t(spark, sf_dir, "events")
    total = ev.agg(F.count("*").alias("total"))
    g = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
    return g.crossJoin(F.broadcast(total)).select(
        "event_type",
        "cnt",
        pct_of(F.col("cnt"), F.col("total")).alias("pct"),
    )


# ---------------------------------------------------------------------------
# FN2 — the funnel waterfall, re-expressed over the events table: stage
# totals by conditional aggregation, survivors by successive subtraction,
# pct-of-initial with HALF_EVEN rounding, negative dropoffs passed through
# (reference report_engine.py:233-319; mock-data golden test covers the
# exact reference datasets — this covers the same operator DAG on events)
# ---------------------------------------------------------------------------


@register(
    "funnel_waterfall",
    oracle="""
    WITH tot AS (
      SELECT
        COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS n_signup,
        COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS n_view,
        COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS n_click,
        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS n_error
      FROM events
    )
    SELECT
      n_signup + n_view + n_click + n_purchase + n_error AS total_users,
      n_signup + n_view + n_click + n_purchase + n_error - n_error AS after_error,
      n_signup + n_view + n_click + n_purchase - n_view AS after_view,
      n_signup + n_click + n_purchase - n_click AS after_click,
      n_signup + n_purchase - n_signup AS after_signup,
      n_purchase - (n_error + n_view) + n_click AS net_engaged,
      CASE WHEN n_signup + n_view + n_click + n_purchase + n_error > 0
           THEN round_even(CAST(n_purchase AS DOUBLE)
                / (n_signup + n_view + n_click + n_purchase + n_error) * 100, 1)
           ELSE 0.0 END AS pct_purchased
    FROM tot
    """,
    tags=("parity", "FN2", "M2"),
    bench=True,
)
def funnel_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference waterfall shape: conditional stage counts → one wide row →
    successive subtraction (M2, may go negative) → guarded HALF_EVEN pct."""
    # SQL expression strings: each Column call costs ~10 py4j round trips
    # under PySpark 4, a whole selectExpr about one. Sums and differences
    # keep the Column form's left-to-right association.
    stages = ("signup", "view", "click", "purchase", "error")
    tot = _t(spark, sf_dir, "events").selectExpr(
        *[f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}" for t in stages]
    )
    total = "n_signup + n_view + n_click + n_purchase + n_error"
    return tot.selectExpr(
        f"{total} AS total_users",
        f"({total}) - n_error AS after_error",
        "n_signup + n_view + n_click + n_purchase - n_view AS after_view",
        "n_signup + n_click + n_purchase - n_click AS after_click",
        "n_signup + n_purchase - n_signup AS after_signup",
        "n_purchase - (n_error + n_view) + n_click AS net_engaged",
        f"{pct_of_sql('n_purchase', total)} AS pct_purchased",
    )
