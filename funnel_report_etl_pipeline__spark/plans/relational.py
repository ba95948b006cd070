"""Relational breadth: joins, top-k, distinct, windows, sessionization.

The reference contains zero relational joins (SURVEY.md §2.3) — its four
datasets are combined as scalar aggregates. A user replacing the reference
with this engine gets the full relational surface of Spark; these queries
are the evidence, each with a DuckDB oracle so the driver's hash-compare
gate covers them.

Determinism rules (see plans/registry.py docstring): double sums go through
exact decimal (``dsum``); per-row double arithmetic (e.g. price*(1-disc))
is identical IEEE ops in both engines, so summing the decimal-cast of the
per-row double is bit-stable at any parallelism. Top-k queries always carry
a total tiebreak order so rank is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.functions.core import dsum
from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog_table(spark, sf_dir, name)


def _revenue_dec():
    # per-row double product is deterministic; the decimal cast makes the
    # SUM order-independent (exact), so 1 core == 1000 executors
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(22,4)"
    )


# ---------------------------------------------------------------------------
# Equi-join (shuffle join on the fact keys; the big-two-table case)
# ---------------------------------------------------------------------------


@register(
    "join_equi",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE)
             AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("relational", "join"),
    bench=True,
)
def join_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem on the order key, grouped revenue. Both sides are
    facts → sort-merge/shuffled-hash join on l_orderkey; AQE coalesces the
    post-shuffle partitions. At 100 TB both tables would be bucketed on the
    order key, making this join shuffle-free."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_revenue_dec()).cast("double").alias("revenue"),
        )
    )


@register(
    "join_broadcast_dims",
    oracle="""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(22,4))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("relational", "join", "broadcast"),
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ two small dims. The dims are broadcast (explicit hint — at
    100 TB nation/region are KBs while customer is TBs), so the fact table
    never shuffles for the join; only the final low-cardinality groupBy
    shuffles 1-row-per-group partials."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
    )


@register(
    "part_supplier_revenue",
    oracle="""
    SELECT p_brand, n_name AS supp_nation,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY p_brand, n_name
    """,
    tags=("relational", "join", "snowflake"),
)
def part_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join: fact ⋈ part ⋈ supplier ⋈ nation, revenue by brand ×
    supplier nation. part/supplier broadcast under the threshold; at 100 TB
    part is bucketed on p_partkey alongside a lineitem bucket on l_partkey
    and the supplier/nation dims stay broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("p_brand", F.col("n_name").alias("supp_nation"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(_revenue_dec()).cast("double").alias("revenue"),
        )
    )


@register(
    "semi_anti_join",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer c WHERE EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_with_orders,
      (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without_orders
    """,
    tags=("relational", "join", "semi", "anti"),
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI / LEFT ANTI joins — EXISTS / NOT EXISTS. Spark plans these
    as semi/anti hash joins that short-circuit on first match and never
    materialize the probe side's payload columns."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    with_o = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count("*").alias("n_with_orders")
    )
    without_o = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count("*").alias("n_without_orders")
    )
    return with_o.crossJoin(F.broadcast(without_o))


# ---------------------------------------------------------------------------
# Distinct / HAVING / top-k / windows — none exist in the reference
# (SURVEY.md §2.4-2.5) but any replacement engine must have them
# ---------------------------------------------------------------------------


@register(
    "distinct_count",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("relational", "distinct"),
)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct grouped aggregation (Spark expands to a partial
    dedup + final count; exact, unlike approx_count_distinct)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "having_filter",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,4))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    HAVING COUNT(*) > 100
    """,
    tags=("relational", "having"),
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING — a post-aggregation filter node."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
        .filter(F.col("n_orders") > 100)
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
    tags=("relational", "topk"),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver; no full sort at
    any scale. o_orderkey tiebreak keeps rank engine-independent."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@register(
    "window_rank",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) t WHERE rnk <= 3
    """,
    tags=("relational", "window", "W1"),
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via ROW_NUMBER. Spark 3.5+ inserts a WindowGroupLimit
    below the shuffle for rank<=k filters, so each partition only keeps k
    rows before shuffling — the scalable formulation of per-group top-k."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(22,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE)
             AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(22,4))) AS DECIMAL(28,10))
                / COUNT(*) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-10-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational", "agg"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (the classic pricing summary): filter → wide grouped
    agg. One scan, partial/final hash agg, two-key shuffle. avg is computed
    as exact-decimal sum / count so it is deterministic across engines and
    partitionings."""
    li = _t(spark, sf_dir, "lineitem")
    qty_dec = F.sum(F.col("l_quantity").cast("decimal(22,4)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-10-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            qty_dec.cast("double").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(_revenue_dec()).cast("double").alias("sum_disc_price"),
            (qty_dec.cast("decimal(28,10)") / F.count("*")).cast("double").alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Event-grain funnel + sessionization (SURVEY.md §7 extensions: the
# windowFunnel / session_window shapes the reference's daily summaries
# pre-compute upstream — here first-class over the raw events table)
# ---------------------------------------------------------------------------


# Each user's (micros, event_type) pairs in time order, for the funnel folds.
# The two event-funnel builders are SQL strings, not Column calls: under
# PySpark 4 each Column call costs ~10 py4j round trips, a selectExpr or
# F.expr one to three, and the analysed plans are the ones the Column
# forms build.
_EVENT_TIMELINE = "array_sort(collect_list(struct(unix_micros(ts) AS us, event_type AS et)))"


@register(
    "event_funnel_users",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_signup_view,
           (SELECT COUNT(*) FROM s3) AS n_signup_view_purchase
    """,
    tags=("funnel", "window", "extension"),
    bench=True,
)
def event_funnel_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-grain ordered funnel (ClickHouse windowFunnel shape): users who
    did signup, then view AFTER the signup, then purchase AFTER that view.

    ONE shuffle: groupBy(user) collects each user's (ts, type) pairs, sorts
    them in-memory (events-per-user is bounded), and a JVM-side aggregate
    lambda walks the timeline computing the furthest stage reached. No
    self-joins over the event table — at 100 TB the join-chain formulation
    (the DuckDB oracle) would shuffle the fact table three times; this
    shuffles it once."""
    # walk the sorted timeline: state = (furthest stage index 0..3, ts of
    # the last advance). The strictly-greater guard matches the oracle's
    # `e.ts > t_prev` — an event tied with the previous stage's timestamp
    # must NOT advance the funnel. try_element_at: once all stages are
    # reached d+1 is past the end; NULL compares false and the state
    # passes through.
    depth = f"""aggregate({_EVENT_TIMELINE}, struct(0 AS d, CAST(-1 AS BIGINT) AS last),
        (acc, x) -> CASE
          WHEN x.et = try_element_at(array('signup', 'view', 'purchase'), acc.d + 1)
               AND x.us > acc.last
          THEN struct(acc.d + 1 AS d, x.us AS last)
          ELSE acc END).d AS depth"""
    per_user = (
        _t(spark, sf_dir, "events")
        .where("event_type IN ('signup', 'view', 'purchase')")
        .groupBy("user_id")
        .agg(F.expr(depth))
    )
    return per_user.selectExpr(
        "count(CASE WHEN depth >= 1 THEN 1 END) AS n_signup",
        "count(CASE WHEN depth >= 2 THEN 1 END) AS n_signup_view",
        "count(CASE WHEN depth >= 3 THEN 1 END) AS n_signup_view_purchase",
    )


@register(
    "set_ops",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'error')) AS n_purchase_and_error,
      (SELECT COUNT(*) FROM (
         SELECT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'error')) AS n_purchase_no_error
    """,
    tags=("relational", "setops", "intersect", "except"),
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct set semantics) — planned as left-semi /
    left-anti joins over pre-distinct inputs; no full materialization."""
    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    both = purch.intersect(err).agg(F.count("*").alias("n_purchase_and_error"))
    only = purch.subtract(err).agg(F.count("*").alias("n_purchase_no_error"))
    return both.crossJoin(F.broadcast(only))


@register(
    "pivot_daily_values",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      CAST(SUM(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(22,6)) END) AS DOUBLE) AS click,
      CAST(SUM(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(22,6)) END) AS DOUBLE) AS error,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(22,6)) END) AS DOUBLE) AS purchase,
      CAST(SUM(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(22,6)) END) AS DOUBLE) AS signup,
      CAST(SUM(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(22,6)) END) AS DOUBLE) AS view
    FROM events GROUP BY 1
    """,
    tags=("relational", "pivot"),
)
def pivot_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: day × event_type value matrix. The explicit value list keeps
    the plan single-pass (no distinct-values pre-query) and the output
    schema static — required at scale AND for oracle comparison."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .agg(F.sum(F.col("value").cast("decimal(22,6)")).cast("double"))
    )


@register(
    "grouped_count_salted",
    oracle="""
    SELECT event_type, COUNT(event_type) AS cnt
    FROM events
    WHERE event_type IS NOT NULL AND event_type <> ''
    GROUP BY event_type
    """,
    tags=("relational", "skew", "salting"),
)
def grouped_count_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase grouped count — same oracle as grouped_count, so
    the skew mitigation is proven result-identical. At 100 TB with one hot
    event_type this is the difference between 1 reducer and n_salts."""
    from funnel_report_etl_pipeline__spark.functions.skew import salted_grouped_agg

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & (F.col("event_type") != "")
    )
    return salted_grouped_agg(
        ev,
        keys=["event_type"],
        partial_aggs={"__c": F.count("event_type")},
        final_aggs={"cnt": F.sum("__c").cast("long")},
        n_salts=16,
    )


@register(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.25) AS p25,
           quantile_cont(value, 0.50) AS p50,
           quantile_cont(value, 0.75) AS p75
    FROM events GROUP BY event_type
    """,
    tags=("relational", "percentile"),
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — Spark `percentile` and DuckDB
    `quantile_cont` share the (1−g)·a + g·b formula; verified bit-equal.
    At 100 TB the exact aggregate buffers each group's value multiset in
    one task — the registered GK-sketch twin over the SAME (events ×
    event_type × value) grouping is `approx_percentiles` (rank-error-
    bound contract); the exact-regime *_approx pattern is
    `equidepth_price_histogram_approx` / `winsorized_revenue_mean_approx`
    (pipeline_r9)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.50)").alias("p50"),
        F.expr("percentile(value, 0.75)").alias("p75"),
    )


@register(
    "running_total",
    oracle="""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             SUM(CAST(value AS DECIMAL(22,6))) AS v
      FROM events GROUP BY 1
    )
    SELECT day,
           CAST(SUM(v) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS cum_value
    FROM daily
    """,
    tags=("relational", "window", "running-total"),
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative daily value: pre-aggregate to day grain (tiny), then an
    ordered window over the daily frame. The window is single-partition by
    construction — but over day-grain rows, not raw events, so the ordered
    pass is O(days) regardless of raw volume."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(22,6)")).alias("v")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select("day", F.sum("v").over(w).cast("double").alias("cum_value"))


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_ok
    FROM events GROUP BY event_type
    """,
    tags=("relational", "approximate"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type (HyperLogLog++, 1% rsd) —
    the 100 TB substitute for exact count_distinct's full dedup shuffle;
    sketches merge map-side.

    The sketch value itself is engine-specific, so the hash-verified
    contract is the accuracy bound: ``hll_ok`` is computed from the sketch
    vs the exact count (|approx − exact| ≤ 5 % · exact — 5× the configured
    1 % rsd) and the oracle pins it TRUE. A drifting sketch turns the row
    red; the exact column still value-matches bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("__approx"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    err = F.abs(F.col("__approx") - F.col("exact_users")).cast("double")
    return agg.select(
        "event_type",
        "exact_users",
        (err <= 0.05 * F.col("exact_users")).alias("hll_ok"),
    )


@register(
    "asof_join_events",
    oracle="""
    SELECT l.user_id, l.event_id, l.ts AS purchase_ts, r.ts AS last_view_ts
    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    tags=("relational", "asof", "extension"),
    bench=True,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively): each purchase gets
    the user's most recent view at-or-before it. Union + ordered-window
    composition — ONE key shuffle, no range-join blowup; the oracle is
    DuckDB's native ASOF JOIN."""
    from funnel_report_etl_pipeline__spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    return asof_join(purchases, views, on=["user_id"]).select(
        "user_id",
        "event_id",
        F.col("ts").alias("purchase_ts"),
        F.col("asof_ts").alias("last_view_ts"),
    )


@register(
    "rollup_hierarchy",
    oracle="""
    SELECT COALESCE(r_name, '<all>') AS region_name,
           COALESCE(n_name, '<all>') AS nation_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(22,4))) AS DOUBLE) AS total_acctbal,
           GROUPING(r_name) + GROUPING(n_name) AS lvl
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("relational", "rollup", "grouping-sets"),
)
def rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP over the region→nation hierarchy with grouping-level
    markers — subtotals and grand total in one pass (Spark expands the
    grouping sets; still a single scan + one shuffle)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
            (F.grouping("r_name") + F.grouping("n_name")).cast("long").alias("lvl"),
        )
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("region_name"),
            F.coalesce("n_name", F.lit("<all>")).alias("nation_name"),
            "n_customers",
            "total_acctbal",
            "lvl",
        )
    )


@register(
    "event_funnel_windowed",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(s1.t1) AS t1, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_view_7d,
           (SELECT COUNT(*) FROM s3) AS n_purchase_7d
    """,
    tags=("funnel", "window", "windowFunnel", "extension"),
    bench=True,  # the windowed-funnel headliner
)
def event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained ordered funnel (the windowFunnel shape): complete
    signup → view → purchase within 7 days of the FIRST signup. Anchored
    semantics — the chain starts at the user's earliest signup; each later
    stage must land strictly after the previous one and inside the window.

    Same single-shuffle design as event_funnel_users: one groupBy(user)
    collects the timeline; a state-machine fold ((t1,t2,t3) micros struct)
    walks it. The oracle's join-chain re-shuffles events three times."""
    window_us = 7 * 24 * 3600 * 1_000_000
    step = f"""(acc, x) -> struct(
        CASE WHEN acc.t1 IS NULL AND x.et = 'signup' THEN x.us ELSE acc.t1 END AS t1,
        CASE WHEN acc.t2 IS NULL AND acc.t1 IS NOT NULL AND x.et = 'view'
                  AND x.us > acc.t1 AND x.us <= acc.t1 + {window_us}
             THEN x.us ELSE acc.t2 END AS t2,
        CASE WHEN acc.t3 IS NULL AND acc.t2 IS NOT NULL AND acc.t1 IS NOT NULL
                  AND x.et = 'purchase' AND x.us > acc.t2 AND x.us <= acc.t1 + {window_us}
             THEN x.us ELSE acc.t3 END AS t3)"""
    init = ", ".join(f"CAST(NULL AS BIGINT) AS t{i}" for i in (1, 2, 3))
    per_user = (
        _t(spark, sf_dir, "events")
        .where("event_type IN ('signup', 'view', 'purchase')")
        .groupBy("user_id")
        .agg(F.expr(f"aggregate({_EVENT_TIMELINE}, struct({init}), {step}) AS s"))
    )
    return per_user.selectExpr(
        "count(CASE WHEN s.t1 IS NOT NULL THEN 1 END) AS n_signup",
        "count(CASE WHEN s.t2 IS NOT NULL THEN 1 END) AS n_view_7d",
        "count(CASE WHEN s.t3 IS NOT NULL THEN 1 END) AS n_purchase_7d",
    )


@register(
    "sql_correlated_subquery",
    oracle="""
    SELECT c_custkey,
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
    FROM customer c WHERE c_custkey <= 100
    """,
    tags=("relational", "sql", "subquery"),
)
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end through the same gate: a correlated scalar
    subquery submitted as raw ``spark.sql`` over the catalog's temp views
    (Catalyst decorrelates it into a left outer aggregate join). Every
    other registered query is DataFrame API; this one proves both surfaces
    are the same engine."""
    for t in ("customer", "orders"):
        # re-register unconditionally: the catalog caches per (session,
        # sf_dir) and skips view registration on cache hits, so after a
        # different sf_dir registered the same global view names, a cached
        # catalog would silently leave spark.sql reading the OTHER sf's data
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer c WHERE c_custkey <= 100
        """
    )


@register(
    "cube_segment_priority",
    oracle="""
    SELECT COALESCE(c_mktsegment, '<all>') AS segment,
           COALESCE(o_orderpriority, '<all>') AS priority,
           COUNT(*) AS n_orders,
           GROUPING(c_mktsegment) + GROUPING(o_orderpriority) AS lvl
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderpriority)
    """,
    tags=("relational", "cube", "grouping-sets"),
)
def cube_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — all 2² grouping sets in one pass (Spark expands the
    sets; single scan + one shuffle, same as rollup)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (F.grouping("c_mktsegment") + F.grouping("o_orderpriority"))
            .cast("long")
            .alias("lvl"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("<all>")).alias("segment"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n_orders",
            "lvl",
        )
    )


@register(
    "string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           replace(c_name, '#', '-') AS name_dashed,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           concat(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_nation
    FROM customer WHERE c_custkey <= 100
    """,
    tags=("relational", "string", "scalar"),
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function battery (upper/substr/length/replace/lpad/
    concat) — all codegen'd, all pushed into the project above the scan."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") <= 100).select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.concat_ws(":", "c_mktsegment", F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
    )


@register(
    "date_parts",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
           COUNT(*) AS n_orders,
           CAST(MIN(strftime(o_orderdate, '%Y-%m-%d')) AS VARCHAR) AS first_day,
           CAST(MAX(strftime(o_orderdate, '%Y-%m-%d')) AS VARCHAR) AS last_day
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("relational", "date", "scalar"),
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar decomposition (extract year/month) + per-bucket date range
    — ISO strings at the boundary (DATE output hashes differently across
    engines, see PLANS.md)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("first_day"),
            F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("last_day"),
        )
    )


@register(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey <= 200
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS measure, CAST(p_retailprice AS DOUBLE) AS value
    FROM part WHERE p_partkey <= 200
    """,
    tags=("relational", "unpivot", "melt"),
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide measures → (key, measure, value) rows — the
    inverse of pivot_daily_values; Spark's Expand node emits both rows per
    input in one pass (the UNION ALL oracle scans twice)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "value")
    )


@register(
    "sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    )
    SELECT user_id,
           CAST(SUM(is_new) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
    tags=("funnel", "session", "extension"),
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag over the per-user
    timeline marks session starts; summing the marks counts sessions. One
    shuffle on user_id shared by the window and the groupBy (Catalyst
    reuses the partitioning — no second exchange)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    # µs precision for the gap (cast-to-long would truncate to seconds and
    # disagree with the oracle's exact INTERVAL comparison at the boundary)
    is_new = (
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 30 * 60 * 1_000_000)
    ).cast("bigint")
    return (
        ev.select("user_id", "ts")
        .withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(F.sum("is_new").alias("n_sessions"), F.count("*").alias("n_events"))
    )


@register(
    "daily_rollup",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, event_type
    """,
    tags=("relational", "rollup", "timeseries"),
)
def daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series rollup: day × type grain with exact distinct users. The
    hypertable-rollup shape — at scale this materializes incrementally per
    day partition and the engine only ever scans the new day."""
    ev = _t(spark, sf_dir, "events")
    # ISO-string day, not DATE: Spark hands pandas datetime.date while
    # DuckDB hands Timestamp — they hash differently at the compare gate
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias("total_value"),
    )


@register(
    "range_join_pricebands",
    oracle="""
    SELECT band, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(22,4))) AS DOUBLE) AS total_price
    FROM part
    JOIN (VALUES ('budget', 0.0, 940.0),
                 ('midrange', 940.0, 980.0),
                 ('premium', 980.0, 1e9)) AS b(band, lo, hi)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
    tags=("relational", "join", "range"),
)
def range_join_pricebands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) interval join: every part lands in the price band
    whose [lo, hi) interval contains it. The band dimension is a handful of
    rows → broadcast nested-loop join, so the fact side streams through
    map-side with zero shuffle before the tiny grouped agg. At 100 TB the
    band table stays KB-sized and the plan is unchanged; for a *large*
    interval dimension the scale path is a bucketed bin-key equi-join
    (floor(price/width)) with a residual range filter."""
    p = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 940.0), ("midrange", 940.0, 980.0), ("premium", 980.0, 1e9)],
        "band string, lo double, hi double",
    )
    pr = F.col("p_retailprice")
    return (
        p.join(F.broadcast(bands), (pr >= F.col("lo")) & (pr < F.col("hi")))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(pr.cast("decimal(22,4)")).cast("double").alias("total_price"),
        )
    )


@register(
    "grouped_collect",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses
    FROM orders
    WHERE o_custkey <= 200
    GROUP BY o_custkey
    """,
    tags=("relational", "agg", "collect"),
)
def grouped_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped list aggregation: per-customer sorted status list, emitted as
    a canonical comma-joined string (collect_list is unordered across
    partitions — array_sort makes the result deterministic and oracle-
    comparable). The list payload is one char per order, so the shuffled
    bytes stay proportional to the group size, not the row width."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey") <= 200)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.concat_ws(",", F.array_sort(F.collect_list("o_orderstatus"))).alias(
                "statuses"
            ),
        )
    )


@register(
    "join_salted",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE)
             AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("relational", "join", "skew"),
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`join_equi` under explicit key-salting: the fact side is salted
    per-row and the other side replicated once per salt, spreading any
    single hot order key across 8 reducers. Same oracle as the unsalted
    twin — salting is proven result-neutral. The manual fallback for when
    one KEY outgrows anything AQE's partition-split skew handling can do."""
    from funnel_report_etl_pipeline__spark.functions.skew import salted_join

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(_revenue_dec()).cast("double").alias("revenue"),
    )


@register(
    "json_roundtrip",
    oracle="""
    WITH j AS (
      SELECT o_orderkey,
             to_json(struct_pack(k := o_orderkey, s := o_orderstatus,
                                 p := o_totalprice)) AS doc
      FROM orders WHERE o_orderkey <= 500
    )
    SELECT o_orderkey,
           json_extract_string(doc, '$.s') AS status,
           CAST(json_extract(doc, '$.k') AS BIGINT) AS key_back,
           CAST(json_extract(doc, '$.p') AS DOUBLE) AS price_back
    FROM j
    """,
    tags=("relational", "json", "scalar"),
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column surface: serialize a struct to a JSON document, then
    extract typed fields back out (`to_json` → `get_json_object` /
    `from_json`) — the semi-structured hop every log-ingestion pipeline
    makes. Both engines serialize doubles round-trip-exactly, so the
    *parsed* values compare bit-equal even though the JSON text may format
    numbers differently. All codegen'd JVM expressions, zero shuffle."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("s"),
            F.col("o_totalprice").alias("p"),
        )
    )
    parsed = F.from_json(doc, "k long, s string, p double")
    return o.select(
        "o_orderkey",
        F.get_json_object(doc, "$.s").alias("status"),
        parsed.getField("k").alias("key_back"),
        parsed.getField("p").alias("price_back"),
    )


@register(
    "approx_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS exact_p50,
           quantile_cont(value, 0.99) AS exact_p99,
           TRUE AS gk_ok
    FROM events GROUP BY event_type
    """,
    tags=("relational", "percentile", "approx"),
)
def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: `approx_percentile` (Greenwald-Khanna
    sketch, mergeable partials — no global sort, bounded memory per group)
    at accuracy 10000 (max rank error 1e-4), alongside the exact
    percentile (bit-identical to DuckDB quantile_cont, verified).

    The sketch values are engine-specific, so the hash-verified contract is
    the rank-error bound: ``gk_ok`` asserts each approx quantile lands
    between the exact quantiles at ±1 % rank (100× the configured 1e-4
    bound) and the oracle pins it TRUE — a drifting sketch turns the row
    red while the exact columns still value-match."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("__a50"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("__a99"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile(value, 0.99)").alias("exact_p99"),
        F.expr("percentile(value, 0.49)").alias("__lo50"),
        F.expr("percentile(value, 0.51)").alias("__hi50"),
        F.expr("percentile(value, 0.98)").alias("__lo99"),
        F.expr("percentile(value, 1.0)").alias("__hi99"),
    )
    ok = (
        (F.col("__a50") >= F.col("__lo50"))
        & (F.col("__a50") <= F.col("__hi50"))
        & (F.col("__a99") >= F.col("__lo99"))
        & (F.col("__a99") <= F.col("__hi99"))
    )
    return agg.select("event_type", "exact_p50", "exact_p99", ok.alias("gk_ok"))


@register(
    "window_nav_funcs",
    oracle="""
    SELECT user_id, event_id,
           lag(event_id)  OVER w AS prev_event,
           lead(event_id) OVER w AS next_event,
           first_value(event_id) OVER w AS first_event,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("relational", "window", "navigation"),
)
def window_nav_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation-function battery over per-user event timelines: lag /
    lead / first_value / ntile share ONE window spec, so Catalyst computes
    them all in a single Window operator over a single user-key exchange —
    adding more navigation columns is free of extra shuffles."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.filter(F.col("user_id") < 50).select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.first("event_id").over(w).alias("first_event"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "range_window_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_within_1k
    FROM orders WHERE o_custkey <= 100
    """,
    tags=("relational", "window", "range-frame"),
)
def range_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame: per customer, how many of their
    orders fall within 1000 of this order's price, looking down the sorted
    prices. RANGE frames bound peers by VALUE distance, not row count —
    the frame Spark evaluates with a sliding bound over the sorted
    partition, one user-key exchange. (SQL-expression form: the PySpark
    ``rangeBetween`` API only accepts integer offsets, but the engine
    itself takes any orderable numeric bound.)"""
    ev = _t(spark, sf_dir, "orders")
    frame = (
        "COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice "
        "RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)"
    )
    return ev.filter(F.col("o_custkey") <= 100).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.expr(frame).cast("long").alias("n_within_1k"),
    )


@register(
    "sql_lateral_topk",
    oracle="""
    SELECT n_name, c.c_custkey, c.c_acctbal
    FROM nation, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) c
    """,
    tags=("relational", "sql", "lateral"),
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery through the SQL front-end: top-2
    customers per nation, the per-row-subquery formulation Catalyst
    rewrites into a join + windowed group-limit. Views are re-registered
    unconditionally (same stale-view class as sql_correlated_subquery)."""
    for t in ("nation", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n_name, c.c_custkey, c.c_acctbal
        FROM nation, LATERAL (
          SELECT c_custkey, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) c
        """
    )


@register(
    "regexp_funcs",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
           regexp_matches(c_name, '[0-9]{3}') AS has_3digits,
           CAST(length(regexp_replace(c_name, '[^0-9]', '', 'g')) AS BIGINT)
             AS n_digits
    FROM customer WHERE c_custkey <= 100
    """,
    tags=("relational", "string", "regex"),
)
def regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex battery: extract / replace / match-test over customer rows.
    Patterns stay in the Java-regex ∩ RE2 common subset (character
    classes, quantifiers — no lookaround) so Spark and the DuckDB oracle
    agree; Spark's regexp_replace is replace-ALL, which DuckDB only does
    with the 'g' flag — an easy silent-divergence trap."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") <= 100).select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.regexp_replace(F.col("c_name"), F.lit("[0-9]"), F.lit("#")).alias(
            "name_masked"
        ),
        F.col("c_name").rlike("[0-9]{3}").alias("has_3digits"),
        F.length(F.regexp_replace(F.col("c_name"), F.lit("[^0-9]"), F.lit("")))
        .cast("long")
        .alias("n_digits"),
    )


@register(
    "map_funcs",
    oracle="""
    SELECT o_orderkey,
           (map(['status', 'priority'],
                [o_orderstatus, o_orderpriority])['status'])[1] AS status_val,
           (map(['status', 'priority'],
                [o_orderstatus, o_orderpriority])['priority'])[1] AS priority_val,
           CAST(len(map_keys(map(['status', 'priority'],
                [o_orderstatus, o_orderpriority]))) AS BIGINT) AS n_keys
    FROM orders WHERE o_orderkey <= 200
    """,
    tags=("relational", "map", "scalar"),
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type surface: build a map column, extract by key, count keys —
    the collection type config/attribute payloads arrive in. (DuckDB's
    map[key] yields a single-element LIST, hence the [1] in the oracle;
    Spark's getItem yields the value directly — same values either way.)"""
    o = _t(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return o.filter(F.col("o_orderkey") <= 200).select(
        "o_orderkey",
        m["status"].alias("status_val"),
        m["priority"].alias("priority_val"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
    )
