"""Round-7 queries: scale-safe variants of the global-window rank plans
(the round-6 verdict's watch item) plus TPC-H Q8/Q9-shaped multi-join
breadth.

The two *_approx / *_topk variants exist to retire the only registered
plans whose window moved an unbounded frame through one partition:

* ``user_rfm_segments_approx`` — quartile assignment via sketch
  thresholds + broadcast join instead of three corpus-grain NTILE
  windows; the oracle computes the EXACT discrete quantile thresholds,
  so a green hash row IS the proof that the sketch path classifies every
  user identically to the exact path at gate scale.
* ``bm25_search_topk`` — TakeOrderedAndProject top-k (map-side partial
  top-k per partition, driver merges P·k rows) instead of a corpus-wide
  rank window; the oracle is the SAME SQL as the exact `bm25_search`,
  so the green row proves plan equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.functions.core import (
    dsum,
    sketch_regime_guard,
)
from funnel_report_etl_pipeline__spark.functions.hints import maybe_broadcast
from funnel_report_etl_pipeline__spark.plans.pipeline_r5 import (
    _bm25_oracle,
    bm25_scored_frame,
)
from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table


# ---------------------------------------------------------------------------
# RFM segmentation, sketch-threshold variant
# ---------------------------------------------------------------------------

_RFM_METRICS = ("rec_us", "frequency", "monetary")


def _rfm_oracle() -> str:
    th = ",\n             ".join(
        f"quantile_disc({m}, {q}) AS {m[0]}{int(q * 100)}"
        for m in _RFM_METRICS
        for q in (0.25, 0.5, 0.75)
    )
    bucket = ",\n           ".join(
        f"CAST(1 + CASE WHEN {m} > {m[0]}25 THEN 1 ELSE 0 END"
        f" + CASE WHEN {m} > {m[0]}50 THEN 1 ELSE 0 END"
        f" + CASE WHEN {m} > {m[0]}75 THEN 1 ELSE 0 END AS BIGINT)"
        f" AS {m[0]}_quartile"
        for m in _RFM_METRICS
    )
    return f"""
    WITH u AS (
      SELECT user_id,
             MAX(epoch_us(ts)) AS rec_us,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    t AS (SELECT {th} FROM u)
    SELECT user_id, rec_us, frequency, monetary,
           {bucket}
    FROM u, t
    """


@register(
    "user_rfm_segments_approx",
    oracle=_rfm_oracle(),
    tags=("pipeline-r7", "analytics", "approx"),
)
def user_rfm_segments_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation without the corpus-grain window: quartile
    THRESHOLDS come from one mergeable `approx_percentile` sketch pass
    (Greenwald–Khanna partials combine map-side — no sort, bounded
    executor memory at any corpus size), then a 1-row broadcast assigns
    each user `1 + #(thresholds strictly below)`. This is the recipe the
    exact `user_rfm_segments` docstring names as its own 10^9-user path,
    now a registered, hash-gated query.

    Cross-engine exactness: both engines use the DISCRETE quantile
    ("smallest value whose CDF ≥ p" — Spark `approx_percentile`'s
    documented contract, DuckDB's `quantile_disc`), and at gate scale
    n ≪ accuracy=10^6 so the sketch never compresses and the thresholds
    are exact — verified equal on all nine (metric, q) pairs. The oracle
    computes the EXACT thresholds, so the green hash row is the proof
    that the sketch path classifies identically. Value-based buckets are
    also tie-stable (tied users land together on both engines), unlike
    NTILE's rank split — the two variants differ there by design.
    Recency is compared in epoch micros (timestamp order ≡ integer
    order). A plan-embedded assert_true fails the job with an explicit
    message if the purchasing-user count ever exceeds the accuracy
    regime, instead of letting the gate surface an opaque hash
    mismatch."""
    ev = catalog_table(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("rec_us"),
            F.count("*").cast("long").alias("frequency"),
            dsum("value").alias("monetary"),
        )
    )
    th = u.agg(
        *[
            F.expr(
                f"approx_percentile({m}, array(0.25, 0.5, 0.75), 1000000)"
            ).alias(f"__t_{m}")
            for m in _RFM_METRICS
        ],
        F.count("*").cast("long").alias("__n_users"),
    )
    out = u.crossJoin(F.broadcast(th))
    # The exact-threshold premise (and therefore the registered value-hash
    # oracle) only holds while n_users ≤ accuracy — past that the GK sketch
    # compresses and thresholds become approximate. Fail LOUDLY instead of
    # surfacing an opaque hash mismatch at a larger gate; the shared
    # conf-gated guard (functions/core.sketch_regime_guard) lets scale
    # probes and production runs opt into the approximate regime.
    guard = sketch_regime_guard(
        spark, "user_rfm_segments_approx", "__n_users", 1_000_000
    )
    cols = [
        F.when(guard.isNull(), F.col("user_id")).alias("user_id"),
        *_RFM_METRICS,
    ]
    for m in _RFM_METRICS:
        t = F.col(f"__t_{m}")
        bucket = (
            F.lit(1)
            + (F.col(m) > t[0]).cast("int")
            + (F.col(m) > t[1]).cast("int")
            + (F.col(m) > t[2]).cast("int")
        )
        cols.append(bucket.cast("long").alias(f"{m[0]}_quartile"))
    return out.select(*cols)


# ---------------------------------------------------------------------------
# BM25, TakeOrdered partial-top-k variant
# ---------------------------------------------------------------------------


@register(
    "bm25_search_topk",
    oracle=_bm25_oracle(k=20),
    tags=("pipeline-r7", "text", "retrieval"),
)
def bm25_search_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 via sort-limit instead of a rank window: Catalyst
    compiles orderBy(...).limit(k) to TakeOrderedAndProject — each
    partition keeps only its local top-k in a bounded heap and the
    driver merges P·k rows, so NO corpus-grain frame ever crosses one
    partition (the exact `bm25_search` rank window relies on
    WindowGroupLimit pre-filtering but still funnels survivors through a
    single-partition window). Identical oracle to `bm25_search`: the
    green hash row proves the two plans return byte-identical rankings.
    The trailing rnk window runs over the 20 ALREADY-SELECTED rows —
    constant-size at any corpus. (score DESC, doc_id) is a total order,
    so the selected set and ranks are engine-deterministic."""
    scored = bm25_scored_frame(spark, sf_dir)
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(20)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# TPC-H Q8 / Q9 shapes (join-ordering breadth over the same tables)
# ---------------------------------------------------------------------------


@register(
    "nation_market_share",
    oracle="""
    WITH vol AS (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))
               AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN part     ON l_partkey = p_partkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                         THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           CAST(SUM(volume) AS DOUBLE) AS total_volume
    FROM vol GROUP BY o_year
    """,
    tags=("pipeline-r7", "relational", "join"),
    bench=True,
)
def nation_market_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_3's share of PROMO
    part revenue sold into AMERICA customers, by order year — an 8-table
    join tree. The plan the optimizer should pick, and .explain
    confirms: every dimension filter pushed to its scan; part, customer,
    supplier, both nation legs, and region all BROADCAST — nation/region
    (fixed 25/5 rows) as hard hints, part/customer/supplier through the
    size-gated `maybe_broadcast` so a grown deployment degrades to AQE's
    choice instead of an oversized forced broadcast — so the only
    shuffles are the lineitem⋈orders fact join and the year-grain agg —
    lineitem rows are pre-pruned by the broadcast part filter before the
    orders join. Volume sums in decimal(22,4) (partition-invariant); the
    share is one double division per year row."""
    li = catalog_table(spark, sf_dir, "lineitem")
    orders = catalog_table(spark, sf_dir, "orders")
    part = catalog_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust = catalog_table(spark, sf_dir, "customer")
    sup = catalog_table(spark, sf_dir, "supplier")
    nation = catalog_table(spark, sf_dir, "nation")
    region = catalog_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cn = nation.alias("cn")
    sn = nation.alias("sn")
    vol = (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(region), F.col("cn.n_regionkey") == region.r_regionkey)
        .join(maybe_broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), sup.s_nationkey == F.col("sn.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            )
            .cast("decimal(22,4)")
            .alias("volume"),
            F.col("sn.n_name").alias("supp_nation"),
        )
    )
    agg = vol.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
                F.lit(0).cast("decimal(22,4)")
            )
        ).alias("__n3"),
        F.sum("volume").alias("__tot"),
    )
    return agg.select(
        F.col("o_year").cast("long").alias("o_year"),
        (F.col("__n3").cast("double") / F.col("__tot").cast("double")).alias(
            "mkt_share"
        ),
        F.col("__tot").cast("double").alias("total_volume"),
    )


@register(
    "product_type_profit",
    oracle="""
    SELECT n_name AS supp_nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - p_retailprice * l_quantity * 0.1
                         AS DECIMAL(22,4))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE contains(p_name, 'red')
    GROUP BY n_name, o_year
    """,
    tags=("pipeline-r7", "relational", "join"),
    bench=True,
)
def product_type_profit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year), adapted
    to the testdata's tables: there is no partsupp, so unit cost is the
    standard retail-margin surrogate (10% of p_retailprice — the profit
    expression keeps Q9's exact form, revenue − cost·quantity). Plan:
    the p_name filter prunes part BEFORE it broadcasts into lineitem, so
    the fact table shrinks at the scan side of its first join; supplier
    and part are size-gated broadcast hints, nation a hard one; the
    orders join is the one fact-fact shuffle,
    on the key both sides already carry. Per-line profit is computed in
    decimal BEFORE the sum (one rounding point per row, same on both
    engines) so the grouped total is partition-invariant."""
    li = catalog_table(spark, sf_dir, "lineitem")
    part = catalog_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    sup = catalog_table(spark, sf_dir, "supplier")
    nation = catalog_table(spark, sf_dir, "nation")
    orders = catalog_table(spark, sf_dir, "orders")
    profit_line = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    ).cast("decimal(22,4)")
    return (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .join(maybe_broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit_line.alias("__p"),
        )
        .groupBy("supp_nation", "o_year")
        .agg(F.sum("__p").cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H breadth batch (Q7/Q10/Q13/Q14/Q18/Q22 shapes) — deeper relational
# join-ordering evidence over the same tables. Adapted where the testdata
# lacks a column (no l_commitdate/l_receiptdate/l_shipmode/o_comment/
# c_phone/partsupp); every adaptation keeps the reference query's JOIN
# SHAPE and notes the substitution.
# ---------------------------------------------------------------------------


@register(
    "volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("pipeline-r7", "relational", "join"),
    bench=True,
)
def volume_shipping_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral volume shipping): revenue flowing in each
    direction between two nations, by ship year. The nation pair filter
    applies to the CROSS of two broadcast nation legs — Catalyst pushes
    each leg's half of the disjunction only as an IN(1,2) prune, so the
    pair predicate evaluates post-join, exactly like the reference query.
    Supplier/customer broadcast through size-gated hints (nation hard);
    the lineitem⋈orders fact join is the single shuffle. Revenue in
    decimal(22,4)."""
    li = catalog_table(spark, sf_dir, "lineitem")
    sup = catalog_table(spark, sf_dir, "supplier")
    orders = catalog_table(spark, sf_dir, "orders")
    cust = catalog_table(spark, sf_dir, "customer")
    nation = catalog_table(spark, sf_dir, "nation")
    sn = nation.alias("sn")
    cn = nation.alias("cn")
    pair = (
        (F.col("sn.n_name") == "NATION_1") & (F.col("cn.n_name") == "NATION_2")
    ) | ((F.col("sn.n_name") == "NATION_2") & (F.col("cn.n_name") == "NATION_1"))
    return (
        li.join(maybe_broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), sup.s_nationkey == F.col("sn.n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn.n_nationkey"))
        .filter(pair)
        .select(
            F.col("sn.n_name").alias("supp_nation"),
            F.col("cn.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("long").alias("l_year"),
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            .cast("decimal(22,4)")
            .alias("__v"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("__v").cast("double").alias("revenue"))
    )


@register(
    "returned_item_report",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("pipeline-r7", "relational", "join"),
    bench=True,
)
def returned_item_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): the top-20 customers by
    revenue lost to returns in one quarter. Both fact filters (order-date
    range, returnflag = 'R') push to their scans; customer (size-gated
    hint) and nation broadcast into the orders⋈lineitem shuffle join;
    the top-20 is a
    TakeOrderedAndProject on (revenue DESC, c_custkey) — fully
    tie-broken, never a global sort."""
    cust = catalog_table(spark, sf_dir, "customer")
    orders = catalog_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = catalog_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = catalog_table(spark, sf_dir, "nation")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "n_name",
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            .cast("decimal(22,4)")
            .alias("__v"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum("__v").cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "customer_order_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
    tags=("pipeline-r7", "relational", "join"),
    bench=True,
)
def customer_order_distribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join so
    zero-order customers land in the c_count = 0 bucket (the testdata's
    o_comment filter is dropped — no such column). Customer is the LEFT
    (preserved) side, and BroadcastHashJoin supports LEFT OUTER only with
    build-right, so the un-filterable orders side can never broadcast:
    the correct — and scale-correct — plan is a shuffle join on custkey,
    which is exactly what Catalyst picks; the two aggregations are
    key-grain with map-side partials. COUNT(o_orderkey) — not COUNT(*) —
    so the null-extended row counts zero."""
    cust = catalog_table(spark, sf_dir, "customer").select("c_custkey")
    orders = catalog_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


@register(
    "promo_revenue_pct",
    oracle="""
    SELECT CAST(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))
                 ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(22,4))) AS DOUBLE) AS promo_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-05-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-06-01 00:00:00'
    """,
    tags=("pipeline-r7", "relational", "join"),
    bench=True,
)
def promo_revenue_pct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): PROMO share of one month's
    revenue. Ship-date range pushes to the lineitem scan; part broadcasts
    (size-gated hint — part grows with SF);
    the whole query is one map-side conditional aggregation — zero hash
    exchanges beyond the final 1-row gather. Both decimal sums are exact,
    so the single double division is the only rounding point."""
    li = catalog_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-05-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-06-01 00:00:00").cast("timestamp"))
    )
    part = catalog_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(22,4)"
    )
    agg = (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.when(F.col("p_type") == "PROMO", rev)
            .otherwise(F.lit(0).cast("decimal(22,4)"))
            .alias("__promo"),
            rev.alias("__all"),
        )
        .agg(
            F.sum("__promo").alias("__p"),
            F.sum("__all").alias("__t"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )
    return agg.select(
        (
            F.lit(100.0) * F.col("__p").cast("double") / F.col("__t").cast("double")
        ).alias("promo_pct"),
        "n_lines",
    )


@register(
    "large_volume_orders",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 200
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
    tags=("pipeline-r7", "relational", "join"),
    bench=True,
)
def large_volume_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total line
    quantity exceeds 200 (the testdata's p95 is 207, so the gate is
    selective AND non-empty — the zero-signal-oracle rule). The HAVING
    subquery becomes a grouped pre-aggregation LEFT SEMI-joined back into
    lineitem. The `big` keyset is fact-derived — ~5% of ORDERS, so it
    GROWS LINEARLY with the corpus — therefore it carries NO broadcast
    hint: AQE broadcasts it at gate scale (runtime stats show a few KB)
    and falls back to a shuffled semi-join at 100×, where a forced
    broadcast would blow the 8 GB cap and fail the job
    (tests/test_plan_shapes.py pins the absence of the hint). Customer is
    a size-gated hint. l_quantity sums are whole numbers stored as double
    (exact integers < 2^53 — order-independent), cast through DOUBLE
    identically in the oracle."""
    cust = catalog_table(spark, sf_dir, "customer")
    orders = catalog_table(spark, sf_dir, "orders")
    li = catalog_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 200)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"))
    )


@register(
    "lapsed_highvalue_customers",
    oracle="""
    WITH pos AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(22,4))) AS DECIMAL(38,4))
               AS total_pos,
             CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(22,4))) AS DOUBLE) AS totacctbal
    FROM customer, pos
    WHERE CAST(c_acctbal AS DECIMAL(22,4)) * n_pos > total_pos
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    """,
    tags=("pipeline-r7", "relational", "join"),
    bench=True,
)
def lapsed_highvalue_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity), adapted: customers with
    an above-positive-average balance and NO order since 2000 (the
    testdata has no zero-order customers, so the recency cutoff restores
    Q22's anti-join semantics; nationkey stands in for the phone country
    code). The average comparison is cross-multiplied —
    acctbal·n_pos > Σpos — so NO division happens on either engine and
    the threshold is exact decimal arithmetic. Plan: 1-row broadcast of
    the positive aggregate, recent-orders keys pre-aggregated then ANTI
    join (at scale the distinct recent-buyer key set shuffles; the date
    filter pushes to the orders scan), one grouped aggregate."""
    cust = catalog_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(22,4)")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal).cast("decimal(38,4)").alias("total_pos"),
        F.count("*").cast("long").alias("n_pos"),
    )
    recent = (
        catalog_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(bal * F.col("n_pos") > F.col("total_pos"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# RRF fusion, list-capped variant (the last corpus-grain global window)
# ---------------------------------------------------------------------------


@register(
    "rrf_fusion_topk",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    f AS (
      SELECT doc_id,
             len(list_filter(toks, x -> x = 'table')) AS tf
      FROM t
    ),
    lex AS (
      SELECT doc_id, lex_rank FROM (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS BIGINT)
                 AS lex_rank
        FROM f WHERE tf > 0
      ) WHERE lex_rank <= 100
    ),
    q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT doc_id, sem_rank FROM (
        SELECT vec_id AS doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY
                 list_sum(list_transform(range(1, 65),
                   i -> CAST(embedding[i] AS DOUBLE) * qv[i])) DESC,
                 vec_id) AS BIGINT) AS sem_rank
        FROM embeddings, q WHERE vec_id <> 0
      ) WHERE sem_rank <= 100
    )
    SELECT doc_id, lex_rank, sem_rank,
           ((1.0 / (60.0 + CAST(COALESCE(lex_rank, 1000) AS DOUBLE)))
            + (1.0 / (60.0 + CAST(COALESCE(sem_rank, 1000) AS DOUBLE))))
             AS rrf_score,
           rnk
    FROM (
      SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             lex.lex_rank, sem.sem_rank,
             CAST(ROW_NUMBER() OVER (ORDER BY
               ((1.0 / (60.0 + CAST(COALESCE(lex_rank, 1000) AS DOUBLE)))
                + (1.0 / (60.0 + CAST(COALESCE(sem_rank, 1000) AS DOUBLE)))) DESC,
               COALESCE(lex.doc_id, sem.doc_id)) AS BIGINT) AS rnk
      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ) r WHERE rnk <= 20
    """,
    tags=("pipeline-r7", "retrieval", "similarity"),
)
def rrf_fusion_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-capped RRF: each input list is cut to its top-100 by
    TakeOrderedAndProject BEFORE ranks are assigned, so the rank windows
    run over 100 already-selected rows instead of the whole matching
    corpus — the standard production shape (rank lists are capped at the
    retriever and fusion sees k₁+k₂ rows). Capping CHANGES tail scores by
    definition: a doc ranked 101..999 in a list scores as the imputed
    1000 here but as its true rank in the exact variant, so the two
    variants only provably agree on docs whose ranks are all ≤ 100 or
    absent (capping can only lower the others, so those stable docs can
    only move up — the agreement a pytest asserts). This retires the
    exact `rrf_hybrid_fusion`'s last corpus-grain window at scale; the
    oracle replicates the capped semantics exactly."""
    from funnel_report_etl_pipeline__spark.plans.pipeline_r5 import (
        rrf_fuse,
        rrf_scored_lists,
    )

    lex_scored, sem_scored = rrf_scored_lists(spark, sf_dir)
    lex_top = lex_scored.orderBy(F.col("tf").desc(), "doc_id").limit(100)
    lex = lex_top.withColumn(
        "lex_rank",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), "doc_id"))
        .cast("long"),
    ).select("doc_id", "lex_rank")
    sem_top = sem_scored.orderBy(F.col("__dot").desc(), "doc_id").limit(100)
    sem = sem_top.withColumn(
        "sem_rank",
        F.row_number()
        .over(Window.orderBy(F.col("__dot").desc(), "doc_id"))
        .cast("long"),
    ).select("doc_id", "sem_rank")
    return rrf_fuse(lex, sem)
