"""Round-8 second close-out batch: statistical modeling, classic
warehouse-ETL shapes, and a training-data decontamination audit.

Three families the registry had not yet exercised:

* **In-SQL statistical modeling** — grouped OLS regression from exact
  decimal moment sums (`ols_brand_price_quantity`), a chi-square
  independence table (`chi_square_flag_status`), and a first-order
  Markov transition matrix over event streams
  (`markov_event_transitions`).  Each reduces the corpus to exact
  integer/decimal sufficient statistics FIRST, then applies the
  floating formula as a fixed expression tree on the tiny aggregate —
  the same determinism discipline as `conversion_lift_ztest`.
* **Classic ETL** — market-basket association rules with
  support/confidence/lift (`assoc_rules_brand`) and gaps-and-islands
  run-length intervals, the SCD-type-2 build step
  (`priority_change_intervals`), plus a fixed-window EWMA anomaly
  score (`ewma_revenue_anomaly`) whose half-life weights are exact
  binary fractions so the weighted sum is reproducible bit-for-bit.
* **LLM-pipeline decontamination** — `benchmark_contamination` flags
  training documents sharing word n-grams with a held-out benchmark
  source, the train/test-overlap audit every pretraining corpus runs
  (the production recipe uses 13-grams; this synthetic corpus has the
  right selectivity at 4-grams — the plan is gram-size-agnostic).

Reference parity note: the reference (report_engine.py /
run_reports.py) has none of these — they extend the beyond-reference
surface under the same Spark-first rules as plans/relational.py:
declarative plans, pushed filters, size-gated broadcasts, and decimal/
integer aggregation at every cross-row summation point so the DuckDB
oracle reproduces every value exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.functions.core import dsum
from funnel_report_etl_pipeline__spark.functions.hints import maybe_broadcast
from funnel_report_etl_pipeline__spark.operators.dedup import gram_rows
from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table


# ---------------------------------------------------------------------------
# Grouped OLS regression from exact moment sums
# ---------------------------------------------------------------------------


@register(
    "ols_brand_price_quantity",
    oracle="""
    WITH j AS (
      SELECT p_brand AS brand, l_quantity AS x, l_extendedprice AS y
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    m AS (
      SELECT brand,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(22,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(22,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(22,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(22,4))) AS DOUBLE) AS sxy
      FROM j GROUP BY brand
    )
    SELECT brand, n_lines,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS intercept
    FROM m ORDER BY brand
    """,
    tags=("pipeline-r8b", "stats", "regression"),
)
def ols_brand_price_quantity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand ordinary-least-squares fit of extended price against
    quantity — regression pushed INTO the engine as a grouped aggregate
    (the `regr_slope` family, hand-built so both engines share one
    accumulation order). The corpus pass collects only the sufficient
    statistics (n, Σx, Σy, Σx², Σxy) in exact decimal — partial
    aggregation combines map-side, one shuffle at brand grain (~25
    groups), and the closed-form slope/intercept is a fixed double
    expression tree on the 25-row aggregate. Determinism: quantities
    are whole numbers (x and x² exact in decimal); x·y is one IEEE
    multiply per row, identical on both engines, then exact-decimal
    summed (`dsum`) so partitioning never changes a bit; the final
    formula divides identically-derived doubles. Built-in
    `covar_pop`/`regr_slope` are NOT used precisely because their
    double-accumulation order is engine- and partitioning-dependent.
    At 100 TB: the only corpus-grain work is the scan + map-side
    partial; nothing but 25 moment rows crosses the cluster."""
    li = catalog_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = catalog_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(x).alias("sx"),
            dsum(y).alias("sy"),
            dsum(x * x).alias("sxx"),
            dsum(x * y).alias("sxy"),
        )
    )
    n = F.col("n_lines").cast("double")
    sx, sy, sxx, sxy = (F.col(c) for c in ("sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "brand",
        "n_lines",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# Chi-square independence table
# ---------------------------------------------------------------------------


@register(
    "chi_square_flag_status",
    oracle="""
    WITH cells AS (
      SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS observed
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    t AS (
      SELECT l_returnflag, l_linestatus, observed,
             SUM(observed) OVER (PARTITION BY l_returnflag) AS row_total,
             SUM(observed) OVER (PARTITION BY l_linestatus) AS col_total,
             SUM(observed) OVER () AS grand_total
      FROM cells
    )
    SELECT l_returnflag, l_linestatus, observed,
           CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
             / CAST(grand_total AS DOUBLE) AS expected,
           (CAST(observed AS DOUBLE)
              - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                / CAST(grand_total AS DOUBLE))
           * (CAST(observed AS DOUBLE)
              - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                / CAST(grand_total AS DOUBLE))
           / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                / CAST(grand_total AS DOUBLE)) AS chi2_term
    FROM t ORDER BY l_returnflag, l_linestatus
    """,
    tags=("pipeline-r8b", "stats", "audit"),
)
def chi_square_flag_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of return flag × line status: the
    contingency table with per-cell expected counts and chi² terms (the
    scalar statistic is their sum; per-cell rows are returned because a
    cross-engine double sum over an unordered GROUP BY is the one thing
    a hash gate cannot pin — each cell's term IS deterministic, being a
    fixed expression over exact integer totals). One corpus aggregate
    to cell grain (≤ 6 rows, map-side combined); row/column/grand
    totals are windows over that 6-row frame — the single-partition
    window is post-aggregation and size-bounded by the category
    product, the documented scale-irrelevant case. At 100 TB nothing
    but the cell counts leaves the scan stage."""
    cells = (
        catalog_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    row_t = F.sum("observed").over(Window.partitionBy("l_returnflag"))
    col_t = F.sum("observed").over(Window.partitionBy("l_linestatus"))
    grand = F.sum("observed").over(Window.partitionBy())
    t = cells.select(
        "l_returnflag",
        "l_linestatus",
        "observed",
        row_t.alias("row_total"),
        col_t.alias("col_total"),
        grand.alias("grand_total"),
    )
    expected = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("grand_total").cast("double")
    )
    dev = F.col("observed").cast("double") - expected
    return t.select(
        "l_returnflag",
        "l_linestatus",
        "observed",
        expected.alias("expected"),
        (dev * dev / expected).alias("chi2_term"),
    ).orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over the event stream
# ---------------------------------------------------------------------------


@register(
    "markov_event_transitions",
    oracle="""
    WITH tr AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events
    ),
    c AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_trans
      FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n_trans,
           CAST(n_trans AS DOUBLE)
             / CAST(SUM(n_trans) OVER (PARTITION BY src) AS DOUBLE) AS prob
    FROM c ORDER BY src, dst
    """,
    tags=("pipeline-r8b", "stats", "events"),
)
def markov_event_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    each (src → dst) event-type pair, the transition count and the
    row-normalized probability — the model behind next-event prediction
    and session-flow dashboards. Successor extraction is a lead() over
    (user, ts, event_id) — partitioned at user grain, so the shuffle is
    the same scale-safe sessionize shape; (ts, event_id) is a total
    order, pinning ties. The re-aggregation collapses to event-type²
    grain (≤ 25 rows) with map-side combine; the row normalization is a
    window over that tiny frame. Probabilities are single integer→
    double divisions — exact inputs, one rounding, identical on both
    engines. At 100 TB: one user-grain shuffle + one 25-row aggregate;
    nothing else moves."""
    ev = catalog_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = (
        ev.withColumn("dst", F.lead("event_type").over(w))
        .filter(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    src_total = F.sum("n_trans").over(Window.partitionBy("src"))
    return c.select(
        "src",
        "dst",
        "n_trans",
        (F.col("n_trans").cast("double") / src_total.cast("double")).alias("prob"),
    ).orderBy("src", "dst")


# ---------------------------------------------------------------------------
# Market-basket association rules at brand grain
# ---------------------------------------------------------------------------


@register(
    "assoc_rules_brand",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    bn AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_brand
           FROM ob GROUP BY brand),
    tot AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM ob),
    pr AS (
      SELECT a.brand AS antecedent, b.brand AS consequent,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand <> b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT antecedent, consequent, n_both,
           CAST(n_both AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
           CAST(n_both AS DOUBLE) / CAST(na.n_brand AS DOUBLE) AS confidence,
           (CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE))
             / (CAST(na.n_brand AS DOUBLE) * CAST(nb.n_brand AS DOUBLE))
             AS lift
    FROM pr
    JOIN bn na ON na.brand = pr.antecedent
    JOIN bn nb ON nb.brand = pr.consequent
    CROSS JOIN tot
    WHERE CAST(n_both AS DOUBLE) / CAST(n_orders AS DOUBLE) >= 0.005
    ORDER BY antecedent, consequent
    """,
    tags=("pipeline-r8b", "recsys", "join"),
    bench=True,
)
def assoc_rules_brand_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at brand grain: for every
    directed brand pair co-occurring in an order, support, confidence
    and lift — the Apriori output for itemsets of size 2, the grain
    where rule mining is a pure DataFrame plan (no candidate
    generation: the item vocabulary is the 25-brand dimension, so the
    pair space is bounded at vocab², not corpus-sized). Plan: project
    lineitem to (order, brand) via a size-gated broadcast of part, then
    ONE order-grain shuffle builds per-order brand baskets
    (collect_set); every downstream statistic derives from that single
    basket frame map-side — directed pairs by a double explode (bounded
    by basket-size², never a joined row explosion — this replaced a
    first-cut okey self-join whose sort-merge pass re-shuffled the fact
    twice), brand marginals by a single explode, the order total by a
    plain count. The basket set is exploded only, never output, so
    collect_set's arbitrary intra-set order is unobservable. Marginals
    join back at vocab grain / 1-row broadcast. Metrics are
    single-rounding ratios of exact BIGINT counts (support and the
    0.005 floor are scale-invariant ratios, so the query is
    SF-portable). At 100 TB the one growing stage is the basket
    aggregate on uniform order keys; a basket-size cap would bound the
    explode the same way the LSH stop-gram guard does."""
    li = catalog_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = catalog_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.collect_set("p_brand").alias("bs"))
        .localCheckpoint()  # one fact shuffle feeds pairs + marginals + total
    )
    bn = (
        baskets.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_brand"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    pr = (
        baskets.select(F.explode("bs").alias("antecedent"), "bs")
        .select("antecedent", F.explode("bs").alias("consequent"))
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = bn.select(F.col("brand").alias("antecedent"), F.col("n_brand").alias("n_a"))
    nb = bn.select(F.col("brand").alias("consequent"), F.col("n_brand").alias("n_b"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pr.join(maybe_broadcast(na), "antecedent")
        .join(maybe_broadcast(nb), "consequent")
        .crossJoin(F.broadcast(tot))
        .filter(d("n_both") / d("n_orders") >= 0.005)
        .select(
            "antecedent",
            "consequent",
            "n_both",
            (d("n_both") / d("n_orders")).alias("support"),
            (d("n_both") / d("n_a")).alias("confidence"),
            ((d("n_both") * d("n_orders")) / (d("n_a") * d("n_b"))).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: SCD-type-2 validity intervals
# ---------------------------------------------------------------------------


@register(
    "priority_change_intervals",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
      FROM orders WHERE o_custkey < 150
    ),
    chg AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             CASE WHEN LAG(o_orderpriority) OVER w IS NULL
                    OR LAG(o_orderpriority) OVER w <> o_orderpriority
                  THEN 1 ELSE 0 END AS is_change
      FROM o
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    isl AS (
      SELECT *,
             SUM(is_change) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS island
      FROM chg
    )
    SELECT o_custkey, CAST(island AS BIGINT) AS island,
           MIN(o_orderpriority) AS priority,
           MIN(o_orderdate) AS valid_from,
           MAX(o_orderdate) AS valid_to,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM isl GROUP BY o_custkey, island
    ORDER BY o_custkey, island
    """,
    tags=("pipeline-r8b", "etl", "window"),
)
def priority_change_intervals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands run-length encoding — the SCD-type-2 build step:
    per customer, collapse consecutive orders sharing an order priority
    into one validity interval [valid_from, valid_to] with the run
    length. The change detector is a lag() over (customer; date, key) —
    a total order, so island ids are deterministic — and the island id
    is the running sum of change flags (the standard decomposition; no
    recursion, two windows over the SAME partitioning so Spark plans
    ONE shuffle and two in-partition sorts). The interval collapse is a
    groupBy at (customer, island) grain. Output is filtered to a fixed
    customer range for gate-sized results; the plan is unfiltered-safe
    because every stage is customer-partitioned — the 100 TB SCD2 run
    is the same two windows, one exchange, no corpus-grain state."""
    o = (
        catalog_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 150)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderpriority").over(w)
    chg = o.withColumn(
        "is_change",
        F.when(prev.isNull() | (prev != F.col("o_orderpriority")), 1).otherwise(0),
    )
    isl = chg.withColumn(
        "island",
        F.sum("is_change").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("o_custkey", "island")
        .agg(
            F.min("o_orderpriority").alias("priority"),
            F.min("o_orderdate").alias("valid_from"),
            F.max("o_orderdate").alias("valid_to"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey", "island")
    )


# ---------------------------------------------------------------------------
# EWMA anomaly score with exact binary weights
# ---------------------------------------------------------------------------


@register(
    "ewma_revenue_anomaly",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(22,4))) AS DOUBLE) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    l AS (
      SELECT day, rev,
             ROW_NUMBER() OVER w AS rn,
             LAG(rev, 1) OVER w AS x1, LAG(rev, 2) OVER w AS x2,
             LAG(rev, 3) OVER w AS x3, LAG(rev, 4) OVER w AS x4,
             LAG(rev, 5) OVER w AS x5, LAG(rev, 6) OVER w AS x6
      FROM d WINDOW w AS (ORDER BY day)
    ),
    e AS (
      SELECT day, rev,
             rev * 0.5 + x1 * 0.25 + x2 * 0.125 + x3 * 0.0625
               + x4 * 0.03125 + x5 * 0.015625 + x6 * 0.015625 AS ewma
      FROM l WHERE rn >= 7
    )
    SELECT day, rev, ewma, rev / ewma AS ratio,
           CAST(CASE WHEN rev / ewma > 1.25 OR rev / ewma < 0.8
                     THEN 1 ELSE 0 END AS INT) AS anomalous
    FROM e ORDER BY day
    """,
    tags=("pipeline-r8b", "stats", "timeseries"),
)
def ewma_revenue_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving-average anomaly score over daily
    revenue: each day's revenue against the EWMA of its trailing week,
    flagging days outside ±25/−20%. The EWMA is the half-life-one-day
    finite kernel (weights ½, ¼, …, 1/64, 1/64 — exact binary
    fractions summing to exactly 1), unrolled as six lag() columns and
    one left-associated multiply-add chain: every term is a single IEEE
    operation on an exactly-decimal-summed daily total, so the score is
    bit-identical across engines and partitionings — the reason the
    kernel is unrolled rather than computed with pow(). The recursive
    infinite-history EWMA is deliberately NOT used: it is
    order-sequential (a foldLeft over the corpus), while the finite
    kernel is a pure window — the Spark-first formulation. Day grain
    makes the global window scale-irrelevant (≤ a few thousand rows
    after the one corpus aggregate, the documented post-agg exemption).
    """
    d = (
        catalog_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(dsum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("day")
    lags = {f"x{i}": F.lag("rev", i).over(w) for i in range(1, 7)}
    l = d.select(
        "day", "rev", F.row_number().over(w).alias("rn"),
        *[c.alias(n) for n, c in lags.items()],
    )
    ewma = (
        F.col("rev") * 0.5
        + F.col("x1") * 0.25
        + F.col("x2") * 0.125
        + F.col("x3") * 0.0625
        + F.col("x4") * 0.03125
        + F.col("x5") * 0.015625
        + F.col("x6") * 0.015625
    )
    e = l.filter(F.col("rn") >= 7).select("day", "rev", ewma.alias("ewma"))
    ratio = F.col("rev") / F.col("ewma")
    return e.select(
        "day",
        "rev",
        "ewma",
        ratio.alias("ratio"),
        F.when((ratio > 1.25) | (ratio < 0.8), 1).otherwise(0).alias("anomalous"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram train/test overlap
# ---------------------------------------------------------------------------


@register(
    "benchmark_contamination",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, source,
             md5(array_to_string(toks[i:i+3], ' ')) AS h
      FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 2)) AS i) s
      WHERE len(toks) >= 4
    ),
    bench AS (SELECT DISTINCT h FROM g WHERE source = 'src0'),
    tr AS (SELECT doc_id, h FROM g WHERE source <> 'src0')
    SELECT tr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS contamination_ratio
    FROM tr LEFT JOIN bench b USING (h)
    GROUP BY tr.doc_id
    HAVING SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) > 0
    ORDER BY tr.doc_id
    """,
    tags=("pipeline-r8b", "text", "dedup", "llm"),
    bench=True,
)
def benchmark_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination audit: training documents sharing any
    word n-gram with a held-out benchmark source ('src0' stands in for
    an eval suite), with the per-document contaminated-gram count and
    ratio — the overlap check run before every pretraining corpus
    ships (GPT-3 appendix C / PaLM-style 13-gram collision; this
    synthetic corpus has the right selectivity at 4-grams, and the
    plan is gram-size-agnostic). Plan: benchmark grams are built from
    the source-filtered scan (filter pushed to parquet) and reduced to
    a DISTINCT md5 set — benchmark suites are bounded, so the set gets
    a size-gated broadcast and the train side never shuffles for the
    probe; training grams stream through one left join + one doc-grain
    aggregate (n_grams and hits in a single pass — no double gram
    build). Grams travel as 16-byte md5 keys, never text. At 100 TB
    this is one scan + one doc-grain shuffle; the broadcast is
    benchmark-sized (fixed), honoring the no-corpus-sized-broadcast
    invariant."""
    docs = catalog_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    bench_grams = (
        gram_rows(docs.filter(F.col("source") == "src0"), ngram=4)
        .select(F.md5("gram").alias("h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train_g = gram_rows(docs.filter(F.col("source") != "src0"), ngram=4).select(
        F.col("id").alias("doc_id"), F.md5("gram").alias("h")
    )
    hit = F.coalesce(F.col("__hit"), F.lit(0))
    return (
        train_g.join(maybe_broadcast(bench_grams), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(hit).alias("n_contaminated"),
        )
        .filter(F.col("n_contaminated") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("contamination_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Community modularity of the co-order graph (brand partition)
# ---------------------------------------------------------------------------


@register(
    "community_modularity",
    oracle="""
    WITH co AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b USING (l_orderkey)
      WHERE a.l_partkey < b.l_partkey
    ),
    lab AS (SELECT p_partkey AS id, p_brand AS community FROM part),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM co),
    intra AS (
      SELECT lu.community, CAST(COUNT(*) AS BIGINT) AS intra_edges
      FROM co JOIN lab lu ON co.u = lu.id JOIN lab lv ON co.v = lv.id
      WHERE lu.community = lv.community
      GROUP BY lu.community
    ),
    ends AS (SELECT u AS x FROM co UNION ALL SELECT v FROM co),
    deg AS (SELECT x AS id, CAST(COUNT(*) AS BIGINT) AS d
            FROM ends GROUP BY x),
    comm AS (
      SELECT lab.community,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(deg.d) AS BIGINT) AS degree_sum
      FROM deg JOIN lab ON deg.id = lab.id
      GROUP BY lab.community
    )
    SELECT comm.community, comm.n_nodes,
           COALESCE(intra.intra_edges, 0) AS intra_edges,
           comm.degree_sum,
           CAST(COALESCE(intra.intra_edges, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
             - (CAST(comm.degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
               * (CAST(comm.degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
             AS modularity_term
    FROM comm LEFT JOIN intra ON comm.community = intra.community
    CROSS JOIN m
    ORDER BY comm.community
    """,
    tags=("pipeline-r8b", "graph", "stats"),
    bench=True,
)
def community_modularity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition over the part co-order
    graph, one row per community — the quality score for ANY candidate
    community assignment (here the catalog's own brand labels; global
    Q is the column sum). Completes the graph-audit family (PageRank,
    triangles, k-core, assortativity): modularity is what decides
    whether a clustering of the co-occurrence graph is real structure
    or noise. The edge build is `triangle_count`'s (orderkey self-join,
    repartitioned, distinct), localCheckpointed because it feeds the
    intra-edge count AND the degree frame; labels are a size-gated
    part-dimension broadcast. Each community's term is
    L_c/m − (D_c/2m)² computed from exact BIGINT counts with the
    square as an explicit multiply (pow is not engine-exact) — the
    per-community rows are returned instead of the scalar sum because
    an unordered cross-group double sum is the one thing the hash gate
    cannot pin. At 100 TB: one fact self-join (the probed co-order
    shape), |V|-grain degree frame, vocab-grain output."""
    li = (
        catalog_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(32, "l_orderkey")
    )
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    lab = catalog_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("community")
    )
    lu = lab.withColumnsRenamed({"id": "u", "community": "cu"})
    lv = lab.withColumnsRenamed({"id": "v", "community": "cv"})
    m = co.agg(F.count("*").cast("long").alias("m"))
    intra = (
        co.join(maybe_broadcast(lu), "u")
        .join(maybe_broadcast(lv), "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").cast("long").alias("intra_edges"))
    )
    ends = co.select(F.col("u").alias("x")).unionByName(co.select(F.col("v").alias("x")))
    deg = ends.groupBy(F.col("x").alias("id")).agg(
        F.count("*").cast("long").alias("d")
    )
    comm = (
        deg.join(maybe_broadcast(lab), "id")
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    md = F.col("m").cast("double")
    frac = F.col("degree_sum").cast("double") / (F.lit(2.0) * md)
    return (
        comm.join(intra, "community", "left")
        .withColumn("intra_edges", F.coalesce(F.col("intra_edges"), F.lit(0)))
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            "intra_edges",
            "degree_sum",
            (F.col("intra_edges").cast("double") / md - frac * frac).alias(
                "modularity_term"
            ),
        )
        .orderBy("community")
    )


# ---------------------------------------------------------------------------
# Top-k entry paths (first-3-event sequences)
# ---------------------------------------------------------------------------


@register(
    "event_path_topk",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id,
             MAX(CASE WHEN rn = 1 THEN event_type END) AS e1,
             MAX(CASE WHEN rn = 2 THEN event_type END) AS e2,
             MAX(CASE WHEN rn = 3 THEN event_type END) AS e3
      FROM r WHERE rn <= 3 GROUP BY user_id
    ),
    c AS (
      SELECT concat_ws('>', e1, e2, e3) AS path,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM p GROUP BY concat_ws('>', e1, e2, e3)
    )
    SELECT path, n_users FROM c ORDER BY n_users DESC, path LIMIT 10
    """,
    tags=("pipeline-r8b", "events", "analytics"),
)
def event_path_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 user entry paths: the first three event types per user in
    arrival order, folded to a path string and ranked by user count —
    the "how do sessions start" report behind onboarding funnels and
    the qualitative companion to `markov_event_transitions` (which
    models single steps; this surfaces whole prefixes). Rank extraction
    is a row_number over the (user; ts, event_id) total order filtered
    to rn ≤ 3 — WindowGroupLimit keeps per-task state at 3 rows per
    user; the pivot to (e1, e2, e3) is conditional aggregation (exact,
    order-free — collect_list is NOT used because its intra-group order
    is partitioning-dependent); concat_ws skips NULLs identically on
    both engines, so sub-3-event users fold to their shorter prefix.
    The final top-10 is count-then-path ordered (total tie-break) and
    plans as TakeOrderedAndProject over the path-grain frame. At
    100 TB: one user-grain shuffle, one ≤|event_type|³-grain aggregate.
    """
    # events through the shared catalog (no schema-inference job per
    # build) and SQL strings, not Column calls (~10 py4j round trips each)
    r = (
        catalog_table(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "event_type",
            "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn",
        )
        .where("rn <= 3")
    )
    p = r.groupBy("user_id").agg(
        *[F.expr(f"max(CASE WHEN rn = {i} THEN event_type END) AS e{i}") for i in (1, 2, 3)]
    )
    c = p.groupBy(F.expr("concat_ws('>', e1, e2, e3) AS path")).agg(
        F.expr("count(*) AS n_users")
    )
    # F.desc, not F.expr("n_users DESC"): the string parses as an alias
    return c.orderBy(F.desc("n_users"), "path").limit(10)


# ---------------------------------------------------------------------------
# Gini impurity per segment (integer-exact sum of squares)
# ---------------------------------------------------------------------------


@register(
    "gini_impurity_segments",
    oracle="""
    WITH oc AS (
      SELECT c_mktsegment AS segment, o_orderpriority AS prio
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    pc AS (
      SELECT segment, prio, CAST(COUNT(*) AS BIGINT) AS np
      FROM oc GROUP BY segment, prio
    ),
    s AS (
      SELECT segment,
             CAST(SUM(np) AS BIGINT) AS n_orders,
             CAST(SUM(np * np) AS BIGINT) AS ssq
      FROM pc GROUP BY segment
    )
    SELECT segment, n_orders,
           1.0 - CAST(ssq AS DOUBLE)
             / (CAST(n_orders AS DOUBLE) * CAST(n_orders AS DOUBLE)) AS gini
    FROM s ORDER BY segment
    """,
    tags=("pipeline-r8b", "stats", "audit"),
)
def gini_impurity_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of the order-priority distribution per market
    segment — the class-balance / homogeneity audit (the split
    criterion of decision trees, and a drift check for label mixes in
    curation pipelines). The naive form Σp² is an unordered double sum
    (engine-unpinnable); rewritten as 1 − (Σ n_p²)/n² the numerator
    and denominator are exact BIGINTs — one corpus aggregate to
    (segment, priority) grain with map-side combine, a second tiny
    re-agg, and ONE double division per segment (past ~9e15 orders per
    segment the closing casts round, identically on both engines).
    Customer is a size-gated dimension broadcast. Output is
    segment-grain (5 rows) whatever the corpus size."""
    orders = catalog_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = catalog_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    pc = (
        orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").cast("long").alias("np"))
    )
    s = pc.groupBy("segment").agg(
        F.sum("np").cast("long").alias("n_orders"),
        F.sum(F.col("np") * F.col("np")).cast("long").alias("ssq"),
    )
    nd = F.col("n_orders").cast("double")
    return s.select(
        "segment",
        "n_orders",
        (F.lit(1.0) - F.col("ssq").cast("double") / (nd * nd)).alias("gini"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Session bounce / dwell-time report
# ---------------------------------------------------------------------------


@register(
    "session_bounce_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per AS (
      SELECT user_id, session_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             date_trunc('day', MIN(ts)) AS day,
             CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
               AS duration_us
      FROM sess GROUP BY user_id, session_id
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS bounce_rate,
           quantile_cont(duration_us, 0.50) / 1000000.0 AS p50_duration_s,
           quantile_cont(duration_us, 0.90) / 1000000.0 AS p90_duration_s
    FROM per GROUP BY day ORDER BY day
    """,
    tags=("pipeline-r8b", "events", "analytics"),
)
def session_bounce_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce-rate and dwell-time report over gap-based sessions —
    the engagement companion to `sessionize`: single-event sessions are
    bounces; dwell is last-minus-first event time. Session assembly is
    the registry's lag-gap shape (one user-grain shuffle; the change
    flag and the running session id share one window ordering, so ONE
    exchange plans both), collapsed at (user, session) grain and
    re-aggregated by session-start day. Determinism: durations are
    exact µs BIGINTs (unix_micros ≙ epoch_us), bounce counts are
    integers with one closing division, and the dwell percentiles use
    the pinned Spark `percentile` ≙ DuckDB `quantile_cont`
    interpolation identity (`value_percentiles` precedent) with the
    /1e6 seconds conversion as a single IEEE op on both engines. At
    100 TB: user-grain shuffle, session-grain collapse, calendar-
    bounded output."""
    ev = catalog_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = (
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 30 * 60 * 1_000_000)
    ).cast("bigint")
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.date_trunc("day", F.min("ts")).alias("day"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias(
            "duration_us"
        ),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("long")
    return (
        per.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            bounce.alias("n_bounce"),
            (
                bounce.cast("double") / F.count("*").cast("double")
            ).alias("bounce_rate"),
            (F.expr("percentile(duration_us, 0.50)") / F.lit(1_000_000.0)).alias(
                "p50_duration_s"
            ),
            (F.expr("percentile(duration_us, 0.90)") / F.lit(1_000_000.0)).alias(
                "p90_duration_s"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (classifier evaluation)
# ---------------------------------------------------------------------------


def _lang_confusion_oracle() -> str:
    from funnel_report_etl_pipeline__spark.operators.text import LANG_MARKERS
    from funnel_report_etl_pipeline__spark.plans.pipeline_ops import _lang_score_sql

    langs = sorted(LANG_MARKERS)
    scores = ", ".join(f"{_lang_score_sql(lg)} AS score_{lg}" for lg in langs)
    greatest = ", ".join(f"score_{lg}" for lg in langs)
    whens = " ".join(f"WHEN score_{lg} THEN '{lg}'" for lg in langs)
    return f"""
    WITH s AS (SELECT doc_id, lang AS gold_lang, {scores} FROM documents),
    p AS (
      SELECT doc_id, gold_lang,
             CASE greatest({greatest}) {whens} END AS pred_lang
      FROM s
    ),
    c AS (
      SELECT gold_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM p GROUP BY gold_lang, pred_lang
    )
    SELECT gold_lang, pred_lang, n_docs,
           CAST(n_docs AS DOUBLE)
             / CAST(SUM(n_docs) OVER (PARTITION BY gold_lang) AS DOUBLE)
             AS gold_share
    FROM c ORDER BY gold_lang, pred_lang
    """


@register(
    "lang_id_confusion",
    oracle=_lang_confusion_oracle(),
    tags=("pipeline-r8b", "text", "eval"),
)
def lang_id_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-token language classifier against
    the corpus's gold labels — the evaluation readout (per-cell counts
    plus row-normalized shares, whose diagonal is per-language recall)
    every curation pipeline needs before trusting a lang filter at
    100 TB. Predictions come from the SAME shared operator the gated
    `lang_id_heuristic` query verifies (`operators/text.lang_id` —
    scoring parity already pinned by its green row); gold labels join
    back at doc grain, then one collapse to the ≤|langs|² cell grain
    with map-side combine and a row-normalizing window over that tiny
    frame. Counts exact, one division per cell. At 100 TB: one
    doc-grain join exchange (prediction is scan-side), one 25-row
    aggregate."""
    from funnel_report_etl_pipeline__spark.operators.text import lang_id

    docs = catalog_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    pred = lang_id(docs).select("doc_id", "pred_lang")
    gold = docs.select("doc_id", F.col("lang").alias("gold_lang"))
    c = (
        gold.join(pred, "doc_id")
        .groupBy("gold_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    share = F.sum("n_docs").over(Window.partitionBy("gold_lang"))
    return c.select(
        "gold_lang",
        "pred_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / share.cast("double")).alias("gold_share"),
    ).orderBy("gold_lang", "pred_lang")


# ---------------------------------------------------------------------------
# Two-hop reach census from the top-degree hubs (seed-bounded BFS)
# ---------------------------------------------------------------------------


@register(
    "two_hop_reach",
    oracle="""
    WITH co AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b USING (l_orderkey)
      WHERE a.l_partkey < b.l_partkey
    ),
    ends AS (SELECT u AS x, v AS y FROM co UNION ALL SELECT v, u FROM co),
    deg AS (SELECT x AS id, CAST(COUNT(*) AS BIGINT) AS d
            FROM ends GROUP BY x),
    seeds AS (SELECT id AS seed, d FROM deg ORDER BY d DESC, id LIMIT 5),
    n1 AS (
      SELECT DISTINCT s.seed, e.y AS nbr
      FROM seeds s JOIN ends e ON e.x = s.seed
    ),
    n2 AS (
      SELECT DISTINCT n1.seed, e.y AS nbr2
      FROM n1 JOIN ends e ON e.x = n1.nbr
      WHERE e.y <> n1.seed
        AND NOT EXISTS (SELECT 1 FROM n1 i
                        WHERE i.seed = n1.seed AND i.nbr = e.y)
    )
    SELECT s.seed, s.d AS degree,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM n1 WHERE n1.seed = s.seed)
             AS n_1hop,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM n2 WHERE n2.seed = s.seed)
             AS n_2hop
    FROM seeds s ORDER BY s.seed
    """,
    tags=("pipeline-r8b", "graph"),
)
def two_hop_reach_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach census from the five highest-degree hubs of the part
    co-order graph: exact 1-hop and 2-hop (friends-of-friends) distinct
    neighborhood sizes — the reach/influence readout behind hub analysis
    and the sanity bound for any sampling that fans out from hot nodes.
    Seeds are deterministic (degree DESC, id ASC — a total order) and
    K-bounded, so the BFS frontier frames are seed-bounded: N1 is at
    most K·max_degree rows, never corpus-grain, and the two frontier
    joins probe the ONE localCheckpointed edge list (k-core's pattern —
    the edge build is shared, the probes are frontier-sized). 2-hop
    excludes the seed itself and its 1-hop set via a left-anti join at
    (seed, neighbor) grain. All counts exact BIGINTs. At 100 TB the
    edge build dominates (the probed co-order shape); everything after
    it is K·degree²-bounded."""
    li = (
        catalog_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(32, "l_orderkey")
    )
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    ends = co.select(F.col("u").alias("x"), F.col("v").alias("y")).unionByName(
        co.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    deg = ends.groupBy(F.col("x").alias("id")).agg(
        F.count("*").cast("long").alias("d")
    )
    seeds = (
        deg.orderBy(F.col("d").desc(), F.col("id").asc())
        .limit(5)
        .select(F.col("id").alias("seed"), F.col("d").alias("degree"))
        .localCheckpoint()  # 5 rows; both frontier joins and the output reuse it
    )
    n1 = (
        F.broadcast(seeds)
        .join(ends, seeds.seed == ends.x)
        .select("seed", F.col("y").alias("nbr"))
        .distinct()
        .localCheckpoint()  # ≤ K·max_degree rows; probed by the 2-hop join
    )
    n2 = (
        n1.join(ends, n1.nbr == ends.x)
        .select("seed", F.col("y").alias("nbr2"))
        .filter(F.col("nbr2") != F.col("seed"))
        .join(
            n1.withColumnsRenamed({"nbr": "nbr2"}),
            ["seed", "nbr2"],
            "left_anti",
        )
        .distinct()
    )
    c1 = n1.groupBy("seed").agg(F.count("*").cast("long").alias("n_1hop"))
    c2 = n2.groupBy("seed").agg(F.count("*").cast("long").alias("n_2hop"))
    return (
        seeds.join(c1, "seed", "left")
        .join(c2, "seed", "left")
        .select(
            "seed",
            "degree",
            F.coalesce(F.col("n_1hop"), F.lit(0)).alias("n_1hop"),
            F.coalesce(F.col("n_2hop"), F.lit(0)).alias("n_2hop"),
        )
        .orderBy("seed")
    )


# ---------------------------------------------------------------------------
# Table profile (ANALYZE-style per-column statistics)
# ---------------------------------------------------------------------------


@register(
    "table_profile_orders",
    oracle="""
    SELECT 'o_custkey' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_num
    FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           CAST(epoch_us(MIN(o_orderdate)) AS DOUBLE),
           CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(MIN(o_orderkey) AS DOUBLE),
           CAST(MAX(o_orderkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS DOUBLE),
           CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
    ORDER BY column_name
    """,
    tags=("pipeline-r8b", "audit", "dataops"),
)
def table_profile_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table profile: per-column row/null/exact-distinct
    counts plus numeric min/max (timestamps as epoch-µs doubles via the
    pinned unix_micros ≙ epoch_us identity; strings get NULL bounds) —
    the statistics pass behind CBO stats, data contracts, and schema
    drift alerts. Plan: one narrow aggregate PER COLUMN unioned at the
    end — on columnar storage six single-column scans beat one
    6-way COUNT(DISTINCT) aggregate, whose Expand node would replicate
    every row once per column; each per-column distinct is its own
    uniform-key shuffle. Exact distinct is the auditable choice here;
    the production path for wide tables at 100 TB is
    approx_count_distinct (engine-specific HLL — deliberately not
    hash-gated; `approx_distinct_users` carries that family's check
    pattern)."""
    o = catalog_table(spark, sf_dir, "orders")

    def prof(col: str, numeric, ts: bool = False):
        mn: F.Column | None
        if ts:
            mn = F.min(F.unix_micros(F.col(col))).cast("double")
            mx = F.max(F.unix_micros(F.col(col))).cast("double")
        elif numeric:
            mn = F.min(col).cast("double")
            mx = F.max(col).cast("double")
        else:
            mn = F.lit(None).cast("double")
            mx = F.lit(None).cast("double")
        return o.select(col).agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            mn.alias("min_num"),
            mx.alias("max_num"),
        )

    frames = [
        prof("o_custkey", numeric=True),
        prof("o_orderdate", numeric=True, ts=True),
        prof("o_orderkey", numeric=True),
        prof("o_orderpriority", numeric=False),
        prof("o_orderstatus", numeric=False),
        prof("o_totalprice", numeric=True),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# Weekday seasonality index
# ---------------------------------------------------------------------------


@register(
    "weekday_seasonality",
    oracle="""
    WITH d AS (
      SELECT CAST(date_diff('day', DATE '1970-01-05',
                            CAST(o_orderdate AS DATE)) % 7 AS BIGINT)
               AS weekday,
             date_trunc('day', o_orderdate) AS day,
             o_totalprice
      FROM orders
    ),
    w AS (
      SELECT weekday,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(22,4))) AS DOUBLE) AS rev,
             CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
      FROM d GROUP BY weekday
    ),
    tot AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(22,4))) AS DOUBLE)
               AS total_rev,
             CAST(COUNT(DISTINCT date_trunc('day', o_orderdate)) AS BIGINT)
               AS total_days
      FROM orders
    )
    SELECT weekday, rev, n_days,
           (rev / CAST(n_days AS DOUBLE))
             / (total_rev / CAST(total_days AS DOUBLE)) AS seasonality_index
    FROM w CROSS JOIN tot ORDER BY weekday
    """,
    tags=("pipeline-r8b", "stats", "timeseries"),
)
def weekday_seasonality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index of order revenue: each weekday's
    revenue-per-active-day against the overall revenue-per-day (index 1
    = no weekly cycle) — the multiplicative-decomposition seasonal
    factor, and the denominator every EWMA/anomaly threshold should be
    conditioned on. Weekday extraction is pure integer arithmetic
    (days-since-a-known-Monday mod 7, Mon=0..Sun=6) rather than the
    engines' dayofweek builtins, whose numbering conventions differ
    (Spark 1=Sunday, DuckDB 0=Sunday). Revenue in exact decimal; one
    7-row frame, one 1-row global broadcast, one fixed division tree.
    """
    o = catalog_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    weekday = (
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-05").cast("date")) % 7
    ).cast("long")
    day = F.date_trunc("day", F.col("o_orderdate"))
    w = (
        o.select(weekday.alias("weekday"), day.alias("day"), "o_totalprice")
        .groupBy("weekday")
        .agg(
            dsum("o_totalprice").alias("rev"),
            F.countDistinct("day").alias("n_days"),
        )
    )
    tot = o.agg(
        dsum("o_totalprice").alias("total_rev"),
        F.countDistinct(day).alias("total_days"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "weekday",
            "rev",
            "n_days",
            (
                (F.col("rev") / F.col("n_days").cast("double"))
                / (F.col("total_rev") / F.col("total_days").cast("double"))
            ).alias("seasonality_index"),
        )
        .orderBy("weekday")
    )


# ---------------------------------------------------------------------------
# Winsorized (robust) mean per segment
# ---------------------------------------------------------------------------


@register(
    "winsorized_revenue_mean",
    oracle="""
    WITH oc AS (
      SELECT c_mktsegment AS segment, o_totalprice AS price
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    b AS (
      SELECT segment,
             quantile_cont(price, 0.05) AS p05,
             quantile_cont(price, 0.95) AS p95
      FROM oc GROUP BY segment
    )
    SELECT oc.segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(LEAST(GREATEST(price, p05), p95)
                         AS DECIMAL(22,4))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS winsorized_mean,
           CAST(SUM(CAST(price AS DECIMAL(22,4))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS raw_mean
    FROM oc JOIN b ON b.segment = oc.segment
    GROUP BY oc.segment ORDER BY oc.segment
    """,
    tags=("pipeline-r8b", "stats", "robust"),
)
def winsorized_revenue_mean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean order value per market segment (values clipped to
    the segment's own [p05, p95] before averaging), next to the raw
    mean — the robust-statistics companion to `revenue_anomaly_days`'s
    MAD gate: a whale order moves the raw mean but not the winsorized
    one. Two passes over the fact: an exact per-segment percentile
    aggregate (5 bound rows — broadcast back), then clamp
    (LEAST/GREATEST, identical on both engines) and an exact-decimal
    mean. The clamped value is decimal-cast BEFORE summing, so the only
    floating ops are the per-row clamp (selection, not arithmetic —
    bit-exact) and the closing division. At 100 TB swap the exact
    percentile for approx_percentile (GK) and keep the same clamp —
    `user_rfm_segments_approx` carries that pattern's gate story."""
    orders = catalog_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = catalog_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    oc = orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("price")
    )
    b = oc.groupBy("segment").agg(
        F.expr("percentile(price, 0.05)").alias("p05"),
        F.expr("percentile(price, 0.95)").alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("price"), F.col("p05")), F.col("p95"))
    return (
        oc.join(maybe_broadcast(b), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (dsum(clamped) / F.count(F.lit(1)).cast("double")).alias(
                "winsorized_mean"
            ),
            (dsum("price") / F.count(F.lit(1)).cast("double")).alias("raw_mean"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Cumulative unique users (first-seen rewrite)
# ---------------------------------------------------------------------------


@register(
    "cumulative_unique_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_users
      FROM firsts GROUP BY first_day
    )
    SELECT day, n_new_users,
           CAST(SUM(n_new_users) OVER (
             ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM daily ORDER BY day
    """,
    tags=("pipeline-r8b", "events", "analytics"),
)
def cumulative_unique_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth curve every events
    dashboard draws, shown in its SCALABLE rewrite: a running
    COUNT(DISTINCT user) over an expanding window re-scans every prior
    day per output row (quadratic, and Spark would materialize the
    whole user set per frame); the first-seen rewrite is one user-grain
    aggregate (each user's MIN day), one day-grain count of first
    appearances, and a running sum over the calendar-bounded day frame
    — linear, and the cumulative count is exactly the distinct count
    because each user contributes on precisely one day. All integers.
    At 100 TB: one user-grain shuffle (map-side combined), day-grain
    everything after."""
    ev = catalog_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_new_users")
    )
    cum = F.sum("n_new_users").over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "day", "n_new_users", cum.cast("long").alias("cumulative_users")
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Forward as-of join: next purchase at-or-after each view
# ---------------------------------------------------------------------------


@register(
    "asof_join_forward",
    oracle="""
    SELECT l.user_id, l.event_id, l.ts AS view_ts, r.ts AS next_purchase_ts
    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'view') l
    ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
    tags=("pipeline-r8b", "asof", "relational"),
)
def asof_join_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas merge_asof direction='forward'): each
    view gets the user's next purchase at-or-after it — the
    time-to-conversion primitive, mirroring the gated backward
    `asof_join_events`. Same union + ordered-window composition with the
    frame flipped (first-ignoreNulls over currentRow→unboundedFollowing;
    left sorts before right at equal ts so an exactly-simultaneous
    purchase still matches ≥). ONE user-grain shuffle, no range-join
    blowup. Only the matched timestamp is attached, so right rows
    sharing (user, ts) cannot make the result engine-arbitrary (the
    as-of oracle dedup gotcha). Oracle is DuckDB's native ASOF with the
    inequality reversed."""
    from funnel_report_etl_pipeline__spark.operators.asof import asof_join

    ev = catalog_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    out = asof_join(
        views, purchases, on=["user_id"], right_cols=[], direction="forward"
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("ts").alias("view_ts"),
        F.col("asof_ts").alias("next_purchase_ts"),
    ).orderBy("user_id", "event_id")


@register(
    "asof_join_nearest",
    oracle="""
    WITH l AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'view'),
    r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase'),
    b AS (SELECT l.user_id, l.event_id, l.ts, rb.ts AS b_ts
          FROM l ASOF LEFT JOIN r rb
            ON l.user_id = rb.user_id AND l.ts >= rb.ts),
    f AS (SELECT l.user_id, l.event_id, rf.ts AS f_ts
          FROM l ASOF LEFT JOIN r rf
            ON l.user_id = rf.user_id AND l.ts <= rf.ts)
    SELECT b.user_id, b.event_id, b.ts AS view_ts,
           CASE WHEN f_ts IS NULL THEN b_ts
                WHEN b_ts IS NULL THEN f_ts
                WHEN epoch_us(b.ts) - epoch_us(b_ts)
                       <= epoch_us(f_ts) - epoch_us(b.ts)
                THEN b_ts ELSE f_ts END AS nearest_purchase_ts
    FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id
    ORDER BY b.user_id, b.event_id
    """,
    tags=("pipeline-r8b", "asof", "relational"),
)
def asof_join_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas merge_asof direction='nearest'): each
    view gets the user's closest purchase in either time direction, ties
    to the earlier one — completing the operator's three-direction API.
    Both candidate picks come from the SAME union frame and key
    partitioning (one exchange, two in-partition sorts); the choice is a
    fixed integer-µs gap comparison, so it is engine-deterministic. The
    oracle composes DuckDB's two native ASOF directions with the same
    tie rule. Only the matched timestamp is attached (same-ts duplicate
    safety, as in both gated sibling queries)."""
    from funnel_report_etl_pipeline__spark.operators.asof import asof_join

    ev = catalog_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    out = asof_join(
        views, purchases, on=["user_id"], right_cols=[], direction="nearest"
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("ts").alias("view_ts"),
        F.col("asof_ts").alias("nearest_purchase_ts"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Equi-depth histogram (CBO statistics shape)
# ---------------------------------------------------------------------------


@register(
    "equidepth_price_histogram",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(o_totalprice, 0.125) AS b1,
             quantile_cont(o_totalprice, 0.250) AS b2,
             quantile_cont(o_totalprice, 0.375) AS b3,
             quantile_cont(o_totalprice, 0.500) AS b4,
             quantile_cont(o_totalprice, 0.625) AS b5,
             quantile_cont(o_totalprice, 0.750) AS b6,
             quantile_cont(o_totalprice, 0.875) AS b7
      FROM orders
    )
    SELECT CAST(CASE WHEN o_totalprice <= b1 THEN 0
                     WHEN o_totalprice <= b2 THEN 1
                     WHEN o_totalprice <= b3 THEN 2
                     WHEN o_totalprice <= b4 THEN 3
                     WHEN o_totalprice <= b5 THEN 4
                     WHEN o_totalprice <= b6 THEN 5
                     WHEN o_totalprice <= b7 THEN 6
                     ELSE 7 END AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders CROSS JOIN b
    GROUP BY 1 ORDER BY bucket
    """,
    tags=("pipeline-r8b", "stats", "dataops"),
)
def equidepth_price_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of order value — the CBO
    statistics shape (engines keep equi-depth, not equi-width,
    histograms for selectivity estimation; `price_histogram` is the
    equi-width dashboard twin). Pass 1 computes the 7 inner octile
    boundaries with the pinned exact-percentile identity (one aggregate
    to a 1-row frame); pass 2 broadcasts that row and bins every order
    with a fixed ≤-comparison chain — selection only, no arithmetic, so
    bucket assignment is bit-deterministic even though boundaries are
    interpolated doubles. Per-bucket counts and actual [lo, hi] value
    bounds are exact. Near-equal counts are expected, not exact-equal:
    ties at a boundary all land in the lower bucket. At 100 TB: swap
    the exact percentile for approx_percentile (GK) and keep the same
    binning chain — the `winsorized_revenue_mean` note's pattern."""
    o = catalog_table(spark, sf_dir, "orders").select("o_totalprice")
    qs = [0.125, 0.250, 0.375, 0.500, 0.625, 0.750, 0.875]
    b = o.agg(
        *[
            F.expr(f"percentile(o_totalprice, {q})").alias(f"b{i}")
            for i, q in enumerate(qs, 1)
        ]
    )
    price = F.col("o_totalprice")
    bucket = F.when(price <= F.col("b1"), 0)
    for i in range(2, 8):
        bucket = bucket.when(price <= F.col(f"b{i}"), i - 1)
    bucket = bucket.otherwise(7).cast("long")
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min(price).cast("double").alias("lo"),
            F.max(price).cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Distribution-rank window battery: percent_rank / cume_dist / nth_value
# ---------------------------------------------------------------------------


@register(
    "window_dist_funcs",
    oracle="""
    SELECT c_nationkey,
           c_custkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           nth_value(c_custkey, 2) OVER (
             w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_custkey
    FROM customer
    WHERE c_nationkey < 3
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    ORDER BY c_nationkey, c_custkey
    """,
    tags=("pipeline-r8b", "window", "relational"),
)
def window_dist_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window battery — percent_rank, cume_dist and
    nth_value, the three ranking functions the window surface
    (`window_rank`, `window_nav_funcs`, `range_window_frame`) had not
    yet exercised. The ORDER BY carries a full tie-break (balance, then
    key), so both engines' (rank−1)/(n−1) and rank/n formulas see the
    same total order and produce bit-identical doubles (two exact
    integer inputs, one division). nth_value uses the explicit
    unbounded frame — its DEFAULT frame ends at CURRENT ROW, where
    rows before the 2nd would read NULL and engines may disagree on
    the default; pinning the frame removes the ambiguity. Partition
    grain is the nation key — scale-safe; the filter prunes the scan.
    """
    cust = (
        catalog_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 3)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    )
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("c_custkey", 2).over(wf).alias("second_custkey"),
    ).orderBy("c_nationkey", "c_custkey")


# ---------------------------------------------------------------------------
# Mixed GROUPING SETS (beyond rollup/cube)
# ---------------------------------------------------------------------------


@register(
    "grouping_sets_mixed",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderstatus), ())
    ORDER BY g_priority, g_status, o_orderpriority, o_orderstatus
    """,
    tags=("pipeline-r8b", "relational", "grouping"),
)
def grouping_sets_mixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit mixed GROUPING SETS — the general form `rollup_hierarchy`
    and `cube_segment_priority` specialize: detail (priority × status),
    one single-column margin (status), and the grand total, all in ONE
    Expand + aggregate pass (three sets → each input row expands 3×,
    then one hash aggregate; no union of three scans). GROUPING() flags
    disambiguate a real NULL from a margin row, and both engines order
    the output by them. Revenue in exact decimal; counts exact. Routed
    through the SQL front-end (the same raw-`spark.sql` gate path as
    `sql_correlated_subquery`) so the GROUPING SETS grammar itself is
    what is verified."""
    catalog_table(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(22,4))) AS DOUBLE)
                 AS revenue,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderstatus), ())
        ORDER BY g_priority, g_status, o_orderpriority, o_orderstatus
    """)
