"""Round-8 queries: the two TPC-H shapes the registry's join evidence was
still missing (Q17's decorrelated scalar subquery, Q21's multi-EXISTS /
NOT-EXISTS anti-join chain — the round-7 verdict's ask #7; the chain gets
a same-oracle aggregate twin, `sole_return_supplier_agg`, whose green row
proves the single-fact-shuffle plan equivalent), three more
relational shapes that complete the family (Q15's scalar-max view join,
Q19's disjunctive mixed-predicate join, Q4's EXISTS + priority count),
and two LLM-pipeline additions:
a per-label embedding-drift score (exact integer/decimal aggregation, so
the floating pipeline still carries a value-hash oracle) and a MinHash
band-bucket skew audit (the mega-bucket early-warning an LSH pipeline
needs before its pair join at 100 TB).

The round-8 late batch completes the TPC-H subquery family: Q2 (min-per-
group correlated subquery -> part-partitioned window), Q11 (group share
vs a global scalar -> 1-row broadcast re-agg), Q16 (COUNT DISTINCT over a
NOT-IN anti-join), Q20 (nested IN with a per-group correlated threshold).

Reference parity note: the reference (report_engine.py / run_reports.py)
has no relational query engine — these extend the registry's
beyond-reference relational/pipeline surface following the same
Spark-first rules as plans/relational.py: declarative DataFrame plans,
pushed filters, size-gated broadcast hints, decimal/integer aggregation
at every cross-row summation point so DuckDB reproduces values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.functions.core import dsum
from funnel_report_etl_pipeline__spark.functions.hints import maybe_broadcast
from funnel_report_etl_pipeline__spark.operators.dedup import (
    band_buckets,
    drop_frequent_grams,
    gram_rows,
    lsh_candidate_pairs,
    minhash_signatures,
)
from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: correlated scalar subquery, decorrelated
# ---------------------------------------------------------------------------


@register(
    "small_quantity_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,4)))
                     AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = part.p_partkey
      )
    """,
    tags=("pipeline-r8", "relational", "join", "subquery"),
    bench=True,
)
def small_quantity_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue from lines
    whose quantity sits below 20% of that part's own average — the
    classic CORRELATED scalar subquery, written here in its decorrelated
    form (the rewrite Catalyst itself applies to the SQL): filter part by
    brand, semi-reduce lineitem to those parts FIRST (a size-gated
    broadcast of the filtered ~2% of part), compute the per-part average
    over the pruned lines, join the threshold back at part grain, filter,
    1-row aggregate. Both the per-part agg and the threshold join key on
    l_partkey, so AQE reuses one exchange; nothing corpus-grain crosses
    the driver. Determinism: l_quantity values are whole numbers in
    double, so their sums (< 2^53) are exact and AVG = exact_sum/count is
    partition-order-invariant; the 0.2·avg multiply and the `<` compare
    are then identical IEEE ops on both engines. Revenue sums in
    decimal(22,4); the /7.0 'yearly' scaling (Q17's constant) is the
    single rounding point. Oracle keeps the textbook correlated form —
    the green hash row proves the decorrelation is semantics-preserving."""
    li = catalog_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand = (
        catalog_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    li_b = li.join(maybe_broadcast(brand), li.l_partkey == brand.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thr = li_b.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("__thr")
    )
    agg = (
        li_b.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__thr"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(22,4)")).alias("__rev"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )
    return agg.select(
        (F.col("__rev").cast("double") / F.lit(7.0)).alias("avg_yearly"),
        "n_lines",
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: top supplier via scalar-max view join
# ---------------------------------------------------------------------------


@register(
    "top_supplier_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4)))
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
    tags=("pipeline-r8", "relational", "join", "subquery"),
    bench=True,
)
def top_supplier_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) with the maximum
    quarterly revenue, via the revenue-view + scalar-max-subquery pattern.
    Plan: ship-date range pushes to the lineitem scan; ONE suppkey-grain
    aggregate builds the view (map-side partials); its 1-row MAX
    broadcasts back over the view (supplier-grain, tiny) for the equality
    filter — never a global sort; supplier joins through a size-gated
    broadcast hint. Ties: revenue compares as exact decimal(22,4) — both
    engines keep every max-tied supplier, no arbitrary pick; the final
    cast to double happens after the comparison."""
    li = catalog_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(22,4)"
                )
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    sup = catalog_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(maybe_broadcast(sup), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive mixed-predicate join
# ---------------------------------------------------------------------------


@register(
    "disjunctive_brand_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 15)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
           AND l_quantity >= 10 AND l_quantity <= 25)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 20 AND l_quantity <= 35)
    """,
    tags=("pipeline-r8", "relational", "join"),
    bench=True,
)
def disjunctive_brand_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under a three-way disjunction of
    mixed part+lineitem predicates; the shipmode/shipinstruct conjuncts
    are dropped — no such columns). The scale-relevant plan property:
    Catalyst's CNF conversion extracts the part-only implication of the
    OR — p_brand IN (1,2,3) AND p_size ≤ 25 — and pushes it to the part
    SCAN, so part shrinks to the three brands before its (size-gated)
    broadcast into lineitem; the full disjunction then evaluates post-join
    as a codegen'd filter. One 1-row aggregate, no hash exchange at all.
    Revenue in decimal(22,4); quantity bounds compare whole-number doubles
    — exact on both engines."""
    li = catalog_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = catalog_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (q >= 1)
            & (q <= 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 20)
            & (q >= 10)
            & (q <= 25)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 25)
            & (q >= 20)
            & (q <= 35)
        )
    )
    return (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(22,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: EXISTS + NOT-EXISTS anti-join chain
# ---------------------------------------------------------------------------


@register(
    "sole_return_supplier",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    tags=("pipeline-r8", "relational", "join", "subquery"),
    bench=True,
)
def sole_return_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to the
    testdata's columns: lineitem has no commit/receipt dates, so the
    "failed the order" predicate is l_returnflag = 'R' — the supplier who
    was the SOLE returned-line supplier on a finalized multi-supplier
    order. Keeps Q21's exact correlation chain: probe rows l1, an EXISTS
    (another supplier on the same order) and a NOT EXISTS (another
    supplier who ALSO returned), both correlated on (same order,
    different supplier).

    Plan: EXISTS → LEFT SEMI and NOT EXISTS → LEFT ANTI self-join, each
    equi-keyed on l_orderkey with the `<>` supplier condition attached
    (never a cartesian); the orders 'F' filter pushes to its scan and
    semi-reduces l1 before the self-joins. All three lineitem legs and
    the orders leg shuffle on the SAME key (l_orderkey), so AQE lines
    them up on one exchange family; supplier joins via a size-gated
    broadcast. Top-20 on the fully tie-broken (numwait DESC, s_name)
    order is a TakeOrderedAndProject. numwait counts probe ROWS (l1
    grain), exactly like the reference query.

    Scale note (fact-scaling probe: 3.8× wall for 10× facts — sublinear,
    the steepest of the TPC-H family because the fact shuffles three
    times): the 100 TB production rewrite is the REGISTERED twin
    `sole_return_supplier_agg` — same oracle SQL, so its green hash row
    proves the two plans equivalent; there the fact shuffles once and
    everything downstream is (order, supplier)-grain. This chain form is
    registered deliberately as the EXISTS/NOT-EXISTS plan-shape evidence
    the round-7 verdict asked for."""
    li = catalog_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    ret = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    ord_f = (
        catalog_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = ret.join(ord_f, ret.l_orderkey == ord_f.o_orderkey, "left_semi").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = ret.alias("l3")
    has_other = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    ).alias("l1")
    sole = has_other.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    sup = catalog_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(maybe_broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Embedding drift by label (LLM-pipeline: corpus/embedding monitoring)
# ---------------------------------------------------------------------------

_EMB_DIM = 64
_Q = 1_000_000  # micro-unit quantization — exact integers on both engines


@register(
    "embedding_drift_by_label",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
      FROM embeddings
    ),
    comp AS (
      SELECT label, CAST(i AS BIGINT) AS dim, SUM(q[CAST(i AS INT)]) AS s
      FROM e, LATERAL (SELECT unnest(range(1, {_EMB_DIM} + 1)) AS i) g
      GROUP BY label, i
    ),
    n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM e GROUP BY label),
    cent AS (
      SELECT comp.label, n_vecs,
             list(CAST(s AS DOUBLE) / n_vecs ORDER BY dim) AS cv
      FROM comp JOIN n ON comp.label = n.label
      GROUP BY comp.label, n_vecs
    ),
    cos AS (
      SELECT e.label,
             CAST(round(
               list_dot_product(list_transform(q, x -> CAST(x AS DOUBLE)), cv)
               / (sqrt(list_dot_product(list_transform(q, x -> CAST(x AS DOUBLE)),
                                        list_transform(q, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(cv, cv)))
               * 1000000000) AS BIGINT) AS qcos
      FROM e JOIN cent ON e.label = cent.label
    )
    SELECT cos.label, n.n_vecs,
           CAST(CAST(SUM(qcos) AS DOUBLE) / n.n_vecs / 1000000000 AS DOUBLE)
             AS avg_cohesion
    FROM cos JOIN n ON cos.label = n.label
    GROUP BY cos.label, n.n_vecs
    """,
    tags=("pipeline-r8", "embedding", "audit"),
    bench=True,
)
def embedding_drift_by_label_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding cohesion/drift score: mean cosine of each
    vector to its label centroid — the monitoring metric that catches a
    drifting encoder or a mislabeled shard before training (cohesion
    dropping for one label = that slice's embeddings are scattering).

    100 TB shape: centroids come from an EXPLODED (label, dim) integer
    aggregate — vectors are quantized to micro-units (round(x·1e6), a
    per-value op identical on both engines) so the cross-row component
    sums are exact longs with map-side partials, never order-dependent
    float adds. The (label → centroid) table is O(labels·dim) — tiny —
    and broadcasts back; each row's cosine is then a fixed-order fold
    over its own 64 dims (zip_with + aggregate, deterministic IEEE ops),
    quantized to nano-units before the per-label mean so the LAST
    cross-row sum is also exact integers. Two key-grain shuffles total
    (component agg, final label agg); nothing scales beyond
    O(labels·dim) on the driver. Probe ladder (warm medians): 3.0 s at
    2k vectors → 2.1 s at 20k — fixed overhead dominates at gate scale.
    The per-row cosine fold is a CodegenFallback HOF (interpreted, ~64
    ops/row at dim 64 — deliberate: rows each touch only their own
    array); at extreme corpus sizes the explode + grouped-dot shape
    (three row×dim-grain shuffles) trades wire volume for codegen and
    becomes preferable — same integer-exact semantics either way."""
    e = catalog_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _Q).cast("long"),
        ).alias("q"),
    )
    comp = (
        e.select("label", F.posexplode("q").alias("pos", "qv"))
        .groupBy("label", "pos")
        .agg(F.sum("qv").alias("s"))
    )
    n = e.groupBy("label").agg(F.count("*").cast("long").alias("n_vecs"))
    cent = (
        comp.join(n, "label")
        .groupBy("label", "n_vecs")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "s"))
                ),
                lambda st: st["s"].cast("double") / F.col("n_vecs"),
            ).alias("cv")
        )
    )
    qd = F.transform(F.col("q"), lambda x: x.cast("double"))
    dot_qc = F.aggregate(
        F.zip_with(qd, F.col("cv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dot_qq = F.aggregate(
        F.zip_with(qd, qd, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dot_cc = F.aggregate(
        F.zip_with(F.col("cv"), F.col("cv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qcos = F.round(
        dot_qc / (F.sqrt(dot_qq) * F.sqrt(dot_cc)) * F.lit(1_000_000_000)
    ).cast("long")
    return (
        e.join(F.broadcast(cent), "label")
        .select("label", "n_vecs", qcos.alias("__qcos"))
        .groupBy("label", "n_vecs")
        .agg(
            (
                F.sum("__qcos").cast("double")
                / F.col("n_vecs")
                / F.lit(1_000_000_000)
            ).alias("avg_cohesion")
        )
        .select("label", "n_vecs", "avg_cohesion")
    )


# ---------------------------------------------------------------------------
# MinHash band-bucket skew audit (LLM-pipeline: LSH ops at scale)
# ---------------------------------------------------------------------------


@register(
    "minhash_band_skew",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    g AS (
      SELECT doc_id, gram FROM (
        SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY gram) AS df FROM g0
      ) WHERE df <= 1000
    ),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h1
      FROM g
    ),
    h2 AS (SELECT doc_id, h1, (h1 % 140737488355328) | 1 AS hb FROM h),
    m AS (
      SELECT doc_id, i, MIN(h1 + i * hb) AS mh
      FROM h2 CROSS JOIN (SELECT unnest(range(0, 32)) AS i) perms
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band_idx,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
      FROM m GROUP BY doc_id, i // 4
    ),
    buckets AS (
      SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS sz
      FROM bands GROUP BY band_idx, band_key
    )
    SELECT CAST(band_idx AS BIGINT) AS band_idx,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(*) FILTER (WHERE sz >= 2) AS BIGINT) AS multi_buckets,
           CAST(MAX(sz) AS BIGINT) AS max_bucket,
           CAST(COALESCE(SUM(sz) FILTER (WHERE sz >= 2), 0) AS BIGINT)
             AS docs_in_multi,
           CAST(COALESCE(SUM(sz * (sz - 1) / 2) FILTER (WHERE sz >= 2), 0)
                AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY band_idx
    """,
    tags=("pipeline-r8", "dedup", "lsh", "audit"),
    bench=True,
)
def minhash_band_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-skew audit for the fast (md5w) MinHash family: per band,
    how many buckets exist, how many hold ≥2 docs, the largest bucket,
    and the candidate-pair count Σ sz·(sz−1)/2 the band would feed into
    the pair join. This is the mega-bucket early-warning every LSH dedup
    needs at 100 TB — a viral boilerplate cluster shows up here as one
    band bucket whose sz² dominates the candidate count, BEFORE the pair
    join materializes it (the stop-gram guard caps it; this query is how
    an operator verifies that on real data, per corpus, per band).

    Plan: same gram → signature pipeline as `dedup_minhash_fast` (shared
    code, one l_orderkey-free chain: gram window, stop-gram guard,
    32-way min-agg), then bucket sizes are a (band_idx, band_key)-grain
    count with map-side partials and the audit itself is a 8-row final
    agg. Only (doc_id, band) pairs ever shuffle — never text. All
    outputs are integers: bit-exact on any engine and any partitioning."""
    docs = catalog_table(spark, sf_dir, "documents")
    grams = drop_frequent_grams(
        gram_rows(docs, id_col="doc_id", text_col="text", ngram=3), 1000
    )
    sigs = minhash_signatures(grams, num_perm=32, hash_family="md5w")
    buckets = (
        band_buckets(sigs, bands=8, rows=4)
        .groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("sz"))
    )
    sz = F.col("sz")
    return (
        buckets.groupBy(F.col("band_idx").cast("long").alias("band_idx"))
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(F.when(sz >= 2, 1).otherwise(0)).cast("long").alias(
                "multi_buckets"
            ),
            F.max(sz).cast("long").alias("max_bucket"),
            F.sum(F.when(sz >= 2, sz).otherwise(0)).cast("long").alias(
                "docs_in_multi"
            ),
            F.sum(F.when(sz >= 2, (sz * (sz - 1) / 2).cast("long")).otherwise(0))
            .cast("long")
            .alias("candidate_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS semi-join + priority count
# ---------------------------------------------------------------------------


@register(
    "order_priority_return_check",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    """,
    tags=("pipeline-r8", "relational", "join", "subquery"),
    bench=True,
)
def order_priority_return_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in one quarter with
    at least one problem line, counted by priority (the reference's
    commitdate-vs-receiptdate predicate becomes l_returnflag = 'R' — the
    testdata has no commit/receipt dates). The EXISTS compiles to a LEFT
    SEMI join on the order key: the probe side is the date-pruned orders
    scan (filter pushed), the build side only ever carries (l_orderkey)
    for returned lines — no payload columns cross the exchange — and the
    semi join stops at the first match per key instead of multiplying
    rows like an inner join + distinct would. One priority-grain count
    follows with map-side partials. All outputs integers."""
    orders = catalog_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    ret = (
        catalog_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(ret, orders.o_orderkey == ret.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
    )


_SOLE_RETURN_ORACLE = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """


@register(
    "sole_return_supplier_agg",
    oracle=_SOLE_RETURN_ORACLE,
    tags=("pipeline-r8", "relational", "join", "subquery", "scale-safe"),
    bench=True,
)
def sole_return_supplier_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of `sole_return_supplier`: SAME oracle SQL, so the
    two green hash rows prove the plans equivalent — the bm25_search /
    bm25_search_topk pattern. Instead of shuffling the fact three times
    through the EXISTS/NOT-EXISTS self-join chain, ONE pass aggregates
    lineitem to (order, supplier) grain (map-side partials; the fact
    shuffles once), a second (order)-grain agg over the already-shrunk
    frame derives supplier count, returned-supplier count, the sole
    returner's id and its R-line count, and the correlation chain
    collapses to a filter: EXISTS(other supplier) ≡ supp_cnt ≥ 2,
    NOT EXISTS(other returner) ≡ ret_supp_cnt = 1 (the probe row is
    itself returned, so the single R-supplier is the probe's). Everything
    after the first aggregate is order-grain or smaller; the orders 'F'
    semi-join and both aggs key on the same column family for AQE
    exchange reuse."""
    li = catalog_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    os_grain = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("__r"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("__nr"),
    )
    per_order = (
        os_grain.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("__supp_cnt"),
            F.sum("__r").alias("__ret_supp_cnt"),
            F.max(F.when(F.col("__r") == 1, F.col("l_suppkey"))).alias("__sole"),
            F.sum(F.when(F.col("__r") == 1, F.col("__nr"))).alias("__n_r_lines"),
        )
        .filter((F.col("__supp_cnt") >= 2) & (F.col("__ret_supp_cnt") == 1))
        .select("l_orderkey", "__sole", "__n_r_lines")
    )
    ord_f = (
        catalog_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    sup = catalog_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(ord_f, per_order.l_orderkey == ord_f.o_orderkey, "left_semi")
        .join(maybe_broadcast(sup), F.col("__sole") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("__n_r_lines").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# RAG / training chunking: overlapping token windows (LLM-pipeline)
# ---------------------------------------------------------------------------

_CHUNK = 32
_STRIDE = 24


@register(
    "chunk_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), {_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start / {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(least({_CHUNK}, len(toks) - start) AS BIGINT) AS n_tokens,
           array_to_string(toks[start + 1 : start + {_CHUNK}], ' ')
             AS chunk_text
    FROM s
    """,
    tags=("pipeline-r8", "text", "chunking"),
    bench=True,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 32, stride
    24) — the standard RAG-indexing / context-window prep step:
    every document becomes ceil(len/stride) chunks, consecutive chunks
    sharing an 8-token overlap so no boundary sentence is
    lost to a cut. Distinct from `pack_sequences` (which concatenates
    docs INTO fixed windows; this splits docs ACROSS them).

    100 TB shape: entirely map-side — `sequence` generates each doc's
    chunk starts, `posexplode` fans them out, `slice` + `concat_ws`
    materialize each chunk from the doc's OWN token array; there is no
    exchange anywhere in the plan (shuffle budget pins 0), so chunking
    runs at scan speed and parallelizes with the input files. Chunk grain
    is deterministic arithmetic — identical on any engine, no windows, no
    state. (Tail chunks are shorter than the window; every token position
    is covered by construction since stride < window.)"""
    docs = catalog_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("__toks")
    )
    starts = F.sequence(
        F.lit(0), F.size("__toks") - F.lit(1), F.lit(_STRIDE)
    )
    ex = docs.select(
        "doc_id", "__toks", F.posexplode(starts).alias("__i", "__start")
    )
    return ex.select(
        "doc_id",
        F.col("__i").cast("long").alias("chunk_idx"),
        F.col("__start").cast("long").alias("start_tok"),
        F.least(F.lit(_CHUNK), F.size("__toks") - F.col("__start"))
        .cast("long")
        .alias("n_tokens"),
        F.concat_ws(
            " ", F.slice("__toks", F.col("__start") + F.lit(1), F.lit(_CHUNK))
        ).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: min-per-group correlated subquery (min-cost supplier)
# ---------------------------------------------------------------------------


@register(
    "min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p_partkey, s_name, n_name, unit_cost
    FROM part, supplier, nation, region, cost
    WHERE p_partkey = cost.l_partkey AND s_suppkey = cost.l_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE' AND p_type = 'PROMO'
      AND unit_cost = (
        SELECT MIN(c2.unit_cost)
        FROM cost c2, supplier s2, nation n2, region r2
        WHERE c2.l_partkey = p_partkey AND c2.l_suppkey = s2.s_suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'EUROPE')
    """,
    tags=("pipeline-r8", "relational", "join", "subquery"),
    bench=True,
)
def min_cost_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for every PROMO part, the
    EUROPE supplier(s) whose observed unit price (min over their lines of
    extendedprice/quantity — the testdata's stand-in for partsupp's
    supplycost) equals the per-part minimum across EUROPE suppliers. The
    textbook form is a correlated MIN subquery per part; here it is
    decorrelated the way Catalyst itself rewrites it: prune lineitem by
    two size-gated dimension broadcasts FIRST (PROMO partkeys, EUROPE
    suppkeys), aggregate once to (part, supplier) grain, then take the
    per-part min with a PART-PARTITIONED window (bounded rows per
    partition — at most one per supplier of that part; never a
    corpus-grain window) and keep the rows equal to it — min-tied
    suppliers all survive, exactly as the correlated form keeps them.
    Supplier/nation names attach post-aggregation at (part, supplier)
    grain, never at line grain.

    The EUROPE supplier keyset deliberately AVOIDS a supplier-nation-
    region join before the size gate: Catalyst's non-CBO join estimate
    multiplies child sizes (a 4-row result estimated at 4 GB here),
    which would spuriously defeat `maybe_broadcast`. Instead the EU
    nationkeys — architecturally bounded by geography (25 nations, same
    class as the calendar day lists) — collect at the driver and become
    a pushed IN filter on the supplier SCAN, whose estimate is accurate,
    so the gate hints at gate scale and degrades to AQE past it.
    Determinism: each division is one IEEE op on both engines; MIN and
    the equality compare see bit-identical doubles."""
    region = catalog_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = catalog_table(spark, sf_dir, "nation")
    eu_keys = [
        r.n_nationkey
        for r in nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .select("n_nationkey")
        .collect()
    ]
    eu_sup = (
        catalog_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey").isin(eu_keys))
        .select("s_suppkey", "s_name", "s_nationkey")
    )
    promo = (
        catalog_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = catalog_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("__unit"),
    )
    cost = (
        li.join(maybe_broadcast(promo), li.l_partkey == promo.p_partkey)
        .join(
            maybe_broadcast(eu_sup.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("__unit").alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        cost.withColumn("__mn", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("__mn"))
        .join(maybe_broadcast(eu_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "n_name",
            "unit_cost",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: group share vs a global scalar subquery
# ---------------------------------------------------------------------------


@register(
    "important_nation_value",
    oracle="""
    WITH val AS (
      SELECT n_name, SUM(CAST(l_extendedprice AS DECIMAL(22,4))) AS value_sum
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, CAST(value_sum AS DOUBLE) AS nation_value
    FROM val
    WHERE CAST(value_sum AS DOUBLE) * 10000.0 >
          CAST((SELECT SUM(value_sum) FROM val) AS DOUBLE) * 475.0
    """,
    tags=("pipeline-r8", "relational", "join", "subquery"),
    bench=True,
)
def important_nation_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): nations whose supplier-shipped
    line value exceeds 4.75% of the GLOBAL total (tuned so the answer is
    non-empty AND selective at every test scale: 10/10 nations pass at
    sf0.001's uniform shares, 9/25 at sf0.01, 3/25 at sf0.1) — a grouped aggregate
    filtered against a scalar subquery over its own result. Decorrelated
    Spark form: one nation-grain aggregate (supplier x nation dims
    broadcast into the fact scan, so lineitem shuffles once on n_name),
    then the 1-row global re-aggregate of that ~25-row frame broadcasts
    back via crossJoin — the HAVING-vs-scalar compare never moves the
    fact again. Determinism: value sums in decimal(22,4) (exact);
    both sides of the share compare go through one correctly-rounded
    decimal-to-double cast and one IEEE multiply each, identical ops on
    both engines. The output cast to double reuses the same exact sum."""
    sup = catalog_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = catalog_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup_nat = sup.join(
        F.broadcast(nation), sup.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    li = catalog_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    val = (
        li.join(maybe_broadcast(sup_nat), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(22,4)")).alias("__v")
        )
    )
    tot = val.agg(F.sum("__v").alias("__t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(
            F.col("__v").cast("double") * F.lit(10000.0)
            > F.col("__t").cast("double") * F.lit(475.0)
        )
        .select("n_name", F.col("__v").cast("double").alias("nation_value"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: distinct-count aggregate over a NOT-IN anti-join
# ---------------------------------------------------------------------------


@register(
    "supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 1800)
    GROUP BY p_brand, p_type
    """,
    tags=("pipeline-r8", "relational", "join", "subquery"),
    bench=True,
)
def supplier_part_variety_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many DISTINCT
    suppliers ship each (brand, type) family, excluding one brand and
    every supplier on a denylist (the testdata stand-in for Q16's
    'Customer Complaints' comment scan: s_acctbal < 1800). The NOT IN
    subquery compiles to a broadcast LEFT ANTI join — exactly equivalent
    here because s_suppkey is never null (NOT IN's tri-valued null trap
    does not arise; noted so a schema change revisits this). The brand
    exclusion pushes to the part scan under a size-gated broadcast, so
    lineitem meets only surviving parts; COUNT(DISTINCT) runs as Spark's
    two-phase partial-distinct aggregate — (group, suppkey) grain first,
    then the group re-agg — no corpus-grain window, no expand blowup
    (single distinct column)."""
    bad = (
        catalog_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1800)
        .select("s_suppkey")
    )
    pt = (
        catalog_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#1")
        .select("p_partkey", "p_brand", "p_type")
    )
    li = catalog_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(maybe_broadcast(pt), li.l_partkey == pt.p_partkey)
        .join(
            maybe_broadcast(bad),
            li.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type")
        .agg(
            F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: nested IN + per-group correlated threshold
# ---------------------------------------------------------------------------


@register(
    "excess_shipment_suppliers",
    oracle="""
    WITH lif AS (
      SELECT l_partkey, l_suppkey, l_quantity
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'large%'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    ),
    ps AS (
      SELECT l_suppkey, l_partkey, SUM(l_quantity) AS supp_qty
      FROM lif GROUP BY l_suppkey, l_partkey
    ),
    tot AS (
      SELECT l_partkey, SUM(l_quantity) AS tot_qty
      FROM lif GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT ps.l_suppkey FROM ps JOIN tot USING (l_partkey)
      WHERE ps.supp_qty * 5 > tot.tot_qty * 4)
    ORDER BY s_suppkey
    """,
    tags=("pipeline-r8", "relational", "join", "subquery"),
    bench=True,
)
def excess_shipment_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess-stock suppliers): suppliers who shipped
    MORE THAN 80% of some 'large'-named part's 1996 volume — a nested
    IN whose inner query carries a per-part correlated threshold (Q20's
    0.5*sum(qty) test, tightened to 0.8 so the testdata answer is
    selective). Decorrelated form: ONE part-name-pruned, date-pruned
    line frame feeds both the (supplier, part) and the per-part
    aggregate (same key family, AQE exchange reuse); the threshold join
    is part-grain; the surviving supplier keyset deduplicates and
    semi-joins into supplier UNHINTED — the keyset is fact-derived, so
    under the repo invariant it may never carry a broadcast hint (AQE
    still broadcasts it at gate scale from runtime stats, and degrades
    to a shuffle join if suppliers ever grow). Determinism: quantities
    are whole-number doubles, so the sums and the x5/x4 integer
    multiplies are exact on both engines."""
    lg = (
        catalog_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("large%"))
        .select("p_partkey")
    )
    li = catalog_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    lif = li.join(maybe_broadcast(lg), li.l_partkey == lg.p_partkey).select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    ps = lif.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("__sq")
    )
    tot = lif.groupBy("l_partkey").agg(F.sum("l_quantity").alias("__tq"))
    keys = (
        ps.join(tot, "l_partkey")
        .filter(F.col("__sq") * F.lit(5) > F.col("__tq") * F.lit(4))
        .select("l_suppkey")
        .distinct()
    )
    sup = catalog_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return sup.join(
        keys, sup.s_suppkey == keys.l_suppkey, "left_semi"
    ).orderBy("s_suppkey")


# ---------------------------------------------------------------------------
# MinHash calibration: signature-agreement estimate vs exact Jaccard
# ---------------------------------------------------------------------------


@register(
    "minhash_jaccard_calibration",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    g AS (
      SELECT doc_id, gram FROM (
        SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY gram) AS df FROM g0
      ) WHERE df <= 1000
    ),
    h AS (
      SELECT doc_id, gram,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h1
      FROM g
    ),
    h2 AS (SELECT doc_id, h1, (h1 % 140737488355328) | 1 AS hb FROM h),
    m AS (
      SELECT doc_id, i, MIN(h1 + i * hb) AS mh
      FROM h2 CROSS JOIN (SELECT unnest(range(0, 32)) AS i) perms
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band_idx,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
      FROM m GROUP BY doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    agree AS (
      SELECT c.id_a, c.id_b,
             COUNT(*) FILTER (WHERE sa.mh = sb.mh) AS agree_cnt
      FROM cand c
      JOIN m sa ON sa.doc_id = c.id_a
      JOIN m sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      GROUP BY c.id_a, c.id_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS isz
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
      SELECT a.agree_cnt, COALESCE(i.isz, 0) AS isz,
             sa.sz + sb.sz - COALESCE(i.isz, 0) AS usz
      FROM agree a
      LEFT JOIN inter i ON i.id_a = a.id_a AND i.id_b = a.id_b
      JOIN sizes sa ON sa.doc_id = a.id_a
      JOIN sizes sb ON sb.doc_id = a.id_b
    )
    SELECT CAST(agree_cnt AS BIGINT) AS agree_cnt,
           CAST(agree_cnt AS DOUBLE) / 32.0 AS est_jaccard,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(isz) AS BIGINT) AS sum_inter,
           CAST(SUM(usz) AS BIGINT) AS sum_union,
           CAST(SUM(isz) AS DOUBLE) / CAST(SUM(usz) AS DOUBLE)
             AS micro_jaccard
    FROM pairs GROUP BY agree_cnt
    """,
    tags=("pipeline-r8", "dedup", "lsh", "audit"),
    bench=True,
)
def minhash_jaccard_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration audit: for every LSH candidate pair, how well
    does the signature-agreement estimate (matching permutations / 32 —
    each permutation matches with probability exactly J) track the TRUE
    gram Jaccard? Grouped by agreement count, reporting the pair census
    and the micro-averaged exact Jaccard (Σ|∩| / Σ|∪|). This is how an
    operator picks band/row parameters and the verify threshold for a
    100 TB dedup run from a sample, instead of trusting the sketch blind
    — a sketch that over-estimates J near the threshold inflates the
    candidate set quadratically.

    Plan: the same shared gram → signature → banded-candidate chain as
    `dedup_minhash_fast` / `minhash_band_skew` (md5w family, stop-gram
    guard 1000, 8x4 banding). Everything downstream is candidate-set-
    sized: agreement is a zip_with/filter over the two 32-long signature
    arrays (CodegenFallback HOFs — acceptable OFF the corpus-grain hot
    path), the exact intersection is the per-pair array_intersect probe
    (round-5 verify shape — no gram row ever shuffles at pair grain),
    and the calibration table is a ≤29-row final aggregate. Integer
    counts everywhere; the two ratios are single IEEE divisions of exact
    integers — bit-identical on both engines."""
    docs = catalog_table(spark, sf_dir, "documents")
    # Round-15 A/B note: localCheckpointing grams/sigs to collapse the
    # 6x/4x subtree recomputation was tried and REVERTED — at sf0.1 in
    # the 1 GB bench JVM the materialization (token-grain rows pinned as
    # MEMORY_AND_DISK blocks) costs what the recompute costs, within
    # noise (5-run medians 2.9-3.5 s either way), and the pinned blocks
    # added GC pressure to neighbouring queries. At 100 TB the right
    # materialization is a parquet checkpoint between pipeline stages
    # (minhash_dedup_pairs docstring), not executor-memory blocks.
    grams = drop_frequent_grams(
        gram_rows(docs, id_col="doc_id", text_col="text", ngram=3), 1000
    )
    sigs = minhash_signatures(grams, num_perm=32, hash_family="md5w")
    cands = lsh_candidate_pairs(sigs, bands=8, rows=4)
    sets_ = grams.groupBy("id").agg(F.collect_list("gram").alias("gs"))
    j = (
        cands.join(sigs.withColumnsRenamed({"id": "id_a", "sig": "siga"}), "id_a")
        .join(sigs.withColumnsRenamed({"id": "id_b", "sig": "sigb"}), "id_b")
        .join(sets_.withColumnsRenamed({"id": "id_a", "gs": "ga"}), "id_a")
        .join(sets_.withColumnsRenamed({"id": "id_b", "gs": "gb"}), "id_b")
        .select(
            F.size(
                F.filter(
                    F.zip_with("siga", "sigb", lambda x, y: x == y),
                    lambda eq: eq,
                )
            )
            .cast("long")
            .alias("agree_cnt"),
            F.size(F.array_intersect("ga", "gb")).cast("long").alias("__i"),
            (
                (F.size("ga") + F.size("gb")).cast("long")
                - F.size(F.array_intersect("ga", "gb")).cast("long")
            ).alias("__u"),
        )
    )
    return (
        j.groupBy("agree_cnt")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("__i").cast("long").alias("sum_inter"),
            F.sum("__u").cast("long").alias("sum_union"),
        )
        .select(
            "agree_cnt",
            (F.col("agree_cnt").cast("double") / F.lit(32.0)).alias(
                "est_jaccard"
            ),
            "n_pairs",
            "sum_inter",
            "sum_union",
            (
                F.col("sum_inter").cast("double")
                / F.col("sum_union").cast("double")
            ).alias("micro_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Privacy census: k-anonymity profile over quasi-identifiers (LLM-pipeline)
# ---------------------------------------------------------------------------


@register(
    "k_anonymity_profile",
    oracle="""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
             COUNT(*) AS sz
      FROM customer
      GROUP BY c_mktsegment, c_nationkey, bal_bucket
    )
    SELECT CAST(sz AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_individuals
    FROM g GROUP BY sz
    """,
    tags=("pipeline-r8", "privacy", "audit"),
    bench=True,
)
def k_anonymity_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity profile — the privacy census a training-data release
    runs before shipping user-derived records: group every individual by
    their quasi-identifier tuple (market segment, nation, account-balance
    band — the generalized attributes an adversary could link on) and
    report the anonymity histogram: how many QI groups have exactly k
    members, and how many individuals sit in them. A release targeting
    k-anonymity 5 reads the k<5 rows as its re-identification exposure
    and picks coarser generalization bands until they empty.

    100 TB shape: two stacked aggregates — QI grain then group-size grain
    — both with map-side partials; output is bounded by the largest group
    size, never by corpus. The balance band is FLOOR(x/2000): one IEEE
    division + floor on both engines, exact at any partitioning (banding
    IS the generalization step of the k-anonymity protocol, so the audit
    and the release transform share code by construction)."""
    cust = catalog_table(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(2000)).cast("long").alias(
            "bal_bucket"
        ),
    ).agg(F.count("*").alias("sz"))
    return (
        g.groupBy(F.col("sz").cast("long").alias("group_size"))
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum("sz").cast("long").alias("n_individuals"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 + Q12 shapes: the last two of the 22 — the registry now carries
# every TPC-H query shape adapted to the testdata's columns.
# ---------------------------------------------------------------------------


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount > CAST(0.045 AS DOUBLE)
      AND l_discount < CAST(0.075 AS DOUBLE)
      AND l_quantity < 24
    """,
    tags=("pipeline-r8", "relational", "scan"),
    bench=True,
)
def forecast_revenue_change_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): revenue that would
    have been gained by eliminating mid-band discounts on
    small-quantity lines in one ship year. The canonical
    pushdown-or-bust query: ALL three predicates (timestamp range,
    discount band, quantity cap) push to the parquet scan as min/max
    row-group prunes, and the plan is a single map-side partial sum —
    zero hash exchanges, one 1-row gather. At 100 TB this reads only the
    row groups whose shipdate stats overlap 1996, i.e. ~1/7 of the
    corpus before a single row is materialized. The discount band uses
    open midpoint thresholds (0.045/0.075) so no stored value (0.01
    grid) sits near a comparison boundary; revenue accumulates in
    decimal(22,4) after the one IEEE multiply both engines round
    identically. Selectivity checked at every SF: 152/6k rows at
    sf0.001, 1.25k/60k at 0.01, 12.2k/600k at 0.1."""
    li = catalog_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") > 0.045)
            & (F.col("l_discount") < 0.075)
            & (F.col("l_quantity") < 24)
        )
        .select(
            (F.col("l_extendedprice") * F.col("l_discount"))
            .cast("decimal(22,4)")
            .alias("__v")
        )
        .agg(
            F.sum("__v").cast("double").alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@register(
    "shipping_class_priority",
    oracle="""
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY ship_class
    """,
    tags=("pipeline-r8", "relational", "join"),
    bench=True,
)
def shipping_class_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority), adapted: the
    testdata's lineitem has no l_shipmode / commit / receipt dates
    (noted like the Q21 adaptation), so the shipping class is
    l_returnflag with the classic two-member IN-list, and the
    late-delivery predicate becomes a ship-year range. Structure is
    preserved exactly: fact-fact equi-join, IN-list + date range pushed
    to the lineitem scan, then a low-cardinality group with TWO
    conditional counts splitting the priority domain (URGENT/HIGH vs
    the rest). Plan: the lineitem side arrives ~10%-filtered, both
    facts shuffle once on orderkey (no broadcast hint — both sides
    scale with the corpus, AQE may still pick one at toy SF), and the
    2-group final agg is map-side-combined. Counting only — every value
    integer-exact on any partitioning."""
    orders = catalog_table(spark, sf_dir, "orders")
    li = catalog_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


@register(
    "l_diversity_profile",
    oracle="""
    WITH qi AS (
      SELECT c_custkey, c_mktsegment, c_nationkey,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_bucket
      FROM customer
    ), s AS (
      SELECT qi.c_mktsegment, qi.c_nationkey, qi.bal_bucket,
             COUNT(DISTINCT o.o_orderpriority) AS l_div,
             COUNT(DISTINCT qi.c_custkey) AS n_ind
      FROM qi JOIN orders o ON o.o_custkey = qi.c_custkey
      GROUP BY 1, 2, 3
    )
    SELECT CAST(l_div AS BIGINT) AS l_diversity,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_ind) AS BIGINT) AS n_individuals
    FROM s GROUP BY l_div
    """,
    tags=("pipeline-r8", "privacy", "audit", "join"),
    bench=True,
)
def l_diversity_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity profile — the second half of the privacy audit that
    [[k_anonymity_profile]] starts: k-anonymity alone is defeated by a
    homogeneity attack (a group of 50 indistinguishable people whose
    sensitive value is IDENTICAL still leaks it), so for each
    quasi-identifier group (same generalization: segment, nation,
    balance band) count the DISTINCT sensitive values observed among its
    members' orders (order priority stands in for the sensitive
    attribute) and report the l histogram. A release targeting
    3-diversity reads the l<3 rows as its homogeneity exposure.

    100 TB shape: the orders fact joins customer once on custkey
    (size-gated broadcast — customer grows with SF), then two stacked
    aggs, QI grain then l grain, both map-side-combinable; the two
    COUNT DISTINCTs share one Expand (×2 row multiplier at the pruned
    3-column grain, not corpus grain). Counting only — integer-exact on
    any partitioning. Customers with no orders have no observed
    sensitive value and drop out (inner join), matching the release
    semantics: only rows that WOULD ship can leak."""
    cust = catalog_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(2000)).cast("long").alias(
            "bal_bucket"
        ),
    )
    orders = catalog_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    grp = (
        orders.join(
            maybe_broadcast(cust), orders.o_custkey == cust.c_custkey
        )
        .groupBy("c_mktsegment", "c_nationkey", "bal_bucket")
        .agg(
            F.countDistinct("o_orderpriority").cast("long").alias("l_div"),
            F.countDistinct("c_custkey").cast("long").alias("n_ind"),
        )
    )
    return grp.groupBy(F.col("l_div").alias("l_diversity")).agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("n_ind").cast("long").alias("n_individuals"),
    )


# ---------------------------------------------------------------------------
# Hand-rolled bloom runtime filter: prune a fact BEFORE its shuffle
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 20  # bits → 16384-long mask, 128 KiB broadcast
BLOOM_K = 3  # hash probes per key


def bloom_mask(keys: DataFrame, key: str, m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Distributed bloom-filter build: 1-row DataFrame ``{__mask:
    array<bigint>}`` with bit ``pmod(xxhash64(key, seed), m)`` set for
    every key and seed 0..k-1.

    Everything runs executor-side; the only structure whose size reaches
    one place is the mask itself, and that is bounded by ``m`` (constant
    128 KiB at the default) NO MATTER how many keys feed it — the
    "nothing collected scales with the corpus" invariant holds. At real
    corpus scale, size ``m`` to the build-side row estimate exactly the
    way Spark's own InjectRuntimeFilter sizes its bloom creation
    aggregate; a saturated undersized mask only costs prune selectivity
    (false positives pass), never correctness.

    Densification is a sorted LEFT JOIN of ``range(n_words)`` against the
    sparse set-bit words, NOT a per-index map lookup: Spark's MapData
    ``element_at`` is a LINEAR scan, so ``transform(sequence(0, m/64),
    i -> map[i])`` is O(m²) in one task (measured 18 s at m=2^20 — it
    dwarfed the query). The join + ``sort_array`` build is
    O(m log m) and costs milliseconds."""
    n_words = m // 64
    probes = ", ".join(f"pmod(xxhash64({key}, {i}), {m})" for i in range(k))
    words = (
        keys.selectExpr(f"explode(array({probes})) AS pos")
        .selectExpr(
            "CAST(shiftright(pos, 6) AS BIGINT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS bit",
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    dense = (
        keys.sparkSession.range(n_words)
        .withColumnRenamed("id", "w")
        .join(F.broadcast(words), "w", "left")  # words is m-bounded
        .selectExpr("w", "coalesce(word, CAST(0 AS BIGINT)) AS word")
    )
    return dense.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(w, word))), x -> x.word)"
        ).alias("__mask")
    )


def bloom_member_cond(key: str, m: int = BLOOM_M, k: int = BLOOM_K):
    """Membership predicate against a crossJoin-ed ``__mask`` column:
    AND over the k probe bits. Pure JVM expressions (xxhash64 /
    shiftright / element_at) — stays inside whole-stage codegen."""
    cond = F.lit(True)
    for i in range(k):
        pos = f"pmod(xxhash64({key}, {i}), {m})"
        probe = F.expr(
            f"(try_element_at(__mask, CAST(shiftright({pos}, 6) AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT))) != 0"
        )
        cond = cond & probe
    return cond


@register(
    "bloom_prefilter_join",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    tags=("pipeline-r8", "relational", "join", "runtime-filter"),
    bench=True,
)
def bloom_prefilter_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by return flag, with the lineitem side pruned
    by a hand-rolled bloom runtime filter BEFORE its join exchange — the
    InjectRuntimeFilter pattern made explicit for build sides derived
    from a filter/aggregate, where Catalyst's own injection (which keys
    off scan-level selectivity estimates) may decline to fire.

    Plan: the ~20%-selective urgent keyset feeds `bloom_mask` (m-bounded
    128 KiB build, executor-side); lineitem crossJoins the 1-row mask
    (BroadcastNestedLoopJoin over ONE row — free) and keeps only rows
    whose 3 probe bits are all set, so the orderkey exchange that feeds
    the exact join carries ~20% of the fact instead of all of it. The
    exact inner join downstream makes false positives invisible to the
    result — the oracle is the PLAIN join, and the green hash row is the
    proof the prune is sound. The final join is unhinted (both sides are
    fact-derived; AQE broadcasts at gate scale, shuffles at corpus
    scale), and the revenue sum is decimal-exact (`dsum`) so the value
    hash is partitioning-independent.

    100 TB posture: prune selectivity = build selectivity + FP rate;
    with m sized to the build estimate (see `bloom_mask`), the pattern
    cuts the dominant fact shuffle by the filter's selectivity for the
    cost of one 128 KiB broadcast and k codegen'd probes per row.
    Beyond-reference (the reference has no relational engine)."""
    orders = catalog_table(spark, sf_dir, "orders")
    li = catalog_table(spark, sf_dir, "lineitem")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    mask = bloom_mask(urgent, "o_orderkey")
    pruned = (
        li.select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
        .crossJoin(F.broadcast(mask))
        .filter(bloom_member_cond("l_orderkey"))
        .drop("__mask")
    )
    return (
        pruned.join(urgent, pruned.l_orderkey == urgent.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (priority sampling)
# ---------------------------------------------------------------------------


@register(
    "weighted_reservoir_sample",
    oracle="""
    WITH p AS (
      SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS weight,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS u
      FROM documents
    )
    SELECT CAST(ROW_NUMBER() OVER (
             ORDER BY CAST(u AS DOUBLE) / CAST(weight AS DOUBLE), doc_id)
           AS BIGINT) AS rnk,
           doc_id, weight,
           CAST(u AS DOUBLE) / CAST(weight AS DOUBLE) AS priority
    FROM p
    ORDER BY priority, doc_id
    LIMIT 64
    """,
    tags=("pipeline-r8", "sampling", "topk"),
    bench=True,
)
def weighted_reservoir_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-biased sample WITHOUT replacement via priority sampling
    (Duffield–Lund–Thorup): each doc gets priority u/w where u is a
    uniform 52-bit md5-derived integer and w its weight (chars here —
    stand-in for a quality score), and the sample is the k smallest
    priorities. Longer/higher-quality docs draw proportionally more
    often, no element twice, and the scheme supports unbiased
    subset-sum estimation — the curation primitive behind
    quality-weighted training-subset selection.

    Engine-exactness: u uses 13 hex chars (52 bits), exactly
    representable as a double, and priority is ONE IEEE division —
    correctly rounded, so both engines order identically (doc_id
    tiebreak regardless). 100 TB shape: `orderBy().limit(k)` plans as
    TakeOrderedAndProject — a bounded per-partition heap, merged on the
    driver; no global sort, no corpus-grain window (the rnk window runs
    over the 64 already-selected rows). Beyond-reference."""
    docs = catalog_table(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast(
        "long"
    )
    w = F.length("text").cast("long")
    picked = (
        docs.select(
            F.col("doc_id"),
            w.alias("weight"),
            (u.cast("double") / w.cast("double")).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(64)
    )
    rnk_w = Window.orderBy("priority", "doc_id")  # 64 constant rows post-limit
    return picked.select(
        F.row_number().over(rnk_w).cast("long").alias("rnk"),
        "doc_id",
        "weight",
        "priority",
    )


# ---------------------------------------------------------------------------
# Privacy triad completion: t-closeness profile (k-anonymity -> l-diversity
# -> t-closeness is the canonical escalation; the first two are above)
# ---------------------------------------------------------------------------


@register(
    "t_closeness_profile",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment, c.c_nationkey,
             CAST(FLOOR(c.c_acctbal / 2000) AS BIGINT) AS bal_bucket,
             c.c_custkey, o.o_orderpriority
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    gv AS (
      SELECT c_mktsegment, c_nationkey, bal_bucket, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_gv
      FROM j GROUP BY 1, 2, 3, 4
    ),
    v AS (SELECT o_orderpriority, CAST(SUM(n_gv) AS BIGINT) AS n_v
          FROM gv GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_v) AS BIGINT) AS n FROM v),
    gsize AS (
      SELECT c_mktsegment, c_nationkey, bal_bucket,
             CAST(SUM(n_gv) AS BIGINT) AS n_g
      FROM gv GROUP BY 1, 2, 3
    ),
    ind AS (
      SELECT c_mktsegment, c_nationkey, bal_bucket,
             CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_ind
      FROM j GROUP BY 1, 2, 3
    ),
    tg AS (
      SELECT gv.c_mktsegment, gv.c_nationkey, gv.bal_bucket,
             gsize.n_g, tot.n,
             CAST(SUM(ABS(gv.n_gv * tot.n - v.n_v * gsize.n_g)) AS BIGINT)
               AS s_abs,
             CAST(SUM(v.n_v) AS BIGINT) AS s_nv
      FROM gv
      JOIN v USING (o_orderpriority)
      JOIN gsize USING (c_mktsegment, c_nationkey, bal_bucket)
      CROSS JOIN tot
      GROUP BY 1, 2, 3, 4, 5
    ),
    tvals AS (
      SELECT c_mktsegment, c_nationkey, bal_bucket,
             CAST(s_abs + n_g * (n - s_nv) AS DOUBLE)
               / CAST(2 * n_g * n AS DOUBLE) AS t
      FROM tg
    )
    SELECT CAST(FLOOR(t * 20.0) AS BIGINT) AS t_band,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(ind.n_ind) AS BIGINT) AS n_individuals
    FROM tvals
    JOIN ind USING (c_mktsegment, c_nationkey, bal_bucket)
    GROUP BY t_band
    """,
    tags=("pipeline-r8", "privacy", "audit", "join"),
    bench=True,
)
def t_closeness_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness profile — the third rung of the privacy-audit ladder
    after [[k_anonymity_profile]] and [[l_diversity_profile]]: l-diversity
    is defeated by a SKEWNESS attack (a group whose sensitive values are
    diverse but distributed very differently from the corpus still leaks —
    e.g. 90% URGENT where the corpus runs 20%), so for each
    quasi-identifier group (same generalization: segment, nation, balance
    band) measure the distance between the group's sensitive-value
    distribution and the global one.  For a categorical attribute with
    uniform ground distance the Earth Mover's Distance reduces to total
    variation: t = 1/2 * sum_v |p_v(group) - p_v(global)|.  Report the
    t histogram in 0.05-wide bands: a release targeting t-closeness 0.2
    reads bands >= 4 as its skew exposure.

    Cross-engine exactness: the sum runs entirely on INTEGERS —
    |n_gv*N - n_v*n_g| with the absent-value mass folded in as
    n_g*(N - sum_present(n_v)) — and only the final t divides (one IEEE
    division, correctly rounded in both engines), so the value-hash
    holds on any partitioning.  At this SF the products are bounded by
    n_g*N < 2^63; past N ~ 3e9 rows switch the two products to
    DECIMAL(38,0) (both engines exact) — noted rather than done because
    the bigint path is what DuckDB replays bit-for-bit here.

    100 TB shape: orders joins customer once (size-gated broadcast),
    then every frame is group-grain or smaller: gv is (QI x 5
    priorities), v is 5 rows and n one row (both bounded by the
    sensitive DOMAIN, not the corpus — broadcasting them is scale-safe),
    and the gv -> gsize -> tg chain re-aggregates the same QI keys so
    the exchanges are QI-cardinality-sized.  Output is the band
    histogram: <= 21 rows, never corpus-grain."""
    cust = catalog_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(2000)).cast("long").alias("bal_bucket"),
    )
    orders = catalog_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    qi = ["c_mktsegment", "c_nationkey", "bal_bucket"]
    j = orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
    gv = j.groupBy(*qi, "o_orderpriority").agg(
        F.count("*").cast("long").alias("n_gv")
    )
    v = gv.groupBy("o_orderpriority").agg(
        F.sum("n_gv").cast("long").alias("n_v")
    )
    tot = v.agg(F.sum("n_v").cast("long").alias("n"))
    gsize = gv.groupBy(*qi).agg(F.sum("n_gv").cast("long").alias("n_g"))
    ind = j.groupBy(*qi).agg(
        F.countDistinct("c_custkey").cast("long").alias("n_ind")
    )
    # v has <= |priority domain| = 5 rows and tot exactly 1: bounded by the
    # attribute domain, not the corpus, so the broadcasts never outgrow it
    terms = (
        gv.join(F.broadcast(v), "o_orderpriority")
        .join(gsize, qi)
        .crossJoin(F.broadcast(tot))
    )
    tg = terms.groupBy(*qi, "n_g", "n").agg(
        F.sum(
            F.abs(F.col("n_gv") * F.col("n") - F.col("n_v") * F.col("n_g"))
        )
        .cast("long")
        .alias("s_abs"),
        F.sum("n_v").cast("long").alias("s_nv"),
    )
    tvals = tg.select(
        *qi,
        (
            (F.col("s_abs") + F.col("n_g") * (F.col("n") - F.col("s_nv")))
            .cast("double")
            / (F.lit(2) * F.col("n_g") * F.col("n")).cast("double")
        ).alias("t"),
    )
    return (
        tvals.join(ind, qi)
        .groupBy(F.floor(F.col("t") * F.lit(20.0)).cast("long").alias("t_band"))
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum("n_ind").cast("long").alias("n_individuals"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch: point-estimate calibration (sketch family, after
# minhash_jaccard_calibration's pattern — the approximate structure and its
# exact ground truth in one verified frame)
# ---------------------------------------------------------------------------

CMS_W = 8192  # buckets per row
CMS_D = 3  # hash rows
CMS_PROBE_MAX = 20  # probe partkeys 0..19 (present at every SF)


def _cms_bucket_spark(col, seed: int):
    """md5-derived bucket for one sketch row: 60 deterministic hash bits,
    reduced mod CMS_W — same value DuckDB computes from the same string."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return h % CMS_W


@register(
    "cms_frequency_calibration",
    oracle=f"""
    WITH sk AS (
      SELECT s.s AS seed,
             CAST(('0x' || substr(md5(CAST(s.s AS VARCHAR) || ':' ||
                                      CAST(l_partkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % {CMS_W} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem CROSS JOIN (SELECT unnest([0, 1, 2]) AS s) s
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT DISTINCT l_partkey AS probe_key FROM lineitem
      WHERE l_partkey < {CMS_PROBE_MAX}
    ),
    est AS (
      SELECT p.probe_key, CAST(MIN(sk.cnt) AS BIGINT) AS est_count
      FROM probes p
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS s) s
      JOIN sk ON sk.seed = s.s
             AND sk.bucket = CAST(('0x' || substr(md5(CAST(s.s AS VARCHAR)
                                  || ':' || CAST(p.probe_key AS VARCHAR)),
                                  1, 15)) AS BIGINT) % {CMS_W}
      GROUP BY 1
    ),
    exact AS (
      SELECT l_partkey AS probe_key, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM lineitem WHERE l_partkey < {CMS_PROBE_MAX} GROUP BY 1
    )
    SELECT e.probe_key, x.exact_count, e.est_count,
           CAST(e.est_count - x.exact_count AS BIGINT) AS overcount
    FROM est e JOIN exact x USING (probe_key)
    ORDER BY probe_key
    """,
    tags=("pipeline-r8", "sketch", "audit"),
    bench=True,
)
def cms_frequency_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, calibrated against exact
    counts — the constant-memory answer to "how often does key X occur in
    a 100 TB stream" that [[minhash_jaccard_calibration]]'s pattern
    applies to frequencies: build the approximate structure AND its exact
    ground truth in one frame, so the sketch's guarantee (est >= exact,
    overcount ~ N*e/w per row, minimized over d independent rows) is
    value-hash-verified rather than asserted.  A φN heavy-hitter readout
    at scale keeps the same sketch and thresholds est at φN; the probe
    set here is partkeys 0..19 (present at every SF) so the output stays
    a fixed 20-row calibration table.

    Determinism: bucket = md5("seed:key") -> 60-bit int mod 8192 — the
    registry's standard engine-portable hash (no xxhash: DuckDB can't
    reproduce Spark's seed mixing) — and every value is an integer
    count; no floats anywhere.

    100 TB shape (round-14 optimization, guide §2.3 "aggregate before
    you shuffle" / "shuffle keys instead of payloads"): ONE lineitem
    scan pre-aggregates to key grain (l_partkey, count) with map-side
    partials — the only corpus-sized pass, and the md5 bucket hash runs
    on |keys| x d rows instead of |corpus| x d (the round-13 shape
    exploded every lineitem row 3x and hashed 3 md5s per ROW inside the
    scan stage; sf0.1 A/B: 5.3 s -> ~0.6 s for identical output, and at
    100 TB the hash work drops from O(rows) to O(distinct keys)). The
    sketch is then a second two-level aggregate (guide §2.5) over the
    key-grain frame into the (d x w) = 24576 CONSTANT rows; the exact
    ground truth is a filter of the SAME key-grain frame, so the second
    corpus scan disappears too. The probe stage joins a fixed key list
    against the broadcast-sized sketch (24k rows, corpus-independent)."""
    li = catalog_table(spark, sf_dir, "lineitem")
    seeds = F.array(*[F.lit(s) for s in range(CMS_D)])
    # key-grain pre-aggregation: the one corpus-sized pass. sum(count)
    # per (seed, bucket) == count(*) over the exploded rows, exactly.
    key_counts = li.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("pk_cnt")
    )
    exploded = key_counts.select(
        F.col("l_partkey"), F.col("pk_cnt"), F.explode(seeds).alias("seed")
    )
    bucket = F.when(F.col("seed") == 0, _cms_bucket_spark(F.col("l_partkey"), 0))
    for s in range(1, CMS_D):
        bucket = bucket.when(
            F.col("seed") == s, _cms_bucket_spark(F.col("l_partkey"), s)
        )
    sketch = (
        exploded.select("seed", bucket.alias("bucket"), "pk_cnt")
        .groupBy("seed", "bucket")
        .agg(F.sum("pk_cnt").cast("long").alias("cnt"))
    )
    # probes / exact ground truth: filters of the key-grain frame (the
    # groupBy already made probe_key distinct)
    probes = key_counts.filter(F.col("l_partkey") < CMS_PROBE_MAX).select(
        F.col("l_partkey").alias("probe_key")
    )
    probe_rows = probes.select(
        "probe_key", F.explode(seeds).alias("seed")
    )
    pbucket = F.when(
        F.col("seed") == 0, _cms_bucket_spark(F.col("probe_key"), 0)
    )
    for s in range(1, CMS_D):
        pbucket = pbucket.when(
            F.col("seed") == s, _cms_bucket_spark(F.col("probe_key"), s)
        )
    est = (
        probe_rows.select("probe_key", "seed", pbucket.alias("bucket"))
        # the sketch is (d x w)-bounded — 24k rows whatever the corpus —
        # so broadcasting it is the scale-safe direction
        .join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("probe_key")
        .agg(F.min("cnt").cast("long").alias("est_count"))
    )
    exact = key_counts.filter(F.col("l_partkey") < CMS_PROBE_MAX).select(
        F.col("l_partkey").alias("probe_key"),
        F.col("pk_cnt").alias("exact_count"),
    )
    return (
        est.join(exact, "probe_key")
        .select(
            "probe_key",
            "exact_count",
            "est_count",
            (F.col("est_count") - F.col("exact_count"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy("probe_key")
    )


# ---------------------------------------------------------------------------
# A/B statistics: two-proportion z-test (weekend vs weekday purchase rate)
# ---------------------------------------------------------------------------


@register(
    "conversion_lift_ztest",
    oracle="""
    WITH c AS (
      SELECT
        CAST(COUNT(*) FILTER (WHERE isodow(ts) >= 6) AS BIGINT) AS n_weekend,
        CAST(COUNT(*) FILTER (WHERE isodow(ts) >= 6
                              AND event_type = 'purchase') AS BIGINT)
          AS x_weekend,
        CAST(COUNT(*) FILTER (WHERE isodow(ts) < 6) AS BIGINT) AS n_weekday,
        CAST(COUNT(*) FILTER (WHERE isodow(ts) < 6
                              AND event_type = 'purchase') AS BIGINT)
          AS x_weekday
      FROM events
    ),
    p AS (
      SELECT *,
        CAST(x_weekend AS DOUBLE) / CAST(n_weekend AS DOUBLE) AS rate_weekend,
        CAST(x_weekday AS DOUBLE) / CAST(n_weekday AS DOUBLE) AS rate_weekday,
        CAST(x_weekend + x_weekday AS DOUBLE)
          / CAST(n_weekend + n_weekday AS DOUBLE) AS pooled
      FROM c
    )
    SELECT n_weekend, x_weekend, n_weekday, x_weekday,
           rate_weekend, rate_weekday,
           rate_weekend - rate_weekday AS lift,
           (rate_weekend - rate_weekday)
             / sqrt((pooled * (1.0 - pooled))
                    * ((1.0 / CAST(n_weekend AS DOUBLE))
                       + (1.0 / CAST(n_weekday AS DOUBLE)))) AS z_score
    FROM p
    """,
    tags=("pipeline-r8", "stats", "audit"),
    bench=True,
)
def conversion_lift_ztest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: is the weekend purchase RATE different from
    the weekday one?  The significance gate every experimentation / data-
    mix decision runs before acting on a rate difference — here at event
    grain (user-grain conversion saturates near 1.0 on this fixture: ~67
    events/user, 20% purchases), split on a real calendar dimension.
    z = (p1-p0) / sqrt(p(1-p) * (1/n1 + 1/n0)) with p pooled.

    Cross-engine exactness: the four inputs are integer counts from ONE
    ungrouped conditional aggregate; every derived value is a FIXED
    scalar expression tree over them (parenthesized identically in both
    engines), so each step is one correctly-rounded IEEE op — division,
    multiply, sqrt — and the doubles match bit-for-bit.  Weekend uses
    ISO day-of-week (Spark ``weekday(ts) >= 5`` == DuckDB
    ``isodow(ts) >= 6``), avoiding the engines' different Sunday=1/0
    conventions.

    100 TB shape: a single scan with map-side conditional-count partials
    into ONE row — no hash exchange at all (the one Exchange is the
    SinglePartition gather every scalar aggregate pays), no join, output
    bounded at 1 row."""
    ev = catalog_table(spark, sf_dir, "events")
    weekend = F.weekday("ts") >= 5
    purchase = F.col("event_type") == "purchase"
    c = ev.agg(
        F.count(F.when(weekend, 1)).cast("long").alias("n_weekend"),
        F.count(F.when(weekend & purchase, 1)).cast("long").alias("x_weekend"),
        F.count(F.when(~weekend, 1)).cast("long").alias("n_weekday"),
        F.count(F.when(~weekend & purchase, 1)).cast("long").alias("x_weekday"),
    )
    rate_we = F.col("x_weekend").cast("double") / F.col("n_weekend").cast("double")
    rate_wd = F.col("x_weekday").cast("double") / F.col("n_weekday").cast("double")
    pooled = (F.col("x_weekend") + F.col("x_weekday")).cast("double") / (
        F.col("n_weekend") + F.col("n_weekday")
    ).cast("double")
    p = c.select(
        "*",
        rate_we.alias("rate_weekend"),
        rate_wd.alias("rate_weekday"),
        pooled.alias("pooled"),
    )
    return p.select(
        "n_weekend",
        "x_weekend",
        "n_weekday",
        "x_weekday",
        "rate_weekend",
        "rate_weekday",
        (F.col("rate_weekend") - F.col("rate_weekday")).alias("lift"),
        (
            (F.col("rate_weekend") - F.col("rate_weekday"))
            / F.sqrt(
                (F.col("pooled") * (F.lit(1.0) - F.col("pooled")))
                * (
                    (F.lit(1.0) / F.col("n_weekend").cast("double"))
                    + (F.lit(1.0) / F.col("n_weekday").cast("double"))
                )
            )
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Corpus statistics: Zipf slope of the token frequency spectrum
# ---------------------------------------------------------------------------

ZIPF_TOP = 200  # cap the ranked spectrum — constant frame at any corpus


@register(
    "zipf_token_slope",
    oracle=f"""
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM t GROUP BY term),
    top AS (SELECT term, freq FROM f ORDER BY freq DESC, term LIMIT {ZIPF_TOP}),
    ranked AS (
      SELECT freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS BIGINT)
               AS rnk
      FROM top
    ),
    m AS (
      SELECT CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1000000.0) AS BIGINT) AS lx,
             CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1000000.0) AS BIGINT) AS ly
      FROM ranked
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
             CAST(SUM(lx * ly) AS BIGINT) AS sxy,
             CAST(SUM(lx * lx) AS BIGINT) AS sxx
      FROM m
    )
    SELECT n AS n_terms,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope,
           ((CAST(sy AS DOUBLE)
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE)) / 1000000.0 AS intercept_ln
    FROM s
    """,
    tags=("pipeline-r8", "text", "stats"),
    bench=True,
)
def zipf_token_slope_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus token spectrum: OLS fit of ln(freq) on
    ln(rank) over the top-200 token types — the one-number heavy-tail
    health check a pre-training corpus gets (natural text ~ -1; this
    synthetic fixture's 31-term near-uniform vocabulary fits ~0, and the
    COMPUTATION is what's under test, the same stance as
    [[dedup_embedding_cosine]]'s threshold).  A drifting slope between
    snapshots flags boilerplate floods or template collapse before
    training does.

    Cross-engine exactness: ln is the registry's one transcendental and
    gets [[tfidf_topterms]]'s treatment — rounded to integer MICRO-units
    in both engines before anything downstream — so the OLS moments
    (sx, sy, sxy, sxx) are exact BIGINT sums (order-independent on any
    partitioning; magnitudes < 1e16 at the 200-term cap), the
    slope numerator/denominator are exact integers, and the final slope
    is ONE IEEE division.  The intercept re-uses the same two exact
    integers, so its expression tree is fixed too.

    100 TB shape: explode -> term-grain count (map-side partials) ->
    ``orderBy().limit(200)`` plans as TakeOrderedAndProject (bounded
    per-partition heaps, no global sort); the rank window runs over the
    200-row constant frame, and the moments collapse to 1 row."""
    docs = catalog_table(spark, sf_dir, "documents")
    t = docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
    f = t.groupBy("term").agg(F.count("*").cast("long").alias("freq"))
    top = f.orderBy(F.col("freq").desc(), "term").limit(ZIPF_TOP)
    rnk_w = Window.orderBy(F.col("freq").desc(), "term")  # constant 200 rows
    ranked = top.select(
        "freq", F.row_number().over(rnk_w).cast("long").alias("rnk")
    )
    m = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * F.lit(1000000.0))
        .cast("long")
        .alias("lx"),
        F.round(F.log(F.col("freq").cast("double")) * F.lit(1000000.0))
        .cast("long")
        .alias("ly"),
    )
    s = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return s.select(
        F.col("n").alias("n_terms"),
        slope.alias("zipf_slope"),
        (
            (
                F.col("sy").cast("double")
                - slope * F.col("sx").cast("double")
            )
            / F.col("n").cast("double")
            / F.lit(1000000.0)
        ).alias("intercept_ln"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join (PPJoin-style): the scale path
# for ngram_jaccard_pairs, gated by the SAME oracle
# ---------------------------------------------------------------------------


@register(
    "jaccard_prefix_filter_pairs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
    """,
    tags=("pipeline-r8", "dedup", "jaccard", "prefix-filter"),
)
def jaccard_prefix_filter_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard join (pairs >= 0.8) via PREFIX FILTERING
    (Chaudhuri/Ganti/Kaushik 2006; Xiao et al. PPJoin) — the lossless
    scale path for [[ngram_jaccard_pairs]], registered against the SAME
    oracle so the external green row PROVES the filter drops no pair:

    order every gram by global rarity (document frequency asc, gram asc)
    and index only each doc's first ``sz - ceil(t*sz) + 1`` grams in that
    order.  Any pair with J >= t must overlap in >= ceil(t*sz) grams of
    EACH member (J >= t and i <= sz_b gives i >= t*sz_a), so the
    overlap cannot hide entirely in either suffix, and — both docs being
    sorted by the same global order — the first common gram falls inside
    BOTH prefixes.  Candidates come from an inverted-index join on
    prefix grams only, then an exact intersection count over just the
    candidate pairs.

    Why this is the 100 TB formulation: the full inverted-index join
    pays quadratic blowup inside COMMON-gram buckets; prefixes keep only
    each doc's RAREST grams (at t=0.8, ~1/5 of the index), and the
    quadratic verify runs on candidate pairs instead of every sharing
    pair.  The win is proportional to gram-df SKEW: on a real corpus the
    rarest grams have df 1-2 and buckets collapse; on THIS fixture's
    synthetic 31-term vocabulary gram df is near-uniform (~40 at sf0.1),
    so the filter's rank/df overhead is not repaid and the exact twin is
    ~2x faster (A/B in PLANS.md) — which is why the twin keeps the bench
    slot and this registration carries the correctness proof of the
    technique, not the fixture's wall-clock.  ceil(0.8*sz) is computed
    as exact INTEGER arithmetic (floor((4*sz+4)/5) — no 0.8 float whose
    binary representation could flip a boundary), and the final Jaccard
    mirrors the exact twin's expression tree bit-for-bit."""
    docs = catalog_table(spark, sf_dir, "documents")
    g = gram_rows(docs, "doc_id", "text", 3).withColumnRenamed("id", "doc_id")
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    gfreq = g.groupBy("gram").agg(F.count("*").alias("df"))
    pos_w = Window.partitionBy("doc_id").orderBy("df", "gram")  # doc-grain
    ranked = (
        g.join(gfreq, "gram")
        .select("doc_id", "gram", F.row_number().over(pos_w).alias("pos"))
    )
    # prefix length sz - ceil(0.8*sz) + 1, in exact integer arithmetic
    prefix_len = F.col("sz") - F.floor((F.lit(4) * F.col("sz") + F.lit(4)) / F.lit(5.0)) + 1
    pre = (
        ranked.join(sizes, "doc_id")
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "gram")
    )
    pa, pb = pre.alias("pa"), pre.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.gram") == F.col("pb.gram"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("id_a"), F.col("pb.doc_id").alias("id_b")
        )
        .distinct()
    )
    ga = g.withColumnsRenamed({"doc_id": "id_a"})
    gb = g.withColumnsRenamed({"doc_id": "id_b"})
    inter = (
        cand.join(ga, "id_a")
        .join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    jacc = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("i").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
            ).alias("jaccard"),
        )
    )
    return jacc.filter(F.col("jaccard") >= 0.8)


# ---------------------------------------------------------------------------
# Graph audit: degree assortativity of the part co-order graph
# ---------------------------------------------------------------------------


@register(
    "degree_assortativity",
    oracle="""
    WITH co AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b USING (l_orderkey)
      WHERE a.l_partkey < b.l_partkey
    ),
    ends AS (SELECT u AS x, v AS y FROM co UNION ALL SELECT v, u FROM co),
    deg AS (SELECT x AS id, CAST(COUNT(*) AS BIGINT) AS d
            FROM ends GROUP BY x),
    pairs AS (
      SELECT dx.d AS du, dy.d AS dv
      FROM ends e JOIN deg dx ON e.x = dx.id JOIN deg dy ON e.y = dy.id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             CAST(SUM(du) AS BIGINT) AS sx,
             CAST(SUM(du * dv) AS BIGINT) AS sxy,
             CAST(SUM(du * du) AS BIGINT) AS sxx
      FROM pairs
    )
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(m2 * sxy - sx * sx AS DOUBLE)
             / CAST(m2 * sxx - sx * sx AS DOUBLE) AS assortativity
    FROM s
    """,
    tags=("pipeline-r8", "graph", "stats"),
    bench=True,
)
def degree_assortativity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-order graph — the one-number
    structure audit that separates hub-to-hub networks (r > 0, social-ish)
    from hub-to-leaf ones (r < 0, web/infrastructure-ish); a drifting r
    between corpus snapshots flags a change in co-occurrence structure
    (bundles, boilerplate templates) the degree histogram alone misses.
    Pearson correlation of endpoint degrees over directed edge ends:
    r = (2m*Sxy - Sx^2) / (2m*Sxx - Sx^2) — by the both-orientations
    symmetry Sx = Sy and Sxx = Syy, so the classic formula collapses to
    integer moments.

    Cross-engine exactness: degrees are integers, so ALL four moments
    are exact BIGINT sums (order-independent on any partitioning;
    magnitudes ~1e17 at sf0.1, safely inside int64 — past ~1e9 directed
    ends switch the two closing products to DECIMAL(38,0), the
    [[t_closeness_profile]] note), and r is ONE IEEE division.

    100 TB shape: the edge build is [[triangle_count]]'s (orderkey
    self-join, repartitioned, distinct); the degree frame is |V|-bounded
    and joins back to the edge ends twice (AQE broadcasts it at bench
    scale; at cluster scale it follows the documented shuffle_hash
    fallback) before ONE scalar moment aggregate — no corpus-pair
    materialization anywhere."""
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
    )
    # materialize the edge list once ([[triangle_count]]'s pattern): it
    # feeds the directed-ends frame THREE times (pairs + two degree
    # joins) and localCheckpoint makes that sharing explicit instead of
    # relying on runtime exchange reuse across five identical subtrees
    co = co.localCheckpoint()
    ends = co.select(F.col("u").alias("x"), F.col("v").alias("y")).unionByName(
        co.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    deg = ends.groupBy(F.col("x").alias("id")).agg(
        F.count("*").cast("long").alias("d")
    ).localCheckpoint()  # |V|-bounded; reused by both joins + n_nodes
    # (round-14 note: dropping this checkpoint in favour of runtime
    # ReusedExchange was A/B-tested and REGRESSED — the three consumers'
    # groupBy subtrees did not collapse and execute went 0.5 -> 1.3 s;
    # the eager |V|-grain materialization is the right trade here)
    pairs = (
        ends.join(deg.withColumnsRenamed({"id": "x", "d": "du"}), "x")
        .join(deg.withColumnsRenamed({"id": "y", "d": "dv"}), "y")
        .select("du", "dv")
    )
    s = pairs.agg(
        F.count("*").cast("long").alias("m2"),
        F.sum("du").cast("long").alias("sx"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("sxy"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("sxx"),
    )
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    return s.crossJoin(F.broadcast(n_nodes)).select(
        (F.col("m2") / F.lit(2)).cast("long").alias("n_edges"),
        "n_nodes",
        (
            (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
            / (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Stratified weighted sampling: per-source priority top-k
# ---------------------------------------------------------------------------


@register(
    "weighted_sample_per_source",
    oracle="""
    WITH p AS (
      SELECT source, doc_id, CAST(LENGTH(text) AS BIGINT) AS weight,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS u
      FROM documents
    ),
    r AS (
      SELECT source, doc_id, weight,
             CAST(u AS DOUBLE) / CAST(weight AS DOUBLE) AS priority,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(u AS DOUBLE) / CAST(weight AS DOUBLE), doc_id)
             AS BIGINT) AS rnk
      FROM p
    )
    SELECT source, rnk, doc_id, weight, priority
    FROM r WHERE rnk <= 8
    """,
    tags=("pipeline-r8", "sampling"),
    bench=True,
)
def weighted_sample_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted sampling WITHOUT replacement: per-SOURCE
    priority sampling ([[weighted_reservoir_sample]]'s scheme, one
    independent draw per stratum) — the curation primitive behind "keep
    the k best-weighted docs from EVERY source", which a mixture builder
    needs when a global draw would let one giant source crowd out the
    rest.  Same engine-exactness argument: 52-bit md5 u is exactly a
    double, priority = ONE IEEE division, doc_id tiebreak.

    100 TB shape: the rank filter (rnk <= 8) rewrites to
    WindowGroupLimit, so each task keeps only its local top-8 PER SOURCE
    before the single source-partitioned exchange — state per task is
    O(sources x k), never corpus-grain, and the output is a constant
    |sources| x 8 frame.  This is the per-group analogue of the global
    sampler's TakeOrderedAndProject."""
    docs = catalog_table(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    w = F.length("text").cast("long")
    p = docs.select(
        "source",
        "doc_id",
        w.alias("weight"),
        (u.cast("double") / w.cast("double")).alias("priority"),
    )
    rnk_w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        p.select(
            "source",
            F.row_number().over(rnk_w).cast("long").alias("rnk"),
            "doc_id",
            "weight",
            "priority",
        )
        .filter(F.col("rnk") <= 8)
    )


# ---------------------------------------------------------------------------
# Tokenizer induction: the first K BPE merges over the corpus vocabulary
# ---------------------------------------------------------------------------

BPE_ROUNDS = 4


def _bpe_rounds_sql(k: int) -> str:
    """The shared WITH-chain of the K-round unrolled DuckDB BPE twin:
    word frequencies, the char-split symbol streams s0, then per round
    three CTEs — pair counts over the current streams, the argmax merge
    (cnt DESC, lhs, rhs), the re-written streams — generated by the same
    loop the Spark side runs, so the two engines share the merge rule by
    construction.  The stream rewrite is a LEFT JOIN ON TRUE with a
    NULL-guard (NOT a cross join): when a round has no pairs left its
    top{{i}} is empty and the stream must pass through unchanged —
    matching the Spark loop's early exit — rather than vanish."""
    rounds = []
    for i in range(k):
        rounds.append(f"""
    p{i} AS (
      SELECT split_part(pair, '|', 1) AS lhs, split_part(pair, '|', 2) AS rhs,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                 j -> t[CAST(j AS INT)] || '|' || t[CAST(j AS INT) + 1]))
               AS pair,
               freq
        FROM (SELECT string_split(s, ' ') AS t, freq FROM s{i})
      ) GROUP BY 1, 2
    ),
    top{i} AS (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
    s{i + 1} AS (
      SELECT CASE WHEN top{i}.lhs IS NULL THEN s ELSE
             trim(replace(replace(' ' || s || ' ',
                   ' ' || top{i}.lhs || ' ' || top{i}.rhs || ' ',
                   ' ' || top{i}.lhs || '~' || top{i}.rhs || ' '),
                   ' ' || top{i}.lhs || ' ' || top{i}.rhs || ' ',
                   ' ' || top{i}.lhs || '~' || top{i}.rhs || ' ')) END AS s,
             freq
      FROM s{i} LEFT JOIN top{i} ON TRUE
    )""")
    return f"""
    WITH wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word
    ),
    s0 AS (SELECT array_to_string(string_split(word, ''), ' ') AS s, freq
           FROM wf),{",".join(rounds)}"""


def _bpe_oracle(k: int = BPE_ROUNDS) -> str:
    """Merge-table finals over the shared round chain."""
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, lhs, rhs, cnt AS pair_count FROM top{i}"
        for i in range(k)
    )
    return f"""{_bpe_rounds_sql(k)}
    SELECT * FROM ({finals}) ORDER BY merge_rank
    """


def _bpe_stats_oracle(k: int = BPE_ROUNDS) -> str:
    """Corpus tokenization stats over the post-merge streams s{k}."""
    return f"""{_bpe_rounds_sql(k)}
    SELECT c.total_words, c.total_chars, t.total_tokens, v.vocab_size,
           CAST(c.total_chars AS DOUBLE) / CAST(t.total_tokens AS DOUBLE)
             AS chars_per_token
    FROM (SELECT CAST(SUM(freq) AS BIGINT) AS total_words,
                 CAST(SUM(len(word) * freq) AS BIGINT) AS total_chars
          FROM wf) c,
         (SELECT CAST(SUM(len(string_split(s, ' ')) * freq) AS BIGINT)
                   AS total_tokens
          FROM s{k}) t,
         (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_size
          FROM (SELECT unnest(string_split(s, ' ')) AS sym FROM s{k})) v
    """


@register(
    "bpe_merge_induction",
    oracle=_bpe_oracle(),
    tags=("pipeline-r8", "text", "tokenizer"),
    bench=True,
)
def bpe_merge_induction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First K byte-pair-encoding merges learned from the corpus — the
    tokenizer-induction primitive (Sennrich et al. 2016): BPE trains on
    the WORD-FREQUENCY table, so the one corpus-scale pass is the word
    count; every merge round then runs at vocabulary grain (bounded by
    |vocab|, not the corpus — the property that makes BPE training
    feasible on 100 TB: the stream table here is 31 rows standing in for
    the ~10^6-row word-freq table of a real crawl).

    Merge rule, shared with the oracle BY CONSTRUCTION (both engines run
    literal-`replace` on the space-delimited symbol stream, padded, twice
    per round): left-to-right non-overlapping replacement of the argmax
    pair (count DESC, then lexicographic lhs, rhs — fully deterministic),
    with the second replace catching odd-length runs ("a a a a" merges to
    "a~a a~a" in one round).  Merged symbols join with '~' so
    ("ab","c")/("a","bc") stay distinct.  All counts are exact integer
    sums of word frequencies.

    Plan shape: ONE corpus aggregate (word counts, map-side partials),
    then K rounds of vocab-grain pair-count aggregates; each round's
    argmax reaches the driver as a SINGLE bounded row (the k-means
    centroid-collect precedent — the collected artifact is O(K), a
    hyperparameter, never data-sized)."""
    stream = _bpe_stream(spark, sf_dir)
    merges, _ = _bpe_run(stream, BPE_ROUNDS)
    return spark.createDataFrame(
        merges, "merge_rank long, lhs string, rhs string, pair_count long"
    )


def _bpe_wf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE corpus-scale pass: the word-frequency table."""
    docs = catalog_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def _bpe_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # chars -> space-joined symbol stream; localCheckpoint: the K merge
    # rounds re-read this vocab-grain frame, not the corpus
    return _bpe_wf(spark, sf_dir).select(
        F.array_join(F.split("word", ""), " ").alias("s"), "freq"
    ).localCheckpoint()


def _bpe_run(stream: DataFrame, rounds: int):
    """Run the BPE merge loop on a prepared symbol-stream frame; returns
    (merge table rows, post-merge stream) — shared by the merge-table
    and tokenization-stats queries so both verify the same rule."""
    merges = []
    for rnd in range(rounds):
        pairs = (
            # size >= 2 guard: a fully-merged single-symbol stream has no
            # pairs — DuckDB's range(1, 1) is naturally empty, but Spark's
            # sequence(0, -1) DESCENDS and would fabricate bogus indices
            stream.filter(F.size(F.split("s", " ")) >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(split(s, ' ')) - 2),"
                        " j -> struct(split(s, ' ')[j] AS lhs,"
                        " split(s, ' ')[j + 1] AS rhs))"
                    )
                ).alias("p"),
                "freq",
            )
            .select("p.lhs", "p.rhs", "freq")
            .groupBy("lhs", "rhs")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        rows = pairs.orderBy(F.col("cnt").desc(), "lhs", "rhs").limit(1).collect()
        if not rows:
            # every stream fully merged: the oracle's later rounds have
            # an empty top{i} and its NULL-guarded LEFT JOIN passes the
            # streams through unchanged, so stopping here keeps both the
            # merge table AND the final streams identical across engines
            break
        top = rows[0]
        merges.append((rnd + 1, top.lhs, top.rhs, top.cnt))
        pat = F.concat(F.lit(" "), F.lit(top.lhs), F.lit(" "), F.lit(top.rhs), F.lit(" "))
        rep = F.concat(F.lit(" "), F.lit(top.lhs), F.lit("~"), F.lit(top.rhs), F.lit(" "))
        padded = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
        stream = stream.select(
            F.trim(F.replace(F.replace(padded, pat, rep), pat, rep)).alias("s"),
            "freq",
        ).localCheckpoint()
    return merges, stream


@register(
    "bpe_token_stats",
    oracle=_bpe_stats_oracle(),
    tags=("pipeline-r8", "text", "tokenizer"),
)
def bpe_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization stats under the learned BPE merges — the
    acceptance metric of tokenizer induction: total tokens after
    applying [[bpe_merge_induction]]'s K merges, the induced symbol
    vocabulary size, and chars-per-token (the compression ratio a
    tokenizer is judged by; tokens-per-byte is its reciprocal).

    Exactness: total_words, total_chars, total_tokens, and vocab_size
    are integer sums/counts over the post-merge streams (identical
    strings in both engines — same merge rule, see [[bpe_merge_induction]]);
    chars_per_token is ONE IEEE division of two exact bigints.

    Plan shape: the corpus is read ONCE (the word-frequency aggregate,
    localCheckpointed) and BOTH consumers — the char/word totals and the
    merge loop + token totals — read that vocab-grain frame; the final
    combine is two 1-row broadcast cross joins (the scalar-waterfall
    pattern).  Stats run at vocab grain regardless of corpus size."""
    wf = _bpe_wf(spark, sf_dir).localCheckpoint()
    chars = wf.agg(
        F.sum("freq").cast("long").alias("total_words"),
        F.sum(F.length("word") * F.col("freq")).cast("long").alias("total_chars"),
    )
    stream = wf.select(
        F.array_join(F.split("word", ""), " ").alias("s"), "freq"
    ).localCheckpoint()
    _, stream = _bpe_run(stream, BPE_ROUNDS)
    toks = stream.agg(
        F.sum(F.size(F.split("s", " ")) * F.col("freq"))
        .cast("long")
        .alias("total_tokens")
    )
    vocab = stream.select(F.explode(F.split("s", " ")).alias("sym")).agg(
        F.countDistinct("sym").cast("long").alias("vocab_size")
    )
    return (
        chars.crossJoin(F.broadcast(toks))
        .crossJoin(F.broadcast(vocab))
        .select(
            "total_words",
            "total_chars",
            "total_tokens",
            "vocab_size",
            (
                F.col("total_chars").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# Graph curation: k-core peeling of the part co-order graph
# ---------------------------------------------------------------------------

KCORE_K = 80
KCORE_ROUNDS = 8


def _k_core_oracle(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    """Unrolled DuckDB twin of the k-core peel loop: each round is two
    CTEs (the surviving-node set by degree, the edge list restricted to
    it), generated by the same loop the Spark side runs — the peel rule
    is shared by construction, so the hash gate verifies the full
    fixpoint iteration, not one round."""
    steps = []
    for i in range(rounds):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # e{i+1} references e{i} three times (FROM + both IN subqueries
        # via k{i}) — unrolled R rounds that is 3^R scans of lineitem
        steps.append(f"""
    k{i} AS MATERIALIZED (
      SELECT x AS id FROM e{i} GROUP BY x HAVING COUNT(*) >= {k}),
    e{i + 1} AS MATERIALIZED (
      SELECT x, y FROM e{i}
      WHERE x IN (SELECT id FROM k{i}) AND y IN (SELECT id FROM k{i})
    )""")
    return f"""
    WITH co AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b USING (l_orderkey)
      WHERE a.l_partkey < b.l_partkey
    ),
    e0 AS MATERIALIZED (
      SELECT u AS x, v AS y FROM co UNION ALL SELECT v, u FROM co),{",".join(steps)}
    SELECT x AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e{rounds} GROUP BY x
    """


def _k_core_peel(spark: SparkSession, sf_dir: str, k: int, rounds: int) -> DataFrame:
    """The peel loop behind [[k_core_peeling]] — parameterized so the
    planted-graph test can run it with a hand-checkable threshold.

    Degree-DECREMENT formulation (the scale-right one): the edge list is
    built and checkpointed ONCE, never rewritten; each round finds the
    newly-sub-k nodes in the |V|-grain degree table, probes the static
    edge list with that (cascade-sized) set to count the edges each
    surviving neighbour just lost, and subtracts.  Equivalent round-by-
    round to the textbook filter-the-subgraph iteration (a node's
    tracked degree IS its induced-subgraph degree), but each round costs
    one no-shuffle probe scan + delta-sized aggregates instead of an
    |E|-sized rewrite-and-checkpoint — the sf0.1 A/B measured 5.9 s vs
    10.3 s warm for identical output."""
    par = spark.sparkContext.defaultParallelism
    li = (
        catalog_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(par, "l_orderkey")
    )
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    ).localCheckpoint()  # the union below reads it twice
    # ends is TWO NARROW PROJECTIONS of the checkpointed co — no shuffle,
    # no new compute — so materializing it again bought nothing: each
    # round's probe re-derives it from co's blocks for the cost of a
    # projection scan over the same bytes. (Round-14: its eager
    # localCheckpoint was one more driver job + a second copy of the
    # edge list pinned in memory; dropped, same plan work per round.
    # Round-15: a y-partitioned AQE-off checkpoint of ends — which makes
    # every peel round's groupBy(y) exchange-free — was A/B'd
    # process-isolated and REVERTED: the doubled pinned edge list and the
    # AQE-less build job cost 5.3 s → 7.4-9.2 s at sf0.1 in the 1 GB
    # bench JVM; the per-round shuffles it removes are tiny partial-agg
    # exchanges.)
    ends = co.select(F.col("u").alias("x"), F.col("v").alias("y")).unionByName(
        co.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    deg = ends.groupBy(F.col("x").alias("id")).agg(
        F.count("*").alias("d")
    ).localCheckpoint()
    for _ in range(rounds):
        removed = deg.filter(F.col("d") < k).select("id")
        # isEmpty (a take-1 over the checkpointed |V| frame) is the exit
        # test; the old full count() scanned every block for a number
        # only compared to zero
        if removed.isEmpty():
            # fixpoint: every remaining round is an identity in BOTH
            # engines (the oracle's later CTEs filter nothing), so
            # stopping early cannot diverge from the unrolled SQL
            break
        dec = (
            ends.join(removed.withColumnRenamed("id", "x"), "x", "left_semi")
            .groupBy(F.col("y").alias("id"))
            .agg(F.count("*").alias("c"))
        )
        # nodes removed in earlier rounds are no longer in deg, so their
        # phantom decrements (edges FROM a just-removed node TO a long-
        # removed one) drop out of the left join automatically
        deg = (
            deg.join(removed, "id", "left_anti")
            .join(dec, "id", "left")
            .select(
                "id", (F.col("d") - F.coalesce(F.col("c"), F.lit(0))).alias("d")
            )
            .localCheckpoint()  # |V|-grain — the only per-round state
        )
    # d >= 1: if the round cap fires before the fixpoint, a survivor may
    # have just lost its LAST edge; the oracle's closing GROUP BY over
    # the edge list cannot see such a node (at convergence this filter
    # is a no-op — every survivor has d >= k >= 1)
    return deg.filter(F.col("d") >= 1).select(
        F.col("id").alias("part_id"), F.col("d").cast("long").alias("core_degree")
    )


@register(
    "k_core_peeling",
    oracle=_k_core_oracle(),
    tags=("pipeline-r8", "graph"),
    bench=True,
)
def k_core_peeling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core of the part co-order graph by iterative peeling — the
    graph-curation primitive behind "keep only densely co-occurring
    items" (spam rings, boilerplate clusters, and long-tail noise all
    live OUTSIDE the core): repeatedly delete nodes of degree < k until
    none remain, a cascade a single degree filter cannot express (each
    deletion lowers its neighbours' degrees).  Fixed k=80 against the
    fixture's degree profile (min 42 / median 115 at sf0.01 — and
    degree here is scale-INVARIANT: lineitems-per-part and
    lineitems-per-order are constants of the schema, so the threshold
    stays meaningful at any SF): the sf0.01 cascade runs 4 effective
    rounds and peels 143 of 2000 parts.

    Peel rule shared with the oracle BY CONSTRUCTION: both engines
    apply the same per-round rule (drop the sub-k nodes of the CURRENT
    induced subgraph) for the same bounded round count — the oracle as
    unrolled MATERIALIZED CTE rounds that rewrite the edge list, Spark
    in the equivalent degree-decrement form (see [[_k_core_peel]]),
    with an early exit that only triggers when a round is an identity
    in both engines.  All quantities are integer degrees — no float.

    100 TB shape: ONE corpus-scale edge build ([[triangle_count]]'s
    orderkey self-join, repartitioned, distinct), localCheckpointed
    once and NEVER rewritten; each round probes it with the newly-
    removed node set (cascade-sized — AQE broadcasts it at bench scale,
    and past broadcast bounds the probe degrades to shuffle_hash on the
    key the edge list already hashes by) and updates a |V|-grain degree
    table, the only per-round state.  Total decrement work across ALL
    rounds is bounded by |E| (each edge is charged at most once per
    endpoint removal), rounds are capped by KCORE_ROUNDS, and the early
    exit makes the common case pay only for the rounds the cascade
    actually needs."""
    return _k_core_peel(spark, sf_dir, KCORE_K, KCORE_ROUNDS)
