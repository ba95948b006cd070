"""Round-4 LLM-pipeline extensions: corpus-LM scoring, mixture-balanced
sampling, sequence-length bucketing, semantic (embedding) dedup at scale.

Registered AFTER the driver's 50-entry window (tag ``pipeline-ext``, which
``ordered_specs`` deliberately does not pull forward): the window is full
and 100% value-hash green; these queries carry the same DuckDB oracles and
are verified by tools/driver_sim.py (committed as DRIVERSIM_r{N}.json) and
pytest instead of the external scoreboard.

Determinism: every ratio here is ONE division of two exact integers (or
integer-exact LSH signatures), so results are bit-identical across engines
and partitionings without decimal-sum workarounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window

from funnel_report_etl_pipeline__spark.functions.core import pct_of
from funnel_report_etl_pipeline__spark.operators.similarity import (
    embedding_dedup_pairs_lsh,
    rademacher_sign,
)
from funnel_report_etl_pipeline__spark.operators.text import STOPWORDS
from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog_table(spark, sf_dir, name)


@register(
    "bigram_lm_support",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
      WHERE len(toks) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY w1)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(c2.n2) AS BIGINT) AS sum_bigram_freq,
           CAST(SUM(c1.n1) AS BIGINT) AS sum_context_freq,
           CAST(SUM(c2.n2) AS DOUBLE) / CAST(SUM(c1.n1) AS DOUBLE) AS support_ratio
    FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY bg.doc_id
    """,
    tags=("pipeline-ext", "text", "lm"),
)
def bigram_lm_support_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram LM support scoring — the count-based stand-in for a
    perplexity filter (CCNet/Gopher-style): per document, how strongly the
    corpus's own bigram statistics support its word sequences. For each
    bigram occurrence (w1,w2) the corpus-wide bigram count n2(w1,w2) and
    context count n1(w1) are summed per doc; ``support_ratio`` =
    Σn2 / Σn1 ∈ (0,1] is high for documents made of common word
    transitions and low for novel/garbled sequences. All counts are exact
    integers and the only division is one BIGINT/BIGINT at the end — no
    float-sum ordering hazards. Scale shape: the bigram stream is re-derived
    per consumer branch (count tables partition on different keys, so no
    exchange reuse — at 100 TB checkpoint the gram frame once, as
    minhash_dedup_pairs localCheckpoints its grams); the two count tables
    shuffle on (w1,w2)/(w1); per-doc aggregation is one more key shuffle.
    No Python, no windows, whole-stage codegen throughout."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bg = (
        docs.select(
            "doc_id",
            F.posexplode(F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))))
            .alias("i", "w1"),
            toks.alias("__toks"),
        )
        .withColumn("w2", F.col("__toks")[F.col("i") + 1])
        .select("doc_id", "w1", "w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("n1"))
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("n2").alias("sum_bigram_freq"),
            F.sum("n1").alias("sum_context_freq"),
        )
        .withColumn(
            "support_ratio",
            F.col("sum_bigram_freq").cast("double")
            / F.col("sum_context_freq").cast("double"),
        )
    )


@register(
    "balanced_source_sample",
    oracle="""
    WITH n AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    m AS (SELECT MIN(n_s) AS m FROM n),
    r AS (SELECT source, CAST(m.m AS DOUBLE) / CAST(n_s AS DOUBLE) AS rate
          FROM n, m)
    SELECT d.doc_id, d.source
    FROM documents d JOIN r USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < r.rate
    """,
    tags=("pipeline-ext", "sampling", "mixture"),
)
def balanced_source_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-balanced downsampling — the domain-reweighting step of a
    training-data pipeline: each source is hash-sampled at rate
    min_count/n_source, so every source contributes ≈ the smallest
    source's share and no domain dominates the mix. The keep decision is
    content-addressed (md5(doc_id) fraction < rate), hence reproducible
    across engines, cluster sizes, and repartitioning — unlike
    ``df.sampleBy``. Scale shape: the per-source rate table is tiny
    (broadcast); the corpus is filtered map-side in one scan; the only
    corpus-sized shuffle is... none."""
    d = _t(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count("*").alias("n_s"))
    rates = n.crossJoin(n.agg(F.min("n_s").alias("m"))).select(
        "source", (F.col("m").cast("double") / F.col("n_s").cast("double")).alias("rate")
    )
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(frac < F.col("rate"))
        .select("doc_id", "source")
    )


@register(
    "length_buckets",
    oracle="""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents
    )
    SELECT CAST(length(bin(n_toks)) - 1 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
           CAST(MIN(n_toks) AS BIGINT) AS min_tokens,
           CAST(MAX(n_toks) AS BIGINT) AS max_tokens
    FROM t GROUP BY bucket
    """,
    tags=("pipeline-ext", "text", "batching"),
)
def length_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for training-batch assembly: docs grouped
    into power-of-two token-length buckets (bucket = floor(log2(n)) via
    binary-representation length — integer-exact, no float log), with
    per-bucket doc/token tallies. This is the histogram a packing/batching
    stage consumes to pick bucket boundaries that minimize padding waste.
    One scan, one small-key shuffle (≤ ~40 buckets)."""
    d = _t(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        d.select(n_toks.alias("n_toks"))
        .withColumn("bucket", (F.length(F.bin(F.col("n_toks"))) - 1).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("sum_tokens"),
            F.min("n_toks").alias("min_tokens"),
            F.max("n_toks").alias("max_tokens"),
        )
    )


@register(
    "temperature_source_sample",
    oracle="""
    WITH n AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    m AS (SELECT MIN(n_s) AS mn FROM n),
    r AS (SELECT source, sqrt(CAST(m.mn AS DOUBLE) / CAST(n_s AS DOUBLE)) AS rate
          FROM n, m)
    SELECT d.doc_id, d.source
    FROM documents d JOIN r USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < r.rate
    """,
    tags=("pipeline-ext", "sampling", "mixture"),
)
def temperature_source_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture sampling (α = 0.5): source s keeps
    docs at rate (n_min/n_s)^(1-α) = sqrt(n_min/n_s), so expected kept
    counts ∝ n_s^α — the standard multinomial temperature reweighting
    between fully-balanced (α=0, `balanced_source_sample`) and natural
    (α=1, no-op). sqrt is IEEE correctly-rounded, so the rate — and hence
    the md5-thresholded keep set — is bit-identical across engines
    (`pow` would not be). Same plan shape as the balanced sampler:
    broadcast rate table, one map-side-filtered corpus scan."""
    d = _t(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count("*").alias("n_s"))
    rates = n.crossJoin(n.agg(F.min("n_s").alias("mn"))).select(
        "source",
        F.sqrt(F.col("mn").cast("double") / F.col("n_s").cast("double")).alias("rate"),
    )
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(frac < F.col("rate"))
        .select("doc_id", "source")
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
      FROM events
    ),
    joined AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS INT)
               AS week_offset,
             a.user_id
      FROM activity a JOIN firsts f USING (user_id)
    ),
    sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts
              GROUP BY cohort_week)
    SELECT strftime(j.cohort_week, '%Y-%m-%d') AS cohort_week,
           j.week_offset,
           CAST(COUNT(DISTINCT j.user_id) AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           round_even(CAST(COUNT(DISTINCT j.user_id) AS DOUBLE)
             / s.cohort_size * 100, 1) AS retention_pct
    FROM joined j JOIN sizes s USING (cohort_week)
    GROUP BY j.cohort_week, j.week_offset, s.cohort_size
    """,
    tags=("pipeline-ext", "analytics", "cohort"),
)
def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — the classic companion report to
    the reference's funnel: users cohorted by first-activity week, one
    row per (cohort, week offset) with distinct active users and the
    percent of the cohort retained (HALF_EVEN, like the reference's
    _pct). Two shuffles on user_id (first-seen min + distinct activity,
    co-partitioned so the join is exchange-free), then one small
    aggregation on (cohort, offset). Weeks are Monday-truncated DATEs
    emitted as ISO strings (DATE columns compare as different types
    across engines)."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("WEEK", F.min("ts"))).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.to_date(F.date_trunc("WEEK", F.col("ts"))).alias("act_week")
    ).distinct()
    joined = activity.join(firsts, "user_id").select(
        "cohort_week",
        (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
        "user_id",
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (
        joined.join(sizes, "cohort_week")
        .groupBy("cohort_week", "week_offset", "cohort_size")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            pct_of(F.col("n_active"), F.col("cohort_size")).alias("retention_pct"),
        )
    )


@register(
    "scd2_history",
    oracle="""
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S.%f') AS valid_to
    FROM events
    """,
    tags=("pipeline-ext", "scd", "history"),
)
def scd2_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history staging: each change event becomes a validity
    interval [valid_from, valid_to) via LEAD over the key's timeline
    (NULL valid_to = current row) — the warehouse pattern that turns a
    change log into point-in-time-joinable history. One key shuffle, one
    ordered window, deterministic (ts, event_id) tiebreak; timestamps as
    ISO strings for the cross-engine compare."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iso = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", iso).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), iso).alias("valid_to"),
    )


@register(
    "price_histogram",
    oracle="""
    SELECT CASE WHEN l_extendedprice < 0 THEN 0
                WHEN l_extendedprice >= 100000 THEN 21
                ELSE CAST(FLOOR(l_extendedprice / 5000) AS INT) + 1 END AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY bin
    """,
    tags=("pipeline-ext", "histogram", "stats"),
)
def price_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram over line-item prices (width_bucket
    semantics spelled out as the explicit under/overflow + floor formula,
    identical text in both engines — DuckDB has no width_bucket), with
    min/max per bin for the bin-edge audit. The single-scan
    single-shuffle profile query a data-quality dashboard runs per
    column; for quantile-style summaries see ``value_percentiles`` /
    ``approx_percentiles``."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    bin_ = (
        F.when(price < 0, F.lit(0))
        .when(price >= 100000, F.lit(21))
        .otherwise(F.floor(price / 5000).cast("int") + 1)
    )
    return (
        li.select(bin_.alias("bin"), "l_extendedprice")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_items"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


@register(
    "latest_state_compaction",
    oracle="""
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_iso, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("pipeline-ext", "compaction", "upsert"),
)
def latest_state_compaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert compaction — the latest row per key (here: each user's
    most recent event, event_id as the deterministic tiebreak), the
    materialization every lakehouse runs to turn an append-only change
    stream into current state. ROW_NUMBER over a key-partitioned
    descending sort: one shuffle on the key, WindowGroupLimit keeps one
    row per key per partition before the exchange, so the shuffle carries
    ~|keys| rows, not |events|. Timestamps emitted as ISO strings for the
    cross-engine compare."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_iso"),
            "value",
        )
    )


@register(
    "time_to_convert",
    oracle="""
    WITH s AS (SELECT user_id, MIN(ts) AS s_ts FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    d AS (
      SELECT e.user_id,
             MIN(epoch_us(e.ts) - epoch_us(s.s_ts)) AS delta_us
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s.s_ts
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_signed,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           quantile_cont(delta_us, 0.5) AS median_us,
           quantile_cont(delta_us, 0.9) AS p90_us
    FROM d
    """,
    tags=("pipeline-ext", "analytics", "funnel"),
)
def time_to_convert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution — the funnel's latency companion: per
    user, microseconds from first signup to the first purchase AFTER it;
    reported as converter count plus exact continuous median/p90 (Spark
    ``percentile`` ≙ DuckDB ``quantile_cont``, the same (1-g)·lo + g·hi
    interpolation over integer microsecond deltas, so the doubles are
    engine-identical). Two user-keyed aggregations plus one co-partitioned
    join — the purchase stream shuffles once on user_id."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros("ts") - F.unix_micros("s_ts")).alias("delta_us")
        )
    )
    n_signed = s.agg(F.count("*").alias("n_signed"))
    conv = d.agg(
        F.count("*").alias("n_converted"),
        F.percentile("delta_us", F.lit(0.5)).alias("median_us"),
        F.percentile("delta_us", F.lit(0.9)).alias("p90_us"),
    )
    return n_signed.crossJoin(conv)


@register(
    "curation_funnel",
    oracle=f"""
    WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
    stats AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 {list(STOPWORDS)!r})) AS n_stop,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM train
    ),
    qual AS (
      SELECT doc_id, text FROM stats
      WHERE n_tokens BETWEEN 10 AND 1000 AND CAST(n_stop AS DOUBLE) / n_distinct > 0
    ),
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM train),
    g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i+1])) AS gram
           FROM t WHERE len(toks) >= 2),
    c2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY doc_id, gram),
    f2 AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS f FROM c2 GROUP BY doc_id),
    g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
           FROM t WHERE len(toks) >= 3),
    c3 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g3 GROUP BY doc_id, gram),
    f3 AS (SELECT doc_id,
                  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS f
           FROM c3 GROUP BY doc_id),
    s2 AS (
      SELECT q.doc_id, q.text FROM qual q
      LEFT JOIN f2 ON f2.doc_id = q.doc_id
      LEFT JOIN f3 ON f3.doc_id = q.doc_id
      WHERE COALESCE(f2.f, 0.0) <= 0.20 AND COALESCE(f3.f, 0.0) <= 0.18
    ),
    g5all AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 3),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 5
    ),
    bench AS (SELECT DISTINCT gram FROM g5all WHERE doc_id % 20 = 0),
    contaminated AS (
      SELECT DISTINCT g.doc_id FROM g5all g JOIN bench USING (gram)
      WHERE g.doc_id % 20 <> 0
    ),
    s3 AS (SELECT s2.* FROM s2 WHERE s2.doc_id NOT IN (SELECT doc_id FROM contaminated)),
    canon AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM s3
      ) WHERE rn = 1
    )
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_total,
           CAST((SELECT COUNT(*) FROM train) AS BIGINT) AS n_after_holdout,
           CAST((SELECT COUNT(*) FROM qual) AS BIGINT) AS n_quality,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_repetition,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_clean,
           CAST((SELECT COUNT(*) FROM canon) AS BIGINT) AS n_canonical,
           round_even(CAST((SELECT COUNT(*) FROM canon) AS DOUBLE)
             / (SELECT COUNT(*) FROM documents) * 100, 1) AS pct_survived
    """,
    tags=("pipeline-ext", "curation", "composition"),
)
def curation_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's funnel-waterfall semantics (report_engine.py:233-319:
    staged counts, percent-of-initial, HALF_EVEN rounding) applied to
    corpus curation — the training-data pipeline AS a funnel report:
    total → eval-holdout removal → quality gate → Gopher repetition gates
    → benchmark decontamination → exact-dedup canonical survivors, with
    the survivor percentage computed exactly like the reference's _pct.
    Each gate is the already-verified standalone operator; this composes
    them into one scalar row. Scale shape: the gates are scan-side
    expressions or broadcast-joined per-doc flags; the only corpus-keyed
    shuffles are the gram aggregations and the final md5 dedup window."""
    from funnel_report_etl_pipeline__spark.operators.dedup import ngram_decontaminate
    from funnel_report_etl_pipeline__spark.operators.text import (
        quality_keep_expr,
        repetition_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)

    qual = train.filter(quality_keep_expr())
    rep = repetition_stats(train).select("doc_id", "rep_keep")
    dec = ngram_decontaminate(train, bench).select("doc_id", "contaminated")
    s2 = qual.join(rep, "doc_id").filter(F.col("rep_keep")).select("doc_id", "text")
    s3 = s2.join(dec, "doc_id").filter(~F.col("contaminated")).select("doc_id", "text")
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    canon = s3.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)

    n_total = docs.agg(F.count("*").alias("n_total"))
    n_hold = train.agg(F.count("*").alias("n_after_holdout"))
    n_qual = qual.agg(F.count("*").alias("n_quality"))
    n_rep = s2.agg(F.count("*").alias("n_repetition"))
    n_clean = s3.agg(F.count("*").alias("n_clean"))
    n_canon = canon.agg(F.count("*").alias("n_canonical"))
    return (
        n_total.crossJoin(n_hold).crossJoin(n_qual).crossJoin(n_rep)
        .crossJoin(n_clean).crossJoin(n_canon)
        .withColumn("pct_survived", pct_of(F.col("n_canonical"), F.col("n_total")))
    )


@register(
    "winnow_fingerprints",
    oracle="""
    WITH p AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 16)), 1, 8))
                  AS BIGINT) AS h
      FROM documents,
           LATERAL (SELECT unnest(range(1, greatest(length(text) - 16 + 1, 1) + 1))
                    AS i) g
    ),
    fp AS (
      SELECT DISTINCT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
      FROM p
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(MIN(fp) AS BIGINT) AS fp_min,
           CAST(SUM(fp) AS BIGINT) AS fp_checksum
    FROM fp GROUP BY doc_id
    """,
    tags=("pipeline-ext", "text", "fingerprint"),
)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full winnowing fingerprint SETS (16-char grams, window 8 — the
    SIGMOD'03 guaranteed-coverage selection): any shared run of 23+ chars
    between two documents yields a shared fingerprint, the containment-
    detection upgrade over ``rolling_fingerprint``'s single global min.
    The distinct selected hashes are summarized per doc as exact integers
    (count / min / BIGINT checksum), so the entire selection — hashes,
    window minima, dedup — is value-hash verified against the oracle."""
    from funnel_report_etl_pipeline__spark.operators.text import winnow_fingerprint_set

    return winnow_fingerprint_set(
        _t(spark, sf_dir, "documents"), k=16, window=8
    )


@register(
    "incremental_dedup",
    oracle="""
    WITH seen AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0
    ),
    new_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0)
    SELECT n.doc_id
    FROM new_docs n LEFT JOIN seen s ON md5(n.text) = s.h
    WHERE s.h IS NULL
    """,
    tags=("pipeline-ext", "dedup", "incremental"),
)
def incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup: drop every NEW document whose exact text
    was already in the previous snapshot — the anti-join a recurring
    ingest runs before the expensive near-dup pass (here docs with
    doc_id % 3 == 0 stand in for the prior snapshot). LEFT ANTI join on
    md5(text): only (id, 128-bit hash) pairs shuffle, the text stays in
    the scan, and the seen-hash side is exactly what a production
    pipeline checkpoints between crawls (or folds into a bloom filter
    for a map-side pre-filter when the snapshot outgrows a shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    seen = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("__h"))
        .distinct()
    )
    new_docs = docs.filter(F.col("doc_id") % 3 != 0)
    return (
        new_docs.withColumn("__h", F.md5("text"))
        .join(seen, "__h", "left_anti")
        .select("doc_id")
    )


@register(
    "winnow_containment_pairs",
    oracle="""
    WITH p AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 16)), 1, 8))
                  AS BIGINT) AS h
      FROM documents,
           LATERAL (SELECT unnest(range(1, greatest(length(text) - 16 + 1, 1) + 1))
                    AS i) g
    ),
    fp AS (
      SELECT DISTINCT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
      FROM p
    ),
    keepfp AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 100),
    fpk AS (SELECT fp.* FROM fp JOIN keepfp USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fps
    FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """,
    tags=("pipeline-ext", "dedup", "containment"),
)
def winnow_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style containment candidates: document pairs sharing ≥2
    winnowed fingerprints (k=16, w=8 — any shared ≥23-char run leaves a
    shared fingerprint). The passage-level sibling of the MinHash join:
    MinHash finds globally-similar documents, this finds documents that
    CONTAIN common passages even when globally dissimilar. Fingerprints
    selected by >100 docs are dropped first (stop-fingerprint cap — the
    gram-frequency-cap argument), keeping the join Σ df², never corpus²."""
    from funnel_report_etl_pipeline__spark.operators.text import (
        winnow_containment_pairs,
    )

    return winnow_containment_pairs(
        _t(spark, sf_dir, "documents"), k=16, window=8, min_shared=2, max_fp_freq=100
    )


@register(
    "boilerplate_passages",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 6),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                    toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                    toks[i+6] || ' ' || toks[i+7]))) AS gram
      FROM t WHERE len(toks) >= 8
    ),
    c AS (SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY gram)
    SELECT gram, CAST(n_docs AS BIGINT) AS n_docs
    FROM c WHERE n_docs >= 2
    ORDER BY n_docs DESC, gram ASC
    LIMIT 20
    """,
    tags=("pipeline-ext", "text", "boilerplate"),
)
def boilerplate_passages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the 20 word-8-grams present in the most
    documents (distinct per doc, ≥2 docs) — the passages a curation pass
    reviews for templated headers/footers and feeds to the stop-gram caps
    of the dedup family. TopK with a deterministic (count desc, gram asc)
    tiebreak → TakeOrderedAndProject, no global sort. At 100 TB the gram
    count table is the only corpus-keyed shuffle."""
    docs = _t(spark, sf_dir, "documents")
    from funnel_report_etl_pipeline__spark.operators.dedup import gram_rows

    g = gram_rows(docs, "doc_id", "text", 8)
    return (
        g.groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("gram").asc())
        .limit(20)
    )


_CDC_W = 8  # boundary window tokens; boundary when md5 hex digit 1 == '0'


@register(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tok AS (
      SELECT doc_id, CAST(i AS INT) AS i, toks[CAST(i AS INT)] AS tok,
             CASE WHEN CAST(i AS INT) >= {_CDC_W}
                  AND substr(md5(array_to_string(
                        toks[CAST(i AS INT) - {_CDC_W} + 1 : CAST(i AS INT)], ' ')),
                      1, 1) = '0'
                  THEN 1 ELSE 0 END AS b
      FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) g
    ),
    ch AS (
      SELECT doc_id, i, tok,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_idx
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, chunk_idx,
             string_agg(tok, ' ' ORDER BY i) AS chunk_text
      FROM ch GROUP BY doc_id, chunk_idx
    ),
    kept AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS text_clean
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                     ORDER BY doc_id, chunk_idx) AS rn
        FROM chunks
      ) WHERE rn = 1 GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id)
    SELECT tot.doc_id,
           CAST(tot.n_chunks AS BIGINT) AS n_chunks,
           CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(kept.text_clean, '') AS text_clean
    FROM tot LEFT JOIN kept USING (doc_id)
    """,
    tags=("pipeline-ext", "dedup", "chunking"),
    bench=True,  # the shift-robust chunking headliner
)
def cdc_chunk_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup: boundaries where the md5 of the
    8-token window starts with '0' (mean chunk ≈ 16 tokens), corpus-wide
    first-occurrence chunk dedup, survivor reassembly — the shift-robust
    sibling of the fixed-width ``chunk_dedup`` (a shared passage offset by
    one token still chunks identically, because boundaries are functions
    of content alone). Full value-hash oracle replays the identical
    boundary condition, running-sum chunk ids, and dedup window."""
    from funnel_report_etl_pipeline__spark.operators.dedup import cdc_chunk_dedup

    return cdc_chunk_dedup(
        _t(spark, sf_dir, "documents"), window_tokens=_CDC_W, boundary_hex="0"
    )


_SEM_TABLES, _SEM_BITS, _SEM_DIM = 2, 8, 64


def _semantic_dedup_oracle(threshold: float) -> str:
    """DuckDB replica of the LSH-blocked semantic dedup: identical
    Rademacher signatures (same md5-derived ±1 constants as
    operators/similarity.rademacher_sign), bucket-equality candidates,
    exact cosine verify, recursive-CTE connected components, per-vector
    cluster assignment."""
    sums = ", ".join(
        "SUM(xq * (["
        + ",".join(str(rademacher_sign(t, j, i)) for i in range(_SEM_DIM))
        + f"])[dim + 1]) AS d{t}_{j}"
        for t in range(_SEM_TABLES)
        for j in range(_SEM_BITS)
    )
    bucket_cols = ", ".join(
        "("
        + " + ".join(
            f"(CASE WHEN d{t}_{j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(_SEM_BITS)
        )
        + f") AS b{t}"
        for t in range(_SEM_TABLES)
    )
    cb_union = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_idx, b{t} AS bucket FROM buck"
        for t in range(_SEM_TABLES)
    )
    return f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (
      SELECT vec_id, CAST(i AS INT) - 1 AS dim,
             CAST(round(v[CAST(i AS INT)] * 1000000) AS BIGINT) AS xq
      FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) g
      WHERE CAST(i AS INT) - 1 < {_SEM_DIM}
    ),
    sums AS (SELECT vec_id, {sums} FROM d GROUP BY vec_id),
    buck AS (SELECT vec_id, {bucket_cols} FROM sums),
    cb AS ({cb_union}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cb a JOIN cb b
        ON a.table_idx = b.table_idx AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    ),
    p AS (
      SELECT id_a, id_b FROM cand
      JOIN e ea ON ea.vec_id = cand.id_a
      JOIN e eb ON eb.vec_id = cand.id_b
      WHERE list_dot_product(ea.v, eb.v)
              / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
            >= {threshold}
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p),
    walk(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e2.src, w.comp FROM edges e2 JOIN walk w ON e2.dst = w.id
    ),
    lbl AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id)
    SELECT emb.vec_id,
           CAST(COALESCE(l.comp, emb.vec_id) AS BIGINT) AS component,
           COALESCE(l.comp, emb.vec_id) = emb.vec_id AS is_canonical
    FROM embeddings emb LEFT JOIN lbl l ON emb.vec_id = l.id
    """


@register(
    "semantic_dedup_clusters",
    oracle=_semantic_dedup_oracle(0.45),
    tags=("pipeline-ext", "dedup", "embedding", "iterative"),
    bench=True,  # the semantic-dedup scale-path headliner
)
def semantic_dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup on its 100 TB path: hyperplane-LSH-blocked candidate
    pairs (never all-pairs — Σ bucket² cost), exact cosine verify, then
    connected components and per-vector cluster assignment exactly like
    the text-side ``dedup_clusters``. The 0.45 threshold sits where this
    uniform-random synthetic corpus has pairs (max pairwise cosine ≈0.51;
    a real corpus would use ≥0.9 — see ``dedup_embedding_cosine``). The
    full pipeline — integer-exact signatures, buckets, verify, closure —
    is value-hash verified against the DuckDB oracle."""
    from funnel_report_etl_pipeline__spark.operators.dedup import dedup_assign_clusters

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_dedup_pairs_lsh(
        emb, threshold=0.45, n_tables=_SEM_TABLES, n_bits=_SEM_BITS, dim=_SEM_DIM
    ).select("id_a", "id_b")
    return dedup_assign_clusters(emb, pairs, id_col="vec_id")
