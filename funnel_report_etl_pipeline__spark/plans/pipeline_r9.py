"""Round-9 queries: (a) sketch-percentile twins for the last exact-
percentile plans, completing the registry's 100 TB percentile story, and
(b) the multimodal deepening — media dedup (exact sha256 + perceptual-
bucket canonicalization through the Arrow fingerprint pass) and the
modality token-budget mixture readout (`media_dedup`,
`modality_mixture_stats`; operators/multimodal.py carries the stubs).

`equidepth_price_histogram` and `winsorized_revenue_mean` compute exact
percentiles with Spark's `percentile` aggregate, which buffers the whole
value multiset per group — fine at gate scale, an executor-memory
scale-killer over a 100 TB fact with a handful of groups (their 10×
probes showed the cost: 2.6-2.7× wall for 10× facts, the worst ratios in
the round-8 batch). These `*_approx` twins follow the
`user_rfm_segments_approx` precedent (pipeline_r7.py): percentile
boundaries come from ONE mergeable `approx_percentile`
(Greenwald–Khanna) sketch pass — partials combine map-side, executor
memory bounded by the sketch at any corpus size — then a 1-row (or
per-group-row) broadcast applies the identical downstream chain
(bucket-assignment comparisons / winsorizing clamp: selection, not
arithmetic, so bit-deterministic).

Cross-engine exactness contract (same as the RFM precedent): both
engines use the DISCRETE quantile ("smallest value whose CDF ≥ p" —
Spark `approx_percentile`'s documented contract, DuckDB's
`quantile_disc`), and at gate scale n ≪ accuracy=10^6 so the GK sketch
never compresses and its output IS the exact discrete quantile. The
oracle computes the exact discrete quantile, so a green hash row proves
the sketch path bins/clamps identically. A plan-embedded `assert_true`
fails the job with an explicit message past the exactness regime instead
of letting the gate surface an opaque hash mismatch.

Reference parity note: the reference (report_engine.py / run_reports.py)
has no percentile operators at all — these extend the beyond-reference
surface under the same Spark-first determinism rules as the rest of
plans/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.functions.core import (
    dsum,
    sketch_regime_guard,
)
from funnel_report_etl_pipeline__spark.functions.hints import maybe_broadcast
from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table

_SKETCH_ACCURACY = 1_000_000


def _regime_guard(spark: SparkSession, name: str, n_col: str):
    return sketch_regime_guard(spark, name, n_col, _SKETCH_ACCURACY)


# ---------------------------------------------------------------------------
# Equi-depth histogram, sketch-boundary variant
# ---------------------------------------------------------------------------

_OCTILES = (0.125, 0.250, 0.375, 0.500, 0.625, 0.750, 0.875)


@register(
    "equidepth_price_histogram_approx",
    oracle="""
    WITH b AS (
      SELECT quantile_disc(o_totalprice, 0.125) AS b1,
             quantile_disc(o_totalprice, 0.250) AS b2,
             quantile_disc(o_totalprice, 0.375) AS b3,
             quantile_disc(o_totalprice, 0.500) AS b4,
             quantile_disc(o_totalprice, 0.625) AS b5,
             quantile_disc(o_totalprice, 0.750) AS b6,
             quantile_disc(o_totalprice, 0.875) AS b7
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
    tags=("pipeline-r9", "stats", "dataops", "approx"),
    bench=True,
)
def equidepth_price_histogram_approx_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`equidepth_price_histogram`'s 100 TB path: the 7 octile boundaries
    come from one `approx_percentile` (GK) sketch aggregate instead of
    the exact `percentile` (which buffers every order price in one
    task). The sketch's partials are mergeable and bounded, so pass 1 is
    an ordinary map-side-combined aggregate at any fact size; pass 2 is
    the exact twin's binning chain over the broadcast 1-row boundary
    frame, unchanged. Boundaries are DISCRETE (actual data values) where
    the exact twin interpolates — bucket counts may differ from the
    exact twin at boundary ties, which is the documented CBO-histogram
    trade (engines build equi-depth stats from sketches for exactly this
    reason). Per-bucket counts and [lo, hi] bounds stay exact."""
    o = catalog_table(spark, sf_dir, "orders").select("o_totalprice")
    qs = ", ".join(str(q) for q in _OCTILES)
    b = o.agg(
        F.expr(
            f"approx_percentile(o_totalprice, array({qs}), {_SKETCH_ACCURACY})"
        ).alias("__bs"),
        F.count("*").cast("long").alias("__n"),
    )
    guard = _regime_guard(spark, "equidepth_price_histogram_approx", "__n")
    price = F.col("o_totalprice")
    bucket = F.when(price <= F.col("__bs")[0], 0)
    for i in range(1, 7):
        bucket = bucket.when(price <= F.col("__bs")[i], i)
    bucket = bucket.otherwise(7).cast("long")
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(F.when(guard.isNull(), bucket).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min(price).cast("double").alias("lo"),
            F.max(price).cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Winsorized mean, sketch-clamp variant
# ---------------------------------------------------------------------------


@register(
    "winsorized_revenue_mean_approx",
    oracle="""
    WITH oc AS (
      SELECT c_mktsegment AS segment, o_totalprice AS price
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    b AS (
      SELECT segment,
             quantile_disc(price, 0.05) AS p05,
             quantile_disc(price, 0.95) AS p95
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
    tags=("pipeline-r9", "stats", "robust", "approx"),
    bench=True,
)
def winsorized_revenue_mean_approx_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`winsorized_revenue_mean`'s 100 TB path: per-segment [p05, p95]
    clamp bounds from one grouped `approx_percentile` (GK) sketch
    aggregate — bounded executor memory per group at any fact size,
    where the exact twin's `percentile` buffers each segment's whole
    price multiset (5 segments over a 100 TB fact = the round-8
    verdict's flagged scale-killer). The clamp bounds are DISCRETE
    quantiles (actual order prices) rather than the exact twin's
    interpolated values — a winsorized mean clips to observed order
    values, the standard trimmed-estimator formulation. Downstream is
    identical: LEAST/GREATEST clamp (selection — bit-exact), decimal sum,
    one closing division."""
    orders = catalog_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = catalog_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    oc = orders.join(
        maybe_broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("price"),
    )
    b = oc.groupBy("segment").agg(
        F.expr(
            f"approx_percentile(price, array(0.05, 0.95), {_SKETCH_ACCURACY})"
        ).alias("__ps"),
        F.count("*").cast("long").alias("__n_seg"),
    )
    guard = _regime_guard(spark, "winsorized_revenue_mean_approx", "__n_seg")
    clamped = F.least(
        F.greatest(F.col("price"), F.col("__ps")[0]), F.col("__ps")[1]
    )
    return (
        oc.join(maybe_broadcast(b), "segment")
        .groupBy(F.when(guard.isNull(), F.col("segment")).alias("segment"))
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
# Session bounce report, sketch-dwell variant
# ---------------------------------------------------------------------------


@register(
    "session_bounce_stats_approx",
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
           quantile_disc(duration_us, 0.50) / 1000000.0 AS p50_duration_s,
           quantile_disc(duration_us, 0.90) / 1000000.0 AS p90_duration_s
    FROM per GROUP BY day ORDER BY day
    """,
    tags=("pipeline-r9", "events", "analytics", "approx"),
    bench=True,
)
def session_bounce_stats_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`session_bounce_stats`' 100 TB dwell-time path: identical session
    assembly (one user-grain window shuffle) and bounce counting, but
    the per-day dwell percentiles come from `approx_percentile` (GK)
    instead of the exact `percentile` that buffers every session
    duration of a day in one task — at 100 TB a single day's sessions
    are corpus-sized, the same flagged regime as the winsorized/
    equi-depth pair. Durations are exact µs BIGINTs, so the discrete
    sketch quantile is an observed duration (DuckDB `quantile_disc`
    twin); the /1e6 seconds conversion is one IEEE op on both
    engines."""
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
    guard = _regime_guard(spark, "session_bounce_stats_approx", "n_sessions")
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("long")
    agg = per.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        bounce.alias("n_bounce"),
        (bounce.cast("double") / F.count("*").cast("double")).alias("bounce_rate"),
        (
            F.expr(
                f"approx_percentile(duration_us, 0.50, {_SKETCH_ACCURACY})"
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("p50_duration_s"),
        (
            F.expr(
                f"approx_percentile(duration_us, 0.90, {_SKETCH_ACCURACY})"
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("p90_duration_s"),
    )
    return agg.select(
        F.when(guard.isNull(), F.col("day")).alias("day"),
        "n_sessions",
        "n_bounce",
        "bounce_rate",
        "p50_duration_s",
        "p90_duration_s",
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Media dedup: exact sha256 + perceptual-bucket canonicalization
# ---------------------------------------------------------------------------


@register(
    "media_dedup",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             sha256(substr(text, 1, 32)) AS sha256,
             16 + CAST(('0x' || substr(sha256(substr(text, 1, 32)), 1, 2))
                       AS INT) % 64 AS w,
             16 + CAST(('0x' || substr(sha256(substr(text, 1, 32)), 3, 2))
                       AS INT) % 64 AS h
      FROM documents
    ),
    p AS (
      SELECT doc_id, sha256,
             substr(sha256(CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR)),
                    1, 8) AS phash
      FROM m
    )
    SELECT doc_id, sha256, phash,
           MIN(doc_id) OVER (PARTITION BY sha256) AS exact_canon,
           CAST(doc_id > MIN(doc_id) OVER (PARTITION BY sha256) AS BIGINT)
             AS is_exact_dup,
           MIN(doc_id) OVER (PARTITION BY phash) AS near_canon,
           CAST(doc_id > MIN(doc_id) OVER (PARTITION BY phash) AS BIGINT)
             AS is_near_dup
    FROM p
    """,
    tags=("pipeline-r9", "multimodal", "dedup"),
    bench=True,
)
def media_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-asset deduplication over an opaque binary column: ONE
    Arrow-batched fingerprint pass (`media_fingerprints` — sha256 of the
    bytes + a perceptual-hash stub over the stub-decoded geometry), then
    two hash-grain canonicalizations: exact identity (same bytes → same
    sha256; the planted thumbnail collisions give real signal — 24 dup
    assets at sf0.01) and perceptual bucket (stub pHash; assets whose
    decoded dimensions coincide share a candidate bucket). Each asset
    gets its cluster's MIN doc_id as canonical — min-over-hash-partition
    windows, never a pairwise join, so bucket size never produces a
    quadratic frame. The payload is the leading 32 bytes (the thumbnail
    stand-in for this text-shimmed corpus — `attach_binary_payload`
    pattern). At 100 TB: one Python hop (Arrow, per-batch yield), two
    hash-grain exchanges; perceptual buckets cap at the 64×64 stub
    geometry grid, and a real pHash's wider space only shrinks them."""
    d = catalog_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.substring("text", 1, 32), "UTF-8").alias("payload")
    )
    from funnel_report_etl_pipeline__spark.operators.multimodal import (
        media_fingerprints,
    )

    fp = media_fingerprints(d, "payload", "doc_id")
    ws = Window.partitionBy("sha256")
    wp = Window.partitionBy("phash")
    exact_canon = F.min("doc_id").over(ws)
    near_canon = F.min("doc_id").over(wp)
    return fp.select(
        "doc_id",
        "sha256",
        "phash",
        exact_canon.alias("exact_canon"),
        (F.col("doc_id") > exact_canon).cast("long").alias("is_exact_dup"),
        near_canon.alias("near_canon"),
        (F.col("doc_id") > near_canon).cast("long").alias("is_near_dup"),
    )


# ---------------------------------------------------------------------------
# Modality mixture: per-media-type corpus/token-budget accounting
# ---------------------------------------------------------------------------


@register(
    "modality_mixture_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             CAST(('0x' || substr(sha256(text), 5, 2)) AS INT) % 10 AS mcode
      FROM documents
    ),
    typed AS (
      SELECT *,
             CASE WHEN mcode <= 5 THEN 'text'
                  WHEN mcode <= 7 THEN 'image'
                  WHEN mcode = 8 THEN 'audio'
                  ELSE 'video' END AS media_type,
             CASE WHEN mcode <= 5 THEN CAST((n_bytes + 3) // 4 AS BIGINT)
                  WHEN mcode <= 7 THEN 256
                  WHEN mcode = 8 THEN CAST(n_bytes // 32 AS BIGINT)
                  ELSE 1024 END AS est_tokens
      FROM m
    ),
    g AS (
      SELECT media_type,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
             CAST(SUM(est_tokens) AS BIGINT) AS total_tokens
      FROM typed GROUP BY media_type
    )
    SELECT media_type, n_assets, total_bytes, total_tokens,
           CAST(total_bytes AS DOUBLE)
             / CAST(SUM(total_bytes) OVER () AS DOUBLE) AS byte_share,
           CAST(total_tokens AS DOUBLE)
             / CAST(SUM(total_tokens) OVER () AS DOUBLE) AS token_share
    FROM g ORDER BY media_type
    """,
    tags=("pipeline-r9", "multimodal", "mixture"),
    bench=True,
)
def modality_mixture_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture-planning readout for a multimodal corpus: per media
    type, asset counts, raw byte footprint, and the estimated TOKEN
    budget each modality contributes to a training run (text ≈ bytes/4
    BPE heuristic; image = 256 patch tokens; audio ≈ bytes/32 codec
    frames; video = 4 sampled frames × 256) — the numbers a data-mixing
    plan is written in. Modality is assigned from the typed-metadata
    stub (a sha-derived code on this text-shimmed corpus; a real ingest
    carries media_type in MEDIA_META_SCHEMA). One Arrow fingerprint/meta
    pass, one ≤4-group aggregate, shares computed by an unpartitioned
    window over the 4-row aggregate — every cross-row sum is integer, so
    the two closing divisions are the only IEEE ops. At 100 TB: one
    Python hop + one 4-group map-side-combined shuffle."""
    from funnel_report_etl_pipeline__spark.operators.multimodal import (
        attach_binary_payload,
        binary_meta,
    )

    docs = attach_binary_payload(catalog_table(spark, sf_dir, "documents"))

    meta = binary_meta(docs, "payload", "doc_id")
    mcode = (
        F.conv(F.substring("sha256", 5, 2), 16, 10).cast("int") % 10
    ).alias("mcode")
    typed = meta.select("doc_id", "n_bytes", mcode).select(
        "doc_id",
        "n_bytes",
        F.when(F.col("mcode") <= 5, "text")
        .when(F.col("mcode") <= 7, "image")
        .when(F.col("mcode") == 8, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.when(F.col("mcode") <= 5, F.expr("(n_bytes + 3) div 4"))
        .when(F.col("mcode") <= 7, F.lit(256).cast("long"))
        .when(F.col("mcode") == 8, F.expr("n_bytes div 32"))
        .otherwise(F.lit(1024).cast("long"))
        .alias("est_tokens"),
    )
    g = typed.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.sum("est_tokens").cast("long").alias("total_tokens"),
    )
    wall = Window.partitionBy()
    return g.select(
        "media_type",
        "n_assets",
        "total_bytes",
        "total_tokens",
        (
            F.col("total_bytes").cast("double")
            / F.sum("total_bytes").over(wall).cast("double")
        ).alias("byte_share"),
        (
            F.col("total_tokens").cast("double")
            / F.sum("total_tokens").over(wall).cast("double")
        ).alias("token_share"),
    ).orderBy("media_type")


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution (completes the attribution family)
# ---------------------------------------------------------------------------


@register(
    "time_decay_attribution",
    oracle="""
    WITH pv AS (
      SELECT v.event_id AS view_id, v.user_id, p.event_id AS pid, p.value,
             CAST((epoch_us(p.ts) - epoch_us(v.ts)) // 600000000 AS INT)
               AS steps
      FROM events v
      JOIN events p
        ON v.user_id = p.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase'
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ),
    w AS (
      SELECT view_id, user_id, pid, value,
             1.0 / CAST(1 << steps AS DOUBLE) AS w
      FROM pv
    ),
    s AS (SELECT *, SUM(w) OVER (PARTITION BY pid) AS sw FROM w)
    SELECT view_id, user_id,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value * (w / sw) AS DECIMAL(22,6))) AS DOUBLE)
             AS credit
    FROM s GROUP BY view_id, user_id
    """,
    tags=("pipeline-r9", "analytics", "attribution"),
    bench=True,
)
def time_decay_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — completes the attribution
    quartet (last-touch / linear / streaming): each purchase's value is
    split across the user's preceding-hour views with weights HALVING
    per 10 minutes of view→purchase age, normalized per purchase. Same
    single user-keyed interval self-join + purchase-grain window +
    view-grain re-agg as `linear_attribution`. Cross-engine exactness:
    the decay weight is the exact dyadic rational 1/2^steps (integer
    shift, never `pow` — the pinned not-engine-exact function); the
    per-purchase weight sum adds ≤64ths exactly in double, so the
    normalized share and value·share are the same two IEEE ops on both
    engines, then decimal-summed. At 100 TB: the join shuffles on
    user_id once; windows are purchase-grain."""
    ev = catalog_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        "value",
    )
    pv = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pts") > F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR")),
    )
    # shiftleft's bit-count must be a Column here, which the Python API
    # only accepts via SQL; 1 << steps stays an exact integer (steps <= 6)
    w = F.expr(
        "1.0 / cast(shiftleft(1, cast((unix_micros(pts) - unix_micros(vts))"
        " div 600000000 as int)) as double)"
    )
    sw = F.sum("w").over(Window.partitionBy("pid"))
    shares = pv.withColumn("w", w).withColumn("sw", sw)
    return shares.groupBy("view_id", "user_id").agg(
        F.count_distinct("pid").cast("long").alias("n_purchases"),
        F.sum(
            (F.col("value") * (F.col("w") / F.col("sw"))).cast("decimal(22,6)")
        )
        .cast("double")
        .alias("credit"),
    )


# ---------------------------------------------------------------------------
# Phrase-proximity search (retrieval family)
# ---------------------------------------------------------------------------

_PROX_T1, _PROX_T2, _PROX_K = "vector", "stream", 20


@register(
    "phrase_proximity_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    tok AS (
      SELECT doc_id, i AS pos, toks[i] AS tok
      FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) s
    ),
    a AS (SELECT doc_id, pos FROM tok WHERE tok = '{_PROX_T1}'),
    b AS (SELECT doc_id, pos FROM tok WHERE tok = '{_PROX_T2}'),
    d AS (
      SELECT a.doc_id,
             CAST(MIN(ABS(a.pos - b.pos)) AS BIGINT) AS proximity,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM a JOIN b ON a.doc_id = b.doc_id
      GROUP BY a.doc_id
    )
    SELECT doc_id, proximity, n_pairs,
           CAST(ROW_NUMBER() OVER (ORDER BY proximity, doc_id) AS BIGINT)
             AS rnk
    FROM d ORDER BY proximity, doc_id LIMIT {_PROX_K}
    """,
    tags=("pipeline-r9", "text", "retrieval"),
    bench=True,
)
def phrase_proximity_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-proximity retrieval: the top-k documents where two query
    terms appear CLOSEST together (min absolute token-position
    distance) — the proximity-scoring layer a BM25 bag-of-words ranker
    cannot express (`bm25_search` ranks the same corpus by tf-idf; this
    ranks by positional coherence). Positions come from one
    posexplode; the per-document position pairing is a doc_id-keyed
    join of the two term position lists (each list is the term's
    occurrence count within ONE doc — candidate-bounded, never
    corpus-pair-grain), collapsed to min-distance per doc; the global
    top-k compiles to TakeOrderedAndProject (bounded per-partition
    heaps, no corpus-grain window). Integer positions throughout;
    (proximity, doc_id) is a total order so the selected set is
    engine-deterministic; the trailing rnk window orders the 20
    already-selected rows."""
    d = catalog_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    tok = d.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    a = tok.filter(F.col("tok") == _PROX_T1).select("doc_id", F.col("pos").alias("pa"))
    b = tok.filter(F.col("tok") == _PROX_T2).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    per_doc = (
        a.join(b, a.doc_id == b.doc_b)
        .groupBy("doc_id")
        .agg(
            F.min(F.abs(F.col("pa") - F.col("pb"))).cast("long").alias("proximity"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    top = per_doc.orderBy("proximity", "doc_id").limit(_PROX_K)
    rnk = F.row_number().over(Window.orderBy("proximity", "doc_id")).cast("long")
    return top.withColumn("rnk", rnk)


# ---------------------------------------------------------------------------
# Quality-canonical dedup clusters (dedup x quality composition)
# ---------------------------------------------------------------------------


def _cluster_quality_oracle() -> str:
    from funnel_report_etl_pipeline__spark.plans.pipeline_r5 import (
        _QC_BIAS,
        _QC_W_STOP,
        _QC_W_UNIQ,
        _QC_W_WLEN,
        _STOP_SQL,
    )

    logit = (
        f"{_QC_BIAS} + {_QC_W_STOP} * stop_rate + {_QC_W_UNIQ} * uniq_rate"
        f" + {_QC_W_WLEN} * mean_wlen"
    )
    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                 length(replace(text, ' ', '')) AS n_letters
          FROM documents),
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
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h1,
             (CAST(('0x' || substr(md5(gram), 16, 12)) AS BIGINT) | 1) AS h2
      FROM g
    ),
    m AS (
      SELECT doc_id, i, MIN(h1 + i * h2) AS mh
      FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS i) perms
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
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
      GROUP BY c.id_a, c.id_b
    ),
    p AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p),
    walk(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.comp FROM edges e JOIN walk w ON e.dst = w.id
    ),
    lbl AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
    q AS (
      SELECT doc_id,
             {_QC_BIAS} + {_QC_W_STOP}
               * (CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL})))
                       AS DOUBLE) / CAST(len(toks) AS DOUBLE))
             + {_QC_W_UNIQ}
               * (CAST(len(list_distinct(toks)) AS DOUBLE)
                  / CAST(len(toks) AS DOUBLE))
             + {_QC_W_WLEN}
               * (CAST(n_letters AS DOUBLE) / CAST(len(toks) AS DOUBLE))
               AS quality_logit
      FROM t WHERE len(toks) > 0
    ),
    c AS (
      SELECT q.doc_id, CAST(COALESCE(l.comp, q.doc_id) AS BIGINT)
               AS component, q.quality_logit
      FROM q LEFT JOIN lbl l ON q.doc_id = l.id
    )
    SELECT doc_id, component, quality_logit,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
             AS cluster_size,
           CAST(MIN(doc_id) OVER (PARTITION BY component) = doc_id
                AS BIGINT) AS is_minid_canonical,
           CAST(ROW_NUMBER() OVER (
                  PARTITION BY component
                  ORDER BY quality_logit DESC, doc_id) = 1
                AS BIGINT) AS is_quality_canonical
    FROM c
    """


@register(
    "dedup_cluster_quality_canon",
    oracle=_cluster_quality_oracle(),
    tags=("pipeline-r9", "dedup", "quality", "composition"),
    bench=True,
)
def dedup_cluster_quality_canon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with QUALITY-based canonical selection — the
    production dedup recipe: inside each MinHash-LSH connected
    component, keep the member the quality classifier scores HIGHEST
    (min-doc_id is an arbitrary-but-stable fallback; a real corpus
    wants the cleanest copy, not the lowest id). Composes the two
    registered pipelines: `dedup_clusters`' banded-LSH → verify →
    pointer-doubling CC labels, joined with `quality_classifier`'s
    fixed-weight lexical logit, then one component-grain window picks
    the argmax (logit DESC, doc_id tiebreak — logits are bit-identical
    across engines per the quality_classifier contract, so the ordering
    never diverges). Both canonicals are emitted so the policy delta is
    auditable (at sf0.01, the quality canonical differs from the min-id
    canonical in real clusters). At 100 TB: identical cost to
    dedup_clusters (the CC dominates) + one map-side quality pass and a
    cluster-grain window."""
    from funnel_report_etl_pipeline__spark.operators.dedup import (
        dedup_assign_clusters,
        minhash_dedup_pairs,
    )
    from funnel_report_etl_pipeline__spark.operators.text import STOPWORDS
    from funnel_report_etl_pipeline__spark.plans.pipeline_r5 import (
        _QC_BIAS,
        _QC_W_STOP,
        _QC_W_UNIQ,
        _QC_W_WLEN,
    )

    docs = catalog_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.8).select("id_a", "id_b")
    clusters = dedup_assign_clusters(docs, pairs)
    toks = F.split(F.col("text"), " ")
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_rate = F.size(
        F.filter(toks, lambda x: F.array_contains(stops, x))
    ).cast("double") / F.size(toks).cast("double")
    uniq_rate = F.size(F.array_distinct(toks)).cast("double") / F.size(
        toks
    ).cast("double")
    mean_wlen = F.length(
        F.regexp_replace(F.col("text"), " ", "")
    ).cast("double") / F.size(toks).cast("double")
    logit = (
        F.lit(_QC_BIAS)
        + F.lit(_QC_W_STOP) * stop_rate
        + F.lit(_QC_W_UNIQ) * uniq_rate
        + F.lit(_QC_W_WLEN) * mean_wlen
    )
    q = docs.filter(F.size(F.split(F.col("text"), " ")) > 0).select(
        "doc_id", logit.alias("quality_logit")
    )
    c = q.join(clusters, "doc_id").select("doc_id", "component", "quality_logit")
    wc = Window.partitionBy("component")
    wq = Window.partitionBy("component").orderBy(
        F.col("quality_logit").desc(), "doc_id"
    )
    return c.select(
        "doc_id",
        "component",
        "quality_logit",
        F.count("*").over(wc).cast("long").alias("cluster_size"),
        (F.min("doc_id").over(wc) == F.col("doc_id"))
        .cast("long")
        .alias("is_minid_canonical"),
        (F.row_number().over(wq) == 1).cast("long").alias("is_quality_canonical"),
    )


# ---------------------------------------------------------------------------
# Fixed-n stratified sample (deterministic hash-rank SRS per stratum)
# ---------------------------------------------------------------------------

_STRAT_N = 10  # testdata has 25 docs/source; 10 keeps the gate selective (200/500)


@register(
    "stratified_fixed_n_sample",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS hk,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_STRAT_N}
    """,
    tags=("pipeline-r9", "sampling"),
    bench=True,
)
def stratified_fixed_n_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified simple random sample: exactly n documents
    per source, selected by rank over a content-addressed hash — the
    standard construction for fixed-size per-stratum eval/holdout sets.
    Unlike the rate-based `balanced_source_sample` (whose per-stratum
    count is binomial around the target), the hash-rank pick is exactly
    n, yet still deterministic across runs, engines, cluster sizes, and
    repartitioning (md5(doc_id) is the sort key; doc_id breaks the
    theoretical hash-tie). The rank-≤-n window rewrites to
    WindowGroupLimit: each task keeps a bounded per-stratum heap BEFORE
    the stratum exchange, so the shuffle moves O(strata × n) survivors
    plus spill — not the corpus — and per-stratum state never exceeds n
    rows. At 100 TB: one stratum-keyed exchange of pre-limited rows."""
    d = catalog_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    hk = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(hk, "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _STRAT_N)
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"), "rk")
    )
