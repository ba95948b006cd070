"""Round-6 queries: the grouped all-entity funnel production path under a
full value-hash oracle, plus round-6 additions.

``entity_funnel_metrics`` (operators/funnel.py:207) is the biggest
architectural win over the reference — ONE grouped aggregate where
run_reports.py:212-243 loops entities sequentially on the driver — but
until this round it was golden-tested only. Here the four reference
input datasets (uf-stages / otp-summary / discovery-summary /
user-funnel, SURVEY.md §2.1) are derived deterministically from the
shared ``events`` parquet over PARTIALLY-OVERLAPPING entity ranges, so
the entity-spine union semantics (an entity present only in OTP data
still gets a zeros-elsewhere report row) is exercised by data, and the
whole waterfall arithmetic is hash-verified against a DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.functions.hints import maybe_broadcast
from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table
from funnel_report_etl_pipeline__spark.schemas import (
    DISCOVERY_COLUMNS,
    OTP_COLUMNS,
    STAGE_COLUMNS,
)


# Entity key: user_id % 17, as the reference's string Entity_ID. The four
# datasets cover overlapping-but-distinct ranges so some entities exist in
# only one dataset — the spine-union case the reference handles by querying
# each dataset independently per entity (run_reports.py:212).
_ENT = "CAST(user_id % 17 AS VARCHAR)"  # DuckDB oracle spelling

_STAGE_SRC = "view"  # entities 0-9
_OTP_SRC = "signup"  # entities 5-14
_DISC_SRC = "click"  # entities 8-16
_UF_SRC = ("purchase", "error")  # entities 3-12


def _entity_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Derive the four reference datasets from events, deterministically.

    Cell values are integer-valued strings built from event_id (so
    trunc/cast semantics are exact on both engines); discovery cells blank
    out every 7th row to exercise the NULLIF('') path
    (report_engine.py:149-153)."""
    ev = catalog_table(spark, sf_dir, "events").withColumn(
        "entity", (F.col("user_id") % 17).cast("string")
    )
    ent = F.col("entity").cast("int")

    uf_stages = (
        ev.filter((F.col("event_type") == _STAGE_SRC) & (ent < 10))
        .select(
            F.col("entity").alias("Entity_ID"),
            *[
                ((F.col("event_id") + i) % 100).cast("string").alias(c)
                for i, c in enumerate(STAGE_COLUMNS)
            ],
        )
    )
    otp_summary = (
        ev.filter((F.col("event_type") == _OTP_SRC) & ent.between(5, 14))
        .select(
            F.col("entity").alias("entity_id"),
            *[
                ((F.col("event_id") + j) % 50).cast("string").alias(c)
                for j, c in enumerate(OTP_COLUMNS)
            ],
        )
    )
    discovery_summary = (
        ev.filter((F.col("event_type") == _DISC_SRC) & ent.between(8, 16))
        .select(
            F.col("entity").alias("entity_id"),
            *[
                F.when((F.col("event_id") + k) % 7 == 0, F.lit("")).otherwise(
                    ((F.col("event_id") + k) % 40).cast("string")
                ).alias(c)
                for k, c in enumerate(DISCOVERY_COLUMNS)
            ],
        )
    )
    user_funnel = (
        ev.filter(F.col("event_type").isin(*_UF_SRC) & ent.between(3, 12))
        .select(
            F.col("entity").alias("entity_id"),
            F.element_at(
                F.array(F.lit("Success"), F.lit("Failed"), F.lit("Not Attempted"), F.lit("")),
                (F.col("event_id") % 4 + 1).cast("int"),
            ).alias("fetch_status"),
        )
    )
    return uf_stages, otp_summary, discovery_summary, user_funnel


def _oracle_stage_cols() -> str:
    return ",\n             ".join(
        f"SUM((event_id + {i}) % 100) AS {c}" for i, c in enumerate(STAGE_COLUMNS)
    )


# The oracle keeps the four-aggregate / distinct-union spine / left-join
# form on purpose: entity_funnel_metrics computes the same rows as ONE
# union-all aggregate, so this is an independent check that the two are
# equivalent (an entity in one dataset only gets zeros elsewhere). Then
# the waterfall arithmetic of _metrics_columns (operators/funnel.py:99-171)
# — including total_users' 7-column formula, the possibly-negative
# otp_ok_drop, and the cross-dataset fi_fetch_drop. All cell values are
# integral so DuckDB's round-on-cast and Spark's truncate-on-cast agree.
_ENTITY_WATERFALL_ORACLE = f"""
WITH base AS (
  SELECT *, {_ENT} AS entity, CAST(user_id % 17 AS BIGINT) AS ent_i FROM events
),
st AS (
  SELECT entity AS entity_id,
             {_oracle_stage_cols()}
  FROM base WHERE event_type = '{_STAGE_SRC}' AND ent_i < 10
  GROUP BY entity
),
ot AS (
  SELECT entity AS entity_id,
         {", ".join(f"SUM((event_id + {j}) % 50) AS Total_{c}" for j, c in enumerate(OTP_COLUMNS))}
  FROM base WHERE event_type = '{_OTP_SRC}' AND ent_i BETWEEN 5 AND 14
  GROUP BY entity
),
dc AS (
  SELECT entity AS entity_id,
         {", ".join(
             f"SUM(CASE WHEN (event_id + {k}) % 7 = 0 THEN NULL ELSE (event_id + {k}) % 40 END) AS {c}_disc"
             for k, c in enumerate(DISCOVERY_COLUMNS)
         )}
  FROM base WHERE event_type = '{_DISC_SRC}' AND ent_i BETWEEN 8 AND 16
  GROUP BY entity
),
fi AS (
  SELECT entity AS entity_id,
         COUNT(CASE WHEN event_id % 4 = 0 THEN 1 END) AS fi_success,
         COUNT(CASE WHEN event_id % 4 = 1 THEN 1 END) AS fi_failed
  FROM base
  WHERE event_type IN {tuple(_UF_SRC)} AND ent_i BETWEEN 3 AND 12
    AND CASE event_id % 4 WHEN 0 THEN 'Success' WHEN 1 THEN 'Failed'
        WHEN 2 THEN 'Not Attempted' ELSE '' END
        IN ('Not Attempted', 'Failed', 'Success')
  GROUP BY entity
),
spine AS (
  SELECT DISTINCT entity_id FROM (
    SELECT entity_id FROM st UNION ALL SELECT entity_id FROM ot
    UNION ALL SELECT entity_id FROM dc UNION ALL SELECT entity_id FROM fi
  )
),
wide AS (
  SELECT spine.entity_id,
         {", ".join(f"COALESCE(CAST(st.{c} AS BIGINT), 0) AS {c}" for c in STAGE_COLUMNS)},
         {", ".join(f"COALESCE(CAST(ot.Total_{c} AS BIGINT), 0) AS Total_{c}" for c in OTP_COLUMNS)},
         {", ".join(f"COALESCE(CAST(dc.{c}_disc AS BIGINT), 0) AS {c}_disc" for c in DISCOVERY_COLUMNS)},
         COALESCE(fi.fi_success, 0) AS fi_success,
         COALESCE(fi.fi_failed, 0) AS fi_failed
  FROM spine
  LEFT JOIN st USING (entity_id) LEFT JOIN ot USING (entity_id)
  LEFT JOIN dc USING (entity_id) LEFT JOIN fi USING (entity_id)
),
m AS (
  SELECT entity_id,
         AA_client_Initialization AS d1,
         OTP_Based_Sign_in_Sign_up AS d2,
         View_Consent_Details AS view_drop,
         Discovery AS stage_disc,
         Account_Discovered_disc + Account_not_Found_disc + FIP_Not_Selected_disc
           + Failure_disc + NO_STATUS_disc AS d3,
         Linking AS d4,
         Rejected_Consent_Requests AS rej,
         Approved_Consent_Requests AS appr,
         FIP_Rejected_Consent_Artefacts AS fip_rej,
         FIP_Accepted_Consent_Artefacts AS fip_ok,
         Data_Fetch_Success AS fetch_ok,
         Data_Fetch_Not_Attempted AS not_attempted,
         Total_Incorrect_OTP_Entered AS otp_wrong,
         Total_OTP_Not_Entered AS otp_miss,
         Account_not_Found_disc AS no_rec,
         NO_STATUS_disc AS fip_fail,
         Failure_disc AS some_fail,
         Account_Discovered_disc + FIP_Not_Selected_disc AS found_not_linked,
         fi_success + fi_failed AS fi_req_ok
  FROM wide
)
SELECT entity_id,
       d1 + d2 + view_drop + stage_disc + d4 + rej + appr AS total_users,
       d1,
       d2 + view_drop AS auth_drop,
       otp_wrong, otp_miss,
       d2 - (otp_wrong + otp_miss) + view_drop AS otp_ok_drop,
       d3, no_rec, fip_fail, some_fail, found_not_linked,
       d4, rej, appr, fip_rej, fip_ok, fi_req_ok, not_attempted, fetch_ok,
       fi_req_ok - fetch_ok AS fi_fetch_drop,
       d1 + d2 + view_drop + stage_disc + d4 + rej + appr AS n_consent,
       d2 + view_drop + stage_disc + d4 + rej + appr AS n_after_init,
       stage_disc + d4 + rej + appr AS n_after_auth,
       stage_disc + d4 + rej + appr - d3 AS n_after_disc,
       stage_disc + rej + appr - d3 AS n_after_link
FROM m
"""


@register(
    "entity_funnel_waterfall",
    oracle=_ENTITY_WATERFALL_ORACLE,
    tags=("pipeline-r6", "funnel", "FN2"),
)
def entity_funnel_waterfall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-entity funnel waterfall through the REAL production operator
    (`entity_funnel_metrics`, operators/funnel.py:207): the four datasets
    projected to their per-row values, union-all'ed and grouped once on
    the entity key, then the reference waterfall arithmetic per entity —
    one hash exchange where the reference loops entities on the driver
    (run_reports.py:212-243). Input datasets are derived from events over
    overlapping entity ranges so the only-in-one-dataset case is live.
    Partial aggregation runs below the single exchange, so at 100 TB the
    shuffle stays |entities| × partitions regardless of raw volume."""
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics

    uf, ot, dc, fi = _entity_inputs(spark, sf_dir)
    return entity_funnel_metrics(uf, ot, dc, fi)


# ---------------------------------------------------------------------------
# Round-6 additions: incremental MV maintenance, multi-touch attribution,
# vocabulary tokenization, fuzzy entity resolution, integer-scaled PageRank,
# join-key skew profiling, percentile quality gating.
# ---------------------------------------------------------------------------

_CUTOFF = "2024-01-24"  # events span 2024-01-01..30 at every SF


@register(
    "incremental_daily_rollup",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, event_type
    """,
    tags=("pipeline-r6", "rollup", "incremental"),
)
def incremental_daily_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the day x type rollup is
    computed as SNAPSHOT partials (ts < cutoff — in production, the stored
    aggregate) merged with DELTA partials (ts >= cutoff — the newly landed
    partition) by re-aggregating the partial rows, never rescanning
    history. The oracle is the FULL recompute over all events — the
    equivalence IS the correctness claim of incremental maintenance.
    Counts merge by SUM; value totals are decimal partials (exact, so
    partial-merge associativity holds bit-for-bit; a double partial would
    make the merge order observable). At 100 TB this is the difference
    between scanning one day and scanning the table: the snapshot is
    day-partitioned parquet and only the delta day is read."""
    ev = catalog_table(spark, sf_dir, "events")
    day = F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(day, "event_type").agg(
            F.count("*").alias("__n"),
            F.sum(F.col("value").cast("decimal(22,6)")).alias("__v"),
        )

    snapshot = partial(ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp")))
    delta = partial(ev.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp")))
    return (
        snapshot.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("__n").cast("long").alias("n_events"),
            F.sum("__v").cast("double").alias("total_value"),
        )
    )


@register(
    "linear_attribution",
    oracle="""
    WITH pv AS (
      SELECT v.event_id AS view_id, v.user_id, p.event_id AS pid, p.value
      FROM events v
      JOIN events p
        ON v.user_id = p.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase'
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ),
    shares AS (
      SELECT view_id, user_id, pid, value,
             COUNT(*) OVER (PARTITION BY pid) AS nv
      FROM pv
    )
    SELECT view_id, user_id,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value / nv AS DECIMAL(22,6))) AS DOUBLE) AS credit
    FROM shares GROUP BY view_id, user_id
    """,
    tags=("pipeline-r6", "analytics", "attribution"),
)
def linear_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-split) multi-touch attribution — the companion to
    `last_touch_attribution`: each purchase's value is divided equally
    among the same user's views in the preceding hour, and each view
    accumulates credit across every purchase it assisted. One user-keyed
    interval self-join (the stream twin is `view_purchase_attribution`),
    one purchase-grain count window, one view-grain re-aggregation. The
    per-share division is a single IEEE double op; the SUM over shares
    goes through decimal so credit totals are partitioning-independent."""
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
    nv = Window.partitionBy("pid")
    shares = pv.withColumn("nv", F.count("*").over(nv))
    return shares.groupBy("view_id", "user_id").agg(
        F.count_distinct("pid").cast("long").alias("n_purchases"),
        F.sum((F.col("value") / F.col("nv")).cast("decimal(22,6)"))
        .cast("double")
        .alias("credit"),
    )


_VOCAB_SIZE = 32
_OOV_BUCKETS = 16


@register(
    "vocab_tokenize",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tok AS (
      SELECT doc_id, i AS pos, toks[i] AS tok
      FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) s
    ),
    vocab AS (
      SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) - 1 AS BIGINT) AS vid
      FROM (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
      ORDER BY cnt DESC, tok LIMIT {_VOCAB_SIZE}
    ),
    ids AS (
      SELECT tok.doc_id, tok.pos,
             COALESCE(v.vid, {_VOCAB_SIZE} +
               strpos('0123456789abcdef', substr(md5(tok.tok), 1, 1)) - 1) AS tid,
             v.vid IS NULL AS is_oov
      FROM tok LEFT JOIN vocab v ON tok.tok = v.tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           COALESCE(string_agg(CASE WHEN pos <= 20 THEN CAST(tid AS VARCHAR) END,
                               ' ' ORDER BY pos), '') AS ids_head
    FROM ids GROUP BY doc_id
    """,
    tags=("pipeline-r6", "text", "tokenize"),
    bench=True,  # token-grain explode + broadcast map + grouped reassembly
)
def vocab_tokenize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived vocabulary tokenization — the id-mapping step of a
    training-data pipeline: the top-32 tokens by frequency
    (count-desc, token-asc tie-break) become ids 0..V-1 and every
    out-of-vocabulary token folds into one of 16 md5-derived hash buckets
    (ids V..V+15) — the "hashing trick" fallback, engine-portable because
    the bucket is a pure function of md5 hex. Per doc: token count, OOV
    count, and the first 20 ids as a string (collections crash the gate's
    canonicalizer). Vocabulary selection is TakeOrdered (top-k, no global
    sort); the id join is a broadcast against token-grain rows — token
    grain is inherent to tokenization, and the shuffle is one grouped
    reassembly keyed by doc_id."""
    docs = catalog_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(_VOCAB_SIZE)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    vocab = vocab.withColumn("vid", (F.row_number().over(w) - 1).cast("long")).drop(
        "cnt"
    )
    oov_bucket = (
        F.instr(F.lit("0123456789abcdef"), F.substring(F.md5("tok"), 1, 1)) - 1
    ).cast("long")
    ids = tok.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id",
        "pos",
        F.coalesce("vid", F.lit(_VOCAB_SIZE) + oov_bucket).alias("tid"),
        F.col("vid").isNull().alias("is_oov"),
    )
    return ids.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.col("is_oov").cast("int")).cast("long").alias("n_oov"),
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("pos", "tid"))), 1, 20
                ),
                lambda s: s["tid"].cast("string"),
            ),
            " ",
        ).alias("ids_head"),
    )


@register(
    "fuzzy_dedup_names",
    oracle="""
    WITH names AS (
      SELECT p_name, split_part(p_name, ' ', 2) AS noun,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    tags=("pipeline-r6", "dedup", "entity-resolution"),
)
def fuzzy_dedup_names_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution via blocked edit distance — the
    string-world sibling of the embedding near-dup pass: distinct part
    names are BLOCKED on their head noun (an equi-join key, so the
    candidate set is per-block quadratic instead of corpus-quadratic —
    the same blocking argument as MinHash bands) and candidate pairs
    within a block are kept when Levenshtein <= 3. Distance runs on the
    deduplicated NAME table, not the row-grain part table: at 100 TB the
    name cardinality is what matters, and the edit-distance compute is
    |block|² per block, never |corpus|²."""
    part = catalog_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count("*").cast("long").alias("n_parts"))
        .withColumn("noun", F.element_at(F.split("p_name", " "), 2))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("noun"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("noun"),
        F.col("n_parts").alias("n_parts_b"),
    )
    return (
        a.join(b, ["noun"])
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
    )


_PR_TOTAL = 10**12
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    header = f"""
    WITH co AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM co GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT src AS id, {_PR_TOTAL} // n.n AS r FROM deg, n)
    """
    step = """,
    r{i1} AS (
      SELECT d.src AS id,
             (15 * ({total} // n.n)) // 100
             + (85 * COALESCE(s.contrib, 0)) // 100 AS r
      FROM deg d
      CROSS JOIN n
      LEFT JOIN (
        SELECT co.dst AS id, CAST(SUM(r{i0}.r // deg.deg) AS BIGINT) AS contrib
        FROM co JOIN r{i0} ON co.src = r{i0}.id JOIN deg ON co.src = deg.src
        GROUP BY co.dst
      ) s ON s.id = d.src
    )
    """
    body = "".join(
        step.format(i0=i, i1=i + 1, total=_PR_TOTAL) for i in range(_PR_ITERS)
    )
    return (
        header
        + body
        + f"SELECT id AS part_id, CAST(r AS BIGINT) AS rank_u FROM r{_PR_ITERS}"
    )


@register(
    "pagerank_coorder",
    oracle=_pagerank_oracle(),
    tags=("pipeline-r6", "graph", "iterative"),
    bench=True,  # the iterative-join headliner (3 chained edge joins)
)
def pagerank_coorder_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-order graph (parts are linked when they
    appear in the same order), 3 fixed iterations, damping 0.85.
    All arithmetic is INTEGER-SCALED (total mass 10^12, integer division
    for the degree split and damping) so every iteration is exact and
    associative — the floating-point formulation would make the result
    depend on summation order and be un-oracle-able; the rank ordering is
    what the score is for, and micro-unit truncation cannot reorder ranks
    separated by > iters ulps. Per iteration: one edges⋈ranks equi-join +
    one grouped sum — the same shuffle-bounded shape as
    `connected_components`, and like it the edge list is the only
    corpus-sized frame. Nodes are parts with at least one co-order
    neighbor (dangling parts have no edges and are excluded, documented).
    """
    # explicit repartition on the join key: the testdata file yields 3
    # scan tasks, which would serialize the self-join + distinct (7.3 s →
    # 2.3 s measured at sf0.1); on a cluster the same repartition is what
    # co-locates the order groups
    li = (
        catalog_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    # Round-15 A/B note (process-isolated, fresh JVM per tree, 2x5 runs):
    # landing co hash-partitioned by dst via an AQE-off localCheckpoint so
    # each iteration's groupBy("dst") plans no Exchange was tried and
    # REVERTED — the per-iteration savings are partial-aggregated
    # node-grain shuffles (small), while the partitioned materialization
    # cost a second edge-grain exchange and AQE-less planning of the
    # self-join build job: 4.0 s → 5.2-7.2 s at sf0.1/local[32].
    co = co.localCheckpoint()  # reused every iteration
    # Round-14 shape (guide §1.2 "fewer actions", §2.4 "remove shuffles"):
    # the node count is a 1-row BROADCAST scalar instead of a driver-side
    # deg.count() job, deg rides INSIDE the ranks frame (id, deg, base, r)
    # so each iteration joins once instead of twice (the old shape did
    # ranks⋈deg for shares AND deg⋈contrib for reassembly), and deg loses
    # its eager checkpoint — it is consumed once to seed ranks0, and the
    # checkpointed co exchange feeds it. Driver-side jobs during
    # construction drop from 3 (co ckpt, deg ckpt, count) to 1 (co ckpt);
    # every value stays the same exact integer arithmetic (TOTAL DIV n
    # etc. — n reaches the expressions as a column, never a float). An
    # empty co-order graph yields an empty deg, hence an empty crossJoin
    # and an empty result — the DIV-by-zero branch is dead because no row
    # exists to evaluate it (the old code needed an explicit n == 0 guard
    # only because n was a driver-side Python int).
    deg = co.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    nrow = deg.agg(F.count("*").cast("long").alias("__n"))
    ranks = (
        deg.crossJoin(F.broadcast(nrow))
        .select(
            F.col("src").alias("id"),
            "deg",
            F.expr(f"CAST(15 * ({_PR_TOTAL} DIV __n) DIV 100 AS BIGINT)").alias(
                "__base"
            ),
            F.expr(f"CAST({_PR_TOTAL} DIV __n AS BIGINT)").alias("r"),
        )
    )
    # per-share table: node-grain (|V| rows). Joining it BROADCAST into the
    # edge frame keeps every iteration map-side over the edges — the only
    # shuffle is the partial-aggregated contribution sum (combiner reduces
    # edge-grain to node-grain before the wire). The edge frame itself must
    # never be the broadcast side (AQE with a generous threshold picks
    # exactly that and OOMs the driver); with |V| too big to broadcast,
    # swap F.broadcast for a shuffle_hash hint — plan shape otherwise
    # unchanged.
    for _ in range(_PR_ITERS):
        share = ranks.select(
            F.col("id").alias("src"), F.expr("r DIV deg").alias("c")
        )
        contrib = (
            co.join(F.broadcast(share), "src")
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("contrib"))
        )
        ranks = (
            ranks.select("id", "deg", "__base")
            .join(contrib, ranks.id == contrib.dst, "left")
            .select(
                "id",
                "deg",
                "__base",
                (F.col("__base") + F.expr("85 * coalesce(contrib, 0) DIV 100"))
                .cast("long")
                .alias("r"),
            )
        )
    return ranks.select(F.col("id").alias("part_id"), F.col("r").alias("rank_u"))


@register(
    "skew_key_profile",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM c)
    SELECT user_id, n_events,
           CAST(n_events AS DOUBLE) / total AS share,
           CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS rnk
    FROM c, tot
    ORDER BY n_events DESC, user_id LIMIT 20
    """,
    tags=("pipeline-r6", "ops", "skew"),
)
def skew_key_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the top-20 heaviest keys of a prospective
    join/aggregation key (events.user_id) with their absolute counts and
    corpus share — the diagnostic that decides between plain hash join,
    AQE skew handling, and explicit salting (`functions/skew.py`). One
    grouped count, a 1-row broadcast total, and a TakeOrdered top-k; the
    share is a single double division (deterministic, no accumulated
    float order)."""
    ev = catalog_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n_events"))
    tot = c.agg(F.sum("n_events").cast("long").alias("total"))
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (
        c.crossJoin(F.broadcast(tot))
        .withColumn("share", F.col("n_events").cast("double") / F.col("total"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 20)
        .select("user_id", "n_events", "share", "rnk")
    )


@register(
    "doc_length_percentile_gate",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(n_chars, 0.25) AS lo, quantile_cont(n_chars, 0.99) AS hi
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_chars >= lo AND n_chars <= hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           lo AS p25_chars, hi AS p99_chars
    FROM documents, b
    GROUP BY source, lo, hi
    """,
    tags=("pipeline-r6", "curation", "quality"),
)
def doc_length_percentile_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bounded length gate: corpus-global p25/p99 of document
    char length become the keep-window, reported per source — the
    adaptive version of a fixed min/max length filter (C4 uses fixed
    bounds; adaptive bounds survive corpus drift without re-tuning).
    Spark exact `percentile` pairs with DuckDB `quantile_cont` (both
    linear interpolation — the `median_order_gap` pattern); the 1-row
    bounds frame broadcasts into the per-source scan."""
    docs = catalog_table(spark, sf_dir, "documents")
    b = docs.agg(
        F.percentile("n_chars", F.lit(0.25)).alias("lo"),
        F.percentile("n_chars", F.lit(0.99)).alias("hi"),
    )
    kept = F.when(
        (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")), 1
    ).otherwise(0)
    return (
        docs.crossJoin(F.broadcast(b))
        .groupBy("source", "lo", "hi")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.col("lo").alias("p25_chars"),
            F.col("hi").alias("p99_chars"),
        )
    )


@register(
    "snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|', o_custkey, o_orderstatus, o_totalprice,
                           o_orderdate, o_orderpriority)) AS h
      FROM orders WHERE o_orderkey % 1000 <> 0
    ),
    b AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|', o_custkey, o_orderstatus,
                           CASE WHEN o_orderkey % 7 = 0
                                THEN o_totalprice + 1 ELSE o_totalprice END,
                           o_orderdate, o_orderpriority)) AS h
      FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows FROM (
      SELECT CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b ON a.k = b.k
    ) GROUP BY status
    """,
    tags=("pipeline-r6", "cdc", "diff"),
)
def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the CDC audit between two table versions: rows are
    keyed and content-hashed (md5 over a canonical column concat), the
    two snapshots full-outer-join on the key, and every row classifies as
    added / removed / changed / unchanged. The two "versions" here are
    deterministic slices of orders (version B drops key%13 rows, adds
    key%1000 rows back, perturbs price on key%7) so all four classes are
    populated. At 100 TB: both sides bucket/partition on the key, the
    join is co-located, and only (key, hash) ever shuffles — the content
    hash travels instead of the row. One summary row per class."""
    o = catalog_table(spark, sf_dir, "orders")

    def snap(df: DataFrame, price) -> DataFrame:
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.md5(
                F.concat_ws(
                    "|",
                    "o_custkey",
                    "o_orderstatus",
                    price,
                    F.col("o_orderdate").cast("string"),
                    "o_orderpriority",
                )
            ).alias("h"),
        )

    a = snap(
        o.filter(F.col("o_orderkey") % 1000 != 0), F.col("o_totalprice")
    )
    b = snap(
        o.filter(F.col("o_orderkey") % 13 != 0),
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    aa = a.select(F.col("k").alias("ak"), F.col("h").alias("ah"))
    bb = b.select(F.col("k").alias("bk"), F.col("h").alias("bh"))
    status = (
        F.when(F.col("ak").isNull(), "added")
        .when(F.col("bk").isNull(), "removed")
        .when(F.col("ah") != F.col("bh"), "changed")
        .otherwise("unchanged")
    )
    return (
        aa.join(bb, aa.ak == bb.bk, "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )


@register(
    "triangle_count",
    oracle="""
    WITH co AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS id FROM co UNION ALL SELECT v AS id FROM co
      ) GROUP BY id
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM co e1 JOIN co e2 ON e1.v = e2.u JOIN co e3
        ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM co) AS n_edges,
           tri.n_triangles,
           (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges
    FROM tri
    """,
    tags=("pipeline-r6", "graph"),
)
def triangle_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle + wedge census of the part co-order graph — the global
    clustering measurement (3·triangles / wedges) behind community /
    bundle detection. Edges are stored canonical (u < v) for the census
    counts, then re-oriented from the LOWER-(degree, id) endpoint to the
    higher and counted with the degree-oriented EDGE ITERATOR: build each
    node's sorted out-adjacency list once, then per edge (s, t) count
    |N+(s) ∩ N+(t)| with `array_intersect` — under any total vertex
    order each triangle is found exactly once, and the (deg, id) order
    bounds every out-list by min(deg), so total intersection work keeps
    the two-hop wedge join's O(m^1.5) bound WITHOUT materializing or
    shuffling the wedge frame (round-8 A/B on the 1.2M-edge sf0.1 graph:
    3.3 s vs 6.3 s, identical counts; a 10^6-degree hub still
    contributes nothing — all its edges point INTO it, so its out-list
    stays small, and each adjacency row is out-degree-bounded at
    O(√m) elements). The oracle counts the
    same undirected graph with plain id-orientation: triangle/wedge
    counts are orientation-invariant, so both engines agree while the
    Spark plan carries the scale-safe direction. The node-grain degree
    frame joined into the edges is |V|-bounded (≤ |part|) — broadcast at
    bench scale by AQE; swap to shuffle_hash when |V| outgrows the
    driver. Wedges are a degree aggregate, exact integers throughout."""
    li = (
        catalog_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(32, "l_orderkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    co = co.localCheckpoint()
    deg = (
        co.select(F.col("u").alias("id"))
        .unionByName(co.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("d"))
    )
    # degree-orient: each canonical edge points from the lower-(deg, id)
    # endpoint to the higher (co already has u < v, so a degree tie keeps
    # (u, v)). Total order ⇒ each triangle enumerated exactly once.
    du = deg.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        co.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    ).localCheckpoint()  # consumed by the edge scan AND both adjacency joins
    adj = oriented.groupBy("s").agg(
        F.sort_array(F.collect_list("t")).alias("nbr")
    )
    adj_s = adj.select(F.col("s"), F.col("nbr").alias("ns"))
    adj_t = adj.select(F.col("s").alias("t"), F.col("nbr").alias("nt"))
    # inner joins are exact: an endpoint missing from adj has no
    # out-edges, so its intersection is empty and contributes 0
    tri = (
        oriented.join(adj_s, "s")
        .join(adj_t, "t")
        .select(
            F.size(F.array_intersect("ns", "nt")).cast("long").alias("c")
        )
        .agg(F.sum("c").cast("long").alias("n_triangles"))
    )
    nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    edges = co.agg(F.count("*").cast("long").alias("n_edges"))
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges")
    )
    return (
        nodes.crossJoin(F.broadcast(edges))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .select("n_nodes", "n_edges", "n_triangles", "n_wedges")
    )


# ---------------------------------------------------------------------------
# Distributed k-means (2 Lloyd iterations, integer-exact) — the semantic
# clustering step of a curation pipeline (cluster-then-sample, dedup by
# cluster, topic balance). All arithmetic is integer after a power-of-two
# quantization, so assignment and centroid updates are bit-reproducible
# regardless of partitioning/summation order on BOTH engines.
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_SCALE = 1 << 20  # power of two: float->double * 2^20 is EXACT, floor too

# Shared CTE chain: quantize -> seed centroids -> assign -> update -> assign.
# Both kmeans oracles build on `a2` (final vec_id -> cid assignment) so the
# cluster query and the balanced-sample query verify against ONE spec.
_KM_CTES = f"""
    WITH q AS (
      SELECT vec_id, i - 1 AS dim,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_KM_SCALE}) AS BIGINT) AS q
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) g
    ),
    c0 AS (SELECT vec_id AS cid, dim, q AS cq FROM q WHERE vec_id < {_KM_K}),
    d1 AS (
      SELECT q.vec_id, c0.cid, SUM((q.q - c0.cq) * (q.q - c0.cq)) AS dist2
      FROM q JOIN c0 USING (dim) GROUP BY q.vec_id, c0.cid
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        FROM d1) WHERE rn = 1
    ),
    c1 AS (
      SELECT a1.cid, q.dim,
             CAST(FLOOR(CAST(SUM(q.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
      FROM q JOIN a1 USING (vec_id) GROUP BY a1.cid, q.dim
    ),
    d2 AS (
      SELECT q.vec_id, c1.cid, SUM((q.q - c1.cq) * (q.q - c1.cq)) AS dist2
      FROM q JOIN c1 USING (dim) GROUP BY q.vec_id, c1.cid
    ),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        FROM d2) WHERE rn = 1
    )
"""


def _km_final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame twin of ``_KM_CTES``: the (vec_id, cid) assignment after
    2 Lloyd iterations. See ``kmeans_lloyd_clusters_q`` for the exactness
    and scale argument."""
    emb = catalog_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("x").cast("double") * _KM_SCALE).cast("long").alias("q"),
    )
    q = q.localCheckpoint()  # reused by both assignments + the update

    def assign(cent: DataFrame) -> DataFrame:
        d = (
            q.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
                ).alias("dist2")
            )
        )
        w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )

    c0 = q.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), "dim", F.col("q").alias("cq")
    )
    a1 = assign(c0)
    c1 = (
        q.join(a1, "vec_id")
        .groupBy("cid", "dim")
        .agg(
            F.floor(F.sum("q").cast("double") / F.count("*"))
            .cast("long")
            .alias("cq")
        )
    )
    return assign(c1)


@register(
    "kmeans_lloyd_clusters",
    oracle=_KM_CTES
    + """
    SELECT cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(vec_id) AS min_vec_id,
           MAX(vec_id) AS max_vec_id
    FROM a2 GROUP BY cid
    """,
    tags=("pipeline-r6", "clustering", "embedding"),
    bench=True,
)
def kmeans_lloyd_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embedding corpus: 2 Lloyd iterations,
    k=8, seeded by the k lowest vec_ids. Coordinates are quantized once by
    floor(x·2^20) (power-of-two scale → the float→double multiply and the
    floor are both EXACT, no rounding boundary anywhere), so distances are
    bigint sums of squared integer diffs and centroid updates are integer
    sums + one correctly-rounded double divide — every step is
    order-independent, 1 core == 1000 executors, and the DuckDB twin
    matches bit-for-bit. Assignment joins the (row-count × dim) long
    frame against a k×dim centroid table: the centroid side is O(k·dim)
    regardless of corpus size, so it BROADCASTS, and the only shuffles
    are the per-vector argmin and the per-(cluster, dim) integer
    re-aggregation — the classic scalable Lloyd step (centroids never
    bottleneck on the driver beyond k·dim values). Ties in the argmin
    break to the lowest centroid id on both engines."""
    a2 = _km_final_assignment(spark, sf_dir)
    return a2.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


@register(
    "ks_drift_value",
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 0 END AS in_a
      FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
                 CAST(SUM(1 - in_a) AS BIGINT) AS n_b FROM s),
    g AS (SELECT value, CAST(SUM(in_a) AS BIGINT) AS a_cnt,
                 CAST(SUM(1 - in_a) AS BIGINT) AS b_cnt
          FROM s GROUP BY value),
    c AS (SELECT
            SUM(a_cnt) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
            SUM(b_cnt) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
          FROM g)
    SELECT n_a, n_b,
           CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS ks_num,
           CAST(CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
                / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS DOUBLE)
             AS ks_stat
    FROM c, n GROUP BY n_a, n_b
    """,
    tags=("pipeline-r6", "drift", "stats"),
)
def ks_drift_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic on the continuous
    `value` distribution, first half of the month vs second — the
    continuous companion to `source_drift_l1`'s categorical L1. The KS
    supremum is computed with an INTEGER numerator: at every distinct
    observed value, |cumA·nB − cumB·nA| is exact bigint arithmetic, so
    the max is engine- and partitioning-independent; only the final
    normalization divides (one correctly-rounded double op). The ordered
    CDF window runs over DISTINCT values (6.6k at sf0.01, bounded by
    value cardinality, not row count); at 100 TB you'd range-partition
    the prefix sum (two-pass: per-range subtotals, then offset join) —
    the grouped pre-aggregation shrinking rows→distinct-values already
    happens before the window here.

    NULL values are filtered on BOTH engines before the CDF: Spark's
    window ORDER BY sorts NULLs first while DuckDB sorts them last, so an
    unfiltered NULL would silently shift the prefix sets apart (a KS over
    "undefined" observations is meaningless anyway)."""
    ev = catalog_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = ev.select(
        "value",
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("in_a"),
    )
    n = s.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(F.lit(1) - F.col("in_a")).cast("long").alias("n_b"),
    )
    g = s.groupBy("value").agg(
        F.sum("in_a").cast("long").alias("a_cnt"),
        F.sum(F.lit(1) - F.col("in_a")).cast("long").alias("b_cnt"),
    )
    w = (
        Window.orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        F.sum("a_cnt").over(w).alias("cum_a"),
        F.sum("b_cnt").over(w).alias("cum_b"),
    )
    num = F.abs(
        F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
    )
    return (
        c.crossJoin(F.broadcast(n))
        .groupBy("n_a", "n_b")
        .agg(F.max(num).cast("long").alias("ks_num"))
        .select(
            "n_a",
            "n_b",
            "ks_num",
            (
                F.col("ks_num").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("ks_stat"),
        )
    )


@register(
    "shipping_priority_topk",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("pipeline-r6", "relational", "join"),
    bench=True,
)
def shipping_priority_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): the selective 3-way
    customer⋈orders⋈lineitem join with filters on ALL THREE tables, then
    top-10 unshipped orders by revenue. The plan the optimizer should
    pick — and .explain confirms — is: push every filter to its scan,
    BROADCAST the filtered customer keys into orders, then one shuffle
    join on orderkey with partial aggregation below it; the TopK is a
    TakeOrderedAndProject, never a global sort. Revenue sums in
    decimal(22,4) (the `pricing_summary` pattern) so the double result
    is identical under any partitioning; the LIMIT carries a full
    (revenue DESC, o_orderdate, l_orderkey) tie-break so the selected
    rows are engine-deterministic."""
    cut = F.lit("1998-07-01 00:00:00").cast("timestamp")
    cust = (
        catalog_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        catalog_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        catalog_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(22,4)")
    return (
        li.join(
            orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_KM_SAMPLE_PER_CLUSTER = 25


@register(
    "kmeans_balanced_sample",
    oracle=_KM_CTES
    + f"""
    SELECT cid AS cluster_id, vec_id, CAST(rk AS BIGINT) AS samp_rank
    FROM (
      SELECT cid, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY cid
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM a2
    ) WHERE rk <= {_KM_SAMPLE_PER_CLUSTER}
    """,
    tags=("pipeline-r6", "clustering", "sampling", "curation"),
)
def kmeans_balanced_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling — the cluster-then-sample curation
    step (SemDeDup-style topic balance): k-means assigns every vector to a
    semantic cluster, then an md5-keyed deterministic "random" order picks
    up to 25 per cluster, so over-represented topics are capped instead of
    dominating the sample. Composes `_km_final_assignment` (the shared
    integer-exact Lloyd spec — ONE definition feeds both this oracle and
    `kmeans_lloyd_clusters`) with the `hash_sample` ordering trick. The
    per-cluster top-N is a WindowGroupLimit (rank filter pushed below the
    shuffle), so only ~k·N rows survive the window at any corpus size."""
    a2 = _km_final_assignment(spark, sf_dir)
    w = Window.partitionBy("cid").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        a2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KM_SAMPLE_PER_CLUSTER)
        .select(
            F.col("cid").alias("cluster_id"),
            "vec_id",
            F.col("rk").cast("long").alias("samp_rank"),
        )
    )


@register(
    "hard_negative_mining",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, label AS q_label,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, label AS c_label,
                      embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT qid, q_label, cid, c_label,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cosine
      FROM q, c WHERE c_label <> q_label
    )
    SELECT qid, q_label, cid, c_label, cosine, rnk FROM (
      SELECT qid, q_label, cid, c_label, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
    tags=("pipeline-r6", "similarity", "training"),
)
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (the first 10 vectors), the 5 most-similar vectors with a DIFFERENT
    label — the near-misses that make the strongest negatives in a
    triplet/InfoNCE batch. Same broadcast-queries × one-corpus-scan shape
    as `similarity_topk_brute` (JVM-side sequential dot products,
    bit-identical to DuckDB's list_dot_product) with the label inequality
    pushed into the scored relation, and the per-anchor top-k kept by a
    WindowGroupLimit so the scored frame never materializes beyond k rows
    per anchor per partition. At scale the anchor side is the small
    (broadcast) side and the corpus is scanned once; an IVF/LSH-blocked
    variant (`similarity_ann_*`) bounds the candidate set when anchors
    stop being few."""
    from funnel_report_etl_pipeline__spark.operators.similarity import _cosine, _topk_by_cosine

    emb = catalog_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("c_label"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_label") != F.col("q_label"))
        .select(
            "qid",
            "q_label",
            "cid",
            "c_label",
            F.expr(_cosine("qv", "cv")).alias("cosine"),
        )
    )
    return _topk_by_cosine(scored, 5)


@register(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS fk,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT)
    """,
    tags=("pipeline-r6", "ops", "quality"),
)
def referential_integrity_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    foreign-key edge, the child row count and the orphan count (children
    whose key has no parent) via LEFT ANTI joins — the ingest-gate check
    that catches a partial parent load before a fact join silently drops
    rows. Dimension-parent edges (customer, nation, part) anti-join
    against a BROADCAST parent key set, so the fact never shuffles; the
    orders-parent edge is the one genuinely fact-sized check and
    shuffles on the key, exactly like the production join it is
    guarding. The two lineitem edges share ONE scan of the fact: a
    left join against the orders key set and a broadcast left join
    against the part key set, with both orphan counts taken by
    conditional aggregation over the same pass — the fact is read once,
    not once per edge. One summary row per edge."""

    def audit(fk: str, child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
        # parent key sets are dimension-key-grain: bounded at gate scale
        # but they DO grow with a real deployment's dims, so the hint is
        # size-gated like every other deployment-scale-dependent broadcast
        keys = maybe_broadcast(parent.select(pk).distinct())
        orphans = child.join(keys, child[ck] == keys[pk], "left_anti")
        return (
            child.agg(F.count("*").cast("long").alias("n_child"))
            .crossJoin(
                F.broadcast(
                    orphans.agg(F.count("*").cast("long").alias("n_orphans"))
                )
            )
            .select(F.lit(fk).alias("fk"), "n_child", "n_orphans")
        )

    li = catalog_table(spark, sf_dir, "lineitem")
    orders = catalog_table(spark, sf_dir, "orders")
    cust = catalog_table(spark, sf_dir, "customer")
    nation = catalog_table(spark, sf_dir, "nation")
    part = catalog_table(spark, sf_dir, "part")

    okeys = orders.select(F.col("o_orderkey").alias("__ok")).distinct()
    pkeys = part.select(F.col("p_partkey").alias("__pk")).distinct()
    li_audit = (
        li.select("l_orderkey", "l_partkey")
        .join(okeys, F.col("l_orderkey") == F.col("__ok"), "left")
        .join(maybe_broadcast(pkeys), F.col("l_partkey") == F.col("__pk"), "left")
        .agg(
            F.count("*").cast("long").alias("n_child"),
            F.sum(F.col("__ok").isNull().cast("int")).cast("long").alias("__o_orph"),
            F.sum(F.col("__pk").isNull().cast("int")).cast("long").alias("__p_orph"),
        )
    )
    li_edges = li_audit.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem->orders").alias("fk"),
                    F.col("n_child"),
                    F.col("__o_orph").alias("n_orphans"),
                ),
                F.struct(
                    F.lit("lineitem->part").alias("fk"),
                    F.col("n_child"),
                    F.col("__p_orph").alias("n_orphans"),
                ),
            )
        ).alias("e")
    ).select("e.fk", "e.n_child", "e.n_orphans")
    return li_edges.unionByName(
        audit("orders->customer", orders, "o_custkey", cust, "c_custkey")
    ).unionByName(
        audit("customer->nation", cust, "c_nationkey", nation, "n_nationkey")
    )


@register(
    "partition_freshness_audit",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             epoch_us(ts) // 3600000000 AS hr
      FROM events
    ),
    span AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM h),
    gaps AS (
      SELECT event_type, hr,
             hr - LAG(hr) OVER (PARTITION BY event_type ORDER BY hr) - 1
               AS gap
      FROM h
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_present,
           CAST(hi - lo + 1 AS BIGINT) AS n_expected,
           CAST(hi - lo + 1 - COUNT(*) AS BIGINT) AS n_missing,
           CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_hours
    FROM gaps, span
    GROUP BY event_type, lo, hi
    """,
    tags=("pipeline-r6", "ops", "freshness"),
)
def partition_freshness_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition freshness / completeness audit at hour grain: per event
    type, the hours with at least one event vs the hours the global span
    says should exist, plus the longest internal gap — the
    data-lateness check a partitioned ingest pipeline alerts on (an
    hourly partition that never landed shows up as n_missing and as a
    gap). Hour ids are integer epoch-hours (epoch_us DIV 3600·10^6), so
    the whole audit is exact integer arithmetic: one distinct over
    (type, hour) — map-side combinable, grain bounded by types × hours
    regardless of event volume — then a per-type lag window over the
    tiny distinct frame and a 1-row broadcast global span."""
    ev = catalog_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("hr")
    ).distinct()
    span = h.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    w = Window.partitionBy("event_type").orderBy("hr")
    gaps = h.withColumn("gap", F.col("hr") - F.lag("hr").over(w) - 1)
    return (
        gaps.crossJoin(F.broadcast(span))
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").cast("long").alias("n_present"),
            F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias("max_gap_hours"),
        )
        .select(
            "event_type",
            "n_present",
            (F.col("hi") - F.col("lo") + 1).cast("long").alias("n_expected"),
            (F.col("hi") - F.col("lo") + 1 - F.col("n_present"))
            .cast("long")
            .alias("n_missing"),
            "max_gap_hours",
        )
    )


@register(
    "cross_source_duplication",
    oracle="""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
    g AS (
      SELECT DISTINCT source,
             md5(array_to_string(toks[i:i+7], ' ')) AS h
      FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) s
      WHERE len(toks) >= 8
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_grams
    FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    tags=("pipeline-r6", "dedup", "curation"),
)
def cross_source_duplication_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplication matrix: for every source pair, how many
    distinct 8-grams they share — the contamination/provenance
    diagnostic that tells a curation pipeline WHICH feeds copy from
    which (a mirror pair shows up as a hot cell; near-zero cells are
    independent feeds). Grams are the codegen'd posexplode+lead build
    (`gram_rows`) reduced to DISTINCT (source, md5) — per-source gram
    sets, grain bounded by distinct grams × sources, never doc-grain.
    The pair join is per-gram over those sets with `source_a < source_b`
    canonicalization, so each shared gram counts once per unordered
    pair; cost is Σ per-gram (#sources choose 2) ≤ |grams|·k², with the
    md5 keys uniform across partitions. At 100 TB you'd pre-filter to
    grams seen in ≥2 sources (a HAVING over the first groupBy) before
    the self-join — the single-source tail (most grams) never joins."""
    from funnel_report_etl_pipeline__spark.operators.dedup import gram_rows

    docs = catalog_table(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("source").alias("src"), "text"
    )
    g = (
        gram_rows(docs, ngram=8, distinct=False)
        .join(
            docs.select(F.col("doc_id").alias("id"), "src"),
            "id",
        )
        .select("src", F.md5(F.col("gram")).alias("h"))
        .distinct()
    )
    a = g.select(F.col("src").alias("source_a"), "h")
    b = g.select(F.col("src").alias("source_b"), "h")
    return (
        a.join(b.hint("shuffle_hash"), "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("shared_grams"))
    )


@register(
    "kmeans_cluster_purity",
    oracle=_KM_CTES
    + """
    , lab AS (
      SELECT a2.cid, e.label, CAST(COUNT(*) AS BIGINT) AS n
      FROM a2 JOIN embeddings e ON e.vec_id = a2.vec_id
      GROUP BY a2.cid, e.label
    ),
    tot AS (SELECT cid, CAST(SUM(n) AS BIGINT) AS n_members FROM lab GROUP BY cid),
    top AS (
      SELECT cid, label, n,
             ROW_NUMBER() OVER (PARTITION BY cid ORDER BY n DESC, label ASC) AS rn
      FROM lab
    )
    SELECT top.cid AS cluster_id, tot.n_members,
           top.label AS majority_label, top.n AS n_majority,
           CAST(top.n AS DOUBLE) / tot.n_members AS purity
    FROM top JOIN tot ON top.cid = tot.cid
    WHERE top.rn = 1
    """,
    tags=("pipeline-r6", "clustering", "eval"),
)
def kmeans_cluster_purity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality report: per k-means cluster, its size, the
    majority ground-truth label, and the purity (majority fraction) —
    the standard external-validation readout for a curation clustering
    (low-purity clusters flag mixed topics before cluster-level
    decisions like dedup-within-cluster or balanced sampling). Third
    composition on the shared Lloyd spec (`_km_final_assignment` /
    `_KM_CTES`): one label join, one (cluster, label) count, and a
    per-cluster argmax with a lowest-label tie-break — grain bounded by
    k × labels. Purity is one exact division of integers."""
    a2 = _km_final_assignment(spark, sf_dir)
    emb = catalog_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lab = (
        a2.join(emb, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("cid").orderBy(F.col("n").desc(), F.col("label").asc())
    top = lab.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    tot = lab.groupBy("cid").agg(F.sum("n").cast("long").alias("n_members"))
    return (
        top.join(tot, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
            (F.col("n").cast("double") / F.col("n_members")).alias("purity"),
        )
    )


@register(
    "local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("pipeline-r6", "relational", "join"),
)
def local_supplier_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the six-table star join —
    region→nation→customer filtered to one region, orders date-bounded,
    lineitem joined to BOTH orders and supplier with the
    same-nation-as-customer correlation — grouped to revenue per nation.
    The plan Catalyst should pick, and .explain confirms: the three
    dimension chains (region⋈nation, the filtered customer set, supplier)
    all BROADCAST, the date filter is pushed to the orders scan, and the
    only repartition shuffles are orders⋈lineitem on the order key plus
    the final small groupBy — the fact table moves through exactly one
    exchange. Revenue sums in decimal(22,4) (`pricing_summary` pattern)
    so the doubles are partitioning-independent."""
    cut_lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    cut_hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    region = catalog_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = catalog_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    # the size-gated hint wraps the customer SCAN, never the
    # customer⋈nation join output: a scan's estimate is its file
    # footprint (trustworthy on both sides of the gate), while Catalyst
    # estimates a join output by MULTIPLYING child sizes — 2.87 GB for
    # this 150-row frame at sf0.001 — which would trip any size gate and
    # pin a needless shuffle (round-9 hints lesson). The bounded nation
    # frame (≤25 rows) broadcasts unconditionally after.
    cust = catalog_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        catalog_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= cut_lo) & (F.col("o_orderdate") < cut_hi))
        .select("o_orderkey", "o_custkey")
    )
    supp = catalog_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = catalog_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(22,4)")
    oc = (
        orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("o_orderkey", "c_nationkey", "n_name")
    )
    return (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .join(
            maybe_broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").cast("long").alias("n_lineitems"),
        )
    )


@register(
    "revenue_anomaly_days",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(22,4))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    m AS (SELECT quantile_cont(rev, 0.5) AS med FROM d),
    md AS (SELECT quantile_cont(ABS(rev - med), 0.5) AS mad FROM d, m)
    SELECT day, rev, med, mad,
           ABS(rev - med) / mad AS dev_ratio
    FROM d, m, md
    WHERE ABS(rev - med) > 2 * mad
    """,
    tags=("pipeline-r6", "ops", "anomaly"),
)
def revenue_anomaly_days_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-revenue anomaly report: days whose decimal-summed
    revenue deviates more than 2 median-absolute-deviations from the
    median daily revenue — the outlier gate that (unlike mean/stddev)
    a single whale day cannot drag. Two exact `percentile` scalars
    (≙ `quantile_cont`, the `median_order_gap` pairing) broadcast into
    the day frame; the day grain is bounded by the calendar, so the
    percentile windows never see more than one row per day regardless of
    order volume, and all flagged-day arithmetic is the same IEEE ops on
    identical inputs in both engines."""
    d = (
        catalog_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(22,4)"))
            .cast("double")
            .alias("rev")
        )
    )
    m = d.agg(F.percentile("rev", F.lit(0.5)).alias("med"))
    dm = d.crossJoin(F.broadcast(m))
    md = dm.agg(
        F.percentile(F.abs(F.col("rev") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    return (
        dm.crossJoin(F.broadcast(md))
        .filter(F.abs(F.col("rev") - F.col("med")) > 2 * F.col("mad"))
        .select(
            "day",
            "rev",
            "med",
            "mad",
            (F.abs(F.col("rev") - F.col("med")) / F.col("mad")).alias("dev_ratio"),
        )
    )
