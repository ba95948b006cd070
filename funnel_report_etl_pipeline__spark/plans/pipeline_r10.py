"""Round-10 queries: index/artifact LIFECYCLE operators — build once,
persist as parquet, serve many — plus their audits.

* Persistent ANN serving (`operators/ann_index.py`): `ann_ivf_prebuilt`
  / `ann_pq_prebuilt` serve from saved cells+assignments / codebook+
  codes (idempotent signature-gated builds, atomic-rename install);
  `ann_ivfpq_prebuilt` composes both (ADC restricted to probed cells);
  `ann_ivfpq_rerank` finishes the production recipe (exact cosine over
  the ADC top-20 shortlist — raw vectors read for |Q|·m rows only).
  The deterministic hash-seeded quantizers make loaded results
  bit-identical to the fresh-build siblings, so the prebuilt queries
  REUSE those siblings' full DuckDB oracles: a green row proves the
  save/load round-trip lossless. `ann_recall_audit` and
  `dim_truncation_fidelity` are the tuning/fidelity readouts as
  value-hashed queries (integer hit counts).
* The daily corpus job: `corpus_refresh_pipeline` chains incremental
  text-hash dedup -> quality gate + exact dedup -> exact-n stratified
  sample -> `ensure_training_shards` (idempotent, O(files) change
  token); `incremental_dedup_bloom` is the snapshot-outgrows-the-
  shuffle dedup form (m-bounded bloom mask, candidates-only anti-join);
  `versioned_snapshot_manifest` materializes a 3-version snapshot
  history under the manifest-committed versioned-table protocol
  (sources/sinks.py) and value-hashes its commit log.
* Coverage/layout audits: `oov_rate_by_source` (vocabulary fit),
  `zorder_curve` (the Morton interleave behind `write_zordered`,
  value-verified via `zorder_key_sql`).

Index/refresh/version artifacts live under $SPARK_GRAFT_INDEX_DIR /
$SPARK_GRAFT_REFRESH_DIR / $SPARK_GRAFT_VERSIONED_DIR (defaults under
/tmp)/<sf-basename>/...; every saved artifact carries a content
signature so a regenerated corpus rebuilds instead of serving stale
answers, and repeated runs are pure reads (pinned by mtime tests).

Reference parity note: the reference engine (report_engine.py /
run_reports.py) has no ANN, versioning, or corpus-pipeline surface —
these extend the beyond-reference LLM-data-pipeline families per the
round brief.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.plans import pipeline_ops, pipeline_r5  # noqa: F401
from funnel_report_etl_pipeline__spark.plans.registry import REGISTRY, register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table


def _index_root(sf_dir: str) -> str:
    base = os.environ.get("SPARK_GRAFT_INDEX_DIR", "/tmp/spark_graft_ann")
    return os.path.join(base, os.path.basename(sf_dir.rstrip("/")))


# the prebuilt queries serve answers bit-identical to their fresh-build
# siblings, so they share the siblings' oracles verbatim (registered by
# the pipeline_ops / pipeline_r5 imports above)
_IVF_ORACLE = REGISTRY["similarity_ann_ivf"].oracle
_PQ_ORACLE = REGISTRY["similarity_ann_pq"].oracle


@register(
    "ann_ivf_prebuilt",
    oracle=_IVF_ORACLE,
    tags=("pipeline-r10", "similarity", "ann", "index"),
    bench=True,
)
def ann_ivf_prebuilt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served from a PERSISTED index (operators/ann_index.py):
    `ensure_ivf_medoid_index` builds cells.parquet + assignments.parquet
    once (the corpus-signature check makes every later run a pure read),
    then `cosine_topk_ivf_prebuilt` probes 2 of 16 cells per query and
    re-ranks exactly — the corpus quantization pass never re-runs at
    serve time. Same 16-cell medoid quantizer as `similarity_ann_ivf`,
    so the shared oracle's green row proves save/load losslessness."""
    from funnel_report_etl_pipeline__spark.operators.ann_index import (
        cosine_topk_ivf_prebuilt,
        ensure_ivf_medoid_index,
    )

    emb = catalog_table(spark, sf_dir, "embeddings")
    idx = os.path.join(_index_root(sf_dir), "ivf16")
    ensure_ivf_medoid_index(emb, idx, n_cells=16)
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_ivf_prebuilt(emb, queries, idx, k=5, n_probe=2).orderBy(
        "qid", "rnk"
    )


@register(
    "ann_pq_prebuilt",
    oracle=_PQ_ORACLE,
    tags=("pipeline-r10", "similarity", "ann", "index"),
    bench=True,
)
def ann_pq_prebuilt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN served from a PERSISTED index: `ensure_pq_index` writes the
    codebook (16 anchors) and the corpus code table (8 codes/vector —
    the n_segments-bytes-per-vector memory shape that makes
    billion-vector serving fit in RAM) once; serving computes only the
    query-side ADC table and joins the SAVED codes on (segment, code) —
    the corpus is never re-encoded, and at serve time its raw vectors
    are never read at all. Shares `similarity_ann_pq`'s oracle: a green
    row proves the persisted codes reproduce the fresh encoding
    bit-exactly."""
    from funnel_report_etl_pipeline__spark.operators.ann_index import (
        ensure_pq_index,
        pq_topk_prebuilt,
    )

    emb = catalog_table(spark, sf_dir, "embeddings")
    idx = os.path.join(_index_root(sf_dir), "pq8x16")
    ensure_pq_index(emb, idx, n_segments=8, seg_dim=8, n_codes=16)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_topk_prebuilt(queries, idx, k=5, n_segments=8, seg_dim=8)


# ---------------------------------------------------------------------------
# End-to-end incremental corpus refresh (round-9 verdict ask #5)
# ---------------------------------------------------------------------------

_REFRESH_N_PER_SOURCE = 8
_REFRESH_N_SHARDS = 4


def _refresh_root(sf_dir: str) -> str:
    base = os.environ.get("SPARK_GRAFT_REFRESH_DIR", "/tmp/spark_graft_refresh")
    return os.path.join(base, os.path.basename(sf_dir.rstrip("/")))


def _refresh_oracle() -> str:
    from funnel_report_etl_pipeline__spark.operators.text import STOPWORDS

    return f"""
    WITH seen AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0
    ),
    nd AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d LEFT JOIN seen s ON md5(d.text) = s.h
      WHERE d.doc_id % 3 <> 0 AND s.h IS NULL
    ),
    q AS (
      SELECT * FROM (
        SELECT doc_id, source, text,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_intersect(list_distinct(string_split(text, ' ')),
                   {list(STOPWORDS)!r})) AS n_stop,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM nd
      ) t
      WHERE n_tokens BETWEEN 10 AND 1000
        AND CAST(n_stop AS DOUBLE) / n_distinct > 0
    ),
    d AS (
      SELECT * FROM (
        SELECT q.*, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM q
      ) t WHERE rn = 1
    ),
    samp AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM d
      ) t WHERE rk <= {_REFRESH_N_PER_SOURCE}
    ),
    sh AS (
      SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                  % {_REFRESH_N_SHARDS} AS INTEGER) AS shard,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS k
      FROM samp
    )
    SELECT shard, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS content_checksum
    FROM sh GROUP BY shard
    """


@register(
    "corpus_refresh_pipeline",
    oracle=_refresh_oracle(),
    tags=("pipeline-r10", "curation", "composition", "incremental"),
    bench=True,
)
def corpus_refresh_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily LLM-corpus refresh job, composed END-TO-END in one
    lineage — every stage is a standalone verified query, but a real
    operator runs them as one pipeline (round-9 verdict ask #5):

    1. **Incremental dedup** (`incremental_dedup`'s day-split convention:
       doc_id % 3 == 0 is yesterday's snapshot): new docs anti-join the
       snapshot's text hashes — only (id, md5) pairs shuffle.
    2. **Curation** (`corpus_curation`'s gate): Gopher/C4 quality filter
       scan-side, then exact dedup keeping the lowest id per text.
    3. **Stratified sampling** (`stratified_fixed_n_sample`'s hash-rank
       pick): exactly {n} survivors per source via WindowGroupLimit.
    4. **Idempotent shard export** (`write_training_shards` + the
       ensure_ wrapper): content-addressed shards + manifest; the input
       signature saved beside the data makes the SECOND run of the same
       day a pure read — nothing is rewritten (pinned by mtime tests).

    Returns the written manifest (shard, n_rows, content_checksum),
    recomputed from the files on disk, so the oracle's green hash row
    attests the bytes that landed, not the lineage that promised them."""
    from funnel_report_etl_pipeline__spark.operators.curation import curate_documents
    from funnel_report_etl_pipeline__spark.sources.sinks import ensure_training_shards

    docs = catalog_table(spark, sf_dir, "documents")
    seen = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("__h"))
        .distinct()
    )
    fresh = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .withColumn("__h", F.md5("text"))
        .join(seen, "__h", "left_anti")
        .drop("__h")
    )
    curated = curate_documents(fresh)
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    samp = (
        curated.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= _REFRESH_N_PER_SOURCE)
        .select("doc_id", "source", "text")
    )
    out = os.path.join(_refresh_root(sf_dir), "shards")
    # O(files) change detection: the no-change day's skip decision reads
    # the INPUT's listing metadata, never the data (the content-signature
    # fallback would re-execute the whole pipeline lineage just to decide
    # to skip — the round-10 10x probe measured that at 2.4 s vs the
    # token path's listing stat)
    from funnel_report_etl_pipeline__spark.sources.sinks import listing_token

    token = listing_token(f"{sf_dir}/documents.parquet")
    return ensure_training_shards(
        samp, out, n_shards=_REFRESH_N_SHARDS, id_col="doc_id", change_token=token
    )


# ---------------------------------------------------------------------------
# ANN recall audit: the tuning-evidence readout for the IVF family
# ---------------------------------------------------------------------------

_RECALL_K = 5


@register(
    "ann_recall_audit",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    med AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                  AS INT) AS cell,
             v AS mv
      FROM (SELECT vec_id, v FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
    ),
    csims AS (
      SELECT e.vec_id AS id, m.cell,
             list_dot_product(v, mv)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(mv, mv)))
               AS csim
      FROM e, med m
    ),
    ranked AS (
      SELECT id, cell,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cell ASC) AS r
      FROM csims
    ),
    c_cell AS (SELECT id AS cid, cell FROM ranked WHERE r = 1),
    q_cell AS (SELECT id AS qid, cell FROM ranked WHERE r <= 2 AND id < 10),
    iscored AS (
      SELECT q.qid, c.cid,
             list_dot_product(qe.v, ce.v)
               / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v)))
               AS cosine
      FROM q_cell q
      JOIN c_cell c USING (cell)
      JOIN e qe ON qe.vec_id = q.qid
      JOIN e ce ON ce.vec_id = c.cid
      WHERE q.qid <> c.cid
    ),
    ivf AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rnk
        FROM iscored
      ) t WHERE rnk <= {_RECALL_K}
    ),
    bscored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               AS cosine
      FROM e q, e c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    brute AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rnk
        FROM bscored
      ) t WHERE rnk <= {_RECALL_K}
    )
    SELECT b.qid,
           CAST(COUNT(i.cid) AS BIGINT) AS n_hits,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.cid = i.cid
    GROUP BY b.qid
    """,
    tags=("pipeline-r10", "similarity", "ann", "audit"),
    bench=True,
)
def ann_recall_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the production IVF shape (16 medoid cells, 2-probe)
    against the exact brute-force top-5, per query vector — the
    operator's tuning evidence AS A QUERY, so index-parameter recall
    (n_cells/n_probe trade-off) is value-hash-verified and re-measured
    at every gate, not just asserted once in pytest. All outputs are
    integers (hit counts), so the audit is bit-exact on any engine.
    Scale shape: the brute side is the calibration yardstick over the
    BOUNDED query set (10 vectors — brute cost is |Q|·corpus, not
    corpus²); at 100 TB the audit runs on a held-out query sample, the
    same way recall is measured on a real index."""
    from funnel_report_etl_pipeline__spark.operators.similarity import (
        cosine_topk_brute,
        cosine_topk_ivf_medoid,
    )

    emb = catalog_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = cosine_topk_brute(emb, q, k=_RECALL_K).select("qid", "cid")
    ivf = cosine_topk_ivf_medoid(
        emb, q, k=_RECALL_K, n_cells=16, n_probe=2
    ).select("qid", F.col("cid").alias("icid"))
    joined = brute.join(
        ivf,
        (brute.qid == ivf.qid) & (brute.cid == ivf.icid),
        "left",
    )
    return (
        joined.groupBy(brute.qid.alias("qid"))
        .agg(
            F.count("icid").cast("long").alias("n_hits"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )


# ---------------------------------------------------------------------------
# OOV rate by source: vocabulary-coverage audit for tokenizer/corpus fit
# ---------------------------------------------------------------------------

_OOV_VOCAB_SIZE = 16


@register(
    "oov_rate_by_source",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok ASC LIMIT {_OOV_VOCAB_SIZE}
      )
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
           CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) * 1000000 AS BIGINT)
             // COUNT(*) AS oov_ppm
    FROM toks t LEFT JOIN vocab v USING (tok)
    GROUP BY source
    """,
    tags=("pipeline-r10", "text", "vocabulary"),
    bench=True,
)
def oov_rate_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus' own top-16
    token vocabulary — the coverage audit run before committing a
    tokenizer/vocab to a data mixture (a source with a high OOV rate
    under the candidate vocab will fragment into long byte-fallback
    sequences and eat the token budget). Integer outputs only: counts
    and ppm via integer division (Spark `div` ≙ DuckDB `//`), so the
    rates are bit-exact. Scale shape: one token explode; the vocab is a
    token-grain count capped by TakeOrderedAndProject (per-partition
    bounded heaps, broadcast after — never a corpus-grain sort); the
    coverage pass re-aggregates per (source), all map-side combinable."""
    docs = catalog_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(_OOV_VOCAB_SIZE)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    n_oov = F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).cast("long")
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            n_oov.alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * 1000000) div n_tokens").alias("oov_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed serving: the billion-scale shape, from both saved indexes
# ---------------------------------------------------------------------------


def _ivfpq_oracle(
    n_segments: int = 8,
    seg_dim: int = 8,
    n_codes: int = 16,
    n_cells: int = 16,
    n_probe: int = 2,
    k: int = 5,
) -> str:
    """Composes the IVF oracle's cell CTEs with the PQ oracle's
    encode/ADC CTEs (same fixed left-associated distance strings as
    pipeline_r5._pq_oracle, so the double addition order matches the
    Spark expression tree term for term)."""

    def dist(vcol: str) -> str:
        terms = [
            f"(({vcol}[s*{seg_dim}+{j}]-av[s*{seg_dim}+{j}])"
            f"*({vcol}[s*{seg_dim}+{j}]-av[s*{seg_dim}+{j}]))"
            for j in range(1, seg_dim + 1)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = f"({out}+{t})"
        return out

    piv = ", ".join(
        f"SUM(CASE WHEN enc.s={s} THEN dist END) AS d{s}" for s in range(n_segments)
    )
    ssum = "d0"
    for s in range(1, n_segments):
        ssum = f"({ssum}+d{s})"
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    med AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                  AS INT) AS cell,
             v AS mv
      FROM (SELECT vec_id, v FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cells})
    ),
    csims AS (
      SELECT e.vec_id AS id, m.cell,
             list_dot_product(v, mv)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(mv, mv)))
               AS csim
      FROM e, med m
    ),
    cranked AS (
      SELECT id, cell,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cell ASC) AS r
      FROM csims
    ),
    c_cell AS (SELECT id AS cid, cell FROM cranked WHERE r = 1),
    q_cell AS (SELECT id AS qid, cell FROM cranked
               WHERE r <= {n_probe} AND id % 100 = 0),
    a AS (
      SELECT code, av FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                 - 1 AS code,
               v AS av
        FROM e
      ) t WHERE code < {n_codes}
    ),
    seg AS (SELECT unnest(range(0, {n_segments})) AS s),
    enc AS (
      SELECT cid, s, code FROM (
        SELECT c.vec_id AS cid, seg.s, a.code,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id, seg.s
                                  ORDER BY {dist('c.v')}, a.code) AS rn
        FROM e c, a, seg
      ) t WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id AS qid, seg.s, a.code, {dist('q.v')} AS dist
      FROM e q, a, seg WHERE q.vec_id % 100 = 0
    ),
    cand AS (
      SELECT q.qid, c.cid FROM q_cell q JOIN c_cell c USING (cell)
      WHERE q.qid <> c.cid
    ),
    piv AS (
      SELECT cand.qid, cand.cid, {piv}
      FROM cand
      JOIN enc ON enc.cid = cand.cid
      JOIN adc ON adc.qid = cand.qid AND adc.s = enc.s AND adc.code = enc.code
      GROUP BY cand.qid, cand.cid
    )
    SELECT qid, cid, adc_dist, rnk FROM (
      SELECT qid, cid, {ssum} AS adc_dist,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY {ssum}, cid) AS BIGINT) AS rnk
      FROM piv
    ) r WHERE rnk <= {k}
    """


def _ivfpq_rerank_oracle(m: int = 20, k: int = 5) -> str:
    """IVF-PQ candidates (ADC top-m) re-ranked by EXACT cosine — the
    composed oracle wraps the ivfpq body's CTE chain (the ADC ranking
    becomes an inner table) and ranks the survivors by the brute-verified
    dot-product form."""
    inner = _ivfpq_oracle(k=m).strip()
    assert inner.startswith("WITH ")
    ctes = inner[len("WITH "):inner.rindex("SELECT qid, cid, adc_dist")].rstrip()
    final = inner[inner.rindex("SELECT qid, cid, adc_dist"):]
    return f"""
    WITH {ctes},
    cand_m AS ({final}),
    rer AS (
      SELECT cand_m.qid, cand_m.cid,
             list_dot_product(qe.v, ce.v)
               / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v)))
               AS cosine
      FROM cand_m
      JOIN e qe ON qe.vec_id = cand_m.qid
      JOIN e ce ON ce.vec_id = cand_m.cid
    )
    SELECT qid, cid, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, cid ASC) AS BIGINT) AS rnk
      FROM rer
    ) t WHERE rnk <= {k}
    """


@register(
    "ann_ivfpq_prebuilt",
    oracle=_ivfpq_oracle(),
    tags=("pipeline-r10", "similarity", "ann", "index"),
    bench=True,
)
def ann_ivfpq_prebuilt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ served from BOTH saved artifacts (operators/ann_index.py::
    ivfpq_topk_prebuilt): candidates come from the saved IVF assignments
    (each query probes 2 of 16 cells), scores from the saved PQ codes via
    the query-side ADC table — compute ∝ |Q|·corpus·n_probe/n_cells at
    n_segments bytes/vector, the composition real billion-vector serving
    runs. The 10× probe: the full-ADC `ann_pq_prebuilt` was 17.3 s warm;
    this shape restricts the same scoring to probed cells. Corpus raw
    vectors are never read at serve time."""
    from funnel_report_etl_pipeline__spark.operators.ann_index import (
        ensure_ivf_medoid_index,
        ensure_pq_index,
        ivfpq_topk_prebuilt,
    )

    emb = catalog_table(spark, sf_dir, "embeddings")
    ivf_dir = os.path.join(_index_root(sf_dir), "ivf16")
    pq_dir = os.path.join(_index_root(sf_dir), "pq8x16")
    ensure_ivf_medoid_index(emb, ivf_dir, n_cells=16)
    ensure_pq_index(emb, pq_dir, n_segments=8, seg_dim=8, n_codes=16)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ivfpq_topk_prebuilt(
        queries, ivf_dir, pq_dir, k=5, n_probe=2, n_segments=8, seg_dim=8
    )


# ---------------------------------------------------------------------------
# Z-order layout: the multi-dimensional clustering curve, value-verified
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from funnel_report_etl_pipeline__spark.sources.layout import zorder_key_sql

    z = zorder_key_sql(
        [
            "greatest(0, datediff('day', TIMESTAMP '1992-01-01', o_orderdate))",
            "o_custkey",
        ],
        16,
    )
    return f"""
    WITH z AS (
      SELECT o_orderkey, {z} AS zval FROM orders
    )
    SELECT CAST(zval // 1048576 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(zval) AS BIGINT) AS z_min,
           CAST(MAX(zval) AS BIGINT) AS z_max,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey
    FROM z GROUP BY z_bucket
    """


@register(
    "zorder_curve",
    oracle=_zorder_oracle(),
    tags=("pipeline-r10", "layout", "zorder"),
    bench=True,
)
def zorder_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order curve values over (o_custkey, order-day) bucketed
    into 2^20-wide readout cells — the bit-interleave behind
    `write_zordered` (sources/layout.py, the round-8 k-column Morton
    layout), verified value-exact against the identical DuckDB
    arithmetic (`zorder_key_sql`). The curve is what makes BOTH filter
    dimensions prune after one layout write: each output file holds a
    rectangle of the (custkey, day) plane instead of a stripe. The
    layout payoff itself is measured from parquet footers in
    tests/test_layout.py (synthetic grid boxes) and
    tests/test_layout_zorder.py (real orders data vs a single-key sort:
    per-file ranges shrink on both dimensions; point filters straddle
    fewer files). Scan-side expression only — zero exchanges before the
    bucket aggregate. The day dimension is anchored at 1992-01-01 (below
    TPC-H's earliest order date) AND clamped non-negative on both sides:
    zorder_key's interleave sign-extends negative inputs, so a pre-epoch
    date would flip every key bit and diverge from the BIGINT oracle
    arithmetic (round-10 advice — the non-negative precondition is now
    documented in zorder_key itself). No min/max stats CTE needed: the
    guarded day and o_custkey are small non-negative ints."""
    from funnel_report_etl_pipeline__spark.sources.layout import zorder_key

    o = catalog_table(spark, sf_dir, "orders")
    day = F.greatest(
        F.lit(0),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("timestamp")),
    ).cast("long")
    z = zorder_key([day, F.col("o_custkey")], bits=16).cast("long")
    return (
        o.select("o_orderkey", z.alias("zval"))
        .groupBy(F.expr("zval div 1048576").alias("z_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("zval").cast("long").alias("z_min"),
            F.max("zval").cast("long").alias("z_max"),
            F.min("o_orderkey").cast("long").alias("min_orderkey"),
        )
    )


@register(
    "ann_ivfpq_rerank",
    oracle=_ivfpq_rerank_oracle(),
    tags=("pipeline-r10", "similarity", "ann", "index"),
    bench=True,
)
def ann_ivfpq_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete billion-scale serving recipe from the saved
    artifacts: IVF cells (2/16 probed) restrict, PQ ADC ranks the
    candidates to a top-20 shortlist, exact cosine re-ranks the
    shortlist to the final top-5 — raw corpus vectors are read for
    |Q|·20 rows only (the candidate-id join), so exact answer quality
    costs a bounded lookup instead of a corpus scan. Composes
    `ann_ivfpq_prebuilt`'s oracle with the brute-verified cosine form;
    rerank-subset and quality properties pinned in pytest."""
    from funnel_report_etl_pipeline__spark.operators.ann_index import (
        ensure_ivf_medoid_index,
        ensure_pq_index,
        ivfpq_rerank_topk_prebuilt,
    )

    emb = catalog_table(spark, sf_dir, "embeddings")
    ivf_dir = os.path.join(_index_root(sf_dir), "ivf16")
    pq_dir = os.path.join(_index_root(sf_dir), "pq8x16")
    ensure_ivf_medoid_index(emb, ivf_dir, n_cells=16)
    ensure_pq_index(emb, pq_dir, n_segments=8, seg_dim=8, n_codes=16)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ivfpq_rerank_topk_prebuilt(
        emb, queries, ivf_dir, pq_dir, k=5, m=20, n_probe=2
    )


# ---------------------------------------------------------------------------
# Matryoshka-style dimension-truncation fidelity audit
# ---------------------------------------------------------------------------

_TRUNC_DIM = 32
_FID_K = 5


@register(
    "dim_truncation_fidelity",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             (embedding::DOUBLE[])[1:{_TRUNC_DIM}] AS vt
      FROM embeddings
    ),
    fullsc AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               AS cosine
      FROM e q, e c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    fulltop AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rnk
        FROM fullsc
      ) t WHERE rnk <= {_FID_K}
    ),
    trsc AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_dot_product(q.vt, c.vt)
               / (sqrt(list_dot_product(q.vt, q.vt)) * sqrt(list_dot_product(c.vt, c.vt)))
               AS cosine
      FROM e q, e c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    trtop AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rnk
        FROM trsc
      ) t WHERE rnk <= {_FID_K}
    )
    SELECT f.qid,
           CAST(COUNT(t.cid) AS BIGINT) AS n_kept,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM fulltop f LEFT JOIN trtop t ON f.qid = t.qid AND f.cid = t.cid
    GROUP BY f.qid
    """,
    tags=("pipeline-r10", "similarity", "embedding", "audit"),
    bench=True,
)
def dim_truncation_fidelity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: how much of the exact top-5
    survives when cosine runs on only the first {dim} of 64 embedding
    dimensions — the question behind shipping truncated (MRL) embeddings
    to cut index memory D/d-fold. Per query: overlap count between the
    full-dimension top-5 and the truncated top-5 (integer outputs,
    bit-exact; the fixed left-fold dot products are the
    similarity_topk_brute-verified form on both engines). Scale shape:
    both rankings are scan-side dot products against the broadcast
    10-query set — |Q|·corpus, the same calibration-yardstick class as
    `ann_recall_audit`; at 100 TB it runs on a held-out sample."""
    from funnel_report_etl_pipeline__spark.operators.similarity import (
        cosine_topk_brute,
    )

    emb = catalog_table(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, _TRUNC_DIM).alias("embedding")
    )
    q_full = emb.filter(F.col("vec_id") < 10)
    q_tr = trunc.filter(F.col("vec_id") < 10)
    fulltop = cosine_topk_brute(emb, q_full, k=_FID_K).select("qid", "cid")
    trtop = cosine_topk_brute(trunc, q_tr, k=_FID_K).select(
        "qid", F.col("cid").alias("tcid")
    )
    joined = fulltop.join(
        trtop, (fulltop.qid == trtop.qid) & (fulltop.cid == trtop.tcid), "left"
    )
    return (
        joined.groupBy(fulltop.qid.alias("qid"))
        .agg(
            F.count("tcid").cast("long").alias("n_kept"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )


# ---------------------------------------------------------------------------
# Versioned table / time travel: the commit log as a verified query
# ---------------------------------------------------------------------------


def _versioned_root(sf_dir: str) -> str:
    base = os.environ.get("SPARK_GRAFT_VERSIONED_DIR", "/tmp/spark_graft_versioned")
    return os.path.join(base, os.path.basename(sf_dir.rstrip("/")))


def _versioned_oracle() -> str:
    from funnel_report_etl_pipeline__spark.operators.text import STOPWORDS

    ck = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    return f"""
    WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
    kept AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_intersect(list_distinct(string_split(text, ' ')),
                   {list(STOPWORDS)!r})) AS n_stop,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents WHERE doc_id % 3 <> 0
      ) t
      WHERE n_tokens BETWEEN 10 AND 1000
        AND CAST(n_stop AS DOUBLE) / n_distinct > 0
    ),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM kept),
    v3 AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM v2
      ) t WHERE rn = 1
    )
    SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
           CAST(SUM({ck}) AS BIGINT) AS content_checksum FROM v1
    UNION ALL
    SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM({ck}) AS BIGINT) FROM v2
    UNION ALL
    SELECT CAST(3 AS BIGINT), COUNT(*), CAST(SUM({ck}) AS BIGINT) FROM v3
    """


def _ensure_version_history(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (idempotently) the deterministic 3-version documents
    history shared by the time-travel queries; returns the table dir.

    Concurrency-safe the same way the ANN index installer is (the
    round-10 sf0.1 parallel sweep raced TWO gate shards into this build
    and one read a half-built history): the three versions are written
    into a per-pid temp table and installed by atomic rename — a loser
    whose winner is current discards its identical deterministic build;
    a stale table (changed corpus) is swapped out."""
    import shutil

    from funnel_report_etl_pipeline__spark.operators.dedup import exact_dedup
    from funnel_report_etl_pipeline__spark.operators.text import quality_keep_expr
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        read_versioned,
        table_versions,
        write_versioned,
    )

    docs = catalog_table(spark, sf_dir, "documents").select("doc_id", "text")
    table = os.path.join(_versioned_root(sf_dir), "docs_table")
    v1 = docs.filter(F.col("doc_id") % 3 == 0)

    def is_current(path: str) -> bool:
        if table_versions(spark, path) != [1, 2, 3]:
            return False
        committed = [r for r in _manifest_rows(spark, path) if r["version"] == 1]
        if not committed:
            return False
        # content signature, not just count: a regenerated corpus with the
        # same number of doc_id%3==0 rows but different ids must rebuild
        # (round-10 advice — same rule as the ANN ensure_* paths)
        from funnel_report_etl_pipeline__spark.operators.ann_index import (
            corpus_signature,
        )

        n, sig = corpus_signature(v1, "doc_id")
        return (
            committed[0]["n_rows"] == n and committed[0]["content_checksum"] == sig
        )

    if is_current(table):
        return table
    tmp = f"{table}.build.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_versioned(v1, tmp, id_col="doc_id")
    kept = docs.filter(F.col("doc_id") % 3 != 0).filter(quality_keep_expr("text"))
    v2 = v1.unionByName(kept)
    write_versioned(v2, tmp, id_col="doc_id")
    v2_back = read_versioned(spark, tmp, 2)
    v3 = exact_dedup(v2_back, "text", "doc_id").select("doc_id")
    write_versioned(v3, tmp, id_col="doc_id")
    try:
        os.rename(tmp, table)
        return table
    except OSError:
        pass
    if is_current(table):  # concurrent identical builder won
        shutil.rmtree(tmp, ignore_errors=True)
        return table
    old = f"{table}.old.{os.getpid()}"
    os.rename(table, old)
    os.rename(tmp, table)
    shutil.rmtree(old, ignore_errors=True)
    return table


@register(
    "versioned_snapshot_manifest",
    oracle=_versioned_oracle(),
    tags=("pipeline-r10", "etl", "versioning", "time-travel"),
    bench=True,
)
def versioned_snapshot_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal Delta/Iceberg-style snapshot versioning over plain parquet
    (sources/sinks.py: data rename THEN commit manifest — readers list
    manifests, so crashed writes are invisible orphans, and any committed
    version is time-travel-readable forever). This query materializes a
    deterministic 3-version history of the documents corpus — v1 the
    snapshot day, v2 snapshot + quality-kept new docs, v3 the exact-
    deduped curation of v2 — and returns the COMMIT LOG (version,
    n_rows, order-independent id checksum), so the protocol's bookkeeping
    itself is value-hash verified. Idempotent: an existing history whose
    v1 row still matches the current snapshot is served as-is; a changed
    corpus rebuilds from scratch. Time-travel/rollback/orphan semantics
    are pinned in tests/test_versioned.py."""
    from funnel_report_etl_pipeline__spark.sources.sinks import version_manifest

    table = _ensure_version_history(spark, sf_dir)
    # project the protocol-stable readout: v2 manifests carry extra
    # bookkeeping columns (kind/data_dir/batch_id/n_delta) whose values
    # are run-specific (uuid dir names) — the oracle-covered contract is
    # the (version, n_rows, content_checksum) commit log
    return (
        version_manifest(spark, table)
        .select("version", "n_rows", "content_checksum")
        .orderBy("version")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental dedup: the snapshot-outgrows-the-shuffle form
# ---------------------------------------------------------------------------


@register(
    "incremental_dedup_bloom",
    oracle="""
    WITH seen AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0
    ),
    new_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0)
    SELECT n.doc_id
    FROM new_docs n LEFT JOIN seen s ON md5(n.text) = s.h
    WHERE s.h IS NULL
    """,
    tags=("pipeline-r10", "dedup", "incremental", "runtime-filter"),
    bench=True,
)
def incremental_dedup_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`incremental_dedup` in the form its own docstring promises for
    when the prior snapshot outgrows a shuffle: the snapshot's text
    hashes fold into a 128 KiB bloom mask (pipeline_r8.bloom_mask —
    m-bounded regardless of snapshot size), broadcast once. New docs
    whose probe bits are NOT all set are DEFINITELY unseen and pass
    straight through with zero join work; only bloom-positive candidates
    (true dupes + the FP tail) take the exact anti-join, so the
    shuffle's probe side shrinks from the whole crawl to the candidate
    set. Bloom false positives are invisible to the result (the exact
    anti-join still decides them) — the oracle is the PLAIN anti-join,
    identical to `incremental_dedup`'s, and the green hash row proves
    the two-path split lossless. Equality with the sibling and the
    actual prune ratio are additionally pinned in pytest."""
    from funnel_report_etl_pipeline__spark.plans.pipeline_r8 import (
        bloom_mask,
        bloom_member_cond,
    )

    docs = catalog_table(spark, sf_dir, "documents")
    seen = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("__h"))
        .distinct()
    )
    mask = bloom_mask(seen, "__h")
    new = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select("doc_id", F.md5("text").alias("__h"))
        .crossJoin(F.broadcast(mask))
    )
    member = bloom_member_cond("__h")
    definite_new = new.filter(~member).select("doc_id")
    survivors = (
        new.filter(member)
        .drop("__mask")
        .join(seen, "__h", "left_anti")
        .select("doc_id")
    )
    return definite_new.unionByName(survivors)


@register(
    "versioned_diff_feed",
    oracle=f"""
    WITH v1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
    kept AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_intersect(list_distinct(string_split(text, ' ')),
                   {['the', 'a', 'and', 'of', 'to', 'in', 'is', 'it']})) AS n_stop,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents WHERE doc_id % 3 <> 0
      ) t
      WHERE n_tokens BETWEEN 10 AND 1000
        AND CAST(n_stop AS DOUBLE) / n_distinct > 0
    ),
    v2 AS (SELECT doc_id FROM v1 UNION ALL SELECT doc_id FROM kept),
    v2t AS (SELECT d.doc_id, d.text FROM documents d JOIN v2 USING (doc_id)),
    v3 AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM v2t
      ) t WHERE rn = 1
    )
    SELECT CAST(1 AS BIGINT) AS from_version, CAST(2 AS BIGINT) AS to_version,
           CAST((SELECT COUNT(*) FROM (SELECT doc_id FROM v2 EXCEPT SELECT doc_id FROM v1)) AS BIGINT) AS n_added,
           CAST((SELECT COUNT(*) FROM (SELECT doc_id FROM v1 EXCEPT SELECT doc_id FROM v2)) AS BIGINT) AS n_removed
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT),
           CAST((SELECT COUNT(*) FROM (SELECT doc_id FROM v3 EXCEPT SELECT doc_id FROM v2)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM (SELECT doc_id FROM v2 EXCEPT SELECT doc_id FROM v3)) AS BIGINT)
    """,
    tags=("pipeline-r10", "etl", "versioning", "cdc"),
    bench=True,
)
def versioned_diff_feed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data feed over the versioned table: per consecutive
    snapshot pair, how many ids were added and removed — the readout an
    incremental CONSUMER uses to process only what changed between
    versions instead of re-reading snapshots (the versioned-table
    counterpart of `snapshot_diff`'s CDC on mutable rows). Computed
    straight off the committed snapshots with id-key anti-joins (only
    ids shuffle, never payloads) assembled into ONE distributed plan —
    per pair, the two 1-row anti-join counts combine via the sanctioned
    scalar-aggregate cross join (J1), no driver-side collect anywhere;
    the deterministic 3-version history makes the feed fully
    value-hash-verifiable."""
    from funnel_report_etl_pipeline__spark.sources.sinks import read_versioned

    table = _ensure_version_history(spark, sf_dir)

    def pair(a: int, b: int) -> DataFrame:
        va = read_versioned(spark, table, a).select("doc_id")
        vb = read_versioned(spark, table, b).select("doc_id")
        added = vb.join(va, "doc_id", "left_anti").agg(
            F.count("*").cast("long").alias("n_added")
        )
        removed = va.join(vb, "doc_id", "left_anti").agg(
            F.count("*").cast("long").alias("n_removed")
        )
        return (
            added.crossJoin(F.broadcast(removed))  # 1-row x 1-row (J1)
            .select(
                F.lit(a).cast("long").alias("from_version"),
                F.lit(b).cast("long").alias("to_version"),
                "n_added",
                "n_removed",
            )
        )

    return pair(1, 2).unionByName(pair(2, 3))
