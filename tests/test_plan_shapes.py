"""Physical-plan regression tests: the PLANS.md claims, executable.

These lock in the plan shapes that matter at 100 TB — if a refactor
reintroduces a shuffle, loses pushdown, or drops a group-limit, these fail
even though results stay correct.
"""

from __future__ import annotations

import os

import pytest

from funnel_report_etl_pipeline__spark.plans.registry import load_all

from .conftest import SF_MED, SF_SMALL, codegen_compiles, py4j_round_trips

SPECS = load_all()


def plan_of(spark, name: str) -> str:
    return SPECS[name].fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()


def test_scan_filter_pushdown(spark):
    p = plan_of(spark, "scan_filter_eq")
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]" in p
    # column pruning: the untouched payload column never leaves the scan
    assert "ts" not in p.split("ReadSchema")[1].splitlines()[0]


def test_pricing_summary_partial_final_agg(spark):
    p = plan_of(spark, "pricing_summary")
    assert "partial_sum" in p  # map-side combine
    assert p.count("Exchange hashpartitioning") == 1  # one shuffle only


def test_topk_uses_take_ordered(spark):
    p = plan_of(spark, "topk_orders")
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p  # no shuffle for global top-k


def test_window_rank_group_limit_below_shuffle(spark):
    p = plan_of(spark, "window_rank")
    assert p.count("WindowGroupLimit") == 2  # partial (map-side) + final


def test_broadcast_dims_never_shuffle_fact(spark):
    p = plan_of(spark, "join_broadcast_dims")
    assert p.count("BroadcastHashJoin") == 2
    assert "Exchange hashpartitioning(c_nationkey" not in p
    assert "Exchange hashpartitioning(n_regionkey" not in p


def test_event_funnel_single_fact_shuffle(spark):
    p = plan_of(spark, "event_funnel_users")
    # one user_id exchange for the fold; the only other is the 1-row final
    assert p.count("Exchange hashpartitioning(user_id") == 1


def test_entity_funnel_one_shuffle_no_join(spark):
    """The per-entity report is one union-all aggregate: one hash exchange
    with partial aggregation below it, no entity spine and no joins."""
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics
    from funnel_report_etl_pipeline__spark.sources.mock import mock_funnel_frames

    df = entity_funnel_metrics(*mock_funnel_frames(spark))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in p
    assert "Join" not in p


def _jobs_under_group(spark, group: str, fn):
    """Run ``fn()`` under Spark job group ``group``; returns (result,
    number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_entity_funnel_collect_job_budget(spark):
    """Per-operator job budget: collecting the all-entity metrics runs at
    most 2 Spark jobs, the map stage of its one exchange and the result
    stage."""
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics
    from funnel_report_etl_pipeline__spark.sources.mock import mock_funnel_frames

    df = entity_funnel_metrics(*mock_funnel_frames(spark))
    rows, jobs = _jobs_under_group(spark, "test_entity_funnel_collect_job_budget", df.collect)
    assert len(rows) == 2
    assert 1 <= jobs <= 2, f"{jobs} jobs"


# py4j round trips per plan build, counted on a second build (catalog
# warm). The report-path plans are built from SQL expression strings; under
# PySpark 4 every Column method or F.col call costs ~10-13 round trips.
# Measured builds: entity funnel 177, the four funnel registry queries
# 22 / 26 / 26 / 75; their Column-API forms took 1,420 and 861 / 529 /
# 842 / 384.
ENTITY_FUNNEL_PY4J_BUDGET = 200
FUNNEL_QUERY_PY4J_BUDGET = {
    "funnel_waterfall": 40,
    "event_funnel_users": 40,
    "event_funnel_windowed": 40,
    "event_path_topk": 100,
}


def test_entity_funnel_build_py4j_budget(spark):
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics
    from funnel_report_etl_pipeline__spark.sources.mock import mock_funnel_frames

    frames = mock_funnel_frames(spark)
    entity_funnel_metrics(*frames)
    _, sent = py4j_round_trips(spark, lambda: entity_funnel_metrics(*frames))
    assert sent <= ENTITY_FUNNEL_PY4J_BUDGET, f"{sent} py4j round trips"


@pytest.mark.parametrize("name", sorted(FUNNEL_QUERY_PY4J_BUDGET))
def test_funnel_query_build_py4j_budget(spark, name):
    build = SPECS[name].fn
    build(spark, SF_SMALL)
    _, sent = py4j_round_trips(spark, lambda: build(spark, SF_SMALL))
    assert sent <= FUNNEL_QUERY_PY4J_BUDGET[name], f"{sent} py4j round trips"


# py4j round trips of the corpus path's other builders, counted the same
# way. The MinHash family, the cosine helpers and the IVF serve path are
# built from SQL strings (tests/test_sql_builders.py pins them to their
# Column-API forms). Measured: dedup_minhash_lsh 368 (Column API 3,936, 32
# min-aggregates of ~6 Column calls each), IVF ensure of a current index
# plus its top-k query 130 (1,209).
DEDUP_MINHASH_PY4J_BUDGET = 400
IVF_SERVE_PY4J_BUDGET = 150


def test_dedup_minhash_lsh_build_py4j_budget(spark):
    build = SPECS["dedup_minhash_lsh"].fn
    build(spark, SF_SMALL)
    _, sent = py4j_round_trips(spark, lambda: build(spark, SF_SMALL))
    assert sent <= DEDUP_MINHASH_PY4J_BUDGET, f"{sent} py4j round trips"


def test_ivf_ensure_and_query_build_py4j_budget(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.operators import ann_index

    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    queries = emb.filter("vec_id % 97 = 0")
    idx = str(tmp_path / "ivf8")

    def serve():
        ann_index.ensure_ivf_medoid_index(emb, idx, n_cells=8)
        return ann_index.cosine_topk_ivf_prebuilt(emb, queries, idx, k=5, n_probe=2)

    serve()
    _, sent = py4j_round_trips(spark, serve)
    assert sent <= IVF_SERVE_PY4J_BUDGET, f"{sent} py4j round trips"


def test_warm_rerun_compiles_nothing(spark):
    """Spark's generated-class cache holds the engine's working set: ~150
    distinct plans (each literal is inlined into its class, so every plan
    compiles its own), run twice, compile nothing the second time. Under
    the default cache of 100 entries the second run recompiled them."""
    from funnel_report_etl_pipeline__spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    plans = [
        spark.range(4).selectExpr(f"id * {i} + {i % 7} AS x").filter(f"x <> {i + 1}")
        for i in range(150)
    ]

    def run_all():
        return [p.collect() for p in plans]

    first, compiled = codegen_compiles(spark, run_all)
    assert compiled >= 150, f"{compiled} classes: the plans do not compile distinct classes"
    second, recompiled = codegen_compiles(spark, run_all)
    assert second == first
    assert recompiled == 0, f"{recompiled} classes recompiled on the warm re-run"


def test_event_path_topk_build_runs_no_spark_job(spark):
    """Tables come from the shared catalog, so building a plan infers no
    parquet schema (a direct spark.read.parquet ran one job per table per
    build). Also pinned for one pipeline_r6 and one pipeline_r8 query whose
    builds do no other driver-side work (3 and 2 jobs per build before)."""
    for name in ("event_path_topk", "shipping_priority_topk", "small_quantity_revenue"):
        build = SPECS[name].fn
        build(spark, SF_SMALL)
        _, jobs = _jobs_under_group(
            spark, f"test_event_path_topk_build_runs_no_spark_job:{name}",
            lambda: build(spark, SF_SMALL),
        )
        assert jobs == 0, f"{name}: {jobs} jobs"


def _snapshot_and_merge_source(spark):
    """A 200-row snapshot and a 30-row MERGE source, 10 of its ids
    matched."""
    from pyspark.sql import functions as F

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id").cast("string")).alias("text")
    )
    src = spark.range(190, 220).select(F.col("id").alias("doc_id"), F.lit("new").alias("text"))
    return docs, src


def test_cas_commit_manifest_runs_no_spark_job(spark, tmp_path):
    """The commit CAS reads its predecessor manifest and writes the new
    one locally: zero Spark jobs (Spark's writer ran ~3 for the 1-row
    manifest plus a mergeSchema read and a collect for the predecessor)."""
    from funnel_report_etl_pipeline__spark.sources import sinks

    t = str(tmp_path / "cas")
    sinks.write_versioned(spark.range(10).selectExpr("id AS doc_id"), t, id_col="doc_id")
    (rel,) = [d for d in os.listdir(t) if d.startswith("d-")]

    def commit():
        return sinks._cas_commit_manifest(
            spark, t, "tok", lambda prev: (int(prev["n_rows"]), int(prev["content_checksum"])),
            "delta", rel, 0, 5, {"n_src": 1}, expect_latest=1,
        )

    v, jobs = _jobs_under_group(spark, "test_cas_commit_manifest_runs_no_spark_job", commit)
    assert v == 2 and sinks.table_versions(spark, t) == [1, 2]
    head = sinks._manifest_rows(spark, t)[-1]
    assert (head["n_rows"], head["batch_id"], head["n_src"]) == (10, 5, 1)
    assert jobs == 0, f"{jobs} jobs"


def test_versioned_commit_job_budgets(spark, tmp_path):
    """Spark job budgets of one MERGE cycle on a versioned table, as the
    corpus_versioned benchmark runs it (snapshot head, MERGE, reads,
    compaction + vacuum). Measured counts at local[4], each lower than
    before commit bookkeeping went local and staged read-backs were
    footer-pinned: MERGE 8 (was 16), a read over the merge tombstone 2
    (was 3), the one-merge change feed 2 (was 6), compaction + vacuum
    4 (was 10)."""
    from funnel_report_etl_pipeline__spark.sources import sinks

    t = str(tmp_path / "budget")
    group = "test_versioned_commit_job_budgets"
    docs, src = _snapshot_and_merge_source(spark)
    v1 = sinks.write_versioned(docs, t, id_col="doc_id")
    v2, merge_jobs = _jobs_under_group(
        spark, f"{group}:merge", lambda: sinks.merge_versioned(spark, t, src, id_col="doc_id")
    )
    assert merge_jobs <= 8, f"merge_versioned ran {merge_jobs} jobs"

    rows, read_jobs = _jobs_under_group(
        spark, f"{group}:read", lambda: sinks.read_versioned(spark, t, v2).collect()
    )
    assert len(rows) == 220
    assert read_jobs <= 2, f"read_versioned ran {read_jobs} jobs"

    changes, cdf_jobs = _jobs_under_group(
        spark, f"{group}:changes",
        lambda: sinks.version_changes(spark, t, v1, v2, "doc_id").collect(),
    )
    assert sorted(r["doc_id"] for r in changes) == list(range(200, 220))
    assert cdf_jobs <= 2, f"version_changes ran {cdf_jobs} jobs"

    def maintain():
        v = sinks.compact_versioned(spark, t, "doc_id")
        sinks.vacuum_versioned(spark, t, retention_seconds=0)
        return v

    v3, maint_jobs = _jobs_under_group(spark, f"{group}:maintain", maintain)
    assert v3 == v2 + 1 and sinks.read_versioned(spark, t).count() == 220
    assert maint_jobs <= 4, f"compact + vacuum ran {maint_jobs} jobs"


@pytest.mark.parametrize("kind", ["delta", "tombstone", "merge", "empty"])
def test_one_commit_change_feed_job_budgets(spark, tmp_path, kind):
    """Collecting the change feed of a one-commit span — what the
    streaming change-feed consumer asks for at every commit — runs the
    span's own directories in a fixed number of Spark jobs, with and
    without detect_updates. A delta or a tombstone is one job: each row
    is its own insert or delete, no aggregate. A MERGE is the map stage
    of its net-multiplicity exchange plus the result (2), and 3 with
    detect_updates: its rewritten ids are its updates, with no candidate
    probe and no endpoint read (it ran 4 and 5 jobs when the one-merge
    span had its own branch). The empty span (from == to) runs none and
    keeps the feed's schema (it scanned the snapshot twice, 2 jobs)."""
    from funnel_report_etl_pipeline__spark.sources import sinks

    t = str(tmp_path / kind)
    docs, src = _snapshot_and_merge_source(spark)
    v1 = sinks.write_versioned(docs, t, id_col="doc_id")
    if kind == "delta":
        v2 = sinks.append_versioned(src.filter("doc_id >= 200"), t, id_col="doc_id")
        want = {(i, "insert") for i in range(200, 220)}
    elif kind == "tombstone":
        v2 = sinks.delete_versioned(spark, t, src.select("doc_id"), "doc_id")
        want = {(i, "delete") for i in range(190, 200)}
    elif kind == "merge":
        v2 = sinks.merge_versioned(spark, t, src, id_col="doc_id")
        want = {(i, "insert") for i in range(200, 220)}
    else:
        v2, want = v1, set()
    budgets = {"delta": (1, 1), "tombstone": (1, 1), "merge": (2, 3), "empty": (0, 0)}[kind]
    for du, budget in zip((False, True), budgets):
        feed = sinks.version_changes(spark, t, v1, v2, "doc_id", detect_updates=du)
        assert [(f.name, f.dataType.simpleString()) for f in feed.schema] == [
            ("doc_id", "bigint"), ("_change_type", "string")
        ]
        rows, jobs = _jobs_under_group(
            spark, f"test_one_commit_change_feed_job_budgets:{kind}:{du}",
            lambda: sinks.version_changes(spark, t, v1, v2, "doc_id", detect_updates=du).collect(),
        )
        updates = {(i, "update") for i in range(190, 200)} if du and kind == "merge" else set()
        assert sorted((r["doc_id"], r["_change_type"]) for r in rows) == sorted(want | updates)
        assert jobs <= budget, f"{kind} detect_updates={du}: {jobs} jobs"


def test_partitioned_span_change_feed_build_job_budget(spark, tmp_path):
    """Building the update-detecting change feed over a span of a delete,
    an append (re-adding some deleted ids) and a delete on a table
    partitioned by `lang` runs at most 14 Spark jobs (22 when each use of
    a span directory read it again and the tombstone scope check inferred
    its schema a second time)."""
    from funnel_report_etl_pipeline__spark.sources import sinks

    t = str(tmp_path / "span")
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    v1 = sinks.write_versioned(
        docs.filter("doc_id % 4 != 3"), t, id_col="doc_id", partition_by=["lang"]
    )
    sinks.delete_versioned(spark, t, docs.filter("doc_id % 10 = 0").select("doc_id"), "doc_id")
    sinks.append_versioned(docs.filter("doc_id % 4 = 3 OR doc_id % 20 = 0"), t, id_col="doc_id")
    v4 = sinks.delete_versioned(
        spark, t, docs.filter("doc_id % 10 = 5").select("doc_id"), "doc_id"
    )
    feed, jobs = _jobs_under_group(
        spark, "test_partitioned_span_change_feed_build_job_budget",
        lambda: sinks.version_changes(spark, t, v1, v4, "doc_id", detect_updates=True),
    )
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    want = sorted(
        [(i, "insert") for i in ids if i % 4 == 3 and i % 10 != 5]
        + [(i, "delete") for i in ids if i % 20 == 10 or (i % 10 == 5 and i % 4 != 3)]
    )
    assert sorted((r["doc_id"], r["_change_type"]) for r in feed.collect()) == want
    assert jobs <= 14, f"version_changes built in {jobs} jobs"


def _file_mtimes(root) -> dict:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(root)
        for f in files
    }


@pytest.mark.parametrize(
    "family", ["ivf", "ivf_versioned", "residual_versioned", "minhash_versioned"]
)
def test_current_index_ensure_runs_only_the_signature(spark, tmp_path, family):
    """An ensure_* on an up-to-date index runs the corpus signature's 2
    Spark jobs (its aggregate's map stage and result) and rewrites no
    file — the path every corpus_versioned pass and every daily job
    with nothing changed takes."""
    from functools import partial

    from funnel_report_etl_pipeline__spark.operators import ann_index, dedup_index
    from funnel_report_etl_pipeline__spark.sources import sinks

    idx, t = str(tmp_path / "idx"), str(tmp_path / "tbl")
    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    if family == "ivf":
        ensure = partial(ann_index.ensure_ivf_medoid_index, emb, idx, n_cells=8)
    elif family == "minhash_versioned":
        docs = spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
        sinks.write_versioned(docs.select("doc_id", "text"), t, id_col="doc_id")
        ensure = partial(dedup_index.ensure_minhash_index_versioned, spark, t, idx)
    else:
        sinks.write_versioned(emb, t, id_col="vec_id")
        ivf = str(tmp_path / "ivf")
        ann_index.ensure_ivf_index_versioned(spark, t, ivf, n_cells=8)
        ensure = (
            partial(ann_index.ensure_ivf_index_versioned, spark, t, ivf, n_cells=8)
            if family == "ivf_versioned"
            else partial(ann_index.ensure_ivfpq_residual_index_versioned, spark, t, idx, ivf)
        )
    ensure()
    before = _file_mtimes(tmp_path)
    meta, jobs = _jobs_under_group(
        spark, f"test_current_index_ensure_runs_only_the_signature:{family}", ensure
    )
    assert meta.get("maintenance", "current") == "current"
    assert jobs == 2, f"{family}: {jobs} jobs"
    assert _file_mtimes(tmp_path) == before, "a current ensure rewrote a file"


def test_index_meta_write_and_read_run_no_spark_job(spark, tmp_path):
    """An index or shard meta is written and read locally: zero Spark
    jobs (Spark's writer ran at least one for the 1-row table)."""
    from funnel_report_etl_pipeline__spark.sources import sinks

    path = str(tmp_path / "meta.parquet")
    meta = {"family": "ivf_medoid", "n_cells": 8, "corpus_sig": -42}

    def roundtrip():
        sinks._write_meta(path, meta)
        return sinks._read_meta(path)

    got, jobs = _jobs_under_group(spark, "test_index_meta_write_and_read_run_no_spark_job", roundtrip)
    assert got == {"family": "ivf_medoid", "n_cells": "8", "corpus_sig": "-42"}
    assert jobs == 0, f"{jobs} jobs"


# The commit log has one batch reader, local pyarrow: the budgets below
# are 0, where Spark's mergeSchema scan of the manifests ran 2 jobs for a
# version_manifest collect, 3 each for the stream and replication replay
# guards, and 2 to build an as-of-batch read (against 0 for read_versioned
# of the same version). Counted at local[4] on the 4-version table below.
def _stream_table(spark, t):
    """A 4-version table committed by the stream sink, batch ids 0-3."""
    from funnel_report_etl_pipeline__spark.streaming.funnel_stream import commit_stream_batch

    docs, _ = _snapshot_and_merge_source(spark)
    for b in range(4):
        assert commit_stream_batch(docs.filter(f"doc_id % 4 = {b}"), t, "doc_id", b)
    return docs


def test_version_manifest_collect_runs_no_spark_job(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.sources import sinks

    t = str(tmp_path / "stream")
    _stream_table(spark, t)
    rows, jobs = _jobs_under_group(
        spark, "test_version_manifest_collect_runs_no_spark_job",
        lambda: sinks.version_manifest(spark, t).collect(),
    )
    assert [r["batch_id"] for r in rows] == [0, 1, 2, 3]
    assert jobs == 0, f"{jobs} jobs"


def test_stream_replay_guard_runs_no_spark_job(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.sources import sinks
    from funnel_report_etl_pipeline__spark.streaming.funnel_stream import commit_stream_batch

    t = str(tmp_path / "stream")
    docs = _stream_table(spark, t)
    replayed, jobs = _jobs_under_group(
        spark, "test_stream_replay_guard_runs_no_spark_job",
        lambda: commit_stream_batch(docs, t, "doc_id", 2),
    )
    assert replayed is False and sinks.table_versions(spark, t) == [1, 2, 3, 4]
    assert jobs == 0, f"{jobs} jobs"


def test_read_as_of_batch_build_runs_no_more_jobs_than_read_versioned(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.sources import sinks

    t = str(tmp_path / "stream")
    _stream_table(spark, t)
    group = "test_read_as_of_batch_build_runs_no_more_jobs_than_read_versioned"
    _, as_of_jobs = _jobs_under_group(
        spark, f"{group}:as_of", lambda: sinks.read_versioned_as_of_batch(spark, t, 2)
    )
    _, read_jobs = _jobs_under_group(
        spark, f"{group}:read", lambda: sinks.read_versioned(spark, t, 3)
    )
    assert as_of_jobs <= read_jobs, f"{as_of_jobs} jobs against {read_jobs}"


def test_replication_replay_guard_runs_no_spark_job(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.sources import sinks
    from funnel_report_etl_pipeline__spark.streaming.funnel_stream import apply_replicated_commit

    t, rep = str(tmp_path / "stream"), str(tmp_path / "replica")
    _stream_table(spark, t)
    src_rows = sinks._manifest_rows(spark, t)
    for r in src_rows:
        assert apply_replicated_commit(spark, t, rep, r, "doc_id")
    again, jobs = _jobs_under_group(
        spark, "test_replication_replay_guard_runs_no_spark_job",
        lambda: apply_replicated_commit(spark, t, rep, src_rows[-1], "doc_id"),
    )
    assert again is False and sinks.table_versions(spark, rep) == [1, 2, 3, 4]
    assert jobs == 0, f"{jobs} jobs"


# Spark jobs run while building versioned_merge_audit (its versioned
# commits, reads and change feeds). Measured 53 at sf0.001 and sf0.01,
# local[4]; 66 when the commit log was read through Spark and each
# version's live and MERGED counts were two count() jobs.
MERGE_AUDIT_CONSTRUCT_JOB_BUDGET = 53


def test_versioned_merge_audit_construct_job_budget(spark):
    _, jobs = _jobs_under_group(
        spark, "test_versioned_merge_audit_construct_job_budget",
        lambda: SPECS["versioned_merge_audit"].fn(spark, SF_SMALL),
    )
    assert jobs <= MERGE_AUDIT_CONSTRUCT_JOB_BUDGET, f"{jobs} construct jobs"


def test_read_versioned_tombstone_side_has_no_aggregate_or_exchange(spark, tmp_path):
    """The tombstone side of the merge-on-read anti join is a bare scan:
    no distinct, so no HashAggregate and no hash exchange in the plan
    (an anti join does not depend on right-side multiplicity)."""
    from funnel_report_etl_pipeline__spark.sources import sinks

    t = str(tmp_path / "plan")
    docs, src = _snapshot_and_merge_source(spark)
    sinks.write_versioned(docs, t, id_col="doc_id")
    sinks.merge_versioned(spark, t, src, id_col="doc_id")
    p = sinks.read_versioned(spark, t)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in p
    assert "HashAggregate" not in p
    assert "Exchange hashpartitioning" not in p


PYTHON_PATH_EXCEPTIONS = {
    # the documented Arrow escape hatches — everything else must stay JVM-side
    "multimodal_meta",
    "multimodal_features",
    "arrow_udf_normalize",
    "grouped_arrow_stats",  # applyInPandas grouped map (FlatMapGroupsInPandas)
    # round-9 multimodal family: the media fingerprint/meta pass is the
    # sanctioned mapInPandas hop (stub codecs, real Arrow plumbing)
    "media_dedup",
    "modality_mixture_stats",
}


def test_no_python_udfs_in_any_relational_plan(spark):
    """No Python evaluation nodes anywhere in the registered batch queries
    (the Arrow-batched mapInPandas/pandas_udf queries are the documented
    exceptions — and even those must be Arrow, not row-at-a-time)."""
    for name in SPECS:
        p = plan_of(spark, name)
        if name in PYTHON_PATH_EXCEPTIONS:
            assert "BatchEvalPython" not in p, f"{name}: row-at-a-time Python UDF"
            continue
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_hash_sample_prunes_and_never_shuffles(spark):
    p = plan_of(spark, "hash_sample")
    assert "Exchange" not in p  # pure map-side filter
    read = p.split("ReadSchema")[1].splitlines()[0]
    assert "doc_id" in read and "n_chars" in read and "text" not in read


def test_pack_sequences_single_shard_shuffle(spark):
    p = plan_of(spark, "pack_sequences")
    assert p.count("Exchange hashpartitioning") == 1  # the shard window only


def test_range_join_broadcasts_band_dim(spark):
    p = plan_of(spark, "range_join_pricebands")
    assert "BroadcastNestedLoopJoin" in p  # non-equi join, tiny side broadcast
    assert "Exchange hashpartitioning(p_retailprice" not in p


def test_grouped_collect_one_shuffle(spark):
    p = plan_of(spark, "grouped_collect")
    assert p.count("Exchange hashpartitioning") == 1  # single agg shuffle


def test_balanced_sample_broadcasts_rates_corpus_never_shuffles(spark):
    p = plan_of(spark, "balanced_source_sample")
    # the per-source rate table (tiny) is broadcast to the corpus scan side
    assert "BroadcastHashJoin" in p
    # corpus side reads only the two output columns
    read = p.split("ReadSchema")[1].splitlines()[0]
    assert "doc_id" in read and "source" in read and "text" not in read


def test_length_buckets_single_agg_shuffle(spark):
    p = plan_of(spark, "length_buckets")
    assert p.count("Exchange hashpartitioning") == 1  # partial/final agg only
    read = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read and "doc_id" not in read  # only the tokenized column


def test_bigram_lm_no_window_no_python(spark):
    """The LM-support pipeline is groupBys + joins only — no windows (a
    window over the corpus would serialize per-partition) and no Python."""
    p = plan_of(spark, "bigram_lm_support")
    assert "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


# ---------------------------------------------------------------------------
# Shuffle-budget ceilings for every query in the driver's 50-slot window
# (round-4 review: each windowed query needs a plan assertion). The number
# is the Exchange-hashpartitioning count of the reviewed plan at SF_SMALL —
# a refactor that introduces an extra shuffle fails here even though the
# results stay correct. 0 is exact (the query is map-side only and must
# stay that way); nonzero values are ceilings.
# ---------------------------------------------------------------------------
WINDOW_SHUFFLE_BUDGET = {
    # parity surface: scans and scalar aggregates — the whole point is
    # that the reference's per-day HTTP fan-out collapses into pushed
    # scans with at most one agg exchange
    "scan_filter_eq": 0, "filter_in_notnull": 0, "date_between": 0,
    "agg_sum_cast": 0, "agg_sum_nullif": 0, "grouped_count": 1,
    "partial_final_agg": 2, "stage_totals": 0, "union_all_days": 1,
    "conditional_sum": 0, "scalar_crossjoin": 0, "pct_bround": 1,
    "funnel_waterfall": 0,
    # pipeline core; scan-speed ops must never shuffle. The minhash plan
    # reads its localCheckpointed gram frame; its 4 are per-doc aggregates
    # over that frame (signatures, verify gram sets)
    "dedup_exact": 1, "ngram_jaccard_pairs": 4, "dedup_minhash_lsh": 4,
    "dedup_simhash": 2, "text_quality": 0, "corpus_curation": 2,
    "similarity_topk_brute": 1, "similarity_ann_lsh": 3,
    "dedup_embedding_cosine": 0, "multimodal_meta": 0,
    "multimodal_features": 0,
    "dedup_clusters": 2, "decontaminate_ngrams": 3,
    "chunk_dedup": 5, "pii_redaction": 0, "quantize_embeddings": 1,
    "shard_shuffle": 1, "gram_novelty": 4,
    # round-5 rotations (pipeline-ext)
    "cdc_chunk_dedup": 4, "semantic_dedup_clusters": 2,
    "curation_funnel": 13, "scd2_history": 1, "latest_state_compaction": 1,
    "time_to_convert": 3, "retention_cohorts": 6, "incremental_dedup": 1,
    "winnow_fingerprints": 1, "temperature_source_sample": 2,
    # round-5 surface: quality scoring must stay map-side-only; the
    # dedup/coverage/importance ops are gram-hash groupBys + doc re-aggs
    "quality_classifier": 0, "priority_source_dedup": 1,
    "dup_ngram_coverage": 4, "dsir_importance": 3,
    "mixture_epochs": 2, "tfidf_topterms": 5,
    # round-5 second rotation (rotated into the round-6 window): search /
    # fusion / attribution / analytics — mostly 1-3 exchange window+agg
    # shapes; ANN-PQ carries its codebook broadcasts, span removal its
    # gram-min agg + the token-window gram build
    "dup_span_removal": 4, "bm25_search": 0, "rrf_hybrid_fusion": 2,
    "similarity_ann_pq": 9, "last_touch_attribution": 3,
    "user_rfm_segments": 1, "bounce_rate_daily": 2,
    "event_transition_matrix": 2, "weekly_revenue_wow": 1,
    "median_order_gap": 1, "top_session_paths": 2, "source_drift_l1": 12,
    "per_source_holdout": 1, "column_stats_orders": 5,
    "train_val_test_split": 0,
    # round-6 additions: the grouped entity waterfall (1 = the single
    # entity-key exchange of its union-all aggregate), the iterative graph
    # pair (per-iteration contribution shuffles), CDC diff, census joins
    "entity_funnel_waterfall": 1, "incremental_daily_rollup": 2,
    "linear_attribution": 2, "vocab_tokenize": 2, "fuzzy_dedup_names": 2,
    # pagerank: 11 since the round-14 rewrite (deg rides inside ranks —
    # one join per iteration instead of two, node count as a broadcast
    # scalar instead of a driver job; the old 10 predates it — the r14
    # session never completed pytest, so the pin went stale unnoticed)
    "pagerank_coorder": 11, "skew_key_profile": 2,
    "doc_length_percentile_gate": 1, "snapshot_diff": 3,
    "triangle_count": 6,
    # relational headliners
    "pricing_summary": 1, "join_equi": 1, "asof_join_events": 1,
    # round-7 window rotations: the 22 first-external-row queries. The
    # fast-minhash plan is dedup_minhash_lsh's shape with another hash
    # family. The kmeans trio re-plan from localCheckpointed assignment
    # frames — counts are stable in-session.
    "similarity_ann_ivf": 3, "dedup_minhash_fast": 4,
    "bigram_lm_support": 3, "balanced_source_sample": 2,
    "length_buckets": 1, "price_histogram": 1,
    "winnow_containment_pairs": 6, "boilerplate_passages": 2,
    "approx_distinct_users": 2, "approx_percentiles": 1,
    "length_outliers": 3, "kmeans_lloyd_clusters": 6,
    "ks_drift_value": 1, "shipping_priority_topk": 1,
    "kmeans_balanced_sample": 6, "hard_negative_mining": 1,
    "referential_integrity_audit": 4, "partition_freshness_audit": 2,
    "cross_source_duplication": 7, "kmeans_cluster_purity": 14,
    "local_supplier_volume": 1, "revenue_anomaly_days": 4,
    # round-7 additions: the sketch-threshold RFM carries its user-grain
    # agg + the 1-row sketch agg; the TakeOrdered BM25 must stay
    # shuffle-free; Q8/Q9 each carry exactly the one fact-fact shuffle
    "user_rfm_segments_approx": 2, "bm25_search_topk": 0,
    "nation_market_share": 1, "product_type_profit": 1,
    # least-recently-verified fillers (round-2 era, budgets unchanged
    # since their plans were reviewed then)
    "sessionize": 1, "join_broadcast_dims": 1, "window_rank": 1,
    "topk_orders": 0, "range_join_pricebands": 1, "semi_anti_join": 0,
    "sql_correlated_subquery": 1, "pivot_daily_values": 2,
    "rollup_hierarchy": 1, "value_percentiles": 1, "event_funnel_users": 1,
    # round-8 window: the r7 TPC-H batch (each exactly its fact shuffles —
    # Q14/Q19 shapes and the capped RRF are map-side / TakeOrdered only),
    # the r8 additions, and the r2/r4-era fillers rotated back in.
    # minhash_band_skew builds its own gram -> signature chain (no
    # checkpoint) plus the 8-row audit agg.
    "volume_shipping": 1, "returned_item_report": 1,
    "customer_order_distribution": 2, "promo_revenue_pct": 0,
    "large_volume_orders": 2, "lapsed_highvalue_customers": 2,
    "rrf_fusion_topk": 0,
    "small_quantity_revenue": 2, "top_supplier_revenue": 2,
    "disjunctive_brand_revenue": 0, "sole_return_supplier": 2,
    "order_priority_return_check": 1, "sole_return_supplier_agg": 4,
    "chunk_documents": 0,
    "embedding_drift_by_label": 4, "minhash_band_skew": 5,
    # round-8 late batch (TPC-H subquery shapes): Q2 = one fact agg + the
    # part-grain window repartition, every join broadcast; Q11 = nation
    # agg + the 1-row global re-agg; Q16 = the two-phase distinct agg;
    # Q20's 5 includes the unhinted supplier semi-join pair that AQE
    # collapses to a broadcast at runtime (fact-derived keyset must not
    # carry a static hint)
    "min_cost_supplier": 2, "important_nation_value": 2,
    "supplier_part_variety": 2, "excess_shipment_suppliers": 5,
    # candidate join + per-(b, r) re-aggs over its own gram chain
    "minhash_jaccard_calibration": 19,
    # privacy census: QI-grain agg + group-size-grain re-agg
    "k_anonymity_profile": 2,
    # Q6: all predicates pushed to the scan, map-side 1-row sum — the
    # registry's canonical zero-exchange fact query
    "forecast_revenue_change": 0,
    # Q12: one fact-fact orderkey exchange at pin scale (AQE broadcasts
    # the ~10%-filtered lineitem side at toy SF); headroom for the
    # full shuffle-join + group-agg path at scale
    "shipping_class_priority": 2,
    # l-diversity: custkey join (broadcast at pin scale) + QI-grain
    # distinct agg + l-grain histogram re-agg
    "l_diversity_profile": 3,
    # bloom runtime filter: word-grain mask-build agg + final returnflag
    # agg; the mask reaches lineitem via a 1-row BroadcastNestedLoopJoin
    # and the SinglePartition mask collapse doesn't hash-partition
    "bloom_prefilter_join": 2,
    # priority sampling: TakeOrderedAndProject + 64-row rnk window — no
    # hash exchange anywhere
    "weighted_reservoir_sample": 0,
    # t-closeness: every exchange past the first partial agg moves
    # QI-grain (or smaller) frames — the count is joins between small
    # re-aggregations of the same keys, not repeated corpus shuffles
    "t_closeness_profile": 11,
    # CMS: 4 since the round-14 rewrite (ec00817 pre-aggregates lineitem
    # to (key, count) grain BEFORE the d-way bucket hashing — one more
    # key-grain exchange, one fewer full corpus scan; driver-measured
    # 3.25x): key-grain pre-agg, sketch-build agg, probe distinct,
    # exact-count agg; sketch side reaches the probes via broadcast
    "cms_frequency_calibration": 4,
    # one ungrouped conditional aggregate — SinglePartition gather only
    "conversion_lift_ztest": 0,
    # term-grain count; TakeOrderedAndProject caps the spectrum at 200
    # before the rank window and the moment aggregate
    "zipf_token_slope": 1,
    # prefix filter: gram build + df count + doc-grain rank window +
    # prefix inverted-index join + candidate-restricted verify joins —
    # every exchange is gram- or candidate-grain, none corpus-pair-grain
    "jaccard_prefix_filter_pairs": 12,
    # assortativity: localCheckpointed edge build (orderkey repartition
    # + distinct) + degree agg + two degree joins — every exchange edge-
    # or node-grain, and the checkpoint stops the edge subtree from
    # replicating into the degree joins (29 -> 4 exchanges measured)
    "degree_assortativity": 4,
    # per-source rank filter rewrites to WindowGroupLimit: local top-8
    # per source per task, one source-partitioned exchange
    "weighted_sample_per_source": 1,
    "part_supplier_revenue": 1, "distinct_count": 2, "having_filter": 1,
    "set_ops": 2, "grouped_count_salted": 2, "running_total": 1,
    "event_funnel_windowed": 1, "cube_segment_priority": 1,
    "string_funcs": 0, "date_parts": 1, "unpivot_part_measures": 0,
    "daily_rollup": 2, "grouped_collect": 1, "join_salted": 1,
    "json_roundtrip": 0, "window_nav_funcs": 1, "range_window_frame": 1,
    "sql_lateral_topk": 1, "regexp_funcs": 0, "map_funcs": 0,
    "dedup_exact_norm": 1, "token_counts": 0, "lang_id_heuristic": 0,
    "lang_id_char_ngrams": 0,
    # round-8 close rotations: the BPE loop and the k-core peel run their
    # iterations eagerly inside fn() behind localCheckpoint barriers, so
    # the FINAL plan is checkpoint-truncated — the budget pins the
    # returned frame's own exchanges (vocab-grain combine for the token
    # stats), not the per-round work, which the scale probes cover
    "bpe_merge_induction": 0, "k_core_peeling": 0, "bpe_token_stats": 1,
    # round-9 window: the r8b close batch rotated in (measured at
    # SF_SMALL this round). Stats family = one fact agg (+ a tiny
    # group-grain re-agg where closed forms need it); ETL/session ops =
    # user- or entity-grain window + day re-agg; the graph pair carries
    # its edge-build exchanges (two_hop's 7 = edge distinct + degree
    # aggs + the two hop joins, all edge-grain); table_profile's 6 are
    # one per profiled column family over a 25-row aggregate spine.
    "ols_brand_price_quantity": 1, "chi_square_flag_status": 1,
    "markov_event_transitions": 3, "assoc_rules_brand": 3,
    "priority_change_intervals": 1, "ewma_revenue_anomaly": 1,
    "benchmark_contamination": 3, "community_modularity": 3,
    "event_path_topk": 2, "gini_impurity_segments": 2,
    "session_bounce_stats": 2, "lang_id_confusion": 2,
    "two_hop_reach": 7, "table_profile_orders": 6,
    "weekday_seasonality": 3, "winsorized_revenue_mean": 2,
    "cumulative_unique_users": 2, "asof_join_forward": 1,
    "asof_join_nearest": 1, "equidepth_price_histogram": 1,
    "window_dist_funcs": 1, "grouping_sets_mixed": 1,
    # round-9 window: the GK-sketch percentile twins — same exchange
    # shape as their exact siblings (the sketch agg replaces the exact
    # percentile agg node-for-node; ObjectHashAggregate partials stay
    # map-side-combinable)
    "equidepth_price_histogram_approx": 1,
    "winsorized_revenue_mean_approx": 2,
    # same session assembly as the exact sibling (one user-grain window
    # exchange + day re-agg); the sketch swap adds no exchange
    "session_bounce_stats_approx": 2,
    # round-9 multimodal: one Arrow fingerprint hop + the two hash-grain
    # min-windows (exact sha + perceptual bucket) / one ≤4-group agg
    "media_dedup": 2,
    "modality_mixture_stats": 1,
    # round-9 second batch: user-keyed interval join + purchase-grain
    # window + view re-agg / doc-keyed position join + TakeOrdered / the
    # cluster composition plans from the checkpointed edge list at 3: CC
    # label agg, quality join, component window
    "time_decay_attribution": 2,
    "phrase_proximity_search": 1,
    "dedup_cluster_quality_canon": 3,
    # rank<=n rewrites to WindowGroupLimit: pre-limited rows through one
    # stratum exchange (structural assert below pins the group limit)
    "stratified_fixed_n_sample": 1,
    # round-10 prebuilt-ANN serving plans (the index build runs inside
    # ensure_* BEFORE the returned plan and is idempotent-skipped on
    # every run after the first): IVF = assignment join + per-qid rank
    # window, cells/queries broadcast; PQ = code-grain ADC join + the
    # (qid,cid) pivot agg, codebook/ADC broadcast — the corpus' raw
    # vectors never appear in the PQ serve plan at all
    "ann_ivf_prebuilt": 2,
    "ann_pq_prebuilt": 2,
    # the returned manifest reads the WRITTEN shard files (one shard-grain
    # agg exchange); the refresh stages run inside ensure_training_shards
    # before the returned plan and are idempotence-skipped on later runs
    "corpus_refresh_pipeline": 1,
    # recall audit: brute scan-side top-k + the medoid IVF chain's
    # bounded joins, then one qid-grain count; OOV: token-grain vocab agg
    # (TakeOrdered-capped, broadcast back) + per-source coverage agg
    "ann_recall_audit": 7,
    "oov_rate_by_source": 2,
    # IVF-PQ composed serve: assignment->candidate join (cells/queries/
    # ADC/codebook all broadcast), code join, (qid,cid) pivot agg
    "ann_ivfpq_prebuilt": 3,
    # bit-interleave is a scan-side expression; one bucket-agg exchange
    "zorder_curve": 1,
    # rerank = the ivfpq candidate chain + the bounded candidate-id join
    # (corpus vectors enter ONLY there) + per-qid rank window
    "ann_ivfpq_rerank": 3,
    # two brute rankings (scan-side dot products, broadcast queries) +
    # the per-qid overlap count
    "dim_truncation_fidelity": 5,
    # returned manifest = a 3-file read + sort (the history build runs
    # inside fn() before the returned plan, idempotence-skipped after)
    "versioned_snapshot_manifest": 0,
    # mask build (bit-word agg + the m-bounded densify join) + the
    # candidate-only anti-join; the 1-row mask reaches the crawl via
    # BroadcastNestedLoopJoin, never a hash exchange
    "incremental_dedup_bloom": 5,
    # id-only anti-join counts per snapshot pair, combined via 1-row
    # scalar cross joins (J1) — AQE broadcasts the id sets at pin scale
    "versioned_diff_feed": 4,
    # returned audit is manifest-grain scalar counts (the vacuum itself
    # runs inside fn() before the returned plan — O(files) listing work)
    "versioned_vacuum_audit": 0,
    # query-side medoid assignment (qid-grain WindowGroupLimit) + the
    # (qid,cid) ADC pivot agg; the per-segment distances ride ONE
    # explode projection — the union-over-segments form would re-inline
    # the assignment chain per segment (11 exchanges, 8× query work)
    "ann_ivfpq_residual": 4,
    # returned audit is two createDataFrame meta rows (the compaction
    # itself runs inside fn() before the returned plan)
    "versioned_compact_audit": 0,
    # one (qdoc,doc) grouped agg with map-side combine + the per-qdoc
    # top-k window re-partition; queries broadcast, corpus scanned once
    "late_interaction_maxsim": 2,
    # probe-side distincts ((doc,cell)/(qdoc,cell)/candidate pairs — id
    # grain, never payloads) + the probe-token window + the MaxSim pivot
    # agg + top-k window; candidates and query tokens broadcast
    "late_interaction_maxsim_pruned": 8,
    # three arm aggregations (lex tf agg, MaxSim pivot) + the id-grain
    # full-outer fusion joins; each arm's full ranking is a deliberate
    # global window (the exact form — rrf_fusion_topk is the
    # TakeOrdered-capped scale path, same as the hybrid pair)
    "rrf_trimodal_fusion": 5,
    # returned audit is five createDataFrame meta rows (the
    # snapshot/delta/tombstone/re-add/compact lifecycle builds inside
    # fn())
    "versioned_tombstone_audit": 0,
    # returned audit is four createDataFrame meta rows (the
    # snapshot/delta/merge/recommit history and its per-pair CDF
    # readouts all run inside fn())
    "versioned_merge_audit": 0,
    # returned frame is the collected 50-row serve result re-created
    # (the per-run corpus table + index builds run inside fn())
    "ann_ivf_incremental": 0,
    # round 13: all three return collected audit-grain rows re-created
    # (the per-run mixed-history / partitioned / 4-version tables and
    # their plan-shape raises all run inside fn())
    "versioned_span_feed": 0,
    "versioned_partition_audit": 0,
    "versioned_timetravel_audit": 0,
    # round 14: all four return collected result rows re-created (the
    # per-run versioned tables, the minhash index lifecycle with its
    # raise-unless-incremental labels, the candidate-partition /
    # CDC plan-shape raises and the spark.sql history diff all run
    # inside fn())
    "dedup_minhash_incremental": 0,
    "versioned_update_span_audit": 0,
    "versioned_recommit_cdc_audit": 0,
    "versioned_sql_timetravel": 0,
}


def test_bm25_topk_is_take_ordered_no_corpus_window(spark):
    """The scale-safe BM25 variant must keep its TakeOrderedAndProject
    shape (per-partition bounded heap) — the rnk window it carries runs
    over the 20 already-selected rows, BELOW the take-ordered node."""
    p = plan_of(spark, "bm25_search_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p


def test_rfm_approx_has_no_window(spark):
    """The sketch-threshold RFM variant exists to eliminate the three
    corpus-grain NTILE windows of the exact variant — no Window operator
    may appear anywhere in its plan."""
    p = plan_of(spark, "user_rfm_segments_approx")
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_q8_q9_broadcast_dimension_chains(spark):
    """TPC-H Q8/Q9 shapes: every dimension leg broadcasts; the only hash
    exchange in each plan is the lineitem-orders fact join + final agg."""
    p8 = plan_of(spark, "nation_market_share")
    assert p8.count("BroadcastHashJoin") >= 6  # part/cust/2*nation/region/supp
    p9 = plan_of(spark, "product_type_profit")
    assert p9.count("BroadcastHashJoin") >= 3  # part/supplier/nation


def test_min_cost_supplier_partitioned_window_all_broadcast(spark):
    """Q2 shape: the per-part min must come from a PART-partitioned window
    (bounded rows per partition), never a join-back that duplicates the
    fact-agg subtree; every dimension join broadcasts (the EU keyset is a
    pushed IN filter on the supplier scan, so the size gate sees an
    accurate estimate)."""
    p = plan_of(spark, "min_cost_supplier")
    assert "Window" in p and "partitionBy" not in p  # physical node present
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 4


def test_excess_shipment_keyset_never_hinted(spark):
    """Q20 shape: the qualifying-supplier keyset derives from the fact, so
    no broadcast HINT may wrap it (Catalyst/AQE may still pick a broadcast
    from its own stats — that choice degrades at scale, a hint does not).
    The generic fact-derived-hint walk below also covers this query; this
    pins the specific join."""
    lp = logical_of(spark, "excess_shipment_suppliers")
    semi_i = [i for i, ln in enumerate(lp.splitlines()) if "LeftSemi" in ln]
    assert semi_i, "supplier keyset semi-join missing from the logical plan"
    # the hint node, if any, would sit between the semi join and its right
    # child — the Distinct/Aggregate over the qualifying keys
    for i in semi_i:
        tail = "\n".join(lp.splitlines()[i:])
        head = tail.split("Aggregate")[0]
        assert "ResolvedHint" not in head


def test_shuffle_budget_covers_whole_window():
    # every windowed query needs a reviewed budget; rotated-out queries
    # KEEP their pins (they still register and still run in driver_sim)
    from funnel_report_etl_pipeline__spark.plans.registry import _WINDOW

    assert set(_WINDOW) <= set(WINDOW_SHUFFLE_BUDGET)


@pytest.mark.parametrize("name", sorted(WINDOW_SHUFFLE_BUDGET))
def test_windowed_query_shuffle_budget(spark, name):
    budget = WINDOW_SHUFFLE_BUDGET[name]
    n = plan_of(spark, name).count("Exchange hashpartitioning")
    if budget == 0:
        assert n == 0, f"{name}: map-side-only query now shuffles ({n})"
    else:
        assert n <= budget, f"{name}: {n} shuffles exceeds reviewed budget {budget}"


def test_minhash_verify_is_array_intersect_not_gram_join(spark):
    """The exact-Jaccard verify must stay the round-5 per-pair
    array_intersect shape — the pair-grain gram join it replaced
    materialized |cands|·|grams per doc| rows and was the 10×-probe
    variance (PLANS.md round-5 note)."""
    p = plan_of(spark, "dedup_minhash_lsh")
    assert "array_intersect" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def logical_of(spark, name: str) -> str:
    return SPECS[name].fn(spark, SF_SMALL)._jdf.queryExecution().logical().toString()


def test_no_broadcast_hint_on_fact_derived_frames(spark):
    """Round-7 verdict fix: `large_volume_orders` used to force-broadcast
    its HAVING keyset — a frame that grows linearly with the facts, which
    at 100× blows the 8 GB broadcast cap (a hint is an order, not a
    suggestion). Pin the repair across the whole TPC-H batch: every
    broadcast hint in the logical plan must wrap a base parquet relation
    (a dimension scan, possibly filtered), never a computed/aggregated
    subtree. AQE remains free to broadcast `big` at small scale from
    runtime stats — that is the desired degrade path."""
    import re

    def content_col(line: str) -> int:
        return len(line) - len(re.sub(r"^[\s:|+-]*", "", line))

    grouped_agg = re.compile(r"Aggregate \[[^\]]+\], \[")  # two bracket lists

    checked_hints = 0
    for name in (
        "large_volume_orders", "volume_shipping", "returned_item_report",
        "promo_revenue_pct", "lapsed_highvalue_customers",
        "nation_market_share", "product_type_profit",
        "small_quantity_revenue", "top_supplier_revenue",
        "disjunctive_brand_revenue", "sole_return_supplier",
        "order_priority_return_check",
        # round-8 late batch (Q2/Q11/Q16/Q20 shapes)
        "min_cost_supplier", "important_nation_value",
        "supplier_part_variety", "excess_shipment_suppliers",
        # round-8 final batch (Q12 shape; Q6 joins nothing)
        "shipping_class_priority",
    ):
        lines = logical_of(spark, name).splitlines()
        for i, line in enumerate(lines):
            if "ResolvedHint (strategy=broadcast" not in line:
                continue
            checked_hints += 1
            col = content_col(line)
            subtree = []
            for nxt in lines[i + 1 :]:
                if content_col(nxt) <= col:
                    break
                subtree.append(nxt)
            sub = "\n".join(subtree)
            # walk the hinted subtree top-down: the first size-determining
            # node decides. A parquet Relation (possibly under
            # Project/Filter) is a dimension scan — OK. An UNGROUPED
            # Aggregate is architecturally 1 row — OK, whatever feeds it.
            # A GROUPED Aggregate is key-grain: it grows with the corpus,
            # so hinting it is the exact round-7 scale-killer.
            verdict = None
            for nd in subtree:
                if "Aggregate [" in nd:
                    verdict = "grouped" if grouped_agg.search(nd) else "scalar"
                    break
                if "Relation" in nd and "parquet" in nd:
                    verdict = "scan"
                    break
            assert verdict in ("scan", "scalar"), (
                f"{name}: broadcast hint wraps a {verdict or 'scanless'} "
                f"subtree (fact-derived, grows with the corpus):\n{sub}"
            )
    # the check must not be vacuous: the batch carries many dim hints
    assert checked_hints >= 10, checked_hints


def test_sole_return_supplier_semi_anti_chain(spark):
    """Q21 shape: the EXISTS/NOT-EXISTS chain must stay semi/anti joins on
    the order key — never an inner self-join + dedup, and never a
    cartesian with a post-filter."""
    p = plan_of(spark, "sole_return_supplier")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p  # the top-20 is a bounded heap


def test_small_quantity_revenue_decorrelated_single_key_family(spark):
    """Q17 shape: the correlated avg threshold must be the decorrelated
    grouped-agg + join form — every hash exchange keys on l_partkey (one
    exchange family AQE can line up), and the brand filter reaches the
    part scan."""
    p = plan_of(spark, "small_quantity_revenue")
    import re
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", p))
    assert keys <= {"l_partkey"}, keys
    assert "Brand#13" in p  # pushed brand literal visible in scan filters


def test_event_path_topk_group_limit_and_take_ordered(spark):
    """The path report must keep its two scale guards: rn<=3 rewrites to
    WindowGroupLimit (3 rows/user of window state) and the final top-10
    plans as TakeOrderedAndProject, never a global sort."""
    p = plan_of(spark, "event_path_topk")
    assert "WindowGroupLimit" in p
    assert "TakeOrderedAndProject" in p


def test_table_profile_scans_are_single_column(spark):
    """The ANALYZE profile must stay six narrow scans: every ReadSchema in
    the plan carries exactly one column (the alternative — one multi-
    COUNT(DISTINCT) aggregate — puts an Expand node over the full table,
    replicating every row once per profiled column)."""
    p = plan_of(spark, "table_profile_orders")
    assert "Expand" not in p
    schemas = [
        seg.splitlines()[0] for seg in p.split("ReadSchema: ")[1:]
    ]
    assert len(schemas) == 6
    for s in schemas:
        assert s.count(":") == 1, f"multi-column profile scan: {s}"


def test_cumulative_unique_users_no_expand_no_distinct_window(spark):
    """The first-seen rewrite's reason to exist: no Expand (no
    COUNT(DISTINCT) over a window), just two hash aggregates and the
    day-grain running sum."""
    p = plan_of(spark, "cumulative_unique_users")
    assert "Expand" not in p
    assert p.count("Exchange hashpartitioning") <= 2  # user-grain + day-grain


def test_contamination_benchmark_side_is_the_build_side(spark):
    """The decontamination join must never shuffle the train grams for the
    probe: the benchmark gram set (bounded) is the broadcast build side.
    A shuffled (sort-merge) join here would move the corpus-sized gram
    stream — the exact failure the bounded-broadcast design prevents."""
    p = plan_of(spark, "benchmark_contamination")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_asof_all_directions_single_key_exchange(spark):
    """The as-of composition's core claim: every direction costs exactly
    ONE hash exchange (the key partitioning). nearest computes BOTH
    candidate picks over that same exchange — extra in-partition sorts,
    never a second shuffle — and none of the directions may degenerate
    to a range join (BroadcastNestedLoopJoin) or a join at all."""
    for name in ("asof_join_events", "asof_join_forward", "asof_join_nearest"):
        p = plan_of(spark, name)
        assert p.count("Exchange hashpartitioning") == 1, name
        assert "NestedLoop" not in p and "SortMergeJoin" not in p, name


def test_equidepth_boundaries_broadcast_one_agg_exchange(spark):
    """Equi-depth histogram: the percentile boundary row reaches the
    binning scan via broadcast (never a shuffle of the fact against a
    1-row frame), and the only hash exchange is the bucket aggregate."""
    p = plan_of(spark, "equidepth_price_histogram")
    assert "BroadcastExchange" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_stratified_sample_uses_window_group_limit(spark):
    """rank ≤ n must compile to WindowGroupLimit (partial map-side +
    final): each task keeps a bounded per-stratum heap BEFORE the
    exchange, so the shuffle moves O(strata × n) survivors, never the
    corpus."""
    p = plan_of(spark, "stratified_fixed_n_sample")
    assert p.count("WindowGroupLimit") == 2
    assert p.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# Static plan pins for the top bench-cost queries (round-9 verdict ask #2).
# PLAN_AUDIT.md records these counts per round, but nothing asserted them —
# so a refactor that adds an exchange surfaced only as an unexplained bench
# delta a round later (the round-9 +80% minhash_band_skew flag cost a full
# pinned-commit A/B to exonerate; this pin would have answered instantly).
# Counts are measured after release_all_caches, so no block left by an
# earlier test can stand in for a subtree of the plan.
# exchanges/broadcast are exact pins of the reviewed shape, python must be
# 0 (no Arrow hatch belongs on any of these chains), codegen is a floor.
# ---------------------------------------------------------------------------
TOP_COST_PLAN_PINS = {
    #                               exch  bcast  codegen_min
    "k_core_peeling":              (0,    0,     3),  # checkpoint-truncated peel result
    # pagerank/CMS re-pinned to the round-14 optimized shapes (deg-inside-
    # ranks with per-iteration broadcast shares; CMS key-grain pre-agg) —
    # the r14 session never finished pytest, so these two pins lagged the
    # reviewed rewrites by a round (round-15 inherited-state fix)
    "pagerank_coorder":            (11,   7,     0),  # per-iteration contribution shuffles
    "cms_frequency_calibration":   (4,    2,     0),  # key pre-agg + sketch agg + probe distinct + exact agg
    "minhash_band_skew":           (5,    1,     0),  # shared gram->sig chain + 8-row audit agg
    "minhash_jaccard_calibration": (19,   11,    0),  # candidate join + per-b/r re-aggs
    "degree_assortativity":        (4,    1,     0),  # checkpointed edges + degree joins
    "community_modularity":        (3,    4,     0),
    "semantic_dedup_clusters":     (2,    0,     0),
    "dedup_cluster_quality_canon": (3,    1,     0),  # CC label agg + quality join + window
    "dedup_minhash_lsh":           (4,    3,     0),  # per-doc aggs over checkpointed grams
    "dedup_minhash_fast":          (4,    3,     0),
    "dedup_clusters":              (2,    0,     0),
}


@pytest.mark.parametrize("name", sorted(TOP_COST_PLAN_PINS))
def test_top_cost_query_plan_pins(spark, name):
    import re

    from funnel_report_etl_pipeline__spark.session import release_all_caches

    # the session cache manager substitutes any registered cached subtree
    # into new plans, so a frame another test persisted could change the
    # static exchange count
    release_all_caches(spark)
    plan = plan_of(spark, name)
    exch = plan.count("Exchange hashpartitioning")
    bcast = plan.count("BroadcastExchange")
    py = sum(
        plan.count(tok)
        for tok in (
            "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
            "MapInPandas", "PythonMapInArrow",
        )
    )
    codegen = len(re.findall(r"\*\(\d+\)", plan))
    want_exch, want_bcast, want_cg = TOP_COST_PLAN_PINS[name]
    assert exch == want_exch, f"{name}: exchanges {exch} != pinned {want_exch}"
    assert bcast == want_bcast, f"{name}: broadcasts {bcast} != pinned {want_bcast}"
    assert py == 0, f"{name}: python node appeared in a JVM-only chain"
    assert codegen >= want_cg, f"{name}: codegen spans {codegen} < floor {want_cg}"


def test_parquet_aggregate_pushdown_serves_minmaxcount_from_footers(spark):
    """Whole-table MIN/MAX/COUNT can be answered from parquet footer
    statistics without reading a single data page — Spark's DSv2
    aggregate pushdown. At 100 TB this turns table-profile audits
    (column_stats/table_profile shapes) into metadata reads. Pinned:
    with the confs on, the scan carries PushedAggregation and the
    answers are identical to the full-scan path."""
    from pyspark.sql import functions as F

    path = f"{SF_SMALL}/orders.parquet"
    agg = lambda df: df.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count("*").alias("n"),
    )
    baseline = agg(spark.read.parquet(path)).collect()[0]
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        df = agg(spark.read.parquet(path))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [MIN(o_totalprice), MAX(o_totalprice), COUNT(*)]" in plan
        assert df.collect()[0] == baseline
    finally:
        spark.conf.unset("spark.sql.parquet.aggregatePushdown")
        spark.conf.unset("spark.sql.sources.useV1SourceList")
