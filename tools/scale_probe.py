"""Scaling probe: synthesize corpora N× the bench scale and time the hot
operators, so the 'would this survive a scale-up' claim is measured, not
asserted. Writes synthetic parquet under /tmp and prints a JSON line per
(operator, scale).

Usage: python tools/scale_probe.py [scales ...]   (default: 1 4 10)
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from pyspark.sql import Window  # noqa: E402

from funnel_report_etl_pipeline__spark.operators.curation import curation_summary  # noqa: E402
from funnel_report_etl_pipeline__spark.operators.dedup import (  # noqa: E402
    cdc_chunk_dedup,
    chunk_dedup,
    dedup_assign_clusters,
    minhash_dedup_pairs,
    ngram_decontaminate,
)
from funnel_report_etl_pipeline__spark.operators.text import (  # noqa: E402
    novelty_scores,
    winnow_containment_pairs,
    winnow_fingerprint_set,
)
from funnel_report_etl_pipeline__spark.session import get_spark  # noqa: E402
from funnel_report_etl_pipeline__spark.sources.readers import TestDataCatalog  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"


def synth_documents(spark, mult: int, out: str):
    """mult copies of the sf0.1 documents with perturbed ids/text, written
    as a multi-file parquet so the scan parallelizes (unlike the single-
    row-group testdata)."""
    docs = TestDataCatalog(spark, BASE_SF).table("documents")
    parts = []
    for i in range(mult):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                # interleave a replica token between every word: every
                # 3-gram then contains it, so cross-replica Jaccard ≈ 0 and
                # replicas do NOT become one giant near-dup cluster (which
                # would make the probe quadratic by construction), while
                # each replica keeps the original near-dup structure
                F.regexp_replace(F.col("text"), " ", f" z{i} ").alias("text"),
                "source",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.repartition(32).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def synth_events(spark, mult: int, out: str):
    """mult copies of the sf0.1 events with shifted users/ids — user
    cardinality grows with scale, preserving events-per-user (the quantity
    that bounds per-key state)."""
    ev = TestDataCatalog(spark, BASE_SF).table("events")
    parts = []
    for i in range(mult):
        parts.append(
            ev.select(
                (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
                (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
                "event_type",
                "ts",
                "value",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.repartition(32).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def _time_events_ops(spark, ev) -> dict[str, float]:
    from funnel_report_etl_pipeline__spark.operators.asof import asof_join

    out = {}
    t0 = time.perf_counter()
    stages = ["signup", "view", "purchase"]
    timeline = F.array_sort(
        F.collect_list(F.struct(F.unix_micros("ts").alias("us"), F.col("event_type").alias("et")))
    )
    init = F.struct(F.lit(0).alias("d"), F.lit(-1).cast("long").alias("last"))
    depth = F.aggregate(
        timeline, init,
        lambda acc, x: F.when(
            (x["et"] == F.try_element_at(F.lit(stages), acc["d"] + 1)) & (x["us"] > acc["last"]),
            F.struct((acc["d"] + 1).alias("d"), x["us"].alias("last")),
        ).otherwise(acc),
    )["d"]
    ev.filter(F.col("event_type").isin(*stages)).groupBy("user_id").agg(
        depth.alias("depth")
    ).agg(F.sum("depth")).collect()
    out["funnel_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    v = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    asof_join(p, v, on=["user_id"]).count()
    out["asof_sec"] = round(time.perf_counter() - t0, 2)
    return out


def main() -> int:
    scales = [int(a) for a in sys.argv[1:]] or [1, 4, 10]
    spark = get_spark(app_name="scale_probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    for mult in scales:
        ev = synth_events(spark, mult, f"{tmp}/events_x{mult}")
        ev_stats = _time_events_ops(spark, ev)
        print(json.dumps({"scale": mult, "n_events": ev.count(), **ev_stats}))
    for mult in scales:
        docs = synth_documents(spark, mult, f"{tmp}/docs_x{mult}")
        n = docs.count()

        t0 = time.perf_counter()
        n_pairs = minhash_dedup_pairs(docs, threshold=0.8).count()
        t_minhash = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        curation_summary(docs).count()
        t_curation = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        pairs = minhash_dedup_pairs(docs, threshold=0.8).select("id_a", "id_b")
        n_clustered = dedup_assign_clusters(docs, pairs).filter(
            ~F.col("is_canonical")
        ).count()
        t_cluster = round(time.perf_counter() - t0, 2)

        # round-3 operators — same corpus, same 1x/4x/10x ladder.
        # chunk_dedup: aggregate over text_clean LENGTH so the reassembly
        # string_agg payload is actually computed (a bare count() lets
        # Catalyst prune the column and the probe would measure nothing).
        t0 = time.perf_counter()
        clean_chars = chunk_dedup(docs).agg(
            F.sum(F.length("text_clean")).alias("s")
        ).collect()[0]["s"]
        t_chunk = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        novelty_scores(docs, ngram=5).agg(F.sum("n_novel")).collect()
        t_novelty = round(time.perf_counter() - t0, 2)

        # benchmark corpus stays FIXED while training data scales — the
        # production shape (eval sets don't grow with the crawl)
        bench_docs = TestDataCatalog(spark, BASE_SF).table("documents").limit(100)
        t0 = time.perf_counter()
        ngram_decontaminate(docs, bench_docs, ngram=5).count()
        t_decon = round(time.perf_counter() - t0, 2)

        # round-4 operators
        t0 = time.perf_counter()
        cdc_chunk_dedup(docs).agg(F.sum(F.length("text_clean"))).collect()
        t_cdc = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        winnow_fingerprint_set(docs).agg(F.sum("n_fps")).collect()
        t_winnow = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        n_contain = winnow_containment_pairs(docs).count()
        t_contain = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        key = F.md5(F.col("doc_id").cast("string"))
        shard = F.conv(F.substring(key, 1, 4), 16, 10).cast("int") % 8
        w = Window.partitionBy("shard").orderBy(
            F.substring(F.col("__key"), 5, 28), "doc_id"
        )
        (
            docs.select("doc_id", key.alias("__key"), shard.alias("shard"))
            .withColumn("pos", F.row_number().over(w))
            .groupBy("shard").agg(F.max("pos"))
        ).collect()
        t_shard = round(time.perf_counter() - t0, 2)

        # round-5 operators: the registered query fns read a catalog dir,
        # so expose the synthetic corpus in sf-dir shape
        import os
        import shutil

        r5_dir = f"{tmp}/r5_x{mult}"
        os.makedirs(r5_dir, exist_ok=True)
        if not os.path.exists(f"{r5_dir}/documents.parquet"):
            shutil.copytree(f"{tmp}/docs_x{mult}", f"{r5_dir}/documents.parquet")
        from funnel_report_etl_pipeline__spark.plans.registry import load_all

        r5 = load_all()
        t0 = time.perf_counter()
        r5["dup_ngram_coverage"].fn(spark, r5_dir).agg(
            F.sum("n_dup_positions")
        ).collect()
        t_dupcov = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        r5["dsir_importance"].fn(spark, r5_dir).agg(F.sum("sum_target")).collect()
        t_dsir = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        r5["source_drift_l1"].fn(spark, r5_dir).collect()
        t_drift = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        n_prio = r5["priority_source_dedup"].fn(spark, r5_dir).count()
        t_prio = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        span_kept = r5["dup_span_removal"].fn(spark, r5_dir).agg(
            F.sum("n_kept")
        ).collect()[0][0]
        t_span = round(time.perf_counter() - t0, 2)

        print(
            json.dumps(
                {
                    "scale": mult,
                    "n_docs": n,
                    "minhash_lsh_sec": t_minhash,
                    "minhash_pairs": n_pairs,
                    "curation_sec": t_curation,
                    "cluster_sec": t_cluster,
                    "n_dropped": n_clustered,
                    "chunk_dedup_sec": t_chunk,
                    "chunk_clean_chars": clean_chars,
                    "novelty_sec": t_novelty,
                    "decontaminate_sec": t_decon,
                    "shard_shuffle_sec": t_shard,
                    "cdc_chunk_sec": t_cdc,
                    "winnow_sec": t_winnow,
                    "containment_sec": t_contain,
                    "containment_pairs": n_contain,
                    "dup_ngram_coverage_sec": t_dupcov,
                    "dsir_sec": t_dsir,
                    "source_drift_sec": t_drift,
                    "priority_dedup_sec": t_prio,
                    "priority_survivors": n_prio,
                    "span_removal_sec": t_span,
                    "span_tokens_kept": span_kept,
                }
            )
        )

    # round-8 operators: embedding-grain drift (embeddings replicated
    # mult× with shifted ids; LABELS preserved, so the centroid table is
    # O(labels·dim) — fixed — at every scale, exactly the production
    # shape) and the MinHash band-skew audit over the same synthetic docs
    # corpus the dedup ladder used (shared gram → signature pipeline).
    from funnel_report_etl_pipeline__spark.plans.registry import load_all

    specs = load_all()
    for mult in scales:
        emb_dir = f"{tmp}/emb_sf_x{mult}"
        base = TestDataCatalog(spark, BASE_SF).table("embeddings")
        parts = [
            base.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                "embedding",
                "label",
            )
            for i in range(mult)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(16).write.mode("overwrite").parquet(
            f"{emb_dir}/embeddings.parquet"
        )
        n_vecs = spark.read.parquet(f"{emb_dir}/embeddings.parquet").count()

        # one untimed warm-up each (codegen + broadcast build), like the
        # tpch probe — the first-ever execution of a plan in a session
        # otherwise bills one-time JIT to the 1× rung
        specs["embedding_drift_by_label"].fn(spark, emb_dir).collect()
        t0 = time.perf_counter()
        specs["embedding_drift_by_label"].fn(spark, emb_dir).collect()
        t_drift8 = round(time.perf_counter() - t0, 2)

        skew_dir = f"{tmp}/r5_x{mult}"  # documents exposed by the docs loop
        specs["minhash_band_skew"].fn(spark, skew_dir).collect()
        t0 = time.perf_counter()
        specs["minhash_band_skew"].fn(spark, skew_dir).collect()
        t_skew = round(time.perf_counter() - t0, 2)

        print(
            json.dumps(
                {
                    "scale": mult,
                    "n_vecs": n_vecs,
                    "embedding_drift_sec": t_drift8,
                    "band_skew_sec": t_skew,
                }
            )
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
