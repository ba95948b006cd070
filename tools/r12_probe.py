"""Round-12 scaling probes: atomic MERGE, commit-grain replication,
incremental ANN maintenance.

* merge — upsert a FIXED 1k-row source (half matched, half new) into a
  snapshot mult× bigger. Claim under test: merge writes O(source) +
  O(matched-ids) bytes and its only corpus-grain work is the id-only
  semi-join, so the wall stays near-flat while a recommit alternative
  rewrites the whole snapshot.
* replication — apply_replicated_commit over a history of FIXED-size
  incremental commits (3 deltas, 1 tombstone, 1 merge) on top of a
  snapshot mult× bigger; the replica is bootstrapped first (untimed —
  the initial copy is O(snapshot) by design). Claim: each incremental
  replay is O(changes) — delta dirs / tombstone ids / merge batch —
  so the timed drain stays near-flat as the base grows.
* ann_incremental — a FIXED 2k-vector delta appended to a corpus mult×
  bigger; times ensure_ivf_index_versioned's incremental path vs a
  from-scratch full build at the same scale. Claim: vector-grain work
  is O(delta) (the remaining corpus-grain passes are id-only signature
  / drift checks), so incremental≪rebuild and the gap widens with the
  corpus.

Usage: PYSPARK_SUBMIT_ARGS="--driver-memory 16g pyspark-shell" \
       python tools/r12_probe.py [scales ...]     (default: 1 10)
Prints one JSON line per (probe, scale); capture stdout to a file
(Spark's progress bar corrupts pipes).
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

import numpy as np
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.session import get_spark
from funnel_report_etl_pipeline__spark.sources.sinks import (
    _manifest_rows,
    append_versioned,
    delete_versioned,
    merge_versioned,
    read_versioned,
    table_versions,
    write_versioned,
)

DIM = 64


def _docs(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("text"),
    )


def probe_merge(spark, mult: int) -> dict:
    base = 100_000 * mult
    docs = _docs(spark, base)
    t = tempfile.mkdtemp(prefix="r12_merge_probe_")
    try:
        write_versioned(docs, t, id_col="doc_id")
        # fixed 1k source: 500 matched (rewrite), 500 new ids
        src = _docs(spark, base + 500).filter(
            f"(doc_id < 500) OR (doc_id >= {base})"
        ).withColumn("text", F.lit("merged"))
        t0 = time.monotonic()
        merge_versioned(spark, t, src, id_col="doc_id")
        merge_wall = time.monotonic() - t0
        t0 = time.monotonic()
        n_head = read_versioned(spark, t).count()
        read_wall = time.monotonic() - t0
        return {
            "probe": "merge",
            "scale": mult,
            "snapshot_rows": base,
            "source_rows": 1000,
            "merge_s": round(merge_wall, 3),
            "head_read_s": round(read_wall, 3),
            "head_rows": n_head,
        }
    finally:
        shutil.rmtree(t, ignore_errors=True)


def probe_replication(spark, mult: int) -> dict:
    from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
        apply_replicated_commit,
    )

    base = 100_000 * mult
    docs = _docs(spark, base + 4_000)
    src = tempfile.mkdtemp(prefix="r12_repl_src_")
    rep = tempfile.mkdtemp(prefix="r12_repl_dst_")
    try:
        write_versioned(docs.filter(f"doc_id < {base}"), src, id_col="doc_id")
        for i in range(3):  # fixed 1k-row deltas
            lo, hi = base + i * 1000, base + (i + 1) * 1000
            append_versioned(
                docs.filter(f"doc_id >= {lo} AND doc_id < {hi}"), src,
                id_col="doc_id",
            )
        delete_versioned(
            spark, src,
            docs.filter("doc_id < 500").select("doc_id"), id_col="doc_id",
        )
        merge_versioned(
            spark, src,
            docs.filter(f"doc_id >= {base + 3000}").withColumn(
                "text", F.lit("m")
            ),
            id_col="doc_id",
        )
        rows = _manifest_rows(spark, src)
        # bootstrap the replica with the O(snapshot) initial copy (untimed)
        apply_replicated_commit(spark, src, rep, rows[0], "doc_id")
        t0 = time.monotonic()
        for r in rows[1:]:
            apply_replicated_commit(spark, src, rep, r, "doc_id")
        drain_wall = time.monotonic() - t0
        ok = read_versioned(spark, rep).count() == read_versioned(spark, src).count()
        return {
            "probe": "replication",
            "scale": mult,
            "snapshot_rows": base,
            "n_incremental_commits": len(rows) - 1,
            "incremental_drain_s": round(drain_wall, 3),
            "replica_matches": bool(ok),
        }
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(rep, ignore_errors=True)


def _vectors(spark, n: int, parts: int = 32):
    rng = np.random.default_rng(12)
    vecs = rng.normal(size=(n, DIM)).astype(float)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(parts)


def probe_ann_incremental(spark, mult: int) -> dict:
    from funnel_report_etl_pipeline__spark.operators.ann_index import (
        build_ivf_medoid_index,
        ensure_ivf_index_versioned,
    )

    base = 20_000 * mult
    emb = _vectors(spark, base + 2_000)
    # the fixed 2k delta must avoid the medoid region (ids with the 64
    # lowest md5) so the incremental path provably applies
    low = [
        r["vec_id"]
        for r in emb.select("vec_id")
        .withColumn("k", F.md5(F.col("vec_id").cast("string")))
        .orderBy("k", "vec_id").limit(64).collect()
    ]
    delta = emb.filter(
        (F.col("vec_id") >= base) & ~F.col("vec_id").isin(*low)
    )
    root = tempfile.mkdtemp(prefix="r12_ann_inc_probe_")
    try:
        tbl, idx = f"{root}/corpus", f"{root}/ivf"
        write_versioned(emb.subtract(delta), tbl, id_col="vec_id")
        ensure_ivf_index_versioned(spark, tbl, idx, n_cells=16)
        append_versioned(delta, tbl, id_col="vec_id")
        t0 = time.monotonic()
        m = ensure_ivf_index_versioned(spark, tbl, idx, n_cells=16)
        inc_wall = time.monotonic() - t0
        assert m["maintenance"] == "incremental", m["maintenance"]
        t0 = time.monotonic()
        build_ivf_medoid_index(
            read_versioned(spark, tbl), f"{root}/full", n_cells=16
        )
        rebuild_wall = time.monotonic() - t0
        return {
            "probe": "ann_incremental",
            "scale": mult,
            "corpus_rows": base,
            "delta_rows": delta.count(),
            "incremental_s": round(inc_wall, 3),
            "full_rebuild_s": round(rebuild_wall, 3),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    scales = [int(a) for a in sys.argv[1:]] or [1, 10]
    spark = get_spark("r12_probe")
    spark.sparkContext.setLogLevel("ERROR")
    # untimed warm-up pass: the first probe in a fresh JVM measures its
    # own codegen/page-cache debt, not its plan (the round-8 lesson —
    # the first r12 run recorded a 1x ann_incremental 7x slower than
    # the warm 10x run of the same probe)
    for fn in (probe_merge, probe_replication, probe_ann_incremental):
        fn(spark, 1)
    for mult in scales:
        for fn in (probe_merge, probe_replication, probe_ann_incremental):
            print(json.dumps(fn(spark, mult)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
