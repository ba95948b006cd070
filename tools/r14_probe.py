"""Round-14 scaling probes: incremental MinHash maintenance, O(changes)
detect_updates, and partition-scoped tombstone pruning.

* minhash_incremental — a FIXED 1k-doc delta appended to a corpus mult×
  bigger; times `ensure_minhash_index_versioned`'s incremental path
  (sign the delta, probe the stored buckets, verify candidates) vs the
  full batch pipeline re-run (`minhash_dedup_pairs` over the head).
  Claim: the incremental path's per-doc work tracks the DELTA (its
  corpus-grain work is the id-signature check + one bucket-store scan),
  so incremental ≪ full and the gap widens with the corpus — the
  round-13 verdict's #1 ask ("today the daily-crawl near-dup check
  re-runs LSH over the whole corpus").
* detect_updates_span — FIXED changes (1k delta, 500 deletes, 500-row
  merge) on a base mult× bigger; times `version_changes(...,
  detect_updates=True)` through the round-14 candidate-restricted path
  vs the two-snapshot fingerprint fallback. Claim: the new path
  fingerprints O(candidates) rows (endpoint scans survive but their
  per-row to_json+md5 work and the full-outer shuffle disappear), so it
  stays well under the fallback and degrades much more slowly.
* tomb_prune — a lang-partitioned table whose probed partition stays
  FIXED-size while the rest (and the tombstone set, 5% of every
  partition) grows mult×; times the pruned one-partition read. Claim:
  with partition-scoped tombstones the read tracks the partition (the
  tombstone anti-join prunes with the same filter), not the
  table-wide tombstone set.

Usage: PYSPARK_SUBMIT_ARGS="--driver-memory 16g pyspark-shell" \
       python tools/r14_probe.py [scales ...]     (default: 1 10)
Prints one JSON line per (probe, scale); capture stdout to a file
(Spark's progress bar corrupts pipes).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.session import get_spark
from funnel_report_etl_pipeline__spark.sources.sinks import (
    _manifest_rows,
    _multiplicity_changes,
    _read_tomb_ids,
    append_versioned,
    delete_versioned,
    merge_versioned,
    read_versioned,
    version_changes,
    write_versioned,
)


def _docs(spark, n: int, parts: int = 32):
    """Synthetic documents with SHARED vocabulary (8 tokens drawn from a
    4k-word space by arithmetic on the id) so shingles collide across
    documents and the minhash pipeline does real candidate work."""
    tok = lambda e: F.substring(F.md5(e.cast("string")), 1, 8)  # noqa: E731
    i = F.col("id")
    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                tok(i % 4096), tok((i * 7 + 1) % 4096), tok((i * 13 + 2) % 4096),
                tok((i * 31 + 3) % 4096), tok((i * 17 + 5) % 4096),
                tok((i * 11 + 7) % 4096), tok((i * 23 + 11) % 4096),
                tok((i * 29 + 13) % 4096),
            ).alias("text"),
            (F.col("id") % 20).cast("string").alias("lang"),
        )
        .repartition(parts)
    )


def probe_minhash_incremental(spark, mult: int) -> dict:
    base = 20_000 * mult
    docs = _docs(spark, base + 1_000)
    from funnel_report_etl_pipeline__spark.operators.dedup import minhash_dedup_pairs
    from funnel_report_etl_pipeline__spark.operators.dedup_index import (
        ensure_minhash_index_versioned,
        minhash_pairs_prebuilt,
    )

    t = tempfile.mkdtemp(prefix="r14_mhi_tbl_")
    root = tempfile.mkdtemp(prefix="r14_mhi_idx_")
    ix = os.path.join(root, "idx")
    try:
        write_versioned(docs.filter(f"doc_id < {base}"), t, id_col="doc_id")
        ensure_minhash_index_versioned(spark, t, ix)  # untimed initial build
        append_versioned(docs.filter(f"doc_id >= {base}"), t, id_col="doc_id")
        t0 = time.monotonic()
        m = ensure_minhash_index_versioned(spark, t, ix)
        n_pairs = minhash_pairs_prebuilt(spark, ix).count()
        inc_wall = time.monotonic() - t0
        assert m["maintenance"] == "incremental", m["maintenance"]
        t0 = time.monotonic()
        n_full = minhash_dedup_pairs(
            read_versioned(spark, t), max_gram_freq=None
        ).count()
        full_wall = time.monotonic() - t0
        assert n_pairs == n_full, (n_pairs, n_full)
        return {
            "probe": "minhash_incremental",
            "scale": mult,
            "corpus_rows": base + 1_000,
            "delta_rows": 1_000,
            "n_pairs": n_pairs,
            "incremental_s": round(inc_wall, 3),
            "full_batch_s": round(full_wall, 3),
        }
    finally:
        shutil.rmtree(t, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def probe_detect_updates_span(spark, mult: int) -> dict:
    base = 200_000 * mult
    docs = _docs(spark, base + 2_000)
    t = tempfile.mkdtemp(prefix="r14_du_span_")
    try:
        write_versioned(docs.filter(f"doc_id < {base}"), t, id_col="doc_id")
        append_versioned(
            docs.filter(f"doc_id >= {base} AND doc_id < {base + 1000}"),
            t, id_col="doc_id",
        )
        delete_versioned(
            spark, t, docs.filter("doc_id < 500").select("doc_id"),
            id_col="doc_id",
        )
        merge_versioned(
            spark, t,
            docs.filter(f"doc_id >= 1000 AND doc_id < 1500")
            .withColumn("text", F.lit("m")),
            id_col="doc_id",
        )
        t0 = time.monotonic()
        n_fast = version_changes(
            spark, t, 1, 4, "doc_id", detect_updates=True
        ).count()
        fast_wall = time.monotonic() - t0
        rows = _manifest_rows(spark, t)
        mt = [
            os.path.join(t, r["tomb_dir"])
            for r in rows
            if (r["kind"] or "") == "merge" and r["tomb_dir"]
        ]
        rw = _read_tomb_ids(spark, mt, "doc_id").distinct() if mt else None
        t0 = time.monotonic()
        n_fb = _multiplicity_changes(
            read_versioned(spark, t, 1), read_versioned(spark, t, 4),
            "doc_id", True, rw,
        ).count()
        fb_wall = time.monotonic() - t0
        assert n_fast == n_fb, (n_fast, n_fb)
        return {
            "probe": "detect_updates_span",
            "scale": mult,
            "snapshot_rows": base,
            "feed_rows": n_fast,
            "candidate_path_s": round(fast_wall, 3),
            "two_snapshot_fallback_s": round(fb_wall, 3),
        }
    finally:
        shutil.rmtree(t, ignore_errors=True)


def probe_tomb_prune(spark, mult: int) -> dict:
    fixed = 50_000  # rows in the probed partition (lang = '0'), constant
    grown = 200_000 * mult
    docs = (
        spark.range(fixed + grown)
        .select(
            F.col("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("text"),
            F.when(F.col("id") < fixed, F.lit("0"))
            .otherwise((F.col("id") % 19 + 1).cast("string"))
            .alias("lang"),
        )
        .repartition(32)
    )
    t = tempfile.mkdtemp(prefix="r14_tomb_prune_")
    try:
        write_versioned(docs, t, id_col="doc_id", partition_by=["lang"])
        # tombstones grow with the table: delete ~5% of EVERY partition
        delete_versioned(
            spark, t, docs.filter("doc_id % 19 = 0").select("doc_id"),
            id_col="doc_id",
        )
        snap = read_versioned(spark, t)
        t0 = time.monotonic()
        n_pruned = snap.filter(F.col("lang") == "0").count()
        pruned_wall = time.monotonic() - t0
        t0 = time.monotonic()
        n_full = snap.count()
        full_wall = time.monotonic() - t0
        return {
            "probe": "tomb_prune",
            "scale": mult,
            "fixed_partition_rows": n_pruned,
            "table_rows": n_full,
            "pruned_read_s": round(pruned_wall, 3),
            "full_scan_s": round(full_wall, 3),
        }
    finally:
        shutil.rmtree(t, ignore_errors=True)


def main() -> int:
    scales = [int(a) for a in sys.argv[1:]] or [1, 10]
    spark = get_spark("r14_probe")
    spark.sparkContext.setLogLevel("ERROR")
    # untimed warm-up pass: the first probe in a fresh JVM measures its
    # own codegen/page-cache debt, not its plan (the round-8 lesson)
    for fn in (
        probe_minhash_incremental, probe_detect_updates_span, probe_tomb_prune
    ):
        fn(spark, 1)
    for mult in scales:
        for fn in (
            probe_minhash_incremental, probe_detect_updates_span, probe_tomb_prune
        ):
            print(json.dumps(fn(spark, mult)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
