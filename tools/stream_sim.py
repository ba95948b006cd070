"""Streaming-parity artifact: batch twin vs streaming result, driver-sim rigor.

For each Structured Streaming operator the engine ships, run the stream on
REAL testdata (sf0.01 events/documents, written as time-ordered multi-file
input so availableNow produces several micro-batches and cross-batch state
is exercised), run an INDEPENDENT batch formulation of the same semantics
on the same rows, and compare with the exact canonicalization the external
correctness driver uses (columns sorted by name, rows sorted by all
columns, raw value equality). DuckDB cannot oracle a state store, so this
committed JSON is the streaming analogue of DRIVERSIM_r*.json.

Usage: python tools/stream_sim.py [--json STREAMSIM_rN.json] [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.getcwd())

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tools.driver_sim import canon, cell_equal

OPS = (
    "daily_rollup_stream",
    "session_stream",
    "view_purchase_attribution",
    "curation_gate_stream",
    "dedup_stream",
    "funnel_depth_stream",
    "idempotent_parquet_sink",
    "late_data_drop",
    "view_purchase_attribution_outer",
    "enrich_stream",
    "restart_replay",
    "sliding_rollup_stream",
)


# ---------------------------------------------------------------------------
# restart_replay phase 1: a CONTINUOUS rate-source stream in its OWN process
# (own JVM), so the parent's SIGKILL is a genuine crash — no graceful commit,
# and the parent session never touches the checkpoint before the restart
# (avoiding Spark 4.1's same-session commit-log modification guard).
# ---------------------------------------------------------------------------

RATE_ROWS_PER_SEC = 400


def _rate_events(stream):
    """Deterministic typed rows from the rate source: value is the global
    monotonic row number, so exactly-once output = a contiguous dup-free
    value range regardless of where batches were cut."""
    return stream.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 97).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("signup"), F.lit("purchase")),
            (F.col("value") % 4 + 1).cast("int"),
        ).alias("event_type"),
        ((F.col("value") % 1000) / 10.0).alias("value"),
    )


def _phase1_rate(out: str, ckpt: str, seconds: float) -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
        write_stream_parquet_idempotent,
    )

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", RATE_ROWS_PER_SEC)
        .load()
    )
    q = write_stream_parquet_idempotent(
        _rate_events(src), out, ckpt, "rate_sink",
        trigger={"processingTime": "3 seconds"},
    )
    # run until the parent kills us; the timeout is only a backstop
    q.awaitTermination(timeout=seconds + 60)


def _prep_event_files(spark: SparkSession, sf_dir: str, out: str, n_files: int = 4):
    """Write events as n_files parquet files in GLOBAL ts order (file i =
    i-th time slice), so the file stream's cross-batch arrival order equals
    event-time order — the precondition for comparing cumulative stateful
    results against a single batch pass."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    per = -(-n // n_files)
    # monotonically_increasing_id on a 1-partition sorted frame is the row
    # number; coalesce(1) guarantees that
    ranked = (
        ev.coalesce(1)
        .orderBy("ts", "event_id")
        .withColumn("__r", F.monotonically_increasing_id())
        .withColumn("__slice", (F.col("__r") / per).cast("int"))
    )
    for i in range(n_files):
        (
            ranked.filter(F.col("__slice") == i)
            .drop("__r", "__slice")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{out}/slice={i}")
        )
        # file source needs flat files; move part file up as NNN.parquet
        d = f"{out}/slice={i}"
        part = next(f for f in os.listdir(d) if f.startswith("part-"))
        shutil.move(f"{d}/{part}", f"{out}/{i:03d}.parquet")
        shutil.rmtree(d)
    return ev


def _canon_ok(sdf: pd.DataFrame, bdf: pd.DataFrame) -> dict:
    res = {
        "rows_match": len(sdf) == len(bdf),
        "schema_match": sorted(sdf.columns) == sorted(bdf.columns),
        "hash_match": False,
        "stream_rows": len(sdf),
        "batch_rows": len(bdf),
        "err": None,
    }
    if not (res["rows_match"] and res["schema_match"]):
        if not res["schema_match"]:
            # self-describing artifact: a rare crash-soak flake once
            # recorded schema_match=false with equal row counts and no
            # clue which column diverged
            res["stream_cols"] = sorted(sdf.columns)
            res["batch_cols"] = sorted(bdf.columns)
        return res
    a, b = canon(sdf), canon(bdf)
    res["hash_match"] = all(
        cell_equal(a.iat[i, j], b.iat[i, j])
        for i in range(len(a))
        for j in range(len(a.columns))
    )
    return res


def main() -> int:
    argv = list(sys.argv[1:])
    if argv[:1] == ["--phase1-rate"]:
        _phase1_rate(argv[1], argv[2], float(argv[3]))
        return 0
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        # testdata micros carry isAdjustedToUTC=false; without this Spark 4
        # infers TIMESTAMP_NTZ, which watermarks reject (verify-skill gotcha)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
        FUNNEL_STAGES,
        curation_gate_stream,
        daily_rollup_stream,
        dedup_stream,
        funnel_depth_stream,
        read_document_stream,
        read_event_stream,
        session_stream,
        view_purchase_attribution,
        write_stream_parquet_idempotent,
    )

    tmp = tempfile.mkdtemp(prefix="streamsim_")
    ev_dir = f"{tmp}/events"
    os.makedirs(ev_dir)
    ev = _prep_event_files(spark, sf_dir, ev_dir)
    results: dict[str, dict] = {}

    def stream_src():
        # maxFilesPerTrigger=1 → one micro-batch per time slice, so the
        # watermark advances across batches and stateful ops see real
        # incremental arrival
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_dir)
        )

    def drain(stream: DataFrame, name: str, mode: str) -> pd.DataFrame:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).toPandas()

    def run(name: str, fn):
        try:
            results[name] = fn()
            status = "PASS" if results[name]["hash_match"] else "FAIL"
        except Exception as e:  # noqa: BLE001
            results[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "err": f"{type(e).__name__}: {str(e)[:300]}",
            }
            status = "ERROR"
        print(f"{status} {name}: {json.dumps({k: v for k, v in results[name].items() if k != 'err'})}"
              + (f" err={results[name]['err']}" if results[name].get("err") else ""))

    # 1. daily rollup — complete mode gives the final aggregate table;
    #    batch twin is the same day-window aggregation in one pass
    def _daily():
        s = drain(daily_rollup_stream(stream_src()), "ss_rollup", "complete")
        b = (
            ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.approx_count_distinct("user_id").alias("approx_users"),
                F.sum(F.col("value").cast("decimal(22,6)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("w.start").alias("day_start"),
                "event_type",
                "n_events",
                "approx_users",
                "total_value",
            )
            .toPandas()
        )
        return _canon_ok(s, b)

    # 2. session windows — append emits sessions FINALIZED by the
    #    watermark; the batch twin is the lag-gap sessionization filtered
    #    to sessions whose (end = last_ts + gap) the final watermark passed
    def _session():
        s = drain(session_stream(stream_src()), "ss_sess", "append")
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        run_w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        prev_us = F.lag(F.unix_micros("ts")).over(w)
        is_start = (
            F.unix_micros("ts") - F.coalesce(prev_us, F.lit(-(4 * 10**18)))
            > 30 * 60 * 1_000_000
        ).cast("int")
        sess_key = F.max(F.when(F.col("__is_start") == 1, F.col("ts"))).over(run_w)
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        b = (
            ev.withColumn("__is_start", is_start)
            .withColumn("__sk", sess_key)
            .groupBy("user_id", "__sk")
            .agg(
                F.min("ts").alias("session_start"),
                (F.timestamp_micros(F.unix_micros(F.max("ts")) + 30 * 60 * 1_000_000)).alias(
                    "session_end"
                ),
                F.count("*").alias("n_events"),
                F.sum("value").alias("session_value"),
            )
            .drop("__sk")
            .select("session_start", "session_end", "user_id", "n_events", "session_value")
            .filter(
                F.col("session_end")
                <= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR")
            )
            .toPandas()
        )
        return _canon_ok(s, b)

    # 3. stream-stream interval join — inner joins emit matches as found;
    #    batch twin is the plain interval self-join
    def _attrib():
        s = drain(view_purchase_attribution(stream_src()), "ss_attrib", "append")
        views = ev.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("view_ts")
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        b = (
            views.join(
                purchases,
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("purchase_ts") > F.col("view_ts"))
                & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
            )
            .select("user_id", "purchase_id", "view_ts", "purchase_ts", "purchase_value")
            .toPandas()
        )
        return _canon_ok(s, b)

    # 4. curation gate — stateless ingest gate; batch twin built from the
    #    batch operators (quality_keep_expr + redact_pii), not the stream fn
    def _curation():
        from funnel_report_etl_pipeline__spark.operators.text import (
            quality_keep_expr,
            redact_pii,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            "text",
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000) + F.col("doc_id") * 60_000_000
            ).alias("ts"),
        )
        doc_dir = f"{tmp}/docs"
        docs.coalesce(2).write.mode("overwrite").parquet(doc_dir)
        s = drain(
            curation_gate_stream(read_document_stream(spark, doc_dir)),
            "ss_cur",
            "append",
        )
        kept = docs.filter(quality_keep_expr("text"))
        red = redact_pii(kept, text_col="text")
        b = (
            red.join(docs.select("doc_id", "ts"), "doc_id")
            .select(
                "doc_id",
                "ts",
                *[c for c in red.columns if c.startswith("n_")],
                "redacted",
            )
            .toPandas()
        )
        return _canon_ok(s, b)

    # 5. streaming dedup — REDELIVER the last time-slice (same event_ids,
    #    within the watermark) as an extra file; the stream must drop every
    #    redelivery, so the batch twin is plain dropDuplicates(event_id)
    def _dedup():
        ddir = f"{tmp}/events_redelivered"
        shutil.copytree(ev_dir, ddir)
        shutil.copy(f"{ev_dir}/003.parquet", f"{ddir}/004.parquet")
        src = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ddir)
        )
        s = drain(dedup_stream(src, watermark="24 hours"), "ss_dedup", "append")
        b = ev.dropDuplicates(["event_id"]).toPandas()
        return _canon_ok(s, b)

    # 6. stateful funnel depth — update mode emits a row per (user, active
    #    batch); the FINAL depth per user (depth is monotone, so max) must
    #    equal the batch greedy walk: t1 = first signup, t2 = first view
    #    after t1, t3 = first purchase after t2
    def _depth():
        s_all = drain(funnel_depth_stream(stream_src()), "ss_depth", "update")
        s = (
            s_all.sort_values(["user_id", "depth"])
            .groupby("user_id", as_index=False)
            .last()
        )
        st = ev.filter(F.col("event_type").isin(*FUNNEL_STAGES))
        t1 = st.filter(F.col("event_type") == FUNNEL_STAGES[0]).groupBy("user_id").agg(
            F.min("ts").alias("t1")
        )
        t2 = (
            st.filter(F.col("event_type") == FUNNEL_STAGES[1])
            .join(t1, "user_id")
            .filter(F.col("ts") > F.col("t1"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t2"))
        )
        t3 = (
            st.filter(F.col("event_type") == FUNNEL_STAGES[2])
            .join(t2, "user_id")
            .filter(F.col("ts") > F.col("t2"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t3"))
        )
        b = (
            st.select("user_id")
            .distinct()
            .join(t1, "user_id", "left")
            .join(t2, "user_id", "left")
            .join(t3, "user_id", "left")
            .select(
                "user_id",
                F.when(F.col("t3").isNotNull(), 3)
                .when(F.col("t2").isNotNull(), 2)
                .when(F.col("t1").isNotNull(), 1)
                .otherwise(0)
                .cast("int")
                .alias("depth"),
                F.coalesce("t3", "t2", "t1").alias("last_ts"),
            )
            .toPandas()
        )
        return _canon_ok(s, b)

    # 7. exactly-once parquet sink — drain through foreachBatch, then
    #    REPLAY the last micro-batch (same rows, same batch_id) through the
    #    sink's write path, exactly what crash-recovery does: the output
    #    must still equal the input with zero duplicates. (Deleting the
    #    commit marker and restarting the query trips Spark 4.1's
    #    same-session external-modification guard on the commit log, so the
    #    replay is driven directly; maxFilesPerTrigger=1 makes batch i ==
    #    slice file i deterministically.)
    def _sink():
        out, ckpt = f"{tmp}/sink_out", f"{tmp}/sink_ckpt"
        q = write_stream_parquet_idempotent(stream_src(), out, ckpt, "ss_sink")
        q.awaitTermination()
        q.stop()
        last_slice = sorted(
            f for f in os.listdir(ev_dir) if f.endswith(".parquet")
        )[-1]
        last_id = int(last_slice.split(".")[0])
        (
            spark.read.parquet(f"{ev_dir}/{last_slice}")
            .withColumn("batch_id", F.lit(last_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )
        spark.catalog.refreshByPath(out)
        s = spark.read.parquet(out).drop("batch_id").toPandas()
        b = ev.toPandas()
        return _canon_ok(s, b)

    # 8. late-data drop — redeliver the FIRST time slice's rows with fresh
    #    event_ids as a final file: they arrive after the watermark has
    #    advanced ~a month past their event time, so the windowed aggregate
    #    must DROP every one of them (their day windows' state is evicted).
    #    Run the rollup in APPEND mode — it emits only watermark-finalized
    #    windows — and aggregate the batch twin over the ORIGINAL rows only,
    #    filtered to windows the final watermark passed. A leaked late row
    #    would double a closed day's counts (hash mismatch); a watermark
    #    mis-advance (late rows must NOT move it) would change the emitted
    #    window set (rows mismatch).
    def _late():
        ldir = f"{tmp}/events_late"
        shutil.copytree(ev_dir, ldir)
        late_dir = f"{tmp}/late_slice"
        (
            spark.read.parquet(f"{ev_dir}/000.parquet")
            .withColumn("event_id", F.col("event_id") + F.lit(10**12))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(late_dir)
        )
        part = next(f for f in os.listdir(late_dir) if f.startswith("part-"))
        shutil.move(f"{late_dir}/{part}", f"{ldir}/004.parquet")
        src = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ldir)
        )
        s = drain(daily_rollup_stream(src), "ss_late", "append")
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        b = (
            ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.approx_count_distinct("user_id").alias("approx_users"),
                F.sum(F.col("value").cast("decimal(22,6)"))
                .cast("double")
                .alias("total_value"),
            )
            # STRICT cutoff, and the boundary-coincident window (end ==
            # watermark exactly) is excluded from BOTH sides below: Spark's
            # append-mode eviction predicate at the boundary is an
            # implementation detail we must not bake an assumption about —
            # a day window ending exactly on max_ts - 1h would otherwise
            # make parity hinge on <= vs < (advisor finding, round 7)
            .filter(F.col("w.end") < F.lit(max_ts) - F.expr("INTERVAL 1 HOUR"))
            .select(
                F.col("w.start").alias("day_start"),
                "event_type",
                "n_events",
                "approx_users",
                "total_value",
            )
            .toPandas()
        )
        wm_cut = pd.Timestamp(max_ts) - pd.Timedelta(hours=1)
        s = s[(pd.to_datetime(s["day_start"]) + pd.Timedelta(days=1)) < wm_cut]
        return _canon_ok(s.reset_index(drop=True), b)

    # sliding-window rollup — complete mode; batch twin is the same
    # window/slide aggregation in one pass. Each event lands in 2
    # overlapping windows at the 1d/12h defaults, so a row-count match
    # alone would already catch a broken slide; the hash pins the values.
    def _sliding():
        from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
            sliding_rollup_stream,
        )

        s = drain(sliding_rollup_stream(stream_src()), "ss_sliding", "complete")
        b = (
            ev.groupBy(F.window("ts", "1 day", "12 hours").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(22,6)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n_events",
                "total_value",
            )
            .toPandas()
        )
        return _canon_ok(s, b)

    # 13. UPDATE-mode drain of the sliding rollup with MEASURED state
    #     eviction (round-9 verdict ask #6): the "watermark-evicted" claim
    #     in funnel_stream.py must be a number from the engine's own
    #     state-store metrics, not an assertion. Four file-batches over 30
    #     days of events → the watermark advances ~7.5 days per batch and
    #     closed 1-day/12-h windows are REMOVED from state
    #     (numRowsRemoved > 0) while live ones remain (final numRowsTotal
    #     < all keys ever created). Parity: update mode re-emits a key
    #     each batch it changes, so the memory sink holds a history —
    #     the batch twin's exact final row must appear among each key's
    #     emissions, key sets must match, and per-key max(n_events) (the
    #     count is monotone across updates) must equal the batch count.
    def _sliding_update_eviction():
        from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
            sliding_rollup_stream,
        )

        q = (
            sliding_rollup_stream(stream_src())
            .writeStream.format("memory")
            .queryName("ss_slide_upd")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progs = [json.loads(p.json) for p in q.recentProgress]
        removed = sum(
            op.get("numRowsRemoved", 0)
            for p in progs
            for op in p.get("stateOperators", [])
        )
        final_total = next(
            (
                p["stateOperators"][0]["numRowsTotal"]
                for p in reversed(progs)
                if p.get("stateOperators")
            ),
            None,
        )
        s = spark.table("ss_slide_upd").toPandas()
        b = (
            ev.groupBy(F.window("ts", "1 day", "12 hours").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(22,6)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n_events",
                "total_value",
            )
            .toPandas()
        )
        key = ["window_start", "window_end", "event_type"]
        s_keys = set(map(tuple, s[key].itertuples(index=False)))
        b_keys = set(map(tuple, b[key].itertuples(index=False)))
        emitted = set(map(tuple, s.itertuples(index=False)))
        final_rows_emitted = all(tuple(r) in emitted for r in b.itertuples(index=False))
        max_n = s.groupby(key)["n_events"].max()
        b_n = b.set_index(key)["n_events"]
        counts_final = bool((max_n.sort_index() == b_n.sort_index()).all())
        res = {
            "rows_match": s_keys == b_keys,
            "schema_match": sorted(s.columns) == sorted(b.columns),
            "hash_match": bool(
                s_keys == b_keys
                and final_rows_emitted
                and counts_final
                and removed > 0
                and final_total is not None
                and final_total < len(b)
            ),
            "stream_rows": len(s),
            "batch_rows": len(b),
            "state_rows_removed": int(removed),
            "state_rows_final": int(final_total) if final_total is not None else None,
            "windows_ever": len(b),
            "err": None,
        }
        return res

    run("daily_rollup_stream", _daily)
    run("sliding_rollup_stream", _sliding)
    run("sliding_rollup_update_eviction", _sliding_update_eviction)
    run("session_stream", _session)
    run("view_purchase_attribution", _attrib)
    run("curation_gate_stream", _curation)
    run("dedup_stream", _dedup)
    run("funnel_depth_stream", _depth)
    # 9. LEFT OUTER stream-stream interval join — matched views emit with
    #    their purchase; unconverted views emit null-side rows only when
    #    the GLOBAL watermark (min of the two sides' per-stream watermarks)
    #    proves their 1-hour match window closed. The batch twin replays
    #    both rules; views still inside the final watermark must NOT
    #    appear (an eager null emission would surface as extra rows).
    def _attrib_outer():
        from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
            view_purchase_attribution_outer,
        )

        s = drain(
            view_purchase_attribution_outer(stream_src()), "ss_attrib_outer", "append"
        )
        views = ev.filter(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        max_view = views.agg(F.max("view_ts")).collect()[0][0]
        max_purch = purchases.agg(F.max("purchase_ts")).collect()[0][0]
        wm = min(max_view, max_purch) - __import__("datetime").timedelta(hours=2)
        matched = views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") > F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        unmatched = (
            views.join(
                matched.select(F.col("view_id").alias("m_vid")),
                views.view_id == F.col("m_vid"),
                "left_anti",
            )
            .filter(F.col("view_ts") + F.expr("INTERVAL 1 HOUR") < F.lit(wm))
            .select(
                "user_id", "view_id", "view_ts",
                F.lit(None).cast("long").alias("purchase_id"),
                F.lit(None).cast("timestamp").alias("purchase_ts"),
                F.lit(None).cast("double").alias("purchase_value"),
            )
        )
        b = (
            matched.select(
                "user_id", "view_id", "view_ts", "purchase_id", "purchase_ts",
                "purchase_value",
            )
            .unionByName(unmatched)
            .toPandas()
        )
        return _canon_ok(s, b)

    # 10. crash/restart replay soak (round-7 verdict ask #6) — a CONTINUOUS
    #     rate source runs >75 s in a CHILD process (own JVM) through the
    #     idempotent parquet sink with a 3 s processing-time trigger, then
    #     is SIGKILLed mid-run (a genuine crash: no graceful commit). The
    #     newest commit marker is then removed so the restart — in THIS
    #     process, from the same checkpoint — must REPLAY that batch over
    #     its recorded offset range before streaming on. Exactly-once
    #     proof: rate-source `value` is the global row number, so after
    #     the restart the committed output must be a contiguous, dup-free
    #     0..max range — an appended (non-idempotent) replay would
    #     duplicate the replayed batch's rows; a skipped replay would
    #     leave a gap.
    def _restart():
        import signal
        import subprocess
        import time

        out, ckpt = f"{tmp}/rate_out", f"{tmp}/rate_ckpt"
        commits_dir = f"{ckpt}/commits"
        t0 = time.time()
        child = subprocess.Popen(
            [
                sys.executable, os.path.abspath(__file__),
                "--phase1-rate", out, ckpt, "300",
            ],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            cwd=os.getcwd(),
        )
        # let it stream for 75+ s of wall clock with a healthy commit count
        deadline = time.time() + 240
        try:
            while time.time() < deadline:
                n = (
                    len([f for f in os.listdir(commits_dir) if f.isdigit()])
                    if os.path.isdir(commits_dir)
                    else 0
                )
                if n >= 8 and time.time() - t0 >= 75:
                    break
                time.sleep(2)
            child.send_signal(signal.SIGKILL)
        finally:
            child.wait()
        committed = sorted(
            int(f) for f in os.listdir(commits_dir) if f.isdigit()
        )
        if len(committed) < 3:
            raise RuntimeError(f"phase 1 committed only {committed}")
        last = committed[-1]
        pre_rows = (
            spark.read.parquet(out)
            .filter(F.col("batch_id").isin(committed))
            .count()
        )
        # guarantee a replay: drop the newest commit marker — the restart
        # sees offsets[last] without commits[last] and re-runs that batch.
        # The local FS checkpoint keeps a hidden Hadoop checksum sidecar
        # (.N.crc) next to each marker; leave it behind and the replayed
        # commit's rename fails with FileAlreadyExistsException, which
        # Spark surfaces as the misleading "multiple streaming queries
        # concurrently using <ckpt>/commits" guard error.
        os.remove(f"{commits_dir}/{last}")
        crc = f"{commits_dir}/.{last}.crc"
        if os.path.exists(crc):
            os.remove(crc)
        from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
            write_stream_parquet_idempotent,
        )

        src2 = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", RATE_ROWS_PER_SEC)
            .load()
        )
        q2 = write_stream_parquet_idempotent(
            _rate_events(src2), out, ckpt, "rate_sink_resume",
            trigger={"processingTime": "3 seconds"},
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            cs = sorted(int(f) for f in os.listdir(commits_dir) if f.isdigit())
            if cs and cs[-1] >= last + 3:
                break
            time.sleep(2)
        q2.stop()
        q2.awaitTermination(60)
        cs = sorted(int(f) for f in os.listdir(commits_dir) if f.isdigit())
        replayed = last in cs and max(cs) > last
        contiguous_commits = cs == list(range(cs[0], cs[-1] + 1)) and cs[0] == 0
        spark.catalog.refreshByPath(out)
        vals = (
            spark.read.parquet(out)
            .filter(F.col("batch_id").isin(cs))  # committed batches only
            .select("event_id")
            .toPandas()["event_id"]
        )
        n, d = len(vals), vals.nunique()
        mn, mx = (int(vals.min()), int(vals.max())) if n else (-1, -1)
        ok = (
            replayed
            and contiguous_commits
            and n == d  # no duplicates despite the forced replay
            and mn == 0
            and mx == n - 1  # no gaps: every produced row exactly once
            and n > pre_rows  # the restart also made forward progress
        )
        res = {
            "rows_match": n == d,
            "schema_match": mn == 0 and mx == n - 1,
            "hash_match": ok,
            "stream_rows": n,
            "batch_rows": d,
            "err": None,
            "replayed_batch": last,
            "commits_after_restart": len(cs),
            "pre_crash_committed_rows": pre_rows,
        }
        if not ok:
            # self-describing flake record (the r10 lesson): which leg of
            # the conjunction failed, and where the id range sits
            res["diag"] = {
                "replayed": replayed,
                "contiguous_commits": contiguous_commits,
                "id_min": mn,
                "id_max": mx,
                "n_ids": n,
                "n_distinct": d,
            }
        return res

    # 11. stream-STATIC enrichment join — each user's acquisition channel
    #     (their chronologically first event type, tie-broken by event_id)
    #     is PRECOMPUTED as a static dim table, then the live stream is
    #     left-joined against it per micro-batch. Stateless: the batch
    #     twin is the identical join in one pass; every event row must
    #     come back exactly once with its channel attached (a dropped or
    #     duplicated row = stream-static machinery failure).
    def _enrich():
        from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
            enrich_stream,
        )
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        dim = (
            ev.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", F.col("event_type").alias("acq_channel"))
        )
        dim_dir = f"{tmp}/user_dim"
        dim.coalesce(1).write.mode("overwrite").parquet(dim_dir)
        static_dim = spark.read.parquet(dim_dir)
        s = drain(
            enrich_stream(stream_src(), static_dim), "ss_enrich", "append"
        )
        b = ev.join(static_dim, "user_id", "left").toPandas()
        return _canon_ok(s, b)

    # 12. versioned change-data feed as a STREAMING source — the round-11
    #     composition: readStream over a versioned table's commit log,
    #     emitting each newly committed version's change set (the delta
    #     directory for delta commits, the id anti-join for snapshot
    #     recommits). Batch twin: `version_changes` pair-by-pair over the
    #     same 3-version history (v1 snapshot → v2 delta append → v3
    #     curated snapshot WITH deletes). Hash parity proves the stream
    #     consumer sees exactly the batch diff feed, incrementally.
    def _cdf():
        from funnel_report_etl_pipeline__spark.sources.sinks import (
            append_versioned,
            read_versioned,
            version_changes,
            write_versioned,
        )
        from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
            stream_versioned_changes,
        )

        t = f"{tmp}/cdf_table"
        ids = ev.select(F.col("user_id").alias("uid")).distinct()
        write_versioned(ids.filter("uid % 3 = 0"), t, id_col="uid")
        append_versioned(ids.filter("uid % 3 = 1"), t, id_col="uid")
        write_versioned(ids.filter("uid % 2 = 0"), t, id_col="uid")

        emitted: list[pd.DataFrame] = []

        def emit(changes_df, from_v, to_v):
            pdf = changes_df.toPandas()
            pdf["from_version"] = from_v
            pdf["to_version"] = to_v
            emitted.append(pdf)

        q = stream_versioned_changes(
            spark, t, f"{tmp}/cdf_ckpt", "uid", emit, query_name="ss_cdf"
        )
        q.awaitTermination()
        s = pd.concat(emitted, ignore_index=True)
        b = pd.concat(
            [
                read_versioned(spark, t, 1)
                .select(F.col("uid"), F.lit("insert").alias("_change_type"))
                .toPandas()
                .assign(from_version=0, to_version=1),
                version_changes(spark, t, 1, 2, "uid")
                .toPandas()
                .assign(from_version=1, to_version=2),
                version_changes(spark, t, 2, 3, "uid")
                .toPandas()
                .assign(from_version=2, to_version=3),
            ],
            ignore_index=True,
        )
        return _canon_ok(s, b)

    # 13. versioned INGEST sink with auto-compaction — the real
    #     writeStream path: each micro-batch delta-commits one version
    #     (exactly-once ledger), and the sink compacts whenever the head
    #     chain exceeds 2 dirs. Batch twin: the same rows read directly.
    #     Hash parity proves compaction is layout-only under live ingest;
    #     the chain-length assertion proves it actually ran.
    def _versioned_ingest():
        from funnel_report_etl_pipeline__spark.sources.sinks import (
            _data_dirs_for,
            _manifest_rows,
            read_versioned,
        )
        from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
            write_stream_versioned,
        )

        t = f"{tmp}/ingest_table"
        q = write_stream_versioned(
            stream_src().select("event_id", "user_id", "event_type"),
            t,
            f"{tmp}/ingest_ckpt",
            id_col="event_id",
            query_name="ss_versioned_ingest",
            auto_compact_chain=2,
        )
        q.awaitTermination()
        rows = _manifest_rows(spark, t)
        head = max(r["version"] for r in rows)
        chain = len(_data_dirs_for(t, rows, head))
        kinds = [r["kind"] for r in sorted(rows, key=lambda r: r["version"])]
        s = read_versioned(spark, t).toPandas()
        b = ev.select("event_id", "user_id", "event_type").toPandas()
        res = _canon_ok(s, b)
        res["head_chain_dirs"] = chain
        res["n_versions"] = len(rows)
        res["n_compactions"] = sum(
            1 for r in rows if r["kind"] == "snapshot" and r["batch_id"] is None
        )
        # the policy must have fired AND bounded the head chain
        res["hash_match"] = bool(
            res["hash_match"] and chain <= 3 and res["n_compactions"] >= 1
            and kinds[0] == "delta"
        )
        return res

    # 14. exactly-once table REPLICATION from the commit log — the
    #     round-12 composition: a 4-kind source history (snapshot, delta,
    #     tombstone, merge) drained through replicate_versioned_table
    #     (readStream over the source's commit log, each commit replayed
    #     onto the replica with the ledger keyed by SOURCE version), then
    #     a FORCED crash-replay of the last commit. Green requires: full
    #     payload hash parity of the replica head vs the source head,
    #     version-for-version manifest stat parity (n_rows + checksum +
    #     ledger), the replayed kinds staying the O(changes) operations,
    #     and the forced replay being SKIPPED.
    def _replication():
        from funnel_report_etl_pipeline__spark.sources.sinks import (
            _manifest_rows,
            append_versioned,
            delete_versioned,
            merge_versioned,
            read_versioned,
            write_versioned,
        )
        from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
            apply_replicated_commit,
            replicate_versioned_table,
        )

        src, rep = f"{tmp}/repl_src", f"{tmp}/repl_dst"
        stats = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
        write_versioned(stats.filter("user_id % 2 = 0"), src, id_col="user_id")
        append_versioned(stats.filter("user_id % 2 = 1"), src, id_col="user_id")
        delete_versioned(
            spark, src, stats.filter("user_id % 5 = 0").select("user_id"),
            id_col="user_id",
        )
        merge_versioned(
            spark, src,
            stats.filter("user_id % 3 = 0").withColumn(
                "n_events", F.col("n_events") + F.lit(1000)
            ),
            id_col="user_id",
        )
        q = replicate_versioned_table(
            spark, src, rep, f"{tmp}/repl_ckpt", "user_id", "ss_replication"
        )
        q.awaitTermination()
        last = _manifest_rows(spark, src)[-1]
        replay_skipped = (
            apply_replicated_commit(spark, src, rep, last, "user_id") is False
        )
        s = read_versioned(spark, rep).toPandas()
        b = read_versioned(spark, src).toPandas()
        res = _canon_ok(s, b)
        rm = _manifest_rows(spark, rep)
        sm = _manifest_rows(spark, src)
        manifest_parity = len(rm) == len(sm) == 4 and all(
            r["n_rows"] == s2["n_rows"]
            and r["content_checksum"] == s2["content_checksum"]
            and r["batch_id"] == s2["version"]
            for r, s2 in zip(rm, sm)
        )
        res["n_versions"] = len(rm)
        res["replay_skipped"] = replay_skipped
        res["manifest_parity"] = manifest_parity
        res["replicated_kinds"] = [r["kind"] for r in rm]
        res["hash_match"] = bool(
            res["hash_match"] and replay_skipped and manifest_parity
            and res["replicated_kinds"]
            == ["snapshot", "delta", "tombstone", "merge"]
        )
        return res

    # 15. streaming MERGE ingest (CDC apply) — each time slice upserts its
    #     per-user stats (commit_stream_batch mode='merge', the sink's
    #     commit path, module-level like case 7's replay drive): the final
    #     table must hold each user's LAST-slice stats — hash parity
    #     against a batch latest-state twin — with a [snapshot, merge...]
    #     history, a recognized replay, and time-travel to every
    #     intermediate CDC state.
    def _merge_ingest():
        from funnel_report_etl_pipeline__spark.sources.sinks import (
            _manifest_rows,
            read_versioned,
            table_versions,
        )
        from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
            commit_stream_batch,
        )
        from pyspark.sql import Window

        t = f"{tmp}/cdc_table"
        slices = sorted(
            f for f in os.listdir(ev_dir) if f.endswith(".parquet")
        )

        def slice_stats(i: int):
            return (
                spark.read.parquet(f"{ev_dir}/{slices[i]}")
                .groupBy("user_id")
                .agg(
                    F.count("*").alias("n_events"),
                    F.sum(F.col("value").cast("decimal(22,6)"))
                    .cast("double")
                    .alias("total_value"),
                )
            )

        for i in range(len(slices)):
            assert commit_stream_batch(
                slice_stats(i), t, "user_id", i, mode="merge"
            ) is True
        # forced replay of the last batch: ledger recognizes it
        replay_skipped = (
            commit_stream_batch(
                slice_stats(len(slices) - 1), t, "user_id",
                len(slices) - 1, mode="merge",
            )
            is False
        )
        s = read_versioned(spark, t).toPandas()
        # batch latest-state twin: per user, the stats of the LAST slice
        # that contains the user
        parts = [
            spark.read.parquet(f"{ev_dir}/{f}").withColumn("__b", F.lit(i))
            for i, f in enumerate(slices)
        ]
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionByName(p)
        per_slice = allp.groupBy("user_id", "__b").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)"))
            .cast("double")
            .alias("total_value"),
        )
        w = Window.partitionBy("user_id").orderBy(F.col("__b").desc())
        b = (
            per_slice.withColumn("__r", F.row_number().over(w))
            .filter("__r = 1")
            .drop("__b", "__r")
            .toPandas()
        )
        res = _canon_ok(s, b)
        kinds = [r["kind"] for r in _manifest_rows(spark, t)]
        res["replay_skipped"] = replay_skipped
        res["kinds"] = kinds
        res["n_versions"] = len(table_versions(spark, t))
        # time travel: version 1 is exactly slice 0's stats
        v1 = read_versioned(spark, t, 1).count()
        res["v1_rows_ok"] = v1 == slice_stats(0).count()
        res["hash_match"] = bool(
            res["hash_match"] and replay_skipped and res["v1_rows_ok"]
            and kinds[0] == "snapshot"
            and all(k == "merge" for k in kinds[1:])
        )
        return res

    run("idempotent_parquet_sink", _sink)
    run("late_data_drop", _late)
    run("view_purchase_attribution_outer", _attrib_outer)
    run("enrich_stream", _enrich)
    run("versioned_cdf_stream", _cdf)
    run("versioned_ingest_compacting", _versioned_ingest)
    run("versioned_replication_exactly_once", _replication)
    run("versioned_merge_ingest_cdc", _merge_ingest)
    run("restart_replay", _restart)

    n_pass = sum(1 for r in results.values() if r.get("hash_match"))
    print(f"{n_pass}/{len(results)} streaming ops batch-parity green")
    if json_path:
        with open(json_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "results": results}, f, indent=1)
        print(f"wrote {json_path}")
    shutil.rmtree(tmp, ignore_errors=True)
    return 0 if n_pass == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
