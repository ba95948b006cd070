"""Partitioned-parquet sink + landing-zone conversion."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark import schemas
from funnel_report_etl_pipeline__spark.sources.datespec import parse_date_spec
from funnel_report_etl_pipeline__spark.sources.sinks import (
    convert_landing_zone,
    write_partitioned,
)

STEM = "uf-stages-user-funnel"


@pytest.fixture()
def landing(tmp_path):
    for d in ("14_02_2026", "15_02_2026"):
        day = tmp_path / "landing" / d
        day.mkdir(parents=True)
        with open(day / f"{STEM}-{d}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["Entity_ID", "Date"] + schemas.STAGE_COLUMNS)
            w.writerow(["FIU_001", d.replace("_", "-"), *["1"] * 11])
            w.writerow(["FIU_002", d.replace("_", "-"), *["2"] * 11])
    return str(tmp_path / "landing")


def test_convert_landing_zone(spark, landing, tmp_path):
    out = str(tmp_path / "parquet")
    w = parse_date_spec("14_02_2026 -> 15_02_2026")
    df = convert_landing_zone(
        spark, landing, "uf_stages", w, schemas.UF_STAGES_SCHEMA, out
    )
    assert df.count() == 4
    # the path date became a typed partition column
    assert {str(r.event_date) for r in df.select("event_date").distinct().collect()} == {
        "2026-02-14",
        "2026-02-15",
    }
    # physically partitioned: hive-style directories exist
    assert os.path.isdir(os.path.join(out, "event_date=2026-02-14"))
    # partition pruning applies: filtered scan reads one partition
    pruned = df.filter(F.col("event_date") == "2026-02-14")
    assert pruned.count() == 2
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_incremental_rollup_materialization(spark, tmp_path):
    from datetime import datetime

    from funnel_report_etl_pipeline__spark.sources.sinks import materialize_daily_rollup

    out = str(tmp_path / "rollup")

    def ev(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
        )

    day1 = [(i, i % 3, "view", datetime(2026, 1, 1, 10, i), 1.0) for i in range(6)]
    day2 = [(10 + i, i % 2, "click", datetime(2026, 1, 2, 9, i), 2.0) for i in range(4)]

    # collect eagerly after each run: the tail refresh rewrites the newest
    # partition, so earlier runs' DataFrames point at replaced files
    r1 = materialize_daily_rollup(spark, ev(day1), out).collect()
    assert {r.day for r in r1} == {"2026-01-01"}

    # second run sees both days but must only compute/write the new one
    r2 = materialize_daily_rollup(spark, ev(day1 + day2), out).collect()
    rows = {(r.day, r.event_type): r for r in r2}
    assert rows[("2026-01-01", "view")].n_events == 6
    assert rows[("2026-01-02", "click")].n_events == 4

    # idempotent re-run: nothing duplicated
    r3 = materialize_daily_rollup(spark, ev(day1 + day2), out).collect()
    assert len(r3) == len(r2)

    # the newest day is ALWAYS recomputed: more day-2 events arriving after
    # a mid-day materialization must not be frozen out
    late = [(20, 9, "click", datetime(2026, 1, 2, 23, 0), 2.0)]
    r4 = materialize_daily_rollup(spark, ev(day1 + day2 + late), out).collect()
    assert {(r.day, r.event_type): r.n_events for r in r4}[("2026-01-02", "click")] == 5


def test_rollup_empty_first_run(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.sources.sinks import materialize_daily_rollup

    empty = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    out = materialize_daily_rollup(spark, empty, str(tmp_path / "never_written"))
    assert out.count() == 0
    assert "day" in out.columns


def test_write_partitioned_caps_file_rows(spark, tmp_path):
    out = str(tmp_path / "capped")
    df = spark.range(100).withColumn("part", (F.col("id") % 2).cast("string"))
    write_partitioned(df, out, ["part"], target_file_rows=10)
    files = [
        f
        for f in os.listdir(os.path.join(out, "part=0"))
        if f.endswith(".parquet")
    ]
    assert len(files) >= 5  # 50 rows / 10 per file


def test_jsonl_ingest_roundtrip_and_corrupt_lines(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.sources.sinks import read_documents_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web"}\n'
        "this line is not json at all\n"
        '{"doc_id": 3, "text": "ok", "lang": "en", "source": "books"}\n'
    )
    # Spark disallows querying only _corrupt_record straight off a raw
    # JSON scan — persist the parsed batch first (what a real ingest does
    # before auditing its quarantine column)
    df = read_documents_jsonl(spark, str(p)).cache()
    df.count()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted(r.doc_id for r in good.collect()) == [1, 2, 3]
    assert bad.count() == 1  # quarantined, not fatal, not silently dropped
    assert {r.lang for r in good.collect()} == {"en", "fr"}


def test_training_shards_manifest_and_determinism(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.sources.sinks import write_training_shards

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    out1, out2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    m1 = {r.shard: (r.n_rows, r.content_checksum)
          for r in write_training_shards(docs, out1, n_shards=4).collect()}
    # identical corpus, different partitioning → identical shards + manifest
    m2 = {r.shard: (r.n_rows, r.content_checksum)
          for r in write_training_shards(docs.repartition(13), out2, n_shards=4).collect()}
    assert m1 == m2
    assert set(m1) == {0, 1, 2, 3}
    assert sum(n for n, _ in m1.values()) == 500
    # manifest counts match what actually landed in each shard directory
    for s, (n, _) in m1.items():
        assert spark.read.parquet(f"{out1}/shard={s}").count() == n
    # one data file per shard (the repartition(n, shard) contract)
    import glob

    for s in m1:
        files = [f for f in glob.glob(f"{out1}/shard={s}/*.parquet")]
        assert len(files) == 1, files


def test_compact_small_files(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.sources.sinks import compact_small_files

    frag = str(tmp_path / "frag")
    compacted = str(tmp_path / "compacted")
    spark.range(50_000).withColumn("v", F.col("id") * 3).repartition(
        64
    ).write.parquet(frag)
    import glob

    n_before = len(glob.glob(f"{frag}/part-*.parquet"))
    assert n_before == 64
    # target sized so the 50k rows fit in a couple of files
    n_target = compact_small_files(spark, frag, compacted, target_file_bytes=256 * 1024)
    n_after = len(glob.glob(f"{compacted}/part-*.parquet"))
    assert n_after == n_target < n_before
    # pure rewrite: same data
    assert (
        spark.read.parquet(compacted).agg(F.sum("v")).collect()[0][0]
        == spark.read.parquet(frag).agg(F.sum("v")).collect()[0][0]
    )


def test_orc_roundtrip_partition_prune_and_pushdown(spark, tmp_path):
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        read_columnar,
        write_columnar,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 4).alias("part"),
        (F.col("id") * 2).alias("v"),
    )
    out = str(tmp_path / "orc_ds")
    write_columnar(df, out, fmt="orc", partition_cols=["part"])

    back = read_columnar(spark, out, fmt="orc")
    # exact round-trip (values and row count)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]

    # predicate pushdown reaches the ORC scan, and partition pruning
    # keeps pruned directories out of the plan entirely
    q = back.filter((F.col("part") == 2) & (F.col("v") > 100)).select("id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(v), GreaterThan(v,100)]" in plan
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*\(part#\d+ = 2\)", plan)
    # ids ≡ 2 (mod 4) with 2·id > 100: 54, 58, …, 998
    assert q.count() == 237

    # unsupported format is an explicit error, not a silent parquet default
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_columnar(df, out, fmt="avro")


def test_manifest_rows_pyarrow_fast_path_matches_spark_reader(spark, tmp_path):
    """Round-15: _manifest_rows reads the per-version manifests locally
    with pyarrow (no Spark jobs). Parity contract with the mergeSchema
    Spark read it replaced: same rows, same version order, and a ledger
    column absent from OLDER manifests (schema evolution of the commit
    log itself, e.g. the round-13 'kind'/'tomb_dir' columns on a table
    whose v1 predates them) surfaces as None — field present on EVERY
    row."""
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        append_versioned,
        version_manifest,
        write_versioned,
    )

    t = str(tmp_path / "mtbl")
    df = spark.range(20).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    write_versioned(df, t, id_col="doc_id")
    append_versioned(
        spark.range(20, 25).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text"),
        t,
        id_col="doc_id",
    )
    fast = _manifest_rows(spark, t)
    slow = version_manifest(spark, t).orderBy("version").collect()
    assert [int(r["version"]) for r in fast] == [int(r["version"]) for r in slow]
    for fr, sr in zip(fast, slow):
        assert set(fr.__fields__) >= set(sr.__fields__)
        for k in sr.__fields__:
            assert fr[k] == sr[k], f"field {k}: {fr[k]!r} != {sr[k]!r}"


def test_manifest_rows_raises_on_manifest_dir_without_data(spark, tmp_path):
    """A committed version whose manifest directory lost its part files is
    corruption: the commit-log read and the snapshot read raise instead of
    silently serving the previous version."""
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        append_versioned,
        read_versioned,
        table_versions,
        write_versioned,
    )

    t = str(tmp_path / "mtbl")
    df = spark.range(20).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    write_versioned(df, t, id_col="doc_id")
    append_versioned(
        spark.range(20, 25).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text"),
        t,
        id_col="doc_id",
    )
    vs = table_versions(spark, t)
    assert len(vs) == 2
    mdir = os.path.join(t, "_versions", f"{vs[-1]}.parquet")
    for name in os.listdir(mdir):
        if name.endswith(".parquet"):
            os.remove(os.path.join(mdir, name))
    assert table_versions(spark, t) == vs
    with pytest.raises(RuntimeError, match="manifest dir without data files"):
        _manifest_rows(spark, t)
    with pytest.raises(RuntimeError, match="manifest dir without data files"):
        read_versioned(spark, t)


def test_pinned_schema_scan_declines_on_evolved_chain(spark, tmp_path):
    """Round-15: the footer-pinned multi-dir scan only fires when every
    directory's footer schema is identical; a schema-evolved delta chain
    must fall back to the mergeSchema reader (superset schema, NULLs for
    pre-evolution rows) — pinning either dir's footer would drop or
    mistype the evolved column."""
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _pinned_schema_scan,
        append_versioned,
        read_versioned,
        write_versioned,
    )

    t = str(tmp_path / "etbl")
    write_versioned(
        spark.range(10).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text"),
        t,
        id_col="doc_id",
    )
    append_versioned(
        spark.range(10, 14).selectExpr(
            "id AS doc_id", "CAST(id AS STRING) AS text", "id * 2 AS extra"
        ),
        t,
        id_col="doc_id",
    )
    import os

    dirs = [
        os.path.join(t, d)
        for d in sorted(os.listdir(t))
        if not d.startswith("_") and os.path.isdir(os.path.join(t, d))
    ]
    assert len(dirs) == 2
    assert _pinned_schema_scan(spark, dirs) is None  # evolved chain: decline
    assert _pinned_schema_scan(spark, dirs[:1]) is not None  # single dir: pin
    got = read_versioned(spark, t)
    assert "extra" in got.columns
    rows = {r["doc_id"]: r["extra"] for r in got.collect()}
    assert rows[3] is None and rows[12] == 24
