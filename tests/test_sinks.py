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


def _spark_manifest_reference(spark, t):
    """Test-only reference reader of the commit log, independent of the
    engine's pyarrow reader: Spark's mergeSchema scan of every committed
    manifest directory (absent columns → NULL), as the engine read the
    log before it was read only locally."""
    from funnel_report_etl_pipeline__spark.sources.sinks import table_versions

    paths = [os.path.join(t, "_versions", f"{v}.parquet") for v in table_versions(spark, t)]
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def test_manifest_rows_pyarrow_fast_path_matches_spark_reader(spark, tmp_path):
    """Round-15: _manifest_rows reads the per-version manifests locally
    with pyarrow (no Spark jobs). Parity contract with the mergeSchema
    Spark read (`_spark_manifest_reference`): same rows, same version
    order, and a ledger column absent from OLDER manifests (schema
    evolution of the commit log itself, e.g. the round-13
    'kind'/'tomb_dir' columns on a table whose v1 predates them)
    surfaces as None — field present on EVERY row."""
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        append_versioned,
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
    slow = _spark_manifest_reference(spark, t).orderBy("version").collect()
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


def _rewrite_manifest_with_spark(spark, mdir):
    """Replace a committed manifest directory's contents with what the
    Spark writer (the manifest writer before commits were written
    locally) produced for the same row: createDataFrame + coalesce(1) +
    write.parquet, types from the DDL schema the writer used."""
    import shutil

    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _MANIFEST_BASE_SCHEMA,
        _read_manifest_dir,
    )

    (row,) = _read_manifest_dir(mdir).to_pylist()
    base = [f.split()[0] for f in _MANIFEST_BASE_SCHEMA.split(",")]
    extra = [k for k in row if k not in base]
    schema = _MANIFEST_BASE_SCHEMA + "".join(f", {k} long" for k in extra)
    tmp = mdir + ".spark"
    spark.createDataFrame([tuple(row.values())], schema).coalesce(1).write.parquet(tmp)
    shutil.rmtree(mdir)
    os.rename(tmp, mdir)


def _is_spark_written(mdir) -> bool:
    """Spark's writer stores its schema in the footer; pyarrow does not."""
    import pyarrow.parquet as pq

    from funnel_report_etl_pipeline__spark.sources.sinks import _SPARK_ROW_METADATA

    (f,) = [f for f in os.listdir(mdir) if f.endswith(".parquet")]
    return _SPARK_ROW_METADATA in (pq.read_schema(os.path.join(mdir, f)).metadata or {})


def test_mixed_spark_and_local_manifests_read_identically(spark, tmp_path):
    """A table whose early manifests were written by Spark and whose later
    ones were written locally reads the same through the local commit-log
    reader, its `version_manifest` view, the Spark mergeSchema reference
    and batch-id time travel."""
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        append_versioned,
        merge_versioned,
        read_versioned,
        read_versioned_as_of_batch,
        table_versions,
        version_manifest,
        write_versioned,
    )

    t = str(tmp_path / "mixed")
    docs = spark.range(30).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    write_versioned(docs.filter("doc_id < 20"), t, id_col="doc_id", batch_id=10)
    append_versioned(docs.filter("doc_id >= 20"), t, id_col="doc_id", batch_id=11)
    for v in (1, 2):
        _rewrite_manifest_with_spark(spark, os.path.join(t, "_versions", f"{v}.parquet"))
    # later commits build on the Spark-written predecessors
    merge_versioned(
        spark, t,
        spark.range(25, 35).selectExpr("id AS doc_id", "'m' AS text"),
        "doc_id", batch_id=12,
    )
    append_versioned(
        spark.range(40, 42).selectExpr("id AS doc_id", "'a' AS text"),
        t, id_col="doc_id", batch_id=13,
    )
    vs = table_versions(spark, t)
    assert vs == [1, 2, 3, 4]
    written_by_spark = [
        _is_spark_written(os.path.join(t, "_versions", f"{v}.parquet")) for v in vs
    ]
    assert written_by_spark == [True, True, False, False]

    local = _manifest_rows(spark, t)
    remote = _spark_manifest_reference(spark, t).orderBy("version").collect()
    assert [r.asDict() for r in local] == [r.asDict() for r in remote]
    assert version_manifest(spark, t).collect() == local
    assert [r["batch_id"] for r in local] == [10, 11, 12, 13]
    assert [r["n_rows"] for r in local] == [20, 30, 35, 37]
    # commit_ts stays strictly increasing across the writer change
    ts = [r["commit_ts"] for r in local]
    assert all(a < b for a, b in zip(ts, ts[1:]))
    for bid, v in zip((10, 11, 12, 13), vs):
        got = sorted(tuple(r) for r in read_versioned_as_of_batch(spark, t, bid).collect())
        assert got == sorted(tuple(r) for r in read_versioned(spark, t, v).collect())
    head = {r["doc_id"]: r["text"] for r in read_versioned(spark, t).collect()}
    assert len(head) == 37 and head[27] == "m" and head[5] == "5" and head[41] == "a"


def test_local_manifest_schema_and_null_round_trip(spark, tmp_path):
    """A locally written manifest has the Spark writer's column names,
    order and types (`_MANIFEST_BASE_SCHEMA` then the `extra` longs), and
    NULL batch_id / tomb_dir plus the extra column round-trip through
    the commit-log reader and the Spark mergeSchema reference."""
    import pyarrow.parquet as pq

    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        version_manifest,
        write_versioned,
    )

    t = str(tmp_path / "nulls")
    write_versioned(
        spark.range(5).selectExpr("id AS doc_id"), t, id_col="doc_id",
        extra={"n_src": 7},
    )
    mdir = os.path.join(t, "_versions", "1.parquet")
    assert not _is_spark_written(mdir)
    (part,) = [f for f in os.listdir(mdir) if f.endswith(".parquet")]
    local_schema = pq.read_schema(os.path.join(mdir, part))

    (row,) = _manifest_rows(spark, t)
    assert row["batch_id"] is None and row["tomb_dir"] is None
    assert row["n_src"] == 7 and row["n_rows"] == 5 and row["kind"] == "snapshot"
    (srow,) = _spark_manifest_reference(spark, t).collect()
    assert srow.asDict() == row.asDict()
    assert version_manifest(spark, t).schema.simpleString() == (
        "struct<version:bigint,n_rows:bigint,content_checksum:bigint,"
        "batch_id:bigint,kind:string,data_dir:string,n_delta:bigint,"
        "tomb_dir:string,n_tomb:bigint,commit_ts:bigint,n_src:bigint>"
    )
    # the Spark writer's file for the same row has the same parquet schema
    _rewrite_manifest_with_spark(spark, mdir)
    (spart,) = [f for f in os.listdir(mdir) if f.endswith(".parquet")]
    spark_schema = pq.read_schema(os.path.join(mdir, spart))
    assert spark_schema.equals(local_schema)  # metadata is not compared
    assert _manifest_rows(spark, t)[0].asDict() == row.asDict()


def test_v1_manifest_then_current_manifests_match_reference_schema(spark, tmp_path):
    """A v1-protocol manifest (version, n_rows, content_checksum and an
    `extra` column) followed by current manifests: the commit log has the
    mergeSchema reference's column order and types — first-seen order, so
    the v1 extra column sits before the later ledger columns — and its
    values, with NULL where the v1 manifest lacks a column."""
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        append_versioned,
        version_manifest,
        write_versioned,
    )

    t = str(tmp_path / "v1mixed")
    docs = spark.range(12).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    os.makedirs(os.path.join(t, "_versions"))
    docs.filter("doc_id < 5").write.parquet(os.path.join(t, "v=1"))
    spark.createDataFrame(
        [(1, 5, 12345, 3)], "version long, n_rows long, content_checksum long, n_src long"
    ).coalesce(1).write.parquet(os.path.join(t, "_versions", "1.parquet"))
    write_versioned(docs.filter("doc_id < 8"), t, id_col="doc_id", batch_id=20)
    append_versioned(docs.filter("doc_id >= 8"), t, id_col="doc_id", batch_id=21)

    ref = _spark_manifest_reference(spark, t).orderBy("version")
    got = version_manifest(spark, t)
    assert got.schema == ref.schema
    assert got.columns[:5] == ["version", "n_rows", "content_checksum", "n_src", "batch_id"]
    rows = _manifest_rows(spark, t)
    assert [r.__fields__ for r in rows] == [ref.columns] * 3
    assert [tuple(r) for r in rows] == [tuple(r) for r in ref.collect()]
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in rows]
    assert [r["batch_id"] for r in rows] == [None, 20, 21]
    assert [r["n_src"] for r in rows] == [3, None, None]
    assert rows[0]["kind"] is None and rows[1]["kind"] == "snapshot"


def test_uncommitted_tmp_manifest_is_invisible(spark, tmp_path):
    """A `.tmp.*` manifest attempt without `_SUCCESS` (a crash between the
    part file and the marker) is invisible to `table_versions` and to the
    streaming commit-log source."""
    import pyarrow.parquet as pq

    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_table,
        table_versions,
        write_versioned,
    )
    from funnel_report_etl_pipeline__spark.streaming.funnel_stream import (
        read_version_commits,
    )

    t = str(tmp_path / "crash")
    write_versioned(spark.range(3).selectExpr("id AS doc_id"), t, id_col="doc_id")
    tmp = os.path.join(t, "_versions", ".tmp.crashed.2.parquet")
    os.makedirs(tmp)
    pq.write_table(
        _manifest_table([2, 3, 0, None, "delta", "d-x", 0, None, 0, 1], []),
        os.path.join(tmp, "part-00000-x-c000.snappy.parquet"),
    )
    assert table_versions(spark, t) == [1]
    q = (
        read_version_commits(spark, t)
        .writeStream.format("memory")
        .queryName("uncommitted_tmp_manifest")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [r["version"] for r in spark.table("uncommitted_tmp_manifest").collect()]
    assert got == [1]


def test_tombstone_joins_ignore_right_side_duplicates(spark, tmp_path):
    """Neither tombstone join depends on right-side multiplicity: deleting
    an id requested three times removes each live row once, and a
    tombstone directory holding an id twice (a duplicate-id table) removes
    exactly those rows."""
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        delete_versioned,
        read_versioned,
        write_versioned,
    )

    t = str(tmp_path / "dups")
    rows = [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (4, "e")]
    write_versioned(spark.createDataFrame(rows, "doc_id long, text string"), t, id_col="doc_id")
    ids = spark.createDataFrame([(1,), (1,), (2,), (2,), (2,), (9,)], "doc_id long")
    v = delete_versioned(spark, t, ids, "doc_id")
    head = _manifest_rows(spark, t)[-1]
    assert head["version"] == v and head["n_delta"] == 3 and head["n_rows"] == 2
    tomb = spark.read.parquet(os.path.join(t, head["data_dir"]))
    assert sorted(r["doc_id"] for r in tomb.collect()) == [1, 1, 2]
    got = sorted(tuple(r) for r in read_versioned(spark, t).collect())
    assert got == [(3, "d"), (4, "e")]


def test_pinned_schema_scan_compares_every_part_file(spark, tmp_path):
    """Part files of one directory whose footers differ (a column only in
    the second file) make the pinned scan decline; pinning the first
    file's schema would silently drop the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from funnel_report_etl_pipeline__spark.sources.sinks import _pinned_schema_scan

    d = tmp_path / "two_schemas"
    d.mkdir()
    pq.write_table(pa.table({"doc_id": [1, 2]}), str(d / "part-00000.parquet"))
    pq.write_table(
        pa.table({"doc_id": [3], "extra": ["x"]}), str(d / "part-00001.parquet")
    )
    assert _pinned_schema_scan(spark, [str(d)]) is None
    same = tmp_path / "same_schema"
    same.mkdir()
    pq.write_table(pa.table({"doc_id": [1, 2]}), str(same / "part-00000.parquet"))
    pq.write_table(pa.table({"doc_id": [3]}), str(same / "part-00001.parquet"))
    pinned = _pinned_schema_scan(spark, [str(same)])
    assert sorted(r["doc_id"] for r in pinned.collect()) == [1, 2, 3]


def test_pinned_schema_scan_raises_on_corrupt_footer(spark, tmp_path):
    """The pinned scan declines only for environment limits — here a
    type Spark's arrow conversion does not support (uint64), which the
    discovery reader then serves — and raises on a corrupt footer instead
    of silently handing the directory to the slower reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from funnel_report_etl_pipeline__spark.sources.sinks import _pinned_schema_scan

    unsupported = tmp_path / "uint64"
    unsupported.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.uint64())}),
        str(unsupported / "part-00000.parquet"),
    )
    assert _pinned_schema_scan(spark, [str(unsupported)]) is None
    assert spark.read.parquet(str(unsupported)).count() == 2

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    pq.write_table(pa.table({"doc_id": [1]}), str(corrupt / "part-00000.parquet"))
    (corrupt / "part-00001.parquet").write_bytes(b"not a parquet footer" * 4)
    with pytest.raises(pa.ArrowInvalid):
        _pinned_schema_scan(spark, [str(corrupt)])


def test_pinned_read_keeps_the_types_discovery_reads(spark, tmp_path):
    """The footer-pinned read of a Spark-written directory has the schema
    Spark's own inference gives it: a TIMESTAMP_NTZ column stays
    TIMESTAMP_NTZ (the arrow mapping alone made it TIMESTAMP)."""
    from funnel_report_etl_pipeline__spark.sources.sinks import (
        _manifest_rows,
        read_versioned,
        write_versioned,
    )

    t = str(tmp_path / "ntz")
    df = spark.sql(
        "SELECT id AS doc_id, TIMESTAMP_NTZ'2024-01-01 10:00:00' AS ts FROM range(3)"
    )
    write_versioned(df, t, id_col="doc_id")
    data_dir = os.path.join(t, _manifest_rows(spark, t)[0]["data_dir"])
    assert read_versioned(spark, t).schema == spark.read.parquet(data_dir).schema
    assert dict(read_versioned(spark, t).dtypes)["ts"] == "timestamp_ntz"
