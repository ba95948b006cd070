"""Golden funnel test — the reference's demo workbook values.

Reference demo (report_engine.py:326-367 + the committed
output/demo_funnel_report-15_02_2026.xlsx, SURVEY.md §5): mock inputs are
constants, so the full pipeline must land exactly on the golden numbers,
including the NEGATIVE otp_ok_drop.
"""

from __future__ import annotations

from funnel_report_etl_pipeline__spark.operators.funnel import (
    build_funnel_report,
    discovery_totals,
    fi_status_counts,
    funnel_metrics,
    funnel_summary,
    otp_totals,
    stage_totals,
)
from funnel_report_etl_pipeline__spark.sources.mock import MOCK_ENTITY, mock_funnel_frames

GOLDEN = {
    "total_users": 7700,
    "n_consent": 7700,
    "n_after_init": 6900,
    "n_after_auth": 5400,
    "n_after_disc": 3700,
    "n_after_link": 2100,
    "d1": 800,
    "auth_drop": 1500,
    "otp_wrong": 450,
    "otp_miss": 1200,
    "otp_ok_drop": -150,  # negative passthrough (reference M2)
    "d3": 1700,
    "no_rec": 600,
    "fip_fail": 200,
    "some_fail": 150,
    "found_not_linked": 750,
    "d4": 1600,
    "rej": 1950,
    "appr": 1250,
    "fip_rej": 150,
    "fip_ok": 1100,
    "fi_req_ok": 1050,
    "not_attempted": 50,
    "fetch_ok": 820,
    "fi_fetch_drop": 230,
}


def _metrics(spark):
    st, ot, dc, fi = mock_funnel_frames(spark)
    return funnel_metrics(
        stage_totals(st, MOCK_ENTITY),
        otp_totals(ot, MOCK_ENTITY),
        discovery_totals(dc, MOCK_ENTITY),
        fi_status_counts(fi, MOCK_ENTITY),
    )


def test_golden_metrics(spark):
    row = _metrics(spark).collect()[0].asDict()
    for k, v in GOLDEN.items():
        assert row[k] == v, f"{k}: got {row[k]}, want {v}"


def test_golden_summary_pcts(spark):
    row = funnel_summary(_metrics(spark)).collect()[0]
    assert row.pct_approved_consent == 16.2
    assert row.pct_shared_data == 10.6


def test_report_shape_and_rows(spark):
    rows = build_funnel_report(_metrics(spark)).collect()
    assert len(rows) == 18
    by_id = {r.row_id: r for r in rows}
    # row 1: success = total, dropoff literal 0
    assert by_id[1].success_count == 7700 and by_id[1].dropoff_count == 0
    # survivors waterfall on the non-subcause rows
    assert by_id[2].success_count == 6900 and by_id[2].dropoff_count == 800
    assert by_id[3].success_count == 5400 and by_id[3].dropoff_count == 1500
    assert by_id[7].success_count == 3700 and by_id[7].dropoff_count == 1700
    assert by_id[12].success_count == 2100 and by_id[12].dropoff_count == 1600
    # negative subcause passes through untouched
    assert by_id[6].dropoff_count == -150
    # consent review: approved/rejected + blank "no action" subcause
    assert by_id[13].success_count == 1250 and by_id[13].dropoff_count == 1950
    assert by_id[15].dropoff_count is None
    # percentages: HALF_EVEN, of total_users
    assert by_id[13].success_pct == 16.2
    assert by_id[18].success_pct == 10.6
    # subcause flags
    assert [r.row_id for r in rows if r.is_subcause] == [4, 5, 6, 8, 9, 10, 11, 14, 15]


def test_empty_inputs_degrade_to_zero(spark):
    """Reference guards: empty frames → zeros, never a crash
    (report_engine.py:257, 278, 284-285)."""
    st, ot, dc, fi = mock_funnel_frames(spark)
    empty_entity = "NO_SUCH_ENTITY"
    m = funnel_metrics(
        stage_totals(st, empty_entity),
        otp_totals(ot, empty_entity),
        discovery_totals(dc, empty_entity),
        fi_status_counts(fi, empty_entity),
    )
    row = m.collect()[0].asDict()
    assert all(v == 0 for v in row.values()), row


def test_entity_grouped_matches_single(spark):
    """entity_funnel_metrics (one grouped job) must agree with the
    per-entity path for the mock entity."""
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics

    st, ot, dc, fi = mock_funnel_frames(spark)
    all_rows = entity_funnel_metrics(st, ot, dc, fi).collect()
    ours = next(r for r in all_rows if r.entity_id == MOCK_ENTITY).asDict()
    for k, v in GOLDEN.items():
        assert ours[k] == v, f"{k}: got {ours[k]}, want {v}"

def test_entity_only_in_otp_data_still_reported(spark):
    """An entity with rows in ONLY one of the four datasets must still get
    a metrics row (zeros elsewhere) — the reference queries each dataset
    independently per entity, so it reports such entities too."""
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics

    st, ot, dc, fi = mock_funnel_frames(spark)
    # FIU_OTHER appears in every mock frame; drop it from all but OTP
    st2 = st.filter(st.Entity_ID != "FIU_OTHER")
    dc2 = dc.filter(dc.entity_id != "FIU_OTHER")
    fi2 = fi.filter(fi.entity_id != "FIU_OTHER")
    rows = {r.entity_id: r for r in entity_funnel_metrics(st2, ot, dc2, fi2).collect()}
    assert "FIU_OTHER" in rows, "entity present only in OTP data was dropped"
    other = rows["FIU_OTHER"]
    assert other.otp_wrong == 777  # its OTP data is reported
    assert other.fi_req_ok == 0  # everything else degrades to zero


# --------------------------------------------------------------------------
# entity_funnel_metrics vs the spine + left-join formulation
# --------------------------------------------------------------------------


def _metrics_columns_reference():
    """The Column-API form of ``funnel._metrics_columns`` that the SQL
    strings replaced, kept as the reference they must match plan for plan."""
    from pyspark.sql import functions as F

    from funnel_report_etl_pipeline__spark.schemas import DISCOVERY_COLUMNS

    col = F.col
    lng = lambda c: F.coalesce(col(c).try_cast("long"), F.lit(0))  # noqa: E731

    d1 = lng("AA_client_Initialization")
    d2 = lng("OTP_Based_Sign_in_Sign_up")
    view_drop = lng("View_Consent_Details")
    auth_drop = d2 + view_drop
    disc_vals = {c: lng(c + "_disc") for c in DISCOVERY_COLUMNS}
    d3 = sum(disc_vals.values(), F.lit(0))
    d4 = lng("Linking")
    rej = lng("Rejected_Consent_Requests")
    appr = lng("Approved_Consent_Requests")
    total_users = d1 + d2 + view_drop + lng("Discovery") + d4 + rej + appr
    n_after_init = total_users - d1
    n_after_auth = n_after_init - auth_drop
    n_after_disc = n_after_auth - d3
    fi_req_ok = lng("fi_success") + lng("fi_failed")
    fetch_ok = lng("Data_Fetch_Success")
    otp_wrong = lng("Total_Incorrect_OTP_Entered")
    otp_miss = lng("Total_OTP_Not_Entered")

    named = {
        "total_users": total_users,
        "d1": d1,
        "auth_drop": auth_drop,
        "otp_wrong": otp_wrong,
        "otp_miss": otp_miss,
        "otp_ok_drop": d2 - (otp_wrong + otp_miss) + view_drop,
        "d3": d3,
        "no_rec": disc_vals["Account_not_Found"],
        "fip_fail": disc_vals["NO_STATUS"],
        "some_fail": disc_vals["Failure"],
        "found_not_linked": disc_vals["Account_Discovered"] + disc_vals["FIP_Not_Selected"],
        "d4": d4,
        "rej": rej,
        "appr": appr,
        "fip_rej": lng("FIP_Rejected_Consent_Artefacts"),
        "fip_ok": lng("FIP_Accepted_Consent_Artefacts"),
        "fi_req_ok": fi_req_ok,
        "not_attempted": lng("Data_Fetch_Not_Attempted"),
        "fetch_ok": fetch_ok,
        "fi_fetch_drop": fi_req_ok - fetch_ok,
        "n_consent": total_users,
        "n_after_init": n_after_init,
        "n_after_auth": n_after_auth,
        "n_after_disc": n_after_disc,
        "n_after_link": n_after_disc - d4,
    }
    return [v.alias(k) for k, v in named.items()]


def _spine_join_reference(uf_stages, otp_summary, discovery_summary, user_funnel):
    """The four-aggregate / distinct-union spine / four-left-join plan that
    ``entity_funnel_metrics`` replaced, kept as the reference it must
    match row for row."""
    from pyspark.sql import functions as F

    from funnel_report_etl_pipeline__spark.functions.core import trunc_long
    from funnel_report_etl_pipeline__spark.schemas import (
        DISCOVERY_COLUMNS,
        OTP_COLUMNS,
        STAGE_COLUMNS,
    )

    st = uf_stages.groupBy(F.col("Entity_ID").alias("entity_id")).agg(
        *[F.coalesce(F.sum(trunc_long(c)), F.lit(0)).alias(c) for c in STAGE_COLUMNS]
    )
    ot = otp_summary.groupBy("entity_id").agg(
        *[F.sum(F.col(c).try_cast("double")).alias(f"Total_{c}") for c in OTP_COLUMNS]
    )
    dc = discovery_summary.groupBy("entity_id").agg(
        *[
            F.sum(F.nullif(F.col(c), F.lit("")).try_cast("double")).alias(c + "_disc")
            for c in DISCOVERY_COLUMNS
        ]
    )
    fi = (
        user_funnel.filter(
            F.col("fetch_status").isin("Not Attempted", "Failed", "Success")
            & (F.col("fetch_status") != "")
        )
        .groupBy("entity_id")
        .agg(
            F.count(F.when(F.col("fetch_status") == "Success", 1)).alias("fi_success"),
            F.count(F.when(F.col("fetch_status") == "Failed", 1)).alias("fi_failed"),
        )
    )
    spine = (
        st.select("entity_id")
        .union(ot.select("entity_id"))
        .union(dc.select("entity_id"))
        .union(fi.select("entity_id"))
        .distinct()
    )
    wide = (
        spine.join(st, "entity_id", "left")
        .join(ot, "entity_id", "left")
        .join(dc, "entity_id", "left")
        .join(fi, "entity_id", "left")
    )
    return wide.select("entity_id", *_metrics_columns_reference())


def _edge_frames(spark):
    """Raw frames covering the cases where the union-all aggregate could
    drift from the spine + left-join plan."""
    from funnel_report_etl_pipeline__spark import schemas

    stage = lambda ent, *v: (ent, "15-02-2026", *v)  # noqa: E731
    uf_stages = spark.createDataFrame(
        [
            stage("E_ALL", "300.9", "x", "7", "", "1e3", "-2.5", "5", "5", "5", "5", "5"),
            stage("E_ALL", "100", "200", "3", "4", "5", "6", "7", "8", "9", "10", "11"),
            stage("E_ST", *["12"] * 11),
            stage(None, *["40"] * 11),
        ],
        schemas.UF_STAGES_SCHEMA,
    )
    otp_summary = spark.createDataFrame(
        [
            ("E_ALL", "10", "x", "300.9"),
            ("E_ALL", "", "20", "1"),
            ("E_OT", "1", "2", "3"),
            (None, "50", "50", "50"),
        ],
        schemas.OTP_SUMMARY_SCHEMA,
    )
    discovery_summary = spark.createDataFrame(
        [
            ("E_ALL", "", "300.9", "x", "4", "5"),
            ("E_ALL", "1", "", "", "", "2"),
            ("E_DC", "", "", "", "", ""),
            (None, "60", "60", "60", "60", "60"),
        ],
        schemas.DISCOVERY_SUMMARY_SCHEMA,
    )
    user_funnel = spark.createDataFrame(
        [("E_ALL", s) for s in ("Success", "Success", "Failed", "Not Attempted", "", "Bogus", None)]
        + [("E_FI", "Failed")]
        # only out-of-contract statuses: no dataset keeps this entity
        + [("E_JUNK", "success"), ("E_JUNK", "")]
        + [(None, "Success"), (None, "Failed")],
        schemas.USER_FUNNEL_SCHEMA,
    )
    return uf_stages, otp_summary, discovery_summary, user_funnel


def _rows_by_entity(df):
    return {r.entity_id: r.asDict() for r in df.collect()}


def test_entity_funnel_matches_spine_join_reference(spark):
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics

    frames = _edge_frames(spark)
    ours = _rows_by_entity(entity_funnel_metrics(*frames))
    ref = _rows_by_entity(_spine_join_reference(*frames))
    assert set(ours) == {"E_ALL", "E_ST", "E_OT", "E_DC", "E_FI", None}
    assert ours == ref
    # the NULL key matches nothing under the reference's equi-joins, so it
    # reports zeros even though every dataset has keyless rows with values
    assert all(v == 0 for k, v in ours[None].items() if k != "entity_id")
    assert ours["E_ALL"]["otp_wrong"] == 20  # 'x' → NULL, '' → NULL
    assert ours["E_FI"]["fi_req_ok"] == 1 and ours["E_FI"]["total_users"] == 0


def test_entity_funnel_all_inputs_empty(spark):
    """A window with no files: read_funnel_csv returns typed empty frames."""
    from funnel_report_etl_pipeline__spark import schemas
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics

    frames = [
        spark.createDataFrame([], s)
        for s in (
            schemas.UF_STAGES_SCHEMA,
            schemas.OTP_SUMMARY_SCHEMA,
            schemas.DISCOVERY_SUMMARY_SCHEMA,
            schemas.USER_FUNNEL_SCHEMA,
        )
    ]
    ours = entity_funnel_metrics(*frames)
    assert ours.collect() == []
    assert ours.schema == _spine_join_reference(*frames).schema


def _column_built(monkeypatch, build, *args):
    """``build(*args)`` with the waterfall projected by the Column-API
    reference instead of the SQL strings; nothing else in the plan differs."""
    from funnel_report_etl_pipeline__spark.operators import funnel

    with monkeypatch.context() as m:
        m.setattr(
            funnel,
            "_metrics_select",
            lambda df, *keep: df.select(*keep, *_metrics_columns_reference()),
        )
        return build(*args)


def test_entity_funnel_sql_strings_match_column_plan(spark, monkeypatch):
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics

    for frames in (mock_funnel_frames(spark), _edge_frames(spark)):
        ours = entity_funnel_metrics(*frames)
        ref = _column_built(monkeypatch, entity_funnel_metrics, *frames)
        assert ours.sameSemantics(ref)
        assert ours.schema == ref.schema


def test_funnel_metrics_sql_strings_match_column_plan(spark, monkeypatch):
    st, ot, dc, fi = mock_funnel_frames(spark)
    aggs = (
        stage_totals(st, MOCK_ENTITY),
        otp_totals(ot, MOCK_ENTITY),
        discovery_totals(dc, MOCK_ENTITY),
        fi_status_counts(fi, MOCK_ENTITY),
    )
    ours = funnel_metrics(*aggs)
    ref = _column_built(monkeypatch, funnel_metrics, *aggs)
    assert ours.sameSemantics(ref)
    assert ours.schema == ref.schema


def test_pct_of_sql_matches_pct_of(spark):
    """Same DOUBLE type and values for a positive, a zero and a negative
    total (the SQL form's else branch must not be a DECIMAL 0.0)."""
    from pyspark.sql import functions as F

    from funnel_report_etl_pipeline__spark.functions.core import pct_of, pct_of_sql

    df = spark.createDataFrame([(1250, 7700), (5, 0), (3, -4)], "v long, t long")
    ours = df.selectExpr(f"{pct_of_sql('v', 't')} AS pct")
    ref = df.select(pct_of(F.col("v"), F.col("t")).alias("pct"))
    assert ours.schema == ref.schema
    assert dict(ours.dtypes)["pct"] == "double"
    assert [r.pct for r in ours.collect()] == [r.pct for r in ref.collect()] == [16.2, 0.0, 0.0]
