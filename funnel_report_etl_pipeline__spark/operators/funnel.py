"""Funnel core: stage aggregation + waterfall report (reference FN1/FN2).

Semantics mirror the reference exactly (SURVEY.md §2.9), architecture does
not: where the reference pulls four pandas frames to the client and does
Python arithmetic (report_engine.py:233-319), this module keeps everything
as DataFrame lineage — four aggregates cross-joined (all 1-row, so Spark
broadcasts them; zero shuffle) into a single wide metrics row, then
unpivoted into a typed funnel relation. The presentation layout
(merged cells, ↳ subcause rows) lives in ``report.py`` as a sink concern.

Scale: the four input aggregates reduce 100 TB of raw events to four
1-row frames executor-side (partial→final hash aggregation); only scalar
totals ever reach the cross join. Per-entity reports for N entities run as
ONE grouped aggregate (``entity_funnel_metrics``): the four datasets are
union-all'ed and grouped once on the entity key — one hash exchange, two
Spark jobs per collect — not the reference's sequential per-entity loop
(run_reports.py:212).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.schemas import (
    DISCOVERY_COLUMNS,
    OTP_COLUMNS,
    STAGE_COLUMNS,
)
from funnel_report_etl_pipeline__spark.functions.core import pct_of, trunc_long

__all__ = [
    "stage_totals",
    "otp_totals",
    "discovery_totals",
    "fi_status_counts",
    "funnel_metrics",
    "entity_funnel_metrics",
    "build_funnel_report",
]


def _entity_filter(df: DataFrame, entity_id: str | None, key: str) -> DataFrame:
    # F1: equality predicate pushed into the scan by Catalyst
    return df.filter(F.col(key) == entity_id) if entity_id is not None else df


def stage_totals(uf_stages: DataFrame, entity_id: str | None = None) -> DataFrame:
    """FN1/A6: per-cell truncate (astype(float).astype(int)) then SUM each
    of the 11 stage columns → one row (reference report_engine.py:222-225).

    Truncation happens BEFORE the sum — '300.9' contributes 300 — so the
    aggregate input is integral and the sum is exact at any parallelism.
    """
    df = _entity_filter(uf_stages, entity_id, "Entity_ID")
    return df.agg(
        *[F.coalesce(F.sum(trunc_long(c)), F.lit(0)).alias(c) for c in STAGE_COLUMNS]
    )


def otp_totals(otp_summary: DataFrame, entity_id: str | None = None) -> DataFrame:
    """A1: SUM(CAST(c AS DOUBLE)) of the three OTP columns, aliased with the
    reference's Total_ prefix (report_engine.py:123-125)."""
    df = _entity_filter(otp_summary, entity_id, "entity_id")
    return df.agg(
        *[F.sum(F.col(c).try_cast("double")).alias(f"Total_{c}") for c in OTP_COLUMNS]
    )


def discovery_totals(discovery_summary: DataFrame, entity_id: str | None = None) -> DataFrame:
    """A2: SUM(CAST(NULLIF(c,'') AS DOUBLE)) of the five discovery columns
    (reference report_engine.py:149-153); '' → NULL → ignored by SUM."""
    df = _entity_filter(discovery_summary, entity_id, "entity_id")
    return df.agg(
        *[
            F.sum(F.nullif(F.col(c), F.lit("")).try_cast("double")).alias(c)
            for c in DISCOVERY_COLUMNS
        ]
    )


def fi_status_counts(user_funnel: DataFrame, entity_id: str | None = None) -> DataFrame:
    """A3 + F2/F3: grouped count of fetch_status over the row-grain dataset
    (reference report_engine.py:179-183)."""
    df = _entity_filter(user_funnel, entity_id, "entity_id")
    return (
        df.filter(
            F.col("fetch_status").isin("Not Attempted", "Failed", "Success")
            & F.col("fetch_status").isNotNull()
            & (F.col("fetch_status") != "")
        )
        .groupBy("fetch_status")
        .agg(F.count("fetch_status").alias("Count"))
    )


def _metrics_columns() -> list[str]:
    """Derived funnel scalars over the wide aggregate row, as 25 SQL
    expression strings (``expr AS name``) for one ``selectExpr``.

    Implements the reference waterfall (report_engine.py:239-291)
    faithfully, including its intentional asymmetries (SURVEY.md §2.9):
    discovery dropoff comes from the discovery dataset while the Discovery
    STAGE column still feeds total_users; otp_ok_drop may be negative.

    Strings, not Column calls: under PySpark 4 every Column method or
    ``F.col`` call costs ~10 py4j round trips, and as Column calls these
    25 expressions cost more than a thousand per build. Every
    sub-expression is parenthesised and sums fold left, so the analysed
    plan is the one the Column form builds (same association order, hence
    the same ANSI overflow behaviour).
    """

    def lng(c: str) -> str:
        return f"coalesce(try_cast({c} AS BIGINT), 0)"

    def add(*terms: str) -> str:
        return functools.reduce(lambda a, b: f"({a} + {b})", terms)

    d1 = lng("AA_client_Initialization")
    d2 = lng("OTP_Based_Sign_in_Sign_up")
    view_drop = lng("View_Consent_Details")
    auth_drop = add(d2, view_drop)
    disc_vals = {c: lng(c + "_disc") for c in DISCOVERY_COLUMNS}
    d3 = add("0", *disc_vals.values())
    d4 = lng("Linking")
    rej = lng("Rejected_Consent_Requests")
    appr = lng("Approved_Consent_Requests")
    fip_rej = lng("FIP_Rejected_Consent_Artefacts")
    fip_ok = lng("FIP_Accepted_Consent_Artefacts")
    fetch_ok = lng("Data_Fetch_Success")
    not_attempted = lng("Data_Fetch_Not_Attempted")

    total_users = add(d1, d2, view_drop, lng("Discovery"), d4, rej, appr)

    n_consent = total_users
    n_after_init = f"({n_consent} - {d1})"
    n_after_auth = f"({n_after_init} - {auth_drop})"
    n_after_disc = f"({n_after_auth} - {d3})"
    n_after_link = f"({n_after_disc} - {d4})"

    fi_req_ok = add(lng("fi_success"), lng("fi_failed"))
    fi_fetch_drop = f"({fi_req_ok} - {fetch_ok})"

    otp_wrong = lng("Total_Incorrect_OTP_Entered")
    otp_miss = lng("Total_OTP_Not_Entered")
    otp_ok_drop = add(f"({d2} - {add(otp_wrong, otp_miss)})", view_drop)  # may be negative

    no_rec = disc_vals["Account_not_Found"]
    fip_fail = disc_vals["NO_STATUS"]
    some_fail = disc_vals["Failure"]
    found_not_linked = add(disc_vals["Account_Discovered"], disc_vals["FIP_Not_Selected"])

    named = {
        "total_users": total_users,
        "d1": d1,
        "auth_drop": auth_drop,
        "otp_wrong": otp_wrong,
        "otp_miss": otp_miss,
        "otp_ok_drop": otp_ok_drop,
        "d3": d3,
        "no_rec": no_rec,
        "fip_fail": fip_fail,
        "some_fail": some_fail,
        "found_not_linked": found_not_linked,
        "d4": d4,
        "rej": rej,
        "appr": appr,
        "fip_rej": fip_rej,
        "fip_ok": fip_ok,
        "fi_req_ok": fi_req_ok,
        "not_attempted": not_attempted,
        "fetch_ok": fetch_ok,
        "fi_fetch_drop": fi_fetch_drop,
        "n_consent": n_consent,
        "n_after_init": n_after_init,
        "n_after_auth": n_after_auth,
        "n_after_disc": n_after_disc,
        "n_after_link": n_after_link,
    }
    return [f"{v} AS {k}" for k, v in named.items()]


def _metrics_select(df: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns plus the 25 waterfall scalars, in one call."""
    return df.selectExpr(*keep, *_metrics_columns())


def funnel_metrics(
    stage_tot: DataFrame,
    otp_tot: DataFrame,
    disc_tot: DataFrame,
    fi_counts: DataFrame,
) -> DataFrame:
    """J1: combine the four aggregates into one wide 1-row metrics frame.

    The reference extracts scalars into Python variables
    (report_engine.py:239-291); here it is a cross join of 1-row relations
    — Catalyst broadcasts all sides, no shuffle — followed by one wide
    ``select``. The fi grouped counts are first pivoted to one row via
    conditional aggregation (A8/F5: reference report_engine.py:277-281).
    """
    fi_row = fi_counts.agg(
        F.coalesce(
            F.sum(F.when(F.col("fetch_status") == "Success", F.col("Count"))), F.lit(0)
        ).alias("fi_success"),
        F.coalesce(
            F.sum(F.when(F.col("fetch_status") == "Failed", F.col("Count"))), F.lit(0)
        ).alias("fi_failed"),
    )
    disc_renamed = disc_tot.select(
        *[F.col(c).alias(c + "_disc") for c in DISCOVERY_COLUMNS]
    )
    wide = (
        stage_tot.crossJoin(F.broadcast(otp_tot))
        .crossJoin(F.broadcast(disc_renamed))
        .crossJoin(F.broadcast(fi_row))
    )
    return _metrics_select(wide)


def entity_funnel_metrics(
    uf_stages: DataFrame,
    otp_summary: DataFrame,
    discovery_summary: DataFrame,
    user_funnel: DataFrame,
) -> DataFrame:
    """All-entity metrics as ONE grouped aggregate (the reference loops
    entities sequentially on the driver, run_reports.py:212-243).

    Each dataset is projected to ``entity_id`` plus its own per-row value
    columns; the four projections are union-all'ed (a dataset's missing
    columns are NULL, which SUM/COUNT skip) and grouped once on the entity
    key. Partial aggregation runs below the single hash exchange, so at
    100 TB the shuffle carries |entities| rows per input partition no
    matter how large the raw data is.
    """
    # SQL expression strings, not Column calls: under PySpark 4 every Column
    # method or F.col call costs ~10 py4j round trips, and this plan is built
    # for every report; selectExpr ships a whole projection in one call. The
    # projections, the aggregate and the waterfall (_metrics_columns) are all
    # strings, so one build is ~180 round trips.
    # The stage cast pair is trunc_long; the other projections are the
    # per-row halves of otp_totals, discovery_totals and fi_status_counts.
    parts = [
        uf_stages.selectExpr(
            "Entity_ID AS entity_id",
            *[f"try_cast(try_cast({c} AS DOUBLE) AS BIGINT) AS {c}" for c in STAGE_COLUMNS],
        ),
        otp_summary.selectExpr(
            "entity_id", *[f"try_cast({c} AS DOUBLE) AS Total_{c}" for c in OTP_COLUMNS]
        ),
        discovery_summary.selectExpr(
            "entity_id",
            *[f"try_cast(nullif({c}, '') AS DOUBLE) AS {c}_disc" for c in DISCOVERY_COLUMNS],
        ),
        user_funnel.where("fetch_status IN ('Not Attempted', 'Failed', 'Success')").selectExpr(
            "entity_id",
            "CASE WHEN fetch_status = 'Success' THEN 1 END AS fi_success",
            "CASE WHEN fetch_status = 'Failed' THEN 1 END AS fi_failed",
        ),
    ]
    rows = functools.reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    # entity spine for free: an entity seen in ANY dataset is one group, so
    # an entity with e.g. only OTP rows still gets a (zeros-elsewhere)
    # report row, as the reference's independent per-dataset queries give.
    # The NULL key stays an all-zero row, not the sums of the keyless rows:
    # no per-entity equality predicate ever selects NULL.
    summed = [*STAGE_COLUMNS, *[f"Total_{c}" for c in OTP_COLUMNS],
              *[c + "_disc" for c in DISCOVERY_COLUMNS]]
    totals = rows.groupBy("entity_id").agg(
        *[F.expr(f"if(entity_id IS NULL, NULL, sum({c})) AS {c}") for c in summed],
        *[F.expr(f"if(entity_id IS NULL, NULL, count({c})) AS {c}")
          for c in ("fi_success", "fi_failed")],
    )
    return _metrics_select(totals, "entity_id")


# --------------------------------------------------------------------------
# Typed funnel report (FN2)
# --------------------------------------------------------------------------

# (row_id, stage, positive_action, success_metric, dropoff_cause,
#  dropoff_metric, is_subcause) — metric names refer to funnel_metrics cols.
_REPORT_LAYOUT: list[tuple[int, str, str | None, str | None, str | None, str | None, bool]] = [
    (1, "Consent Initiated", "AA successfully received a consent handle", "n_consent",
     "AA did not receive a consent handle", None, False),
    (2, "FIU initiated AA Client", "AA client was successfully initiated", "n_after_init",
     "AA client was not successfully initiated", "d1", False),
    (3, "Registration/Login", "User was authenticated", "n_after_auth",
     "User was not authenticated", "auth_drop", False),
    (4, "Registration/Login", None, None, "↳Incorrect OTP entered", "otp_wrong", True),
    (5, "Registration/Login", None, None, "↳OTP not received back", "otp_miss", True),
    (6, "Registration/Login", None, None,
     "↳Correct OTP entered but user dropped off", "otp_ok_drop", True),
    (7, "Account Discovery", "User was able to find accounts", "n_after_disc",
     "User was not able to find accounts", "d3", False),
    (8, "Account Discovery", None, None, "↳FIP returned 'No Records Found'", "no_rec", True),
    (9, "Account Discovery", None, None, "↳FIP failed to send records", "fip_fail", True),
    (10, "Account Discovery", None, None,
     "↳Some FIP returned 'No Records Found' and some failed to send records", "some_fail", True),
    (11, "Account Discovery", None, None,
     "↳FIP returned accounts, but user did not link any accounts", "found_not_linked", True),
    (12, "Account Linking", "User was able to link accounts", "n_after_link",
     "User was not able to link accounts", "d4", False),
    (13, "Consent Request Review", "User approved the consent request", "appr",
     "User did not approve the consent request", "rej", False),
    (14, "Consent Request Review", None, None, "↳User rejected the consent", "rej", True),
    (15, "Consent Request Review", None, None, "↳User did not take any action", None, True),
    (16, "Consent Artefact Delivery", "FIP accepted the consent artefact", "fip_ok",
     "FIP rejected the consent artefact", "fip_rej", False),
    (17, "FI Request", "FIU successfully requested the data", "fi_req_ok",
     "FIU did not request the data", "not_attempted", False),
    (18, "FI Fetch", "FIU successfully received the data", "fetch_ok",
     "FIU did not received the data", "fi_fetch_drop", False),
]


def build_funnel_report(metrics: DataFrame) -> DataFrame:
    """Unpivot the 1-row metrics frame into the typed 18-row funnel relation
    (FUNNEL_REPORT_SCHEMA). Stays a DataFrame end to end: the layout is an
    ``inline(array(struct...))`` over the metrics row — no driver collect.

    Row 1's dropoff is the literal 0 of the reference (report_engine.py:299);
    row 15's blank count is NULL (the reference emits '' there, :313).
    """
    total = F.col("total_users")

    def metric(name: str | None) -> tuple[Column, Column]:
        if name is None:
            return F.lit(None).cast("long"), F.lit(None).cast("double")
        v = F.col(name)
        return v.cast("long"), pct_of(v, total)

    structs = []
    for row_id, stage, action, succ, cause, drop, is_sub in _REPORT_LAYOUT:
        s_cnt, s_pct = metric(succ)
        if row_id == 1:
            d_cnt, d_pct = F.lit(0).cast("long"), pct_of(F.lit(0), total)
        else:
            d_cnt, d_pct = metric(drop)
        structs.append(
            F.struct(
                F.lit(row_id).alias("row_id"),
                F.lit(stage).alias("stage"),
                (F.lit(action) if action else F.lit(None)).cast("string").alias("positive_action"),
                s_cnt.alias("success_count"),
                s_pct.alias("success_pct"),
                (F.lit(cause) if cause else F.lit(None)).cast("string").alias("dropoff_cause"),
                d_cnt.alias("dropoff_count"),
                d_pct.alias("dropoff_pct"),
                F.lit(is_sub).alias("is_subcause"),
            )
        )
    return metrics.select(F.inline(F.array(*structs)))


def funnel_summary(metrics: DataFrame) -> DataFrame:
    """The two top-of-report summary percentages
    (reference report_engine.py:294-296)."""
    total = F.col("total_users")
    return metrics.select(
        pct_of(F.col("appr"), total).alias("pct_approved_consent"),
        pct_of(F.col("fetch_ok"), total).alias("pct_shared_data"),
    )
