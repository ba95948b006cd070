"""Presentation sinks (reference K1/K2/K3, U2, T3/T4).

The engine's source of truth is the typed funnel DataFrame
(operators/funnel.py); this module is the driver-side presentation layer:

* ``presentation_table`` — the reference's 24-row mixed-type layout
  (report_engine.py:293-319) built from one collected metrics row.
* ``write_funnel_excel`` — the formatted one-sheet workbook
  (run_reports.py:64-125: column widths, merged stage cells, gray/green/
  brown formats, spacer row), written by the stdlib zip+xml backend
  (xlsx_lite). ``write_funnel_report`` additionally writes a deterministic
  CSV twin with identical cell values and returns its path (the
  historical contract tests and downstream consumers parse).
* ``send_report_mail`` — MIME multipart (plain+HTML) + base64 attachments
  over SMTP (run_reports.py:132-165); skips quietly when unconfigured.

Presentation is deliberately NOT distributed work: by the time data reaches
this module it is one metrics row per entity (the 100 TB reduction already
happened executor-side).
"""

from __future__ import annotations

import csv
import logging
import os
import smtplib
from email import encoders
from email.mime.base import MIMEBase
from email.mime.multipart import MIMEMultipart
from email.mime.text import MIMEText

from funnel_report_etl_pipeline__spark import xlsx_lite
from funnel_report_etl_pipeline__spark.config import SmtpConfig
from funnel_report_etl_pipeline__spark.functions.core import pct_py

log = logging.getLogger(__name__)

Cell = object  # str | int | float — the reference's mixed-type layout


def safe_filename(entity_id: str, date_spec: str) -> str:
    """T3/K3: ``{entity(@→-)}-{date_spec(' -> '→'-')}.xlsx`` naming
    (reference run_reports.py:214-215)."""
    return f"{entity_id.replace('@', '-')}-{date_spec.replace(' -> ', '-')}.xlsx"


def html_to_plain(body_html: str) -> str:
    """T4: the reference's minimal HTML→plain conversion for the MIME
    plain part (run_reports.py:147)."""
    return body_html.replace("<br>", "\n").replace("<b>", "").replace("</b>", "")


def presentation_table(metrics: dict) -> list[list[Cell]]:
    """The reference's positional 24-row layout (report_engine.py:293-319)
    from a collected funnel-metrics row (operators/funnel.py::_metrics_columns
    keys). Cell-for-cell identical, including the blank strings, the literal
    0 dropoff on row 1, and the '' pair on the 'no action' subcause row."""
    m = metrics
    total = m["total_users"]
    pct = lambda v: pct_py(v, total)  # noqa: E731

    return [
        ["Summary", "% of initial users", "", "Note", "", "", ""],
        ["Percentage of initial users who approved the consent", pct(m["appr"]), "",
         "Please note that this funnel describes the journey of a user and not a consent request.",
         "", "", ""],
        ["Percentage of initial users who shared their data", pct(m["fetch_ok"]), "", "", "", "", ""],
        ["", "", "", "", "", "", ""],
        ["", "", "Successful Users", "", "", "Dropped off Users", ""],
        ["Stage", "Positive Action", "Count", "% of initial users", "Dropoff Cause", "Count", "% of initial users"],
        ["Consent Initiated", "AA successfully received a consent handle", m["n_consent"], pct(m["n_consent"]),
         "AA did not receive a consent handle", 0, pct(0)],
        ["FIU initiated AA Client", "AA client was successfully initiated", m["n_after_init"], pct(m["n_after_init"]),
         "AA client was not successfully initiated", m["d1"], pct(m["d1"])],
        ["Registration/Login", "User was authenticated", m["n_after_auth"], pct(m["n_after_auth"]),
         "User was not authenticated", m["auth_drop"], pct(m["auth_drop"])],
        ["", "", "", "", "↳Incorrect OTP entered", m["otp_wrong"], pct(m["otp_wrong"])],
        ["", "", "", "", "↳OTP not received back", m["otp_miss"], pct(m["otp_miss"])],
        ["", "", "", "", "↳Correct OTP entered but user dropped off", m["otp_ok_drop"], pct(m["otp_ok_drop"])],
        ["Account Discovery", "User was able to find accounts", m["n_after_disc"], pct(m["n_after_disc"]),
         "User was not able to find accounts", m["d3"], pct(m["d3"])],
        ["", "", "", "", "↳FIP returned 'No Records Found'", m["no_rec"], pct(m["no_rec"])],
        ["", "", "", "", "↳FIP failed to send records", m["fip_fail"], pct(m["fip_fail"])],
        ["", "", "", "", "↳Some FIP returned 'No Records Found' and some failed to send records",
         m["some_fail"], pct(m["some_fail"])],
        ["", "", "", "", "↳FIP returned accounts, but user did not link any accounts",
         m["found_not_linked"], pct(m["found_not_linked"])],
        ["Account Linking", "User was able to link accounts", m["n_after_link"], pct(m["n_after_link"]),
         "User was not able to link accounts", m["d4"], pct(m["d4"])],
        ["Consent Request Review", "User approved the consent request", m["appr"], pct(m["appr"]),
         "User did not approve the consent request", m["rej"], pct(m["rej"])],
        ["", "", "", "", "↳User rejected the consent", m["rej"], pct(m["rej"])],
        ["", "", "", "", "↳User did not take any action", "", ""],
        ["Consent Artefact Delivery", "FIP accepted the consent artefact", m["fip_ok"], pct(m["fip_ok"]),
         "FIP rejected the consent artefact", m["fip_rej"], pct(m["fip_rej"])],
        ["FI Request", "FIU successfully requested the data", m["fi_req_ok"], pct(m["fi_req_ok"]),
         "FIU did not request the data", m["not_attempted"], pct(m["not_attempted"])],
        ["FI Fetch", "FIU successfully received the data", m["fetch_ok"], pct(m["fetch_ok"]),
         "FIU did not received the data", m["fi_fetch_drop"], pct(m["fi_fetch_drop"])],
    ]


_LAYOUT_WIDTHS = [45, 45, 14, 15, 55, 14, 16]
_LAYOUT_FORMATS: dict[str, dict] = {
    "border": {},
    "gray": {"bg_color": "#d9d9d9"},
    "green": {"bg_color": "#aaecc6"},
    "dark": {"bg_color": "#f5c8a7"},
    "light": {"bg_color": "#fae4d3"},
    "note_g": {"bg_color": "#d9d9d9", "wrap": True},
    "note_w": {"wrap": True},
    "stage": {"bg_color": "#d9d9d9", "wrap": True},
}


def funnel_layout(
    table: list[list[Cell]],
) -> tuple[dict[tuple[int, int], tuple[Cell, str]], list[tuple[int, int, int, int]]]:
    """Workbook layout (reference run_reports.py:64-125):
    {(row, col): (value, format_name)} plus merge ranges, replicating the
    reference's write order (later writes win, merges style every covered
    cell and carry the value in the top-left). Consumed by the stdlib
    zip+xml writer, so the formatted sink is round-trip testable."""
    out = [[""] * 7] + table  # U2: spacer row → reference row indices align
    cells: dict[tuple[int, int], tuple[Cell, str]] = {}
    merges: list[tuple[int, int, int, int]] = []

    def merge(r1: int, c1: int, r2: int, c2: int, val: Cell, fmt: str) -> None:
        merges.append((r1, c1, r2, c2))
        for r in range(r1, r2 + 1):
            for c in range(c1, c2 + 1):
                cells[(r, c)] = ("", fmt)
        cells[(r1, c1)] = (val, fmt)

    merge(1, 3, 1, 4, out[1][3], "note_g")
    merge(2, 3, 2, 4, out[2][3], "note_w")
    merge(5, 2, 5, 3, out[5][2], "gray")
    merge(5, 5, 5, 6, out[5][5], "gray")

    colored_main = {7, 8, 9, 13, 18, 19, 22, 23, 24}
    drop_sub = {10, 11, 12, 14, 15, 16, 17, 20, 21}

    for r in range(6, 25):
        for c in range(7):
            fmt = "border"
            if r == 6 or c == 0:
                fmt = "gray"
            if c in (1, 2, 3) and r in colored_main:
                fmt = "green"
            if c == 4:
                fmt = "dark" if r in colored_main else ("light" if r in drop_sub else "border")
            if c in (5, 6) and r in colored_main:
                fmt = "dark"
            cells[(r, c)] = (out[r][c], fmt)

    cells[(1, 0)] = (out[1][0], "gray")
    cells[(1, 1)] = (out[1][1], "gray")
    for r in range(2, 4):
        for c in range(2):
            cells[(r, c)] = (out[r][c], "border")

    merge(9, 0, 12, 0, out[9][0], "stage")
    merge(13, 0, 17, 0, out[13][0], "stage")
    merge(19, 0, 21, 0, out[19][0], "stage")
    return cells, merges


def write_funnel_excel(table: list[list[Cell]], filepath: str) -> None:
    """K1: formatted one-sheet workbook — widths, merged stage cells, gray/
    green/brown formats, 1 blank spacer row prepended (U2)
    (reference run_reports.py:64-125), written by the stdlib zip+xml
    writer (xlsx_lite)."""
    cells, merges = funnel_layout(table)
    xlsx_lite.write_xlsx(
        filepath, cells, merges, _LAYOUT_WIDTHS, _LAYOUT_FORMATS,
        sheet_name="Funnel Dashboard",
    )


def write_funnel_csv(table: list[list[Cell]], filepath: str) -> None:
    """Deterministic unformatted twin of the workbook: same cells (incl.
    the U2 spacer row), CSV instead of xlsx."""
    with open(filepath, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow([""] * 7)
        w.writerows(table)


def write_funnel_report(table: list[list[Cell]], filepath: str) -> str:
    """Write the formatted workbook at ``filepath`` and its CSV twin beside
    it; return the CSV path (the historical contract downstream consumers
    parse)."""
    write_funnel_excel(table, filepath)
    csv_path = os.path.splitext(filepath)[0] + ".csv"
    write_funnel_csv(table, csv_path)
    return csv_path


def send_report_mail(
    to_addrs: list[str],
    subject: str,
    body_html: str,
    attachments: list[str] | None = None,
    cc_addrs: list[str] | None = None,
    smtp: SmtpConfig | None = None,
) -> bool:
    """K2: multipart (plain+HTML) mail with base64 attachments
    (reference run_reports.py:132-165). Returns False (and logs) instead of
    raising; skips when SMTP is unconfigured."""
    attachments = attachments or []
    cc_addrs = cc_addrs or []
    smtp = smtp or SmtpConfig()
    if not smtp.configured:
        log.warning("SMTP not configured; skipping send.")
        return False
    try:
        msg = MIMEMultipart("alternative")
        msg["From"] = smtp.from_addr or smtp.user
        msg["To"] = ", ".join(to_addrs)
        if cc_addrs:
            msg["Cc"] = ", ".join(cc_addrs)
        msg["Subject"] = subject
        msg.attach(MIMEText(html_to_plain(body_html), "plain"))
        msg.attach(MIMEText(body_html, "html"))
        for path in attachments:
            if os.path.isfile(path):
                with open(path, "rb") as f:
                    part = MIMEBase("application", "octet-stream")
                    part.set_payload(f.read())
                encoders.encode_base64(part)
                part.add_header(
                    "Content-Disposition",
                    f'attachment; filename="{os.path.basename(path)}"',
                )
                msg.attach(part)
        with smtplib.SMTP(smtp.host, smtp.port) as srv:
            if smtp.use_tls:
                srv.starttls()
            srv.login(smtp.user, smtp.password)
            srv.send_message(msg)
        return True
    except Exception as e:  # noqa: BLE001 — sink fault isolation, as reference
        log.error("Mail send failed: %s", e)
        return False
