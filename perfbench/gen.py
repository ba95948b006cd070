"""Seeded input generation for the benchmark.

Two kinds of input:

* the **base** tables (TPC-H-shaped relations, ``events``, ``documents``,
  ``embeddings``) at a fixed scale and a fixed seed, so every run and every
  workload seed scans the same bytes;
* the **seeded** inputs that ``--seed`` drives: the CSV landing zone the
  report CLI reads, the order of date specs, the versioned-table edit
  batches and the ANN query vectors.

Every generator returns plain Python/NumPy values plus the expected answer
the benchmark checks the program against; nothing here imports Spark.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# Rows per table at scale 1.0 (TPC-H proportions; the extra tables follow
# the repository's testdata shapes). The base is generated at BASE_SCALE:
# the repository's sf0.1 does not fit the benchmark's time budget (README).
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
BASE_SCALE = 0.01
EMB_DIM = 64

_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
_P_NOUN = ["bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pin"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _ts(days_from: np.datetime64, rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return days_from + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 100)))


def base_tables() -> dict[str, pa.Table]:
    """The fixed base relations as Arrow tables (same seed → same bytes)."""
    rng = np.random.default_rng(BASE_SEED)
    n = {k: int(v * BASE_SCALE) for k, v in _ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_P_ADJ, npart), rng.choice(_P_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_P_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(
            _ts(np.datetime64("1995-01-01"), rng, no, 2405).astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(
            _ts(np.datetime64("1995-01-02"), rng, nl, 2499).astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, ne // 66), ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    prng = random.Random(BASE_SEED)
    texts: list[str] = []
    for i in range(nd):
        # every 20th document is a near-duplicate of an earlier one (the
        # testdata convention: the copy ends in " dup"), so dedup has work
        texts.append(texts[prng.randrange(i)] + " dup" if i and i % 20 == 11 else _doc_text(prng))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [prng.choice(_LANGS) for _ in range(nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    t["embeddings"] = embeddings_table(n["embeddings"], rng)
    return t


def embeddings_table(n: int, rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    v = centers[labels] + rng.normal(0.0, 0.8, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def write_base(sf_dir: str) -> None:
    """Write the base tables as one parquet file each."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in base_tables().items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Landing zone for the report CLI (reference directory-per-day CSV layout)
# ---------------------------------------------------------------------------

STAGE_COLUMNS = [
    "AA_client_Initialization", "OTP_Based_Sign_in_Sign_up", "View_Consent_Details",
    "Discovery", "Linking", "Rejected_Consent_Requests", "Approved_Consent_Requests",
    "FIP_Rejected_Consent_Artefacts", "FIP_Accepted_Consent_Artefacts",
    "Data_Fetch_Success", "Data_Fetch_Not_Attempted",
]
OTP_COLUMNS = ["Correct_OTP_Entered", "Incorrect_OTP_Entered", "OTP_Not_Entered"]
DISCOVERY_COLUMNS = ["Account_Discovered", "Account_not_Found", "FIP_Not_Selected", "Failure", "NO_STATUS"]
_STEMS = {
    "uf_stages": "uf-stages-user-funnel",
    "otp_summary": "otp-summary-user-funnel",
    "discovery_summary": "discovery-summary-user-funnel",
    "user_funnel": "user-funnel",
}
LZ_MONTH = date(2024, 3, 1)
LZ_DAYS = 31
RANGE_DAYS = 7


@dataclass
class LandingZone:
    """Per-(entity, day) totals of the generated CSVs, in the units the
    report aggregates: truncated stage ints, OTP/discovery sums, fetch
    status counts."""

    entities: list[str]
    days: list[date]
    stage: dict = field(default_factory=dict)  # (entity, day) -> [11 ints]
    otp: dict = field(default_factory=dict)  # (entity, day) -> [3 ints]
    disc: dict = field(default_factory=dict)  # (entity, day) -> [5 ints|None]
    fetch: dict = field(default_factory=dict)  # (entity, day) -> {status: n}

    def totals(self, start: date, end: date) -> dict[str, dict]:
        """Expected funnel metrics per entity for an inclusive window — the
        reference waterfall recomputed from the generator's own totals."""
        out = {}
        for e in self.entities:
            ks = [(e, d) for d in self.days if start <= d <= end]
            if not ks:
                continue
            st = [sum(self.stage[k][i] for k in ks) for i in range(len(STAGE_COLUMNS))]
            ot = [sum(self.otp[k][i] for k in ks) for i in range(len(OTP_COLUMNS))]
            dc = [sum(self.disc[k][i] or 0 for k in ks) for i in range(len(DISCOVERY_COLUMNS))]
            fi = {s: sum(self.fetch[k].get(s, 0) for k in ks) for s in ("Success", "Failed")}
            out[e] = waterfall(dict(zip(STAGE_COLUMNS, st)), dict(zip(OTP_COLUMNS, ot)),
                               dict(zip(DISCOVERY_COLUMNS, dc)), fi)
        return out


def waterfall(st: dict, ot: dict, dc: dict, fi: dict) -> dict:
    """The reference funnel arithmetic (report_engine.py:239-291) on plain
    ints; keys match the engine's metrics row."""
    d1, d2, view = st["AA_client_Initialization"], st["OTP_Based_Sign_in_Sign_up"], st["View_Consent_Details"]
    d3 = sum(dc.values())
    d4, rej, appr = st["Linking"], st["Rejected_Consent_Requests"], st["Approved_Consent_Requests"]
    fetch_ok = st["Data_Fetch_Success"]
    total = d1 + d2 + view + st["Discovery"] + d4 + rej + appr
    fi_req_ok = fi["Success"] + fi["Failed"]
    m = {
        "total_users": total, "d1": d1, "auth_drop": d2 + view,
        "otp_wrong": ot["Incorrect_OTP_Entered"], "otp_miss": ot["OTP_Not_Entered"],
        "otp_ok_drop": d2 - (ot["Incorrect_OTP_Entered"] + ot["OTP_Not_Entered"]) + view,
        "d3": d3, "no_rec": dc["Account_not_Found"], "fip_fail": dc["NO_STATUS"],
        "some_fail": dc["Failure"], "found_not_linked": dc["Account_Discovered"] + dc["FIP_Not_Selected"],
        "d4": d4, "rej": rej, "appr": appr,
        "fip_rej": st["FIP_Rejected_Consent_Artefacts"], "fip_ok": st["FIP_Accepted_Consent_Artefacts"],
        "fi_req_ok": fi_req_ok, "not_attempted": st["Data_Fetch_Not_Attempted"],
        "fetch_ok": fetch_ok, "fi_fetch_drop": fi_req_ok - fetch_ok,
    }
    m["n_consent"] = total
    m["n_after_init"] = total - d1
    m["n_after_auth"] = m["n_after_init"] - m["auth_drop"]
    m["n_after_disc"] = m["n_after_auth"] - d3
    m["n_after_link"] = m["n_after_disc"] - d4
    return m


def write_landing_zone(base: str, seed: int, n_entities: int = 8, rows_per_day: int = 120) -> LandingZone:
    """Write ``{base}/{dd_mm_yyyy}/{stem}-{dd_mm_yyyy}.csv`` for every day of
    the landing month and every entity; return the totals."""
    rng = random.Random(seed)
    ents = [f"fiu{i:02d}@bench" for i in range(n_entities)]
    days = [LZ_MONTH + timedelta(days=i) for i in range(LZ_DAYS)]
    lz = LandingZone(ents, days)
    for d in days:
        ds = d.strftime("%d_%m_%Y")
        ddir = os.path.join(base, ds)
        os.makedirs(ddir, exist_ok=True)
        rows: dict[str, list[list[str]]] = {k: [] for k in _STEMS}
        for e in ents:
            k = (e, d)
            # stage cells carry a fraction sometimes: the reader truncates
            # per cell before summing ('300.9' counts 300)
            st_raw = [rng.randint(0, 400) + (rng.choice([0, 0, 0.5, 0.9])) for _ in STAGE_COLUMNS]
            lz.stage[k] = [int(v) for v in st_raw]
            rows["uf_stages"].append([e, d.strftime("%d-%m-%Y")] + [f"{v:g}" for v in st_raw])
            lz.otp[k] = [rng.randint(0, 300) for _ in OTP_COLUMNS]
            rows["otp_summary"].append([e] + [str(v) for v in lz.otp[k]])
            # empty discovery cells read as NULL and are skipped by SUM
            lz.disc[k] = [None if rng.random() < 0.1 else rng.randint(0, 200) for _ in DISCOVERY_COLUMNS]
            rows["discovery_summary"].append([e] + ["" if v is None else str(v) for v in lz.disc[k]])
            counts: dict[str, int] = {}
            for _ in range(rows_per_day):
                s = rng.choice(("Success", "Success", "Failed", "Not Attempted"))
                counts[s] = counts.get(s, 0) + 1
                rows["user_funnel"].append([e, s])
            lz.fetch[k] = counts
        headers = {
            "uf_stages": ["Entity_ID", "Date"] + STAGE_COLUMNS,
            "otp_summary": ["entity_id"] + OTP_COLUMNS,
            "discovery_summary": ["entity_id"] + DISCOVERY_COLUMNS,
            "user_funnel": ["entity_id", "fetch_status"],
        }
        for name, stem in _STEMS.items():
            with open(os.path.join(ddir, f"{stem}-{ds}.csv"), "w", newline="") as fh:
                w = csv.writer(fh)
                w.writerow(headers[name])
                w.writerows(rows[name])
    return lz


def date_specs(seed: int, n_passes: int) -> list[list[tuple[str, date, date]]]:
    """Per pass: a single day, a RANGE_DAYS range and the month glob, in a
    seeded order. Window lengths are fixed so every seed does equal work."""
    rng = random.Random(seed * 7919 + 1)
    fmt = "%d_%m_%Y"
    out = []
    last = LZ_MONTH + timedelta(days=LZ_DAYS - 1)
    for _ in range(n_passes):
        day = LZ_MONTH + timedelta(days=rng.randrange(LZ_DAYS))
        a = LZ_MONTH + timedelta(days=rng.randrange(LZ_DAYS - RANGE_DAYS + 1))
        b = a + timedelta(days=RANGE_DAYS - 1)
        specs = [
            (day.strftime(fmt), day, day),
            (f"{a.strftime(fmt)} -> {b.strftime(fmt)}", a, b),
            (f"*{LZ_MONTH.strftime('%m_%Y')}", LZ_MONTH, last),
        ]
        rng.shuffle(specs)
        out.append(specs)
    return out


# ---------------------------------------------------------------------------
# Versioned-table edits and ANN queries
# ---------------------------------------------------------------------------

SNAPSHOT_ROWS = 400
MERGE_MATCHED = 30
MERGE_NEW = 30


@dataclass
class Edits:
    """The versioned table's seeded history: an initial snapshot, then one
    MERGE batch per pass (MERGE_MATCHED existing ids get new text,
    MERGE_NEW ids are inserted), with the expected contents (id -> text)
    after each merge."""

    snapshot: list[tuple[int, str]]
    merges: list[list[tuple[int, str]]]
    after: list[dict[int, str]]


def edits(seed: int, n_passes: int) -> Edits:
    rng = random.Random(seed * 104729 + 3)
    state = {i: _doc_text(rng) for i in rng.sample(range(100_000), SNAPSHOT_ROWS)}
    snapshot = sorted(state.items())
    merges, after = [], []
    next_id = 1_000_000
    for _ in range(n_passes):
        batch = [(i, "merged " + _doc_text(rng)) for i in rng.sample(sorted(state), MERGE_MATCHED)]
        batch += [(next_id + j, _doc_text(rng)) for j in range(MERGE_NEW)]
        next_id += MERGE_NEW
        state = {**state, **dict(batch)}
        merges.append(batch)
        after.append(state)
    return Edits(snapshot, merges, after)


def ann_queries(seed: int, n: int = 8) -> np.ndarray:
    """Seeded unit query vectors (float32, EMB_DIM wide)."""
    rng = np.random.default_rng(seed * 31 + 5)
    v = rng.normal(0.0, 1.0, (n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
