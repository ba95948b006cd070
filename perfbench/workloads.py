"""The three workloads: their operations and the check of each result.

An operation is one timed call into the engine's public API. ``run(p)``
does the work of pass ``p`` (the only code inside the timed region) and
``check(p, result)`` decides, outside it, whether the output is right.

* Registry queries (``plans`` ``QuerySpec.fn``) are compared with their
  DuckDB ``QuerySpec.oracle`` once per run, during set-up; every timed
  result must then hash to that verified result.
* ``cli.run`` reports are compared cell by cell with the funnel the
  generator computed from its own totals.
* Versioned reads are compared with the generator's expected ids, texts
  and change counts.
"""

from __future__ import annotations

import csv
import hashlib
import os
import re
import zipfile
from xml.etree import ElementTree as ET
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

ANALYTICS_OPS = (
    "pricing_summary", "join_equi", "nation_market_share", "volume_shipping",
    "shipping_priority_topk", "k_core_peeling", "pagerank_coorder", "user_rfm_segments",
)
FUNNEL_OPS = ("funnel_waterfall", "event_funnel_users", "event_funnel_windowed", "event_path_topk")
ANN_K = 5
ANN_CELLS = 16
ANN_PROBE = 2
# query ids sit outside the corpus id range: the IVF probe drops qid == cid
QID_BASE = 10_000_000


@dataclass
class Op:
    name: str
    run: Callable[[int], Any]
    check: Callable[[int, Any], bool]
    layer: str | None = None  # outer span in the traced run
    verify: Callable[[Any], bool] | None = None  # once, on the set-up result


# ---------------------------------------------------------------------------
# Result comparison
# ---------------------------------------------------------------------------


def result_hash(columns: list[str], rows: list) -> str:
    """Order-independent digest of a collected result (columns by name,
    rows sorted by their exact repr)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted(repr(tuple(r[i] for i in order)) for r in rows)
    h = hashlib.sha1(repr([columns[i] for i in order]).encode())
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return h.hexdigest()


def _hashable(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_hashable(x) for x in v)
    return v


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_hashable)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell_equal(a, b) -> bool:
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    a, b = _hashable(a), _hashable(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_equal(x, y) for x, y in zip(a, b))
    return a == b


def matches_oracle(con, sql: str, columns: list[str], rows: list) -> bool:
    """Raw value equality with the DuckDB oracle, rows sorted by every
    column and columns by name (the repository's strict gate)."""
    sdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    odf = con.execute(sql).df()
    if len(sdf) != len(odf) or sorted(sdf.columns) != sorted(odf.columns):
        return False
    s, o = _canon(sdf), _canon(odf)
    return all(
        _cell_equal(s[c].iloc[i], o[c].iloc[i]) for c in s.columns for i in range(len(s))
    )


def ivf_reference_topk(emb: np.ndarray, queries: np.ndarray, n_cells: int, n_probe: int,
                       k: int) -> list[list[tuple[int, float]]]:
    """Per query, the exact top-k ``(cid, cosine)`` among the vectors in its
    ``n_probe`` nearest cells, from the generated vectors alone. The IVF
    medoid rule: the medoids are the ``n_cells`` vectors with the smallest
    ``md5(str(id))``, each vector sits in the cell of its most similar
    medoid, ties go to the lower cell, then the lower id."""
    unit = emb.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    mids = sorted(range(len(emb)), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    med = unit[mids[:n_cells]]
    cell_of = np.argmax(unit @ med.T, axis=1)  # first maximum: the lower cell
    out = []
    for qv in queries.astype(np.float64):
        qv = qv / np.linalg.norm(qv)
        probe = np.argsort(-(med @ qv), kind="stable")[:n_probe]
        cand = np.flatnonzero(np.isin(cell_of, probe))
        cos = unit[cand] @ qv
        out.append([(int(c), float(-x)) for x, c in sorted(zip(-cos, cand))[:k]])
    return out


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------


def pinned_op(name: str, run: Callable[[int], Any], first_check: Callable[[Any], bool],
              layer: str | None = None) -> Op:
    """An operation whose ``(columns, rows)`` result is deterministic: the
    set-up result must pass ``first_check``, and every timed result must
    then hash to that verified result."""
    verified: dict[str, str] = {}

    def verify(res):
        if not first_check(res):
            return False
        verified["hash"] = result_hash(*res)
        return True

    return Op(name, run, lambda p, res: verified.get("hash") == result_hash(*res), layer, verify)


def registry_op(ctx, name: str, layer: str | None = None) -> Op:
    spec = ctx.specs[name]

    def run(p):
        with ctx.tracer.span("plans.construct"):
            df = spec.fn(ctx.spark, ctx.sf_dir)
        with ctx.tracer.span("plans.execute"):
            return df.columns, df.collect()

    return pinned_op(name, run, lambda res: spec.oracle is not None
                     and matches_oracle(ctx.duck, spec.oracle, *res), layer)


XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def read_xlsx_cells(path: str) -> dict[tuple[int, int], str]:
    """(0-based row, col) -> text of every non-blank cell of the first
    sheet, shared and inline strings resolved (stdlib only)."""
    z = zipfile.ZipFile(path)
    shared = []
    if "xl/sharedStrings.xml" in z.namelist():
        for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(f"{XLSX_NS}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{XLSX_NS}t")))
    cells = {}
    for c in ET.fromstring(z.read("xl/worksheets/sheet1.xml")).iter(f"{XLSX_NS}c"):
        letters, row = re.fullmatch(r"([A-Z]+)(\d+)", c.get("r")).groups()
        col = 0
        for ch in letters:
            col = col * 26 + ord(ch) - ord("A") + 1
        if c.get("t") == "inlineStr":
            text = "".join(t.text or "" for t in c.iter(f"{XLSX_NS}t"))
        else:
            v = c.find(f"{XLSX_NS}v")
            text = None if v is None else (shared[int(v.text)] if c.get("t") == "s" else v.text)
        if text not in (None, ""):
            cells[(int(row) - 1, col - 1)] = text
    return cells


def xlsx_matches(path: str, layout: dict) -> bool:
    """The workbook holds exactly the layout's values: numbers equal as
    numbers, strings as strings, blanks absent."""
    got = read_xlsx_cells(path)
    want = {rc: v for rc, (v, _) in layout.items() if v not in (None, "")}
    if got.keys() != want.keys():
        return False
    for rc, v in want.items():
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            if float(got[rc]) != float(v):
                return False
        elif got[rc] != str(v):
            return False
    return True


def cli_ops(ctx) -> list[Op]:
    """``cli.run`` over the seeded date specs; the three spec kinds are
    separate operations whose order within a pass the seed sets."""
    from funnel_report_etl_pipeline__spark import cli
    from funnel_report_etl_pipeline__spark.config import EngineConfig
    from funnel_report_etl_pipeline__spark.report import funnel_layout, presentation_table, safe_filename

    ops = []
    for slot in range(3):
        out_dir = os.path.join(ctx.run_dir, "reports", str(slot))
        cfg = EngineConfig(data_base_path=ctx.landing, output_dir=out_dir)

        def run(p, slot=slot, cfg=cfg):
            spec = ctx.date_specs[p][slot][0]
            return spec, cli.run(ctx.spark, date_spec=spec, cfg=cfg, recipients_path=ctx.recipients)

        def check(p, res, slot=slot, out_dir=out_dir):
            spec, written = res
            _, start, end = ctx.date_specs[p][slot]
            expected = ctx.lz.totals(start, end)
            if len(written) != len(expected):
                return False
            for ent, metrics in expected.items():
                # the workbook is always written; without xlsxwriter the
                # returned path is its CSV twin, with it the workbook
                stem = os.path.join(out_dir, os.path.splitext(safe_filename(ent, spec))[0])
                table = presentation_table(metrics)
                if not {stem + ".xlsx", stem + ".csv"} & set(written):
                    return False
                if not xlsx_matches(stem + ".xlsx", funnel_layout(table)[0]):
                    return False
                if stem + ".csv" in written:
                    with open(stem + ".csv", newline="") as fh:
                        got = list(csv.reader(fh))[1:]  # row 0 is the layout's spacer
                    if got != [[str(c) for c in row] for row in table]:
                        return False
            return True

        ops.append(Op(f"cli.run[{slot}]", run, check, "cli.run"))
    return ops


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def _count_write(tr, out_dir: str, before: tuple[int, int], input_bytes: int) -> None:
    after = dir_stats(out_dir)
    tr.count("sources.sinks.files_written", after[0] - before[0])
    tr.count("sources.sinks.bytes_written", after[1] - before[1])
    tr.count("sources.sinks.input_bytes", input_bytes)


def corpus_ops(ctx) -> list[Op]:
    """One MERGE into the versioned table with its reads and maintenance,
    near-dup detection and an ANN query, per pass. The table is created
    during set-up; compaction each pass keeps its read chain one snapshot
    long, so passes do not trend."""
    from pyspark.sql import functions as F

    from funnel_report_etl_pipeline__spark.operators import ann_index
    from funnel_report_etl_pipeline__spark.sources import sinks

    spark, tr = ctx.spark, ctx.tracer
    table = ctx.table_dir
    head = {-1: sinks.write_versioned(spark.read.parquet(ctx.snapshot_path), table, id_col="doc_id")}
    merged: dict[int, int] = {}  # pass -> version of its MERGE commit

    def merge(p):
        before = dir_stats(table) if tr.active else None
        with tr.span("sources.sinks.write"):
            v = sinks.merge_versioned(spark, table, spark.read.parquet(ctx.merge_paths[p]), id_col="doc_id")
        if tr.active:
            _count_write(tr, table, before, os.path.getsize(ctx.merge_paths[p]))
        merged[p] = v
        return v

    def read_latest(p):
        with tr.span("sources.sinks.read"):
            return sorted(tuple(r) for r in sinks.read_versioned(spark, table).select("doc_id", "text").collect())

    def before_merge(p):
        return ctx.edits.after[p - 1] if p else dict(ctx.edits.snapshot)

    def read_as_of(p):
        """Time travel to the head before this pass's MERGE."""
        with tr.span("sources.sinks.read"):
            df = sinks.read_versioned(spark, table, head[p - 1])
            return sorted(tuple(r) for r in df.select("doc_id", "text").collect())

    def changes(p):
        with tr.span("sources.sinks.read"):
            df = sinks.version_changes(spark, table, head[p - 1], merged[p], "doc_id")
            return [tuple(r) for r in df.groupBy("doc_id").agg(
                F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(-1)).alias("net")
            ).filter("net != 0").collect()]

    def changes_check(p, rows):
        """The net membership change of one MERGE is its new ids."""
        return dict(rows) == {i: 1 for i in ctx.edits.after[p].keys() - before_merge(p).keys()}

    def maintain(p):
        with tr.span("sources.sinks.maintain"):
            v = sinks.compact_versioned(spark, table, "doc_id")
            sinks.vacuum_versioned(spark, table, retention_seconds=0)
        head[p] = v
        return v

    def ann_seeded(p):
        emb = spark.read.parquet(os.path.join(ctx.sf_dir, "embeddings.parquet"))
        idx = os.path.join(ctx.index_dir, os.path.basename(ctx.sf_dir), f"ivf{ANN_CELLS}")
        ann_index.ensure_ivf_medoid_index(emb, idx, n_cells=ANN_CELLS)
        q = spark.read.parquet(ctx.ann_query_path)
        df = ann_index.cosine_topk_ivf_prebuilt(emb, q, idx, k=ANN_K, n_probe=ANN_PROBE).select(
            "qid", "cid", "cosine", "rnk")
        return df.columns, df.collect()

    def ann_check(res):
        """Per query, ranks 1..k hold exactly the reference neighbours,
        with their cosines."""
        want = ivf_reference_topk(ctx.emb, ctx.ann_q, ANN_CELLS, ANN_PROBE, ANN_K)
        by_q: dict[int, list] = {}
        for r in res[1]:
            by_q.setdefault(int(r[0]) - QID_BASE, []).append(r)
        if sorted(by_q) != list(range(len(want))):
            return False
        for qi, rs in by_q.items():
            rs.sort(key=lambda r: r[3])
            if [int(r[3]) for r in rs] != list(range(1, ANN_K + 1)):
                return False
            if [int(r[1]) for r in rs] != [cid for cid, _ in want[qi]]:
                return False
            if any(abs(float(r[2]) - cos) > 1e-9 for r, (_, cos) in zip(rs, want[qi])):
                return False
        return True

    return [
        Op("sinks.merge_versioned", merge, lambda p, v: isinstance(v, int) and v > head[p - 1]),
        Op("sinks.read_versioned", read_latest, lambda p, r: r == sorted(ctx.edits.after[p].items())),
        Op("sinks.read_versioned_as_of", read_as_of,
           lambda p, r: r == sorted(before_merge(p).items())),
        Op("sinks.version_changes", changes, changes_check),
        Op("sinks.compact_vacuum", maintain, lambda p, v: isinstance(v, int) and v > merged[p]),
        registry_op(ctx, "dedup_minhash_lsh", "operators.dedup"),
        pinned_op("ann.ivf_seeded_query", ann_seeded, ann_check, "operators.ann_index.query"),
    ]


# ---------------------------------------------------------------------------
# Per-workload inputs
# ---------------------------------------------------------------------------


def prepare_inputs(ctx, workload: str) -> None:
    """Write the seeded inputs of ``workload`` under the run directory and
    keep their expected answers on ``ctx``. No Spark here."""
    if workload == "funnel_report":
        ctx.landing = os.path.join(ctx.run_dir, "landing")
        ctx.lz = gen.write_landing_zone(ctx.landing, ctx.seed)
        ctx.date_specs = gen.date_specs(ctx.seed, ctx.n_passes)
        ctx.recipients = os.path.join(ctx.run_dir, "recipients.json")
        import json

        with open(ctx.recipients, "w") as fh:
            json.dump({"to": {e: [f"ops+{i}@example.com"] for i, e in enumerate(ctx.lz.entities)}}, fh)
    elif workload == "corpus_versioned":
        ctx.table_dir = os.path.join(ctx.versioned_dir, "bench_table")
        ctx.edits = gen.edits(ctx.seed, ctx.n_passes)
        bdir = os.path.join(ctx.run_dir, "batches")
        os.makedirs(bdir)

        def write(rows, name):
            path = os.path.join(bdir, name)
            pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                                     "text": [r[1] for r in rows]}), path)
            return path

        ctx.snapshot_path = write(ctx.edits.snapshot, "snapshot.parquet")
        ctx.merge_paths = [write(m, f"merge-{p}.parquet") for p, m in enumerate(ctx.edits.merges)]
        ctx.ann_q = gen.ann_queries(ctx.seed)
        ctx.ann_query_path = os.path.join(ctx.run_dir, "ann_queries.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array([QID_BASE + i for i in range(len(ctx.ann_q))], pa.int64()),
            "embedding": pa.array(list(ctx.ann_q), pa.list_(pa.float32())),
        }), ctx.ann_query_path)
        emb = pq.read_table(os.path.join(ctx.sf_dir, "embeddings.parquet"))
        ctx.emb = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))


def build_ops(ctx, workload: str) -> list[Op]:
    if workload == "funnel_report":
        return cli_ops(ctx) + [registry_op(ctx, n) for n in FUNNEL_OPS]
    if workload == "corpus_versioned":
        return corpus_ops(ctx)
    if workload == "analytics_scan":
        return [registry_op(ctx, n) for n in ANALYTICS_OPS]
    raise ValueError(f"unknown workload {workload!r}")
