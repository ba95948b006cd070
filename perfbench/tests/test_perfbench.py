"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/tests -q

The generator tests are fast. The run tests start the real benchmark at
smoke size (one timed pass; two in a traced run), about a minute each.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _seeded_inputs(tmp, seed: int) -> str:
    """Every seeded input written to disk, plus the seeded values."""
    out = os.path.join(tmp, f"s{seed}-{len(os.listdir(tmp))}")
    gen.write_landing_zone(os.path.join(out, "landing"), seed)
    with open(os.path.join(out, "values.json"), "w") as fh:
        json.dump({
            "specs": [[s[0] for s in p] for p in gen.date_specs(seed, 4)],
            "edits": [gen.edits(seed, 3).snapshot, gen.edits(seed, 3).merges],
            "ann": gen.ann_queries(seed).tolist(),
        }, fh)
    return _tree_digest(out)


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = (_seeded_inputs(str(tmp_path), s) for s in (7, 7, 8))
    assert a == b
    assert a != c


def test_base_tables_are_fixed(tmp_path):
    gen.write_base(str(tmp_path / "x"))
    gen.write_base(str(tmp_path / "y"))
    assert _tree_digest(str(tmp_path / "x")) == _tree_digest(str(tmp_path / "y"))


def test_expected_funnel_counts_follow_the_generated_rows(tmp_path):
    lz = gen.write_landing_zone(str(tmp_path), 3, n_entities=2, rows_per_day=10)
    day = lz.days[0]
    m = lz.totals(day, day)[lz.entities[0]]
    fetch = lz.fetch[(lz.entities[0], day)]
    assert m["fi_req_ok"] == fetch.get("Success", 0) + fetch.get("Failed", 0)
    assert m["n_after_link"] == m["n_consent"] - m["d1"] - m["auth_drop"] - m["d3"] - m["d4"]


def test_ann_reference_depends_on_the_probed_cells(tmp_path):
    """The ANN check compares neighbours with this reference, so a query
    that probed one cell, or every cell, would fail it."""
    import pyarrow.parquet as pq

    gen.write_base(str(tmp_path))
    col = pq.read_table(str(tmp_path / "embeddings.parquet")).column("embedding")
    emb = np.stack(col.to_numpy(zero_copy_only=False))
    q = gen.ann_queries(3)
    two = workloads.ivf_reference_topk(emb, q, 16, 2, 5)
    assert all(len(r) == 5 for r in two)
    assert two != workloads.ivf_reference_topk(emb, q, 16, 1, 5)
    assert two != workloads.ivf_reference_topk(emb, q, 16, 16, 5)


def test_report_workbook_check_reads_back_every_cell(tmp_path):
    from funnel_report_etl_pipeline__spark.report import (
        funnel_layout, presentation_table, write_funnel_excel)

    lz = gen.write_landing_zone(str(tmp_path / "lz"), 3, n_entities=1, rows_per_day=10)
    table = presentation_table(lz.totals(lz.days[0], lz.days[-1])[lz.entities[0]])
    path = str(tmp_path / "r.xlsx")
    write_funnel_excel(table, path)
    assert workloads.xlsx_matches(path, funnel_layout(table)[0])
    row = next(i for i, r in enumerate(table) if isinstance(r[1], (int, float)) and r[1])
    table[row][1] += 1
    assert not workloads.xlsx_matches(path, funnel_layout(table)[0])


def _bench(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_reports_every_end_to_end_metric_and_passes_its_checks(workload, spec):
    res = _bench(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["ops_ok_frac"]["value"] == 1.0
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]])
def test_traced_run_reports_every_per_layer_metric(workload, spec):
    res = _bench(workload, 1)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want


def test_corrupted_result_counts_as_failure():
    res = _bench("funnel_report", 0, "--corrupt", "event_funnel_users")
    assert not res["correct"]
    assert res["failed"] == 1
    assert res["metrics"]["ops_ok_frac"]["value"] == pytest.approx(1 - 1 / res["attempted"])
