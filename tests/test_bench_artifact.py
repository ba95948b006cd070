"""bench.py's final-line contract: the external driver records only the
last 2000 characters of bench output (every BENCH_r07-r09 artifact shows
tail_len exactly 2000 with parsed=null once the registry outgrew the
window), so the last stdout line must parse from a bounded tail capture
no matter how many queries the registry holds. No Spark needed — pure
string logic — except for the warm-up test at the end."""

from __future__ import annotations

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _warm_up, query_stats, tail_safe_line  # noqa: E402


def _full(n: int) -> dict:
    timings = {f"query_name_of_ordinary_length_{i:03d}": round(0.1 + i * 0.07, 3) for i in range(n)}
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "stat": "median_of_3",
        "n_queries": n,
        "failed": [],
        "queries": timings,
        "stats": {},
    }


def test_line_fits_budget_and_parses_at_any_registry_size():
    for n in (5, 50, 90, 300):
        full = _full(n)
        line = tail_safe_line(full, 1900)
        assert len(line) <= 1900
        obj = json.loads(line)
        # totals are never sacrificed
        assert obj["value"] == full["value"] and obj["n_queries"] == n
        if obj.get("queries_omitted"):
            assert obj["full"] == "BENCH_FULL.json"
            assert len(obj["queries"]) + obj["queries_omitted"] == n


def test_kept_queries_are_the_slowest():
    full = _full(200)
    obj = json.loads(tail_safe_line(full, 1900))
    kept = set(obj["queries"])
    dropped_max = max(v for k, v in full["queries"].items() if k not in kept)
    kept_min = min(obj["queries"].values())
    assert kept_min >= dropped_max


def test_no_omission_keys_when_everything_fits():
    obj = json.loads(tail_safe_line(_full(10), 1900))
    assert "queries_omitted" not in obj and "full" not in obj
    assert len(obj["queries"]) == 10


def test_failed_marker_survives_truncation():
    full = _full(300)
    full["failed"] = ["query_name_of_ordinary_length_000"]
    full["queries"]["query_name_of_ordinary_length_000"] = None
    obj = json.loads(tail_safe_line(full, 1900))
    assert obj["failed"] == ["query_name_of_ordinary_length_000"]


def test_warm_up_runs_without_lineitem(spark, tmp_path):
    """A data directory without lineitem.parquet skips only the parquet
    warm-up read; the synthetic warm-ups still run."""
    sc = spark.sparkContext
    group = "test_warm_up_runs_without_lineitem"
    sc.setJobGroup(group, group)
    try:
        _warm_up(spark, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group)


def test_query_stats_counts_compiles_of_the_timed_runs(spark):
    """``compiles`` counts the classes compiled during the timed runs only:
    0 for a query whose warm-up compiled its classes, one per run for a
    query that builds a new plan shape every run."""
    plan = spark.range(5).selectExpr("id * 91733 AS x")
    steady = query_stats(spark, plan.collect, 3)
    assert set(steady) >= {"median", "min", "spread", "n", "compiles"}
    assert steady["compiles"] == 0

    shapes = iter(range(91734, 91800))
    fresh = query_stats(
        spark, lambda: spark.range(5).selectExpr(f"id * {next(shapes)} AS x").collect(), 3
    )
    assert fresh["compiles"] >= fresh["n"]
