"""Headline benchmark harness.

Runs every ``bench=True`` query from the registry at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing is end-to-end per query: plan construction + execution + collect to
the driver. A tiny warm-up query first so JVM/codegen startup is not billed
to the first benchmark entry; each query then gets one untimed warm-up run
and the reported figure is the MEDIAN of 3 timed runs (single-machine noise
here is ±30%, so a single sample can misstate a query by its own runtime).
``BENCH_FULL.json`` also records, per query, the classes Spark compiled
during its timed runs (``compiles``): 0 means the timed runs reused the
warm-up's generated classes, i.e. they measured a steady state.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from funnel_report_etl_pipeline__spark.plans.registry import load_all  # noqa: E402
from funnel_report_etl_pipeline__spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
    release_all_caches,
)


def _warm_up(spark, sf_dir: str) -> None:
    """JVM classloading + codegen paths, not billed to any query."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Round-15 measurement fix (declared in OPTIMIZATION_r15.md, old
    # numbers kept there): the single range-sum warm-up left the JVM
    # mid-ramp — C2 background compilation of the shuffle/codegen/broadcast
    # machinery ran DURING the first family's timed runs, inflating the
    # alphabetically-first ~10 queries by up to ~1.9x run-to-run (two
    # otherwise-identical quiet runs: positions 0-9 mean ratio 1.86, all
    # later positions ~1.0; the per-query untimed warm-up run compiles the
    # query's own codegen but cannot retire the background compile queue).
    # Exercise the common execution machinery — hash aggregate exchange,
    # window sort, broadcast hash join, parquet scan — untimed, so every
    # timed run measures steady-state throughput as this harness already
    # documents. Results are collected and discarded; nothing persists.
    w = spark.range(2_000_000).selectExpr("id % 997 AS k", "id AS v")
    w.groupBy("k").agg({"v": "sum"}).collect()
    spark.sql(
        "SELECT * FROM (SELECT k, v, "
        "ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) rn "
        "FROM (SELECT id % 97 AS k, id AS v FROM range(500000))) WHERE rn <= 3"
    ).collect()
    w.join(
        spark.range(997).selectExpr("id AS k", "id * 2 AS w2").hint("broadcast"),
        "k",
    ).groupBy("k").count().collect()
    # the parquet-scan warm-up needs the scale factor's lineitem; a data
    # directory without it still benches whatever its queries can read
    lineitem = os.path.join(sf_dir, "lineitem.parquet")
    if os.path.exists(lineitem):
        spark.read.parquet(lineitem).limit(10_000).collect()


def query_stats(spark, run, n_runs: int) -> dict:
    """One query's ``stats`` entry: ``run()`` once untimed, then ``n_runs``
    timed runs (twice that when the first set is noisy)."""
    # one untimed warm-up run per query: bills one-time costs (parquet
    # footer/file listing, whole-stage codegen JIT) to warm-up, so the timed
    # runs measure steady-state throughput — the number that scales with
    # data volume on a long-lived cluster. Results stay collect()-verified
    # every time.
    run()

    def timed_runs(k: int) -> list[float]:
        out = []
        for _ in range(k):
            t0 = time.perf_counter()
            run()
            out.append(time.perf_counter() - t0)
        return out

    compiled = codegen_compiles(spark)
    samples = timed_runs(n_runs)
    # A median well above the min means at least half the samples were
    # inflated by something other than the query (GC pause, bench-process
    # contention) — the round-3 phantom 2.79 s asof_join_events; round-5's
    # 4.4 s cdc_chunk_dedup sat at 1.8x min and slipped the old 2x trigger,
    # so retry at 1.5x.
    retried = False
    if statistics.median(samples) > 1.5 * min(samples):
        retried = True
        samples += timed_runs(n_runs)
    return {
        "median": round(statistics.median(samples), 3),
        "min": round(min(samples), 3),
        "spread": round(max(samples) - min(samples), 3),
        "n": len(samples),
        "compiles": codegen_compiles(spark) - compiled,
        **({"retried": True} if retried else {}),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0)

    spark = get_spark(app_name="bench")
    specs = {n: s for n, s in load_all().items() if s.bench}

    _warm_up(spark, sf_dir)

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float | None] = {}
    stats: dict[str, dict] = {}
    for name in sorted(specs):
        try:
            stats[name] = query_stats(
                spark, lambda: specs[name].fn(spark, sf_dir).collect(), n_runs
            )
            timings[name] = stats[name]["median"]
        except Exception as e:  # one broken query must not zero the whole bench
            print(f"bench: {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            timings[name] = None  # machine-readable failure marker
            stats[name] = {"err": f"{type(e).__name__}: {e}"[:200]}
        # drop persisted blocks BETWEEN queries so no query pays another's
        # checkpoint debt (k_core measured ~10 s dirty vs 6.3-6.8 s clean).
        # Cleanup sits OUTSIDE the timed region; it is failure-isolated
        # inside the helper, so one broken query/JVM can't abort the run
        # and discard the timings collected so far.
        release_all_caches(spark)

    failed = [n for n, t in timings.items() if t is None]
    total = round(sum(t for t in timings.values() if t is not None), 3)
    # per-query sample counts differ when the noisy-sample retry fires;
    # label the statistic from what actually ran, not the configured n
    ns = sorted({s["n"] for s in stats.values() if "n" in s})
    stat_label = f"median_of_{ns[0]}" if len(ns) == 1 else (
        f"median_of_{ns[0]}_to_{ns[-1]}" if ns else "median"
    )
    # The external driver keeps only the LAST 2000 characters of output
    # (every BENCH_r07-r09 artifact has tail_len exactly 2000 with
    # parsed=null — the headline line outgrew the window as the registry
    # grew). Two-tier output therefore:
    #   1. BENCH_FULL.json at the repo root — the complete, durable
    #      artifact (medians + min/spread/n per query), committed each
    #      round so per-query round-over-round comparison never depends
    #      on the driver's capture window.
    #   2. ONE final stdout line, adaptively sized to parse from a
    #      2000-char tail: totals always; per-query medians slowest-first,
    #      dropped from the fast end until the line fits (the slow tail
    #      is what regression triage needs; omissions are counted and
    #      the full file is named).
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "stat": stat_label,
        "n_queries": len(timings),
        "failed": failed,
        "queries": timings,
        "stats": stats,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1)

    tail_budget = int(os.environ.get("SPARK_GRAFT_BENCH_TAIL_BUDGET", "1900"))
    print(tail_safe_line(full, tail_budget))
    # the JSON line still comes out, but a failure is not a success
    return 1 if failed else 0


def tail_safe_line(full: dict, tail_budget: int) -> str:
    """The final stdout line, guaranteed to parse from a bounded tail
    capture: totals always present; per-query medians ordered
    slowest-first and dropped from the FAST end until the line fits
    (the slow tail is what regression triage needs). Omissions are
    counted and the complete committed artifact is named."""
    timings = full["queries"]
    by_cost = sorted(timings, key=lambda n: (-(timings[n] or 0.0), n))
    line_obj = {k: full[k] for k in ("metric", "value", "unit", "sf", "stat", "n_queries")}
    if full.get("failed"):
        line_obj["failed"] = full["failed"]
    def render(kept: int) -> str:
        line_obj["queries"] = {n: timings[n] for n in by_cost[:kept]}
        if kept < len(by_cost):
            line_obj["queries_omitted"] = len(by_cost) - kept
            line_obj["full"] = "BENCH_FULL.json"
        else:
            line_obj.pop("queries_omitted", None)
            line_obj.pop("full", None)
        return json.dumps(line_obj, separators=(",", ":"))

    # largest prefix of the slowest-first list that fits (binary search;
    # entry sizes vary by name length so step-decrement would overshoot)
    lo, hi = 0, len(by_cost)
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if len(render(mid)) <= tail_budget:
            lo = mid
        else:
            hi = mid - 1
    return render(lo)


if __name__ == "__main__":
    raise SystemExit(main())
