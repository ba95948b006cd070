"""One benchmark run, in a fresh process: set-up, timed passes, metrics.

Started by ``run.py`` with the per-run state directories already in the
environment; writes its result as JSON to ``--out``. The loop is closed
with one client: each operation starts when the previous one returned.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from run import cpu_stat  # noqa: E402

# Nominal seconds per pass on one CPU of a 4-vCPU host. The timed pass
# count is seconds / nominal, fixed per workload and --seconds rather than
# measured, so every run times the same operations and the tail rank is
# the same.
NOMINAL_PASS_S = {"funnel_report": 7.5, "corpus_versioned": 9.5, "analytics_scan": 10.0}
# A pass that lost more than this share of its wall time to steal on the
# run's CPU is counted as disturbed in the printed context. No statistic
# leaves it out: every time is taken net of its steal.
STEAL_CEILING = 0.03
# The probe's CPU time at the reference host speed: a round value inside
# the 15-32 ms it took on the 4-vCPU host this benchmark was built on,
# depending on the host's load. Every timing metric is
# scaled by this over the run's median probe: the host's other tenants
# moved the probe and the program's times together by up to 1.8x between
# runs minutes apart (README, "Noise sources").
PROBE_REF_S = 0.020
CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` in seconds."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_probe() -> float:
    """CPU seconds of a fixed pure-Python loop: how fast the host lets the
    run's CPU go right now. CPU time, not wall time, so neither steal nor
    another thread on the CPU counts."""
    t = time.process_time()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return time.process_time() - t


def tail(values: list[float]) -> tuple[float, float]:
    """The value with exactly 10 samples above it, and its percentile."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--cpu", type=int, required=True, help="the one CPU the run is pinned to")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--corrupt", default=None, help="self-test: op whose results are altered")
    args = ap.parse_args(argv)

    timed_n = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    if args.trace:
        # untraced, traced, untraced, ...: an odd count puts an untraced
        # pass on both sides of every traced one
        timed_n = max(3, timed_n | 1)
    first_timed = 1  # pass 0 verifies and warms up
    ctx = SimpleNamespace(
        seed=args.seed, run_dir=args.run_dir, n_passes=first_timed + timed_n,
        sf_dir=os.path.join(args.run_dir, "base"),
        index_dir=os.environ["SPARK_GRAFT_INDEX_DIR"],
        versioned_dir=os.environ["SPARK_GRAFT_VERSIONED_DIR"],
    )
    load_start = os.getloadavg()
    steal0 = cpu_stat()[args.cpu][7]

    def steal_s() -> float:
        """Seconds the hypervisor has stolen from the run's CPU."""
        return cpu_stat()[args.cpu][7] / CLK_TCK

    # ---- set-up: inputs, session, registry, verification, warm-up ----
    phases = {"start": time.time() - args.t0}
    gen.write_base(ctx.sf_dir)
    workloads.prepare_inputs(ctx, args.workload)
    phases["inputs"] = time.time() - args.t0
    tr = tracing.Tracer()
    ctx.tracer = tr
    t = time.perf_counter()
    from funnel_report_etl_pipeline__spark.session import get_spark, release_all_caches

    spark = get_spark(app_name="perfbench")
    get_spark_s = time.perf_counter() - t
    tr.spark = spark
    ctx.spark = spark
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    driver_heap_mb = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20

    from funnel_report_etl_pipeline__spark.plans.registry import load_all

    ctx.specs = load_all()
    import duckdb

    ctx.duck = duckdb.connect()
    for f in sorted(os.listdir(ctx.sf_dir)):
        ctx.duck.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(ctx.sf_dir, f)}'")
    ops = workloads.build_ops(ctx, args.workload)
    phases["session"] = time.time() - args.t0
    if args.trace:
        install_patches(tr)
        tr.active = True
        tr.pass_idx = "setup"

    def run_op(op, p):
        """(result, wall_s, steal_s, cpu_s, error); hygiene stays outside
        the timing."""
        release_all_caches(spark)
        probes.append(cpu_probe())
        tr.op = op.name
        c0 = proc_cpu_s(jvm_pid) + sum(os.times()[:2])
        s0 = steal_s()
        t0 = time.perf_counter()
        try:
            with tr.span(f"op:{op.name}"), tr.span(op.layer) if op.layer else nullcontext():
                res = op.run(p)
            err = None
        except Exception as e:  # noqa: BLE001 — an op error is a failed op, not a failed run
            res, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        wall = time.perf_counter() - t0
        steal = steal_s() - s0
        cpu_s = proc_cpu_s(jvm_pid) + sum(os.times()[:2]) - c0
        tr.flush()
        if args.corrupt == op.name and res is not None:
            res = _corrupt(res)
        return res, wall, steal, cpu_s, err

    probes: list[float] = []
    op_status: dict[str, str] = {}
    pass0_ops_s = 0.0
    for op in ops:  # pass 0 verifies every op; checks and oracles run here
        res, w0, _, _, err = run_op(op, 0)
        pass0_ops_s += w0
        ok = err is None and _safe(op.verify or (lambda r: op.check(0, r)), res)
        op_status[op.name] = "ok" if ok else (err or "check failed on the verified pass")
    phases["verified"] = time.time() - args.t0
    phases["pass0_ops_s"] = pass0_ops_s
    release_all_caches(spark)
    tr.active = False

    # ---- timed passes ----
    # net of the steal since this process started; run.py's own start
    # before it is a few milliseconds
    setup_s = time.time() - args.t0 - (steal_s() - steal0 / CLK_TCK)
    passes, records = [], []
    deadline = time.perf_counter() + 2 * args.seconds
    for i in range(timed_n):
        p = first_timed + i
        traced = bool(args.trace) and i % 2 == 1
        tr.active, tr.pass_idx = traced, p
        if traced:
            tr.counts.append({})
        tot = {"wall": 0.0, "steal": 0.0, "cpu": 0.0}
        for op in ops:
            res, w, st, c, err = run_op(op, p)
            ok = err is None and op_status[op.name] == "ok" and _safe(lambda r: op.check(p, r), res)
            # the op's time net of what the hypervisor stole from its CPU
            records.append({"pass": p, "op": op.name, "wall_s": w - st, "cpu_s": c,
                            "ok": ok, "err": err})
            tot["wall"] += w
            tot["steal"] += st
            tot["cpu"] += c
        passes.append({"pass": p, "traced": traced, "wall_s": tot["wall"] - tot["steal"],
                       "cpu_s": tot["cpu"], "steal_s": tot["steal"],
                       "steal_share": tot["steal"] / tot["wall"]})
        if time.perf_counter() > deadline and not args.trace:
            break
    tr.active = False
    release_all_caches(spark)

    peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    # every statistic uses every untraced pass: a fixed sample count keeps
    # each median and the tail at the same rank in every run
    untraced = [x for x in passes if not x["traced"]]
    untraced_ids = {x["pass"] for x in untraced}
    op_walls = [r["wall_s"] for r in records if r["pass"] in untraced_ids]
    tail_v, tail_pct = tail(op_walls)
    # < 1 when the host ran slower than the reference
    scale = PROBE_REF_S / statistics.median(probes)
    times = {
        "setup_s": setup_s,
        "pass_s": statistics.median(x["wall_s"] for x in untraced),
        "cpu_s": statistics.median(x["cpu_s"] for x in untraced),
        "op_p50_s": statistics.median(op_walls),
        "op_tail_s": tail_v,
    }
    context = {
        "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(), "cpu": args.cpu,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "driver_heap_mb": driver_heap_mb, "timed_passes": len(passes),
        "op_samples": len(op_walls), "op_tail_percentile": tail_pct,
        "steal_ceiling": STEAL_CEILING, "cpu_probe_s": statistics.median(probes),
        "scale": scale, "unscaled": times,
        "setup_phases_at_s": phases,
        "disturbed_passes": sum(x["steal_share"] > STEAL_CEILING for x in passes),
        "passes": passes, "op_errors": {k: v for k, v in op_status.items() if v != "ok"},
    }
    out = {
        "attempted": len(records), "failed": sum(not r["ok"] for r in records),
        "context": context, "records": records,
        "end_to_end": {
            **{k: v * scale for k, v in times.items()},
            "ops_ok_frac": sum(r["ok"] for r in records) / len(records),
            "peak_rss_mb": peak_rss,
        },
    }
    if args.trace:
        spark.stop()  # flushes the event log; untraced, run.py ends the JVM
        by_group = tracing.event_log_by_group(os.environ["PERFBENCH_EVENT_LOG"])
        out["per_layer"] = per_layer(tr, by_group, passes, get_spark_s)
        spans_path = os.path.join(os.path.dirname(args.run_dir), f"spans-{args.workload}-{args.seed}.json")
        selfs = tracing.self_times(tr.spans)
        with open(spans_path, "w") as fh:
            json.dump([dict(s, self_s=selfs.get(s["id"]), **by_group.get(f"pb{s['id']}", {}))
                       for s in tr.spans], fh)
        context["spans_file"] = os.path.basename(spans_path)
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    return 0


def _safe(check, res) -> bool:
    """A check that raises on a malformed result counts it as wrong."""
    try:
        return bool(check(res))
    except Exception:  # noqa: BLE001
        return False


def _corrupt(res):
    """Self-test hook: alter a result so that its check must fail."""
    if isinstance(res, tuple) and len(res) == 2 and isinstance(res[1], list):
        return res[0], res[1][1:] + [res[1][0]] * 2 if res[1] else [("corrupt",)]
    if isinstance(res, list):
        return res[1:] if res else [("corrupt",)]
    return None


def install_patches(tr) -> None:
    """Wrap public functions where their callers look them up."""
    from funnel_report_etl_pipeline__spark import cli
    from funnel_report_etl_pipeline__spark.operators import ann_index, dedup
    from funnel_report_etl_pipeline__spark.sources import readers

    def probed(args, kwargs, out, rec):
        tr.count("sources.readers.paths_probed", len(readers.funnel_csv_paths(args[1], args[2], args[3])))

    def timed_collect(args, kwargs, out, rec):
        out.collect = tr.wrap(out.collect, "operators.funnel.collect")

    def report_bytes(args, kwargs, out, rec):
        paths = {args[1], out}
        tr.count("report.bytes_written", sum(os.path.getsize(x) for x in paths))

    def counted(key):
        def after(args, kwargs, out, rec):
            tr.count_rows_later(key, out)
        return after

    tracing.patch(tr, cli, "read_funnel_csv", "sources.readers.read_funnel_csv", probed)
    tracing.patch(tr, cli, "entity_funnel_metrics", "operators.funnel.construct", timed_collect)
    tracing.patch(tr, cli, "presentation_table", "report.presentation")
    tracing.patch(tr, cli, "write_funnel_report", "report.write", report_bytes)
    tracing.patch(tr, dedup, "lsh_candidate_pairs", "operators.dedup.candidates",
                counted("operators.dedup.candidate_pairs"))
    tracing.patch(tr, dedup, "jaccard_verify", "operators.dedup.verify",
                counted("operators.dedup.verified_pairs"))
    build = ann_index.ensure_ivf_medoid_index

    def ensure(corpus, out_dir, *a, **kw):
        """Reused when the index's meta file existed and was not rewritten."""
        meta = os.path.join(out_dir, "meta.parquet")
        before = os.stat(meta).st_mtime_ns if os.path.exists(meta) else None
        with tr.span("operators.ann_index.ensure"):
            res = build(corpus, out_dir, *a, **kw)
        after = os.stat(meta).st_mtime_ns if os.path.exists(meta) else None
        tr.count("operators.ann_index.ensure_calls", 1)
        tr.count("operators.ann_index.ensure_reused", int(before is not None and before == after))
        return res

    ann_index.ensure_ivf_medoid_index = ensure


PER_LAYER_TIMES = (
    "sources.readers.read_funnel_csv", "operators.funnel.construct", "operators.funnel.collect",
    "report.presentation", "report.write", "plans.construct", "plans.execute",
    "sources.sinks.write", "sources.sinks.maintain", "sources.sinks.read",
    "operators.dedup", "operators.ann_index.ensure", "operators.ann_index.query",
)
SPARK_KEYS = ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "executor_run_ms", "gc_ms")


def per_layer(tr, by_group, passes, get_spark_s) -> dict[str, float]:
    """Per traced pass: outermost-span time per layer, counters and Spark
    stage metrics; each reported as the median over traced passes."""
    spans = tr.spans
    parent = {s["id"]: s["parent"] for s in spans}

    def ancestors(sid):
        sid = parent[sid]
        while sid is not None:
            yield sid
            sid = parent[sid]

    names = {s["id"]: s["name"] for s in spans}
    traced = [x["pass"] for x in passes if x["traced"]]
    rows = []
    for i, p in enumerate(traced):
        ps = [s for s in spans if s["pass"] == p]
        row: dict[str, float] = {}
        for layer in PER_LAYER_TIMES:
            row[layer + "_s"] = sum(
                s["end"] - s["start"] for s in ps
                if s["name"] == layer and all(names[a] != layer for a in ancestors(s["id"]))
            )
        for k in SPARK_KEYS:
            row["spark." + k] = sum(by_group.get(f"pb{s['id']}", {}).get(k, 0) for s in ps)
        row["plans.construct_jobs"] = sum(
            by_group.get(f"pb{s['id']}", {}).get("jobs", 0) for s in ps
            if s["name"] == "plans.construct" or any(names[a] == "plans.construct" for a in ancestors(s["id"]))
        )
        c = tr.counts[i] if i < len(tr.counts) else {}
        for k in ("sources.readers.paths_probed", "report.bytes_written", "sources.sinks.files_written",
                  "operators.dedup.candidate_pairs"):
            row[k] = c.get(k, 0)
        row["sources.sinks.bytes_written_per_input_byte"] = (
            c.get("sources.sinks.bytes_written", 0) / c["sources.sinks.input_bytes"]
            if c.get("sources.sinks.input_bytes") else 0.0
        )
        row["operators.dedup.verified_frac"] = (
            c.get("operators.dedup.verified_pairs", 0) / c["operators.dedup.candidate_pairs"]
            if c.get("operators.dedup.candidate_pairs") else 0.0
        )
        row["operators.ann_index.reuse_frac"] = (
            c.get("operators.ann_index.ensure_reused", 0) / c["operators.ann_index.ensure_calls"]
            if c.get("operators.ann_index.ensure_calls") else 0.0
        )
        # query time net of the ensure calls nested in the query spans
        row["operators.ann_index.query_s"] -= row["operators.ann_index.ensure_s"]
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["operators.dedup.s"] = out.pop("operators.dedup_s")
    out["session.get_spark_s"] = get_spark_s
    setup_spans = [s for s in spans if s["pass"] == "setup" and s["name"] == "operators.ann_index.ensure"]
    out["operators.ann_index.setup_ensure_s"] = sum(s["end"] - s["start"] for s in setup_spans)
    walls = {x["traced"]: statistics.median(y["wall_s"] for y in passes if y["traced"] == x["traced"])
             for x in passes}
    out["trace.traced_pass_s"] = walls[True]
    out["trace.untraced_pass_s"] = walls[False]
    out["trace.overhead_s"] = walls[True] - walls[False]
    return out


if __name__ == "__main__":
    raise SystemExit(main())
