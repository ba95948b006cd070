"""Benchmark entry point.

    python3 perfbench/run.py --workload funnel_report --seed 1 --seconds 15 --trace 0

Runs one workload in a fresh worker process whose program state lives in
a new, empty directory under ``.perfbench_runs/`` (removed afterwards),
prints every metric with its unit to stderr, and prints the result as one
JSON object on the last line of stdout. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "funnel_report_etl_pipeline__spark"
WORKLOADS = ("funnel_report", "corpus_versioned", "analytics_scan")
RUN_TIMEOUT_S = 170
# The program's default on-disk state; a run must leave it untouched.
DEFAULT_STATE = ("/tmp/spark_graft_ann", "/tmp/spark_graft_refresh", "/tmp/spark_graft_versioned")

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "cpu_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ops_ok_frac": "ratio", "peak_rss_mb": "MiB",
}


def per_layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_frac") or name.endswith("_per_input_byte"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def state_snapshot() -> dict[str, tuple[int, int]]:
    """mtime and size of everything under the default state directories."""
    snap = {}
    for top in DEFAULT_STATE:
        for root, dirs, files in os.walk(top):
            for name in dirs + files:
                path = os.path.join(root, name)
                try:
                    st = os.lstat(path)
                except FileNotFoundError:
                    continue
                snap[path] = (st.st_mtime_ns, st.st_size)
        if os.path.exists(top):
            snap[top] = (os.lstat(top).st_mtime_ns, 0)
    return snap


def cpu_stat() -> dict[int, list[int]]:
    """Per-CPU jiffies from /proc/stat: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    out = {}
    with open("/proc/stat") as fh:
        for line in fh:
            name, *vals = line.split()
            if name.startswith("cpu") and name != "cpu":
                out[int(name[3:])] = [int(x) for x in vals[:8]]
    return out


def pick_cpu(mine: set[int]) -> int:
    """The CPU of ``mine`` that was least busy over a short sample; a tie
    goes to the higher number (CPU 0 takes most interrupts)."""
    def busy(stat, c):  # everything but idle and iowait
        return sum(stat[c]) - stat[c][3] - stat[c][4]

    a = cpu_stat()
    time.sleep(0.2)
    b = cpu_stat()
    return min(mine, key=lambda c: (busy(b, c) - busy(a, c), -c))


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM), reap the
    worker and wait until no member of the group is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def worker_env(run_dir: str, trace: bool) -> dict[str, str]:
    state = {k: os.path.join(run_dir, k.lower()) for k in
             ("SPARK_GRAFT_INDEX_DIR", "SPARK_GRAFT_REFRESH_DIR", "SPARK_GRAFT_VERSIONED_DIR",
              "SPARK_LOCAL_DIRS", "TMPDIR")}
    for d in state.values():
        os.makedirs(d)
    # C1 only: under the default tiered C2 the JVM's CPU per pass was still
    # falling after three passes (README, "Noise sources"); C1 finishes
    # compiling during pass 0. C1 alone reserves only 48 MiB of code cache,
    # which Spark's generated classes fill within a minute; flushing then
    # slowed each later pass by up to 70%, so the cache gets the tiered
    # default of 240 MiB. The serial collector is what the JVM picks
    # on one CPU anyway; naming it, and starting the heap at its 1 GiB
    # maximum, keeps the collector and heap sizing the same in every run.
    # No perf data file in /tmp either.
    java_opts = (f"-Djava.io.tmpdir={state['TMPDIR']} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                 " -XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC -Xms1g")
    submit = [f'--driver-java-options "{java_opts}"']
    env = dict(os.environ, **state)
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false", "--conf spark.eventLog.rolling.enabled=false",
        ]
        env["PERFBENCH_EVENT_LOG"] = log_dir
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    # the JVM that spark-submit starts to build the driver's command line
    env["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={state['TMPDIR']} -XX:-UsePerfData"
    # the run is pinned to one CPU (main): one task slot
    env["SPARK_GRAFT_CPUS"] = "1"
    env["TZ"] = "UTC"
    env["PYTHONHASHSEED"] = "0"
    return env


def main(argv=None) -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(runs, f"run-{os.getpid()}-{int(t0 * 1000)}")
    os.makedirs(run_dir)
    # SIGTERM unwinds through the finally blocks: worker, JVM and run
    # directory go with this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # One CPU for the worker, the JVM and this process: every hand-off
    # between threads stays on a running CPU, and the steal that /proc/stat
    # counts for that CPU is the time the hypervisor took from the run
    # (README, "Noise sources").
    cpu = pick_cpu(os.sched_getaffinity(0))
    os.sched_setaffinity(0, {cpu})
    before = state_snapshot()
    out_path = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--t0", repr(t0), "--cpu", str(cpu), "--run-dir", run_dir, "--out", out_path]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    result = None
    try:
        proc = subprocess.Popen(cmd, env=worker_env(run_dir, bool(args.trace)), cwd=run_dir,
                                stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, RUN_TIMEOUT_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc)
        if rc == 0 and os.path.exists(out_path):
            with open(out_path) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    state_changed = state_snapshot() != before
    if result is None:
        print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}", file=sys.stderr)
        return 1

    ctx = result["context"]
    if args.trace:
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in sorted(result["per_layer"].items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in result["end_to_end"].items()}
    for k, m in metrics.items():
        print(f"  {k:48s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(
        f"  {args.workload} seed={args.seed}: {ctx['timed_passes']} timed passes, "
        f"{ctx['op_samples']} op samples (tail = p{ctx['op_tail_percentile']:.1f}), "
        f"{ctx['disturbed_passes']} disturbed (steal share > {ctx['steal_ceiling']}; "
        f"all used, net of steal), "
        f"unscaled passes (net wall s, steal s, cpu s) "
        f"{[(round(x['wall_s'], 2), round(x['steal_s'], 2), round(x['cpu_s'], 2)) for x in ctx['passes']]}, "
        f"loadavg {ctx['loadavg_start'][0]:.2f}->{ctx['loadavg_end'][0]:.2f}, "
        f"cpu probe {ctx['cpu_probe_s'] * 1000:.2f} ms (times scaled by {ctx['scale']:.3f}; unscaled "
        f"{ {k: round(v, 3) for k, v in ctx['unscaled'].items()} }), nproc {ctx['nproc']}, "
        f"pinned to CPU {ctx['cpu']}, driver heap {ctx['driver_heap_mb']:.0f} MiB, set-up phases ended at "
        f"{ {k: round(v, 1) for k, v in ctx['setup_phases_at_s'].items()} } s",
        file=sys.stderr,
    )
    by_op: dict[str, list[tuple[float, float]]] = {}
    for r in result["records"]:
        by_op.setdefault(r["op"], []).append((r["wall_s"], r["cpu_s"]))
    print("  unscaled per-op median (wall s, cpu s): " + ", ".join(
        f"{k} ({statistics.median(w for w, _ in v):.3f}, {statistics.median(c for _, c in v):.2f})"
        for k, v in by_op.items()), file=sys.stderr)
    for name, err in ctx["op_errors"].items():
        print(f"  FAILED {name}: {err}", file=sys.stderr)
    if state_changed:
        print("perfbench: the default /tmp/spark_graft_* state changed during the run", file=sys.stderr)
    correct = result["failed"] == 0 and not state_changed
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 1 if state_changed else 0


if __name__ == "__main__":
    sys.exit(main())
