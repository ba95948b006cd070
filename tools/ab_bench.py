"""Pinned-commit A/B bench: HEAD vs an exact historical tree, same JVM.

The repeatable form of the protocol PLANS.md has run ad hoc since round 6:
when the external driver's BENCH_r{N} shows a per-query delta past the
host-variance band, the only admissible evidence for "code" vs "weather"
is running BOTH trees in the SAME Spark session, warm, with the tree
order swapped to control JVM-warm-order bias.

Usage::

    python tools/ab_bench.py PINNED_COMMIT query [query ...] \
        [--runs 7] [--sf /root/testdata/sf0.1]

Protocol (matches the round-7/8/9 recorded runs):

* ``git worktree add`` the pinned commit under /tmp (reused if present).
* ONE SparkSession for the whole run (JVM/codegen warm across phases).
* Phase order ``[HEAD, PIN, PIN, HEAD]`` — each tree runs both first and
  last, so a pure warm-order effect shows up as phase-0 vs phase-3 drift
  within the SAME tree, while a real tree effect shows up in BOTH
  adjacent pairs (0 vs 1, and 2 vs 3).
* Per query per phase: one untimed warm-up, then ``--runs`` timed
  ``collect()``s; report median and min.
* ``release_all_caches``-equivalent hygiene between queries: every
  cached and checkpointed block of the session is dropped.

Tree switching is done in-process: purge every
``funnel_report_etl_pipeline__spark*`` module from ``sys.modules`` and
re-import the registry with the target tree first on ``sys.path``. The
SparkSession (JVM) survives the swap; only Python-side plan builders
change. Timing runs must own the machine — do not run pytest or another
JVM alongside.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def activate_tree(root: str):
    """Make ``root`` the source of the funnel package; return its registry."""
    for name in [m for m in sys.modules if m.startswith("funnel_report_etl_pipeline__spark")]:
        del sys.modules[name]
    sys.path[:] = [p for p in sys.path if p not in (REPO,) and "ab_tree_" not in p]
    sys.path.insert(0, root)
    from funnel_report_etl_pipeline__spark.plans.registry import load_all

    return load_all()


def release(spark) -> None:
    """Cross-tree cache hygiene: blanket unpersist of the session's
    cached and checkpointed blocks."""
    try:
        spark.catalog.clearCache()
        it = spark._jsparkSession.sparkContext().getPersistentRDDs().valuesIterator()
        while it.hasNext():
            it.next().unpersist(False)
    except Exception as exc:  # noqa: BLE001
        print(f"release: {type(exc).__name__}: {exc}", file=sys.stderr)


def main() -> int:
    argv = list(sys.argv[1:])
    runs = 7
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        del argv[i : i + 2]
    if len(argv) < 2:
        print(__doc__)
        return 2
    pin, names = argv[0], argv[1:]

    pin_sha = subprocess.run(
        ["git", "rev-parse", "--short", pin], capture_output=True, text=True, check=True, cwd=REPO
    ).stdout.strip()
    head_sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True, check=True, cwd=REPO
    ).stdout.strip()
    tree_dir = f"/tmp/ab_tree_{pin_sha}"
    if not os.path.isdir(tree_dir):
        subprocess.run(["git", "worktree", "add", "--detach", tree_dir, pin_sha], check=True, cwd=REPO)

    # Session comes from HEAD's factory (configs are identical across the
    # trees under comparison — assert that if it ever matters).
    sys.path.insert(0, REPO)
    from funnel_report_etl_pipeline__spark.session import get_spark

    spark = get_spark(app_name=f"ab_{head_sha}_vs_{pin_sha}")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    phases = [("HEAD", REPO), (pin_sha, tree_dir), (pin_sha, tree_dir), ("HEAD", REPO)]
    results: list[dict] = []
    for pi, (label, root) in enumerate(phases):
        specs = activate_tree(root)
        missing = [n for n in names if n not in specs]
        if missing:
            print(f"phase {pi} [{label}]: queries missing in tree: {missing}", file=sys.stderr)
        row = {"phase": pi, "tree": label}
        for name in names:
            if name not in specs:
                row[name] = None
                continue
            fn = specs[name].fn
            fn(spark, sf_dir).collect()  # untimed warm-up
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                samples.append(time.perf_counter() - t0)
            row[name] = (round(statistics.median(samples), 3), round(min(samples), 3))
            release(spark)
        results.append(row)
        print(f"phase {pi} [{label}]: " + ", ".join(
            f"{n}={row[n][0]}/{row[n][1]}" if row.get(n) else f"{n}=?" for n in names
        ), flush=True)

    print(f"\nA/B {head_sha} (HEAD) vs {pin_sha}, {runs}x warm, sf_dir={sf_dir}")
    print("| phase | tree | " + " | ".join(names) + " |")
    print("|---|---|" + "---|" * len(names))
    for row in results:
        cells = [f"{row[n][0]} / {row[n][1]}" if row.get(n) else "—" for n in names]
        print(f"| {row['phase']} | {row['tree']} | " + " | ".join(cells) + " |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
