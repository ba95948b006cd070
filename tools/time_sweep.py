"""Cold fresh-plan timing sweep over EVERY registered query.

bench.py times the curated headline set; driver_sim times nothing. That
leaves ~120 registered queries whose wall cost is never observed at
sf0.1 — and round 8 showed a query can hide a 20 s pathology there
(bloom's O(m²) mask densification; a 66 s HOF-fold hotspot in the cosine
baseline) while staying green in every correctness gate, because
driver_sim runs at sf0.01 and broadcast-future reuse masks subtree cost
in warm same-plan timings.

Each query runs ONCE on a fresh plan (cold — includes scan/codegen
setup, so treat small numbers as noise and compare the tail). Run with
nothing else on the box; Spark jobs fight for the same 32 cores.

Usage: PYSPARK_SUBMIT_ARGS="--driver-memory 16g pyspark-shell" \
       python tools/time_sweep.py [sf_dir] [--json OUT.json]
Prints the slowest 15; writes the full map with --json.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from funnel_report_etl_pipeline__spark.plans.registry import load_all  # noqa: E402
from funnel_report_etl_pipeline__spark.session import get_spark, release_all_caches  # noqa: E402


def main() -> int:
    out_path = None
    argv = list(sys.argv[1:])
    if "--json" in argv:
        i = argv.index("--json")
        out_path = argv[i + 1]
        del argv[i : i + 2]  # the OUT value must not be read as sf_dir
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    spark = get_spark(app_name="time_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, object] = {}
    for name, spec in load_all().items():
        t0 = time.perf_counter()
        try:
            spec.fn(spark, sf_dir).collect()
            results[name] = round(time.perf_counter() - t0, 2)
        except Exception as exc:  # keep sweeping; report at the end
            results[name] = f"ERR {type(exc).__name__}: {exc}"
        # between-queries hygiene (shared with bench.py): drop persisted
        # and checkpointed blocks, failure-isolated
        release_all_caches(spark)

    errs = {k: v for k, v in results.items() if isinstance(v, str)}
    timed = sorted(
        ((k, v) for k, v in results.items() if not isinstance(v, str)),
        key=lambda kv: -kv[1],
    )
    for k, v in timed[:15]:
        print(f"{v:8.2f}  {k}")
    print(f"total {sum(v for _, v in timed):.1f}s over {len(timed)} queries")
    if errs:
        print("ERRORS:", json.dumps(errs, indent=1))
    if out_path:
        with open(out_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "seconds": results}, f, indent=1)
        print(f"wrote {out_path}")
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
