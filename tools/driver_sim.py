"""Strict simulation of the external correctness driver — the repo's one
registry-vs-DuckDB parity gate.

It loads ``__spark_entry__.py`` via importlib with a PLAIN SparkSession —
exactly what the external gate does, not the package's own
``session.get_spark`` — runs ``entry(spark)`` plus every ``queries()``
entry at the given SF dir (default sf0.01), and compares each result to its
``oracle_sql()`` SQL run in DuckDB with RAW value equality (no
stringification, so date-vs-timestamp mismatches show; rows sorted by all
columns, columns sorted by name). Exits nonzero on any mismatch.

Usage: python tools/driver_sim.py [--json OUT.json] [--changed-since REV]
       [--parallel N] [sf_dir] [query ...]

``--changed-since REV`` selects the affected query subset from ``git diff
REV``: a query runs iff its plan module changed, or a changed package
module's name appears in its plan module's source (a deliberate SUPERSET —
textual reference tracing over-selects rather than misses), or the entry
module itself changed (then everything runs). ``--parallel N`` shards the
sweep over N child processes (one JVM each, cpu/N cores per child) and
merges their JSON — the 210-query full gate drops from ~25 min serial to
a few minutes wall; a 5-query change still gates serially in under a
minute.
"""

from __future__ import annotations

import importlib.util
import os
import sys

sys.path.insert(0, os.getcwd())

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def load_entry():
    spec = importlib.util.spec_from_file_location("__spark_entry__", "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def driver_canon(df: pd.DataFrame) -> pd.DataFrame:
    """Replicate the EXTERNAL driver's pandas canonicalization exactly:
    columns sorted by name, then ``sort_values`` over all columns on the
    RAW frame — no cell coercion. pandas' lexsort factorizes object
    columns, so a list/dict/ndarray cell raises ``TypeError: unhashable
    type`` here exactly as it does in the driver (the round-3
    ``multimodal_features`` failure mode driver_sim previously masked by
    tuple-mapping cells before sorting)."""
    df = df[sorted(df.columns)].copy()
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _hashable(v):
    # list/ndarray cells (array columns) are unsortable/uncomparable as-is
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_hashable(x) for x in v)
    return v


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_hashable)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def cell_equal(a, b) -> bool:
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    a, b = _hashable(a), _hashable(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(cell_equal(x, y) for x, y in zip(a, b))
    return a == b


def changed_query_names(rev: str, qs: dict) -> set[str] | None:
    """Names affected by ``git diff rev``; None means "run everything"
    (entry module or registry-wide change). Superset semantics: a changed
    non-plans module selects every query whose plan module's source
    mentions the changed module's basename."""
    import re
    import subprocess

    changed = set(
        subprocess.run(
            ["git", "diff", "--name-only", rev, "--",
             "funnel_report_etl_pipeline__spark", "__spark_entry__.py"],
            capture_output=True, text=True, check=True,
        ).stdout.split()
    )
    if "__spark_entry__.py" in changed:
        return None
    sel: set[str] = set()
    src_cache: dict[str, str] = {}
    bases = {
        os.path.splitext(os.path.basename(c))[0]
        for c in changed
        if os.path.basename(c) != "__init__.py"
    }
    for name, fn in qs.items():
        m = sys.modules.get(fn.__module__)
        if m is None or not getattr(m, "__file__", None):
            sel.add(name)  # can't trace — run it
            continue
        rel = os.path.relpath(m.__file__, os.getcwd())
        if rel in changed:
            sel.add(name)
            continue
        src = src_cache.setdefault(rel, open(m.__file__).read())
        if any(re.search(rf"\b{re.escape(b)}\b", src) for b in bases):
            sel.add(name)
    return sel


def parallel_main(
    n: int, sf_dir: str, only: set[str], changed_rev: str | None, json_path: str | None
) -> int:
    """Shard the sweep over ``n`` child driver_sim processes (one JVM
    each) and merge their --json outputs. Round-robin sharding over the
    sorted name list balances the heavy graph/dedup queries across
    workers; each child gets cpu_count/n cores so the shards time-slice
    the machine instead of oversubscribing it 8x. Correctness results
    are unaffected by concurrency (each child owns its session + DuckDB
    connection); do NOT use the per-query timings from a parallel run
    for benchmarking — children contend for cores."""
    import json as _json
    import subprocess
    import tempfile
    import time

    mod = load_entry()
    qs = mod.queries()
    names = set(qs)
    if only:
        names &= only
    if changed_rev is not None:
        sel = changed_query_names(changed_rev, qs)
        if sel is None:
            print(f"--changed-since {changed_rev}: entry-level change, running ALL")
        else:
            names &= sel
            print(f"--changed-since {changed_rev}: {len(names)} affected queries")
            if not names:
                print("no registered query affected by the diff")
                return 0
    ordered = sorted(names)
    shards = [ordered[i::n] for i in range(n)]
    shards = [s for s in shards if s]
    cores = max(2, (os.cpu_count() or 32) // len(shards))
    t0 = time.time()
    procs, outs, errlogs = [], [], []
    for i, shard in enumerate(shards):
        # mkstemp, not the race-prone deprecated mktemp: the path exists
        # (and is ours) before the child is told to write it
        fd, tf = tempfile.mkstemp(suffix=f"_dsim{i}.json")
        os.close(fd)
        outs.append(tf)
        # child stderr goes to a per-shard log, not DEVNULL — when a
        # shard's JSON is missing the JVM/worker crash diagnostic is the
        # only clue why (round-9 advice)
        el = open(tf + ".stderr", "w")
        errlogs.append(el)
        env = dict(os.environ, DRIVER_SIM_CORES=str(cores))
        procs.append(
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--json", tf, sf_dir, *shard],
                stdout=subprocess.PIPE,
                stderr=el,
                text=True,
                env=env,
                cwd=os.getcwd(),
            )
        )
    merged: dict[str, dict] = {}
    broken = False
    for p, tf, el in zip(procs, outs, errlogs):
        out, _ = p.communicate()
        el.close()
        sys.stdout.write(out)
        try:
            with open(tf) as fh:
                merged.update(_json.load(fh)["queries"])
            os.unlink(tf)
            os.unlink(el.name)
        except Exception as e:  # noqa: BLE001 — a dead child is a failed sweep
            broken = True
            print(f"worker shard output {tf} unreadable: {e}", file=sys.stderr)
            try:
                with open(el.name) as fh:
                    stderr_tail = fh.read()[-4000:]
                print(f"--- shard stderr tail ({el.name}) ---\n{stderr_tail}", file=sys.stderr)
            except OSError:
                pass
    failures = sorted(
        k for k, v in merged.items() if v["status"] not in ("pass", "rows_only")
    )
    missing = sorted(names - set(merged))
    if missing:
        broken = True
        print(f"MISSING results for {len(missing)} queries: {missing[:10]}")
    wall = round(time.time() - t0, 1)
    print(
        f"\nparallel sweep: {len(merged)} queries, {len(failures)} failures, "
        f"{len(shards)} workers x local[{cores}], {wall}s wall"
    )
    print(f"{len(failures)} failures: {failures}")
    if json_path:
        summary = {
            "sf_dir": sf_dir,
            "n_queries": len(merged),
            "n_pass": sum(1 for r in merged.values() if r["status"] == "pass"),
            "n_rows_only": sum(1 for r in merged.values() if r["status"] == "rows_only"),
            "n_fail": len(failures),
            "failures": failures,
            "parallel": {"workers": len(shards), "cores_per_worker": cores, "wall_sec": wall},
            "queries": {k: merged[k] for k in sorted(merged)},
        }
        with open(json_path, "w") as fh:
            _json.dump(summary, fh, indent=1, default=str)
        print(f"wrote {json_path}")
    return 1 if (failures or broken) else 0


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: driver_sim.py [--json OUT.json] [--changed-since REV] [--parallel N] [sf_dir] [query ...]", file=sys.stderr)
            return 2
        json_path = argv[i + 1]
        del argv[i : i + 2]
    changed_rev = None
    if "--changed-since" in argv:
        i = argv.index("--changed-since")
        changed_rev = argv[i + 1]
        del argv[i : i + 2]
    n_par = 0
    if "--parallel" in argv:
        i = argv.index("--parallel")
        n_par = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if n_par > 1:
        return parallel_main(n_par, sf_dir, only, changed_rev, json_path)
    cores = os.environ.get("DRIVER_SIM_CORES", "8")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", cores)
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    mod = load_entry()
    edf = mod.entry(spark)
    n = edf.count()
    print(f"entry(): {n} rows, schema={[f.name for f in edf.schema.fields]}")

    qs, oracles = mod.queries(), mod.oracle_sql()
    if changed_rev is not None:
        sel = changed_query_names(changed_rev, qs)
        if sel is None:
            print(f"--changed-since {changed_rev}: entry-level change, running ALL")
        else:
            only = (only & sel) if only else sel
            print(f"--changed-since {changed_rev}: {len(only)} affected queries")
            if not only:
                print("no registered query affected by the diff")
                return 0
    failures = []
    results: dict[str, dict] = {}
    for name in sorted(qs):
        if only and name not in only:
            continue
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "spark_error", "err": f"{type(e).__name__}: {str(e)[:200]}"}
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        # The driver canonicalizes BOTH frames this way before hashing; a
        # crash here is a red scoreboard row even when values are correct.
        try:
            driver_canon(sdf)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "driver_canon_crash", "err": f"{type(e).__name__}: {str(e)[:200]}"}
            print(f"FAIL {name}: driver-canon crash on SPARK frame {type(e).__name__}: {str(e)[:200]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            results[name] = {"status": "rows_only", "spark_rows": len(sdf)}
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, no oracle)")
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "oracle_error", "err": f"{type(e).__name__}: {str(e)[:200]}"}
            print(f"FAIL {name}: oracle error {type(e).__name__}: {str(e)[:300]}")
            continue
        try:
            driver_canon(odf)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "driver_canon_crash", "err": f"{type(e).__name__}: {str(e)[:200]}"}
            print(f"FAIL {name}: driver-canon crash on ORACLE frame {type(e).__name__}: {str(e)[:200]}")
            continue
        if len(sdf) != len(odf) or sorted(sdf.columns) != sorted(odf.columns):
            failures.append(name)
            results[name] = {"status": "shape_mismatch", "spark_rows": len(sdf), "oracle_rows": len(odf)}
            print(
                f"FAIL {name}: shape spark=({len(sdf)},{sorted(sdf.columns)}) "
                f"duckdb=({len(odf)},{sorted(odf.columns)})"
            )
            continue
        s, o = canon(sdf), canon(odf)
        bad = None
        for c in s.columns:
            sc, oc = s[c], o[c]
            for i in range(len(s)):
                if not cell_equal(sc.iloc[i], oc.iloc[i]):
                    bad = (c, i, sc.iloc[i], oc.iloc[i])
                    break
            if bad:
                break
        if bad:
            failures.append(name)
            results[name] = {
                "status": "value_mismatch",
                "err": f"col={bad[0]} row={bad[1]} spark={bad[2]!r} duckdb={bad[3]!r}"[:300],
            }
            print(
                f"FAIL {name}: value col={bad[0]} row={bad[1]} "
                f"spark={bad[2]!r} duckdb={bad[3]!r}"
            )
        else:
            results[name] = {"status": "pass", "rows": len(s)}
            print(f"PASS {name} ({len(s)} rows)")
    print(f"\n{len(failures)} failures: {failures}")
    if json_path:
        import json

        summary = {
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "n_pass": sum(1 for r in results.values() if r["status"] == "pass"),
            "n_rows_only": sum(1 for r in results.values() if r["status"] == "rows_only"),
            "n_fail": len(failures),
            "failures": failures,
            "queries": results,
        }
        with open(json_path, "w") as fh:
            json.dump(summary, fh, indent=1, default=str)
        print(f"wrote {json_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
