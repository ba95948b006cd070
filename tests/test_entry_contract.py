"""Driver-contract smoke: __spark_entry__ exactly as the driver consumes it."""

from __future__ import annotations

import importlib.util

from .conftest import REPO


def _load():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", str(REPO / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _load()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.schema.fieldNames()  # stable, non-empty schema


def test_queries_and_oracles_consistent():
    mod = _load()
    qs, os_ = mod.queries(), mod.oracle_sql()
    assert len(qs) >= 30
    assert set(os_) <= set(qs)
    # oracle coverage must stay high: only genuinely non-SQL ops may omit
    assert len(os_) / len(qs) >= 0.85
    for name, fn in qs.items():
        assert callable(fn), name
    for name, sql in os_.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_driver_window_composition_pinned():
    """The external gate verifies queries() in iteration order but caps the
    number of entries it checks (50 in round 2) — so window composition is
    part of the scoreboard contract.  Pin it exactly: a future registration
    must never silently displace a gated query (round-4 review ask)."""
    from funnel_report_etl_pipeline__spark.plans.registry import (
        DRIVER_WINDOW,
        _WINDOW,
        load_all,
    )

    mod = _load()
    window = list(mod.queries())[:DRIVER_WINDOW]
    assert window == list(_WINDOW), "driver window drifted from curated _WINDOW"
    assert len(_WINDOW) == DRIVER_WINDOW == 50
    # round-11/12 tail: the day-one-windowed registrations displaced
    # keepers bpe_token_stats, stratified_fixed_n_sample,
    # modality_mixture_stats, window_dist_funcs,
    # equidepth_price_histogram, asof_join_nearest and (round 12)
    # cumulative_unique_users (each holds committed external rows, so
    # they may sit outside per the standing budget contract below)
    # ... and (round 13) ols_brand_price_quantity +
    # chi_square_flag_status + markov_event_transitions (external rows
    # r09-r12), and (round 14) gini_impurity_segments +
    # priority_change_intervals + assoc_rules_brand + asof_join_forward
    # (external rows r09-r13)
    assert window[-12:] == [
        "late_interaction_maxsim_pruned",
        "rrf_trimodal_fusion",
        "versioned_tombstone_audit",
        "versioned_merge_audit",
        "ann_ivf_incremental",
        "versioned_span_feed",
        "versioned_partition_audit",
        "versioned_timetravel_audit",
        "dedup_minhash_incremental",
        "versioned_update_span_audit",
        "versioned_recommit_cdc_audit",
        "versioned_sql_timetravel",
    ]
    specs = load_all()
    parity = [n for n, s in specs.items() if s.fn.__module__.endswith(".parity")]
    # parity must come first (driver smoke-checks the reference surface first)
    assert window[: len(parity)] == parity
    # every checked row must be value-hash verified: rows-only (no-oracle)
    # variants sit past the window, and each must still be REGISTERED so the
    # driver's weaker rows-only check and pytest cover them
    oracles = mod.oracle_sql()
    assert all(n in oracles for n in window), "no-oracle query inside the window"
    # round-9 rotation: the 22 round-8 close-batch registrations — the
    # only names with zero committed external rows after CORRECTNESS_r08
    # — sit INSIDE the window (the round-8 verdict's top ask), alongside
    # every round-9 registration (windowed from day one).
    rotated_in_r9 = {
        "ols_brand_price_quantity", "chi_square_flag_status",
        "markov_event_transitions", "assoc_rules_brand",
        "priority_change_intervals", "ewma_revenue_anomaly",
        "benchmark_contamination", "community_modularity",
        "event_path_topk", "gini_impurity_segments",
        "session_bounce_stats", "lang_id_confusion", "two_hop_reach",
        "table_profile_orders", "weekday_seasonality",
        "winsorized_revenue_mean", "cumulative_unique_users",
        "asof_join_forward", "asof_join_nearest",
        "equidepth_price_histogram", "window_dist_funcs",
        "grouping_sets_mixed",
    }
    # four r9-rotation keepers earned external rows in r09/r10 and
    # rotated out in round 11 (slots went to late_interaction_maxsim /
    # _pruned / rrf_trimodal_fusion / versioned_tombstone_audit);
    # cumulative_unique_users and two_hop_reach (rows r09-r11) rotated
    # out in round 12 (slots to versioned_merge_audit /
    # ann_ivf_incremental); ols_brand_price_quantity,
    # chi_square_flag_status and markov_event_transitions (rows
    # r09-r12) rotated out in round 13 (slots to versioned_span_feed /
    # versioned_partition_audit / versioned_timetravel_audit); the
    # rest of the r9 rotation still holds its window seats;
    # gini_impurity_segments, priority_change_intervals,
    # assoc_rules_brand and asof_join_forward (rows r09-r13) rotated
    # out in round 14 (slots to dedup_minhash_incremental /
    # versioned_update_span_audit / versioned_recommit_cdc_audit /
    # versioned_sql_timetravel)
    assert (
        rotated_in_r9
        - {"window_dist_funcs", "equidepth_price_histogram",
           "asof_join_nearest", "table_profile_orders",
           "cumulative_unique_users", "two_hop_reach",
           "ols_brand_price_quantity", "chi_square_flag_status",
           "markov_event_transitions",
           "gini_impurity_segments", "priority_change_intervals",
           "assoc_rules_brand", "asof_join_forward"}
    ) <= set(window)
    import json
    from pathlib import Path

    # anchor to the repo root so the check is cwd-independent, and count
    # only git-tracked artifacts so it reflects committed history rather
    # than whatever uncommitted file happens to sit in the worktree
    import subprocess

    repo_root = Path(__file__).resolve().parents[1]
    # r* not r0*: the round-10+ artifacts (CORRECTNESS_r10.json, ...)
    # must keep counting toward the verified set or the contract would
    # silently stop seeing new green rows after round 9
    tracked = set(
        subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=repo_root, capture_output=True, text=True, check=True,
        ).stdout.split()
    )
    verified = set()
    for p in sorted(repo_root.glob("CORRECTNESS_r*.json")):
        if p.name not in tracked:
            continue
        for name, row in json.loads(p.read_text()).items():
            if row.get("hash_match"):
                verified.add(name)
    # Standing registration-budget contract (round-8 verdict ask #5,
    # replacing the by-name exemption sets of rounds 7-8): every
    # registered query that has never held a committed external
    # value-hash row MUST sit inside the window, so it earns its row at
    # the very next close.  This bounds rotation debt at zero names
    # outside the window — a close batch larger than the free slots now
    # fails here at registration time instead of accruing silent debt.
    outside = set(mod.queries()) - set(window)
    assert outside <= verified, sorted(outside - verified)


def test_tool_imports_of_the_package_resolve():
    """Every ``from funnel_report_etl_pipeline__spark… import name`` in
    ``tools/*.py`` names something the package still has, so deleting an
    engine helper cannot silently break a probe. Reads the tools with
    ``ast``; runs none of them and starts no Spark session."""
    import ast
    import importlib

    pkg = "funnel_report_etl_pipeline__spark"
    missing = []
    for path in sorted((REPO / "tools").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.ImportFrom) and (node.module or "").startswith(pkg)):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if not hasattr(mod, alias.name):
                    try:
                        importlib.import_module(f"{node.module}.{alias.name}")
                    except ModuleNotFoundError:
                        missing.append(f"{path.name}:{node.lineno} {node.module}.{alias.name}")
    assert not missing, missing
