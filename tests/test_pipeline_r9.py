"""Round-9 batch: planted-fixture behavior tests for the sketch-
percentile twins (oracle parity is covered by driver_sim / CORRECTNESS;
these pin the semantics on inputs where the right answer is computable
by hand)."""

from __future__ import annotations

from datetime import datetime

import pytest

from funnel_report_etl_pipeline__spark.plans.registry import load_all


@pytest.fixture(scope="module")
def specs():
    return load_all()


def _write_sf(spark, tmp_path_factory, name: str, frames: dict):
    d = tmp_path_factory.mktemp(name)
    for t, df in frames.items():
        df.coalesce(1).write.mode("overwrite").parquet(str(d / f"{t}.parquet"))
    return str(d)


def _orders(spark, rows):
    return spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )


def _cust(spark, rows):
    return spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )


def test_equidepth_approx_balanced_buckets(spark, specs, tmp_path_factory):
    d = datetime(2024, 1, 1)
    # prices 1..16: discrete octile boundaries are the values at rank
    # ceil(16q) = 2,4,6,8,10,12,14 — 8 buckets of exactly 2, same tiling
    # as the exact twin on this fixture (interpolated and discrete
    # boundaries bin identically when ranks land between integers)
    orders = _orders(spark, [(i, 1, "O", float(i), d, "P") for i in range(1, 17)])
    sf = _write_sf(spark, tmp_path_factory, "eqda", {"orders": orders})
    out = specs["equidepth_price_histogram_approx"].fn(spark, sf).collect()
    assert [r["bucket"] for r in out] == list(range(8))
    assert all(r["n_orders"] == 2 for r in out)
    assert out[0]["lo"] == 1.0 and out[7]["hi"] == 16.0
    for a, b in zip(out, out[1:]):
        assert a["hi"] < b["lo"]


def test_equidepth_approx_discrete_boundary_is_data_value(spark, specs, tmp_path_factory):
    d = datetime(2024, 1, 1)
    # 5 skewed prices: discrete boundaries are ACTUAL data values, so
    # every bucket's [lo, hi] is a sub-range of observed prices and the
    # whale lands alone in the top bucket
    prices = [10.0, 11.0, 12.0, 13.0, 9000.0]
    orders = _orders(spark, [(i, 1, "O", p, d, "P") for i, p in enumerate(prices, 1)])
    sf = _write_sf(spark, tmp_path_factory, "eqdb", {"orders": orders})
    out = specs["equidepth_price_histogram_approx"].fn(spark, sf).collect()
    assert sum(r["n_orders"] for r in out) == 5
    top = out[-1]
    assert top["lo"] == top["hi"] == 9000.0 and top["n_orders"] == 1


def test_winsorized_approx_clips_the_whale_to_observed_value(
    spark, specs, tmp_path_factory
):
    d = datetime(2024, 1, 1)
    cust = _cust(spark, [(1, "c1", 1, 0.0, "S1")])
    # 19×10 + one 1000: discrete p95 = value at rank ceil(20·0.95) = 19
    # → 10, so the whale clamps all the way to 10 (an OBSERVED price —
    # the exact twin would interpolate 10 + 0.05·19·(1000−10) instead)
    orders = _orders(
        spark,
        [(i, 1, "O", 10.0, d, "P") for i in range(1, 20)]
        + [(20, 1, "O", 1000.0, d, "P")],
    )
    sf = _write_sf(spark, tmp_path_factory, "wina", {"orders": orders, "customer": cust})
    out = specs["winsorized_revenue_mean_approx"].fn(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_orders"] == 20
    assert r["raw_mean"] == pytest.approx(59.5)
    assert r["winsorized_mean"] == pytest.approx(10.0)


def test_approx_twins_match_exact_twins_at_gate_scale(spark, specs):
    """At testdata scale the sketch never compresses, so the approx
    histogram's bucket totals and the approx winsorized mean must sit
    right next to their exact twins (discrete-vs-interpolated boundaries
    move individual boundary ties only)."""
    from .conftest import SF_SMALL

    ex = specs["equidepth_price_histogram"].fn(spark, SF_SMALL).collect()
    ap = specs["equidepth_price_histogram_approx"].fn(spark, SF_SMALL).collect()
    assert [r["bucket"] for r in ap] == [r["bucket"] for r in ex]
    assert sum(r["n_orders"] for r in ap) == sum(r["n_orders"] for r in ex)
    # equi-depth: every approx bucket within 2% of the ideal eighth
    n = sum(r["n_orders"] for r in ap)
    for r in ap:
        assert abs(r["n_orders"] - n / 8) <= max(2, 0.02 * n)

    exw = {r["segment"]: r for r in specs["winsorized_revenue_mean"].fn(spark, SF_SMALL).collect()}
    apw = {r["segment"]: r for r in specs["winsorized_revenue_mean_approx"].fn(spark, SF_SMALL).collect()}
    assert set(exw) == set(apw)
    for seg, r in apw.items():
        assert r["n_orders"] == exw[seg]["n_orders"]
        assert r["raw_mean"] == pytest.approx(exw[seg]["raw_mean"])
        # clamp bounds differ by at most one order's interpolation gap
        assert r["winsorized_mean"] == pytest.approx(
            exw[seg]["winsorized_mean"], rel=0.02
        )


def test_sketch_regime_guard_fails_loud_and_conf_disables(spark):
    """The shared guard must (a) fail the JOB with its explicit message
    when the value count exceeds the sketch accuracy, and (b) become a
    no-op NULL under spark.funnel.sketchExactRegimeGuard=false — the
    conf production / scale probes set to run the *_approx queries in
    their intended approximate regime — with the round-9
    spark.funnelreport.* spelling still honored as a legacy fallback."""
    from funnel_report_etl_pipeline__spark.functions.core import (
        _SKETCH_GUARD_CONF_LEGACY,
        SKETCH_GUARD_CONF,
        sketch_regime_guard,
    )
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.lit(5).alias("__n"))
    guard = sketch_regime_guard(spark, "unit_probe", "__n", 3)
    probe = df.select(F.when(guard.isNull(), F.lit(1)).alias("v"))
    with pytest.raises(Exception, match="unit_probe.*exceeds"):
        probe.collect()
    # accuracy regime holds -> NULL guard, value passes through
    ok = sketch_regime_guard(spark, "unit_probe", "__n", 10)
    assert df.select(F.when(ok.isNull(), F.lit(1)).alias("v")).collect()[0].v == 1
    # conf off -> guard is a plain NULL literal even past the regime
    spark.conf.set(SKETCH_GUARD_CONF, "false")
    try:
        off = sketch_regime_guard(spark, "unit_probe", "__n", 3)
        assert df.select(F.when(off.isNull(), F.lit(1)).alias("v")).collect()[0].v == 1
    finally:
        spark.conf.unset(SKETCH_GUARD_CONF)
    # legacy prefix alone still disables the guard (back-compat read)
    spark.conf.set(_SKETCH_GUARD_CONF_LEGACY, "false")
    try:
        off = sketch_regime_guard(spark, "unit_probe", "__n", 3)
        assert df.select(F.when(off.isNull(), F.lit(1)).alias("v")).collect()[0].v == 1
    finally:
        spark.conf.unset(_SKETCH_GUARD_CONF_LEGACY)


def test_session_bounce_approx_matches_exact_at_gate_scale(spark, specs):
    """Sketch never compresses at testdata scale: session counts and
    bounce stats are identical to the exact twin; dwell percentiles are
    discrete (observed durations) vs interpolated — within one
    inter-session gap of each other."""
    from .conftest import SF_SMALL

    ex = {r["day"]: r for r in specs["session_bounce_stats"].fn(spark, SF_SMALL).collect()}
    ap = {r["day"]: r for r in specs["session_bounce_stats_approx"].fn(spark, SF_SMALL).collect()}
    assert set(ex) == set(ap)
    for day, r in ap.items():
        assert r["n_sessions"] == ex[day]["n_sessions"]
        assert r["n_bounce"] == ex[day]["n_bounce"]
        assert r["bounce_rate"] == pytest.approx(ex[day]["bounce_rate"])
        # discrete quantile is an element adjacent to the interpolation
        assert r["p50_duration_s"] == pytest.approx(
            ex[day]["p50_duration_s"], rel=0.25, abs=60.0
        )


def test_release_all_caches_clears_blocks(spark):
    """The shared harness-hygiene helper (ADVICE round-8): one call must
    drop cached/persisted blocks, and it must never raise (failure
    isolation — a broken query's JVM state must not abort the harness run
    holding the collected timings)."""
    from pyspark.sql import functions as F

    from funnel_report_etl_pipeline__spark.session import release_all_caches

    spark.range(100).select(F.col("id")).persist().count()
    spark.range(50).localCheckpoint()
    release_all_caches(spark)
    rdds = spark._jsparkSession.sparkContext().getPersistentRDDs()
    assert rdds.size() == 0
    # idempotent + safe on an already-clean session
    release_all_caches(spark)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_media_dedup_exact_and_perceptual_clusters(spark, specs, tmp_path_factory):
    # docs 1 and 3 share their first 32 chars (exact dups); doc 4 is the
    # byte-identical payload again, so all three share one sha cluster
    # with doc 1 canonical. doc 2 is unique.
    head = "the quick brown fox jumps over x "  # 33 chars -> first 32 equal
    docs = _docs(
        spark,
        [
            (1, head + "alpha tail", "en", "web", 43),
            (2, "a completely different document body", "en", "web", 36),
            (3, head + "beta tail entirely", "en", "web", 51),
            (4, head + "alpha tail", "en", "crawl", 43),
        ],
    )
    sf = _write_sf(spark, tmp_path_factory, "mdedup", {"documents": docs})
    out = {r["doc_id"]: r for r in specs["media_dedup"].fn(spark, sf).collect()}
    assert len(out) == 4
    assert out[1]["sha256"] == out[3]["sha256"] == out[4]["sha256"]
    assert out[2]["sha256"] != out[1]["sha256"]
    assert [out[i]["exact_canon"] for i in (1, 3, 4)] == [1, 1, 1]
    assert [out[i]["is_exact_dup"] for i in (1, 3, 4)] == [0, 1, 1]
    assert out[2]["is_exact_dup"] == 0 and out[2]["exact_canon"] == 2
    # identical payloads share the perceptual bucket too (same stub
    # geometry), so exact dups are always near dups
    assert out[3]["is_near_dup"] == 1 and out[4]["is_near_dup"] == 1
    # the perceptual hash is the documented stub chain: sha256("WxH")[:8]
    import hashlib

    from funnel_report_etl_pipeline__spark.operators.multimodal import (
        decode_stub,
        perceptual_hash_stub,
    )

    payload = (head + "alpha tail")[:32].encode()
    d = decode_stub(payload)
    want = hashlib.sha256(f"{d['width']}x{d['height']}".encode()).hexdigest()[:8]
    assert out[1]["phash"] == want == perceptual_hash_stub(payload)


def test_modality_mixture_token_budget_shares(spark, specs, tmp_path_factory):
    """Shares must sum to 1, counts to the corpus, and each modality's
    token formula must match its documented closed form."""
    import hashlib

    texts = [f"document number {i} with some filler body text" * (i + 1) for i in range(40)]
    docs = _docs(
        spark, [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    )
    sf = _write_sf(spark, tmp_path_factory, "mmix", {"documents": docs})
    out = specs["modality_mixture_stats"].fn(spark, sf).collect()
    assert sum(r["n_assets"] for r in out) == 40
    assert sum(r["byte_share"] for r in out) == pytest.approx(1.0)
    assert sum(r["token_share"] for r in out) == pytest.approx(1.0)
    # independent python recomputation of the mixture
    want = {}
    for i, t in enumerate(texts):
        b = t.encode()
        code = int(hashlib.sha256(b).hexdigest()[4:6], 16) % 10
        mt = "text" if code <= 5 else "image" if code <= 7 else "audio" if code == 8 else "video"
        tok = (
            (len(b) + 3) // 4 if mt == "text"
            else 256 if mt == "image"
            else len(b) // 32 if mt == "audio"
            else 1024
        )
        e = want.setdefault(mt, [0, 0, 0])
        e[0] += 1
        e[1] += len(b)
        e[2] += tok
    got = {r["media_type"]: (r["n_assets"], r["total_bytes"], r["total_tokens"]) for r in out}
    assert got == {k: tuple(v) for k, v in want.items()}


def _ev(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_time_decay_attribution_halving_weights(spark, specs, tmp_path_factory):
    # one purchase (60.0) at 12:00; views 5 min before (steps 0, w=1) and
    # 25 min before (steps 2, w=1/4): sw=1.25 -> credits 48 and 12
    t = datetime(2024, 1, 1, 12, 0, 0)
    ev = _ev(
        spark,
        [
            (1, datetime(2024, 1, 1, 11, 55), 7, "view", 0.0, "{}"),
            (2, datetime(2024, 1, 1, 11, 35), 7, "view", 0.0, "{}"),
            (3, t, 7, "purchase", 60.0, "{}"),
        ],
    )
    sf = _write_sf(spark, tmp_path_factory, "tdecay", {"events": ev})
    out = {r["view_id"]: r for r in specs["time_decay_attribution"].fn(spark, sf).collect()}
    assert set(out) == {1, 2}
    assert out[1]["credit"] == pytest.approx(48.0)
    assert out[2]["credit"] == pytest.approx(12.0)
    assert out[1]["n_purchases"] == out[2]["n_purchases"] == 1


def test_phrase_proximity_orders_by_min_distance(spark, specs, tmp_path_factory):
    docs = _docs(
        spark,
        [
            (1, "vector x stream tail tail", "en", "web", 25),
            (2, "vector stream tail", "en", "web", 18),
            (3, "vector only here", "en", "web", 16),
            (4, "stream a a vector", "en", "web", 17),
        ],
    )
    sf = _write_sf(spark, tmp_path_factory, "prox", {"documents": docs})
    out = specs["phrase_proximity_search"].fn(spark, sf).collect()
    assert [(r["doc_id"], r["proximity"], r["rnk"]) for r in out] == [
        (2, 1, 1),
        (1, 2, 2),
        (4, 3, 3),
    ]


def test_quality_canonical_beats_minid_canonical(spark, specs, tmp_path_factory):
    # doc 2 = doc 1's text plus appended stopwords: 3-gram Jaccard stays
    # >= 0.8 (near-dup cluster) but the stopword rate pushes doc 2's
    # quality logit above doc 1's, so the QUALITY canonical is doc 2
    # while the min-id canonical remains doc 1.
    base = " ".join(f"w{i}" for i in range(40))
    richer = base + " the a and of to in"
    docs = _docs(
        spark,
        [
            (1, base, "en", "web", len(base)),
            (2, richer, "en", "web", len(richer)),
            (3, "totally unrelated content block here", "en", "web", 36),
        ],
    )
    sf = _write_sf(spark, tmp_path_factory, "qcanon", {"documents": docs})
    out = {r["doc_id"]: r for r in specs["dedup_cluster_quality_canon"].fn(spark, sf).collect()}
    assert out[1]["component"] == out[2]["component"]
    assert out[1]["cluster_size"] == out[2]["cluster_size"] == 2
    assert out[1]["is_minid_canonical"] == 1 and out[2]["is_minid_canonical"] == 0
    assert out[2]["is_quality_canonical"] == 1 and out[1]["is_quality_canonical"] == 0
    assert out[2]["quality_logit"] > out[1]["quality_logit"]
    assert out[3]["cluster_size"] == 1 and out[3]["is_quality_canonical"] == 1


def test_stratified_fixed_n_is_exact_and_deterministic(spark, specs, tmp_path_factory):
    """Exactly min(n, stratum size) rows per source, identical across
    repeated runs (content-addressed pick, no RNG)."""
    docs = _docs(
        spark,
        [(i, f"doc body {i}", "en", f"s{i % 3}", 10) for i in range(40)]
        + [(100, "lone doc", "en", "rare", 8)],
    )
    sf = _write_sf(spark, tmp_path_factory, "strat", {"documents": docs})
    a = specs["stratified_fixed_n_sample"].fn(spark, sf).collect()
    b = specs["stratified_fixed_n_sample"].fn(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    from collections import Counter

    per = Counter(r["source"] for r in a)
    # 3 sources with 14/13/13 docs -> exactly 10 each; 'rare' has 1 -> 1
    assert per == {"s0": 10, "s1": 10, "s2": 10, "rare": 1}
    assert all(r["rk"] <= 10 for r in a)
