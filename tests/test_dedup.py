"""Property tests for the dedup family on planted fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.operators.dedup import (
    connected_components,
    dedup_assign_clusters,
    exact_dedup,
    gram_rows,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash,
    simhash_candidate_pairs,
    word_ngrams,
)

BASE = "the quick brown fox jumps over the lazy dog again and again until dawn"


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("dawn", "dusk")  # one-token edit → high Jaccard
    rows = [
        (1, BASE, "a"),
        (2, BASE, "a"),  # exact dup of 1
        (3, near, "a"),  # near dup of 1
        (4, "completely different text about spark catalyst optimizer plans", "b"),
        (5, "short", "b"),  # < 3 tokens → no shingles
    ]
    return spark.createDataFrame(rows, "doc_id int, text string, source string")


def test_exact_dedup_keeps_lowest_id(docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5]  # doc 2 (dup of 1) dropped


def test_exact_dedup_idempotent(docs):
    once = exact_dedup(docs)
    twice = exact_dedup(once)
    assert sorted(r.doc_id for r in twice.collect()) == sorted(
        r.doc_id for r in once.collect()
    )


def test_gram_rows_match_word_ngrams(docs):
    """Row-based grams (hot path) ≡ array-based word_ngrams (HOF path)."""
    by_rows = {
        (r.id, r.gram) for r in gram_rows(docs, "doc_id", "text", 3).collect()
    }
    arr = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(word_ngrams(F.split("text", " "), 3)).alias("gram"),
    )
    assert by_rows == {(r.id, r.gram) for r in arr.collect()}


def test_short_doc_has_no_shingles(docs):
    ids = {r.id for r in gram_rows(docs, "doc_id", "text", 3).select("id").distinct().collect()}
    assert 5 not in ids


def test_minhash_identical_docs_identical_sigs(docs):
    grams = gram_rows(docs, "doc_id", "text", 3)
    sigs = {r.id: tuple(r.sig) for r in minhash_signatures(grams).collect()}
    assert sigs[1] == sigs[2]
    assert len(sigs[1]) == 32
    # near-dup shares most minhashes, disjoint docs share almost none
    overlap_near = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    overlap_far = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert overlap_near > overlap_far


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert all(4 not in p and 5 not in p for p in pairs)


def test_lsh_candidates_exclude_self_and_mirror(docs):
    grams = gram_rows(docs, "doc_id", "text", 3)
    cands = lsh_candidate_pairs(minhash_signatures(grams)).collect()
    for r in cands:
        assert r.id_a < r.id_b


def test_minhash_rejects_inconsistent_banding(docs):
    with pytest.raises(ValueError, match="bands"):
        minhash_dedup_pairs(docs, num_perm=16)  # default 8×4 > 16


def test_simhash_hamming_zero_for_exact_dup(docs):
    fps = {r.id: r.simhash for r in simhash(docs).collect()}
    assert fps[1] == fps[2]
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_candidate_pairs(
        simhash(docs), max_hamming=3
    ).collect()}
    assert pairs.get((1, 2)) == 0


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3-4 (diameter 3 — needs >1 propagation round), pair (10,11),
    # and 20 never appears → not labeled. Both the driver union-find fast
    # path (default threshold) and the distributed loop (threshold=0) must
    # produce identical labels.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    fast = {r.id: r.comp for r in connected_components(pairs).collect()}
    dist = {
        r.id: r.comp
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert fast == expected and dist == expected


def test_dedup_assign_clusters_singletons_are_canonical(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in dedup_assign_clusters(docs, pairs).collect()}
    assert [rows[i].component for i in range(1, 6)] == [1, 2, 1, 4, 1]
    assert [rows[i].is_canonical for i in range(1, 6)] == [True, True, False, True, False]


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_connected_components_long_chain_converges(spark):
    # 60-node chain (diameter 59): plain min-propagation would need 59
    # rounds and trip max_iter=25; the pointer-doubling shortcut closes it
    # in O(log n) rounds (round-5 verdict hardening item).
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 60)], "id_a long, id_b long"
    )
    labels = {
        r.id: r.comp
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert labels == {i: 1 for i in range(1, 61)}


def test_connected_components_raises_on_non_convergence(spark):
    # a 6-node chain has diameter 5; max_iter=2 cannot reach the fixpoint.
    # driver_threshold=0 forces the distributed loop (union-find has no
    # iteration limit to hit).
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2, driver_threshold=0)


def test_minhash_query_leaves_cache_manager_empty(spark):
    """The registry's MinHash query materializes its grams with a
    localCheckpoint inside its own lineage: nothing lands in the session's
    CacheManager, so no later query's plan can pick up its subtree."""
    from funnel_report_etl_pipeline__spark.plans.registry import load_all

    from .conftest import SF_SMALL

    spark.catalog.clearCache()
    load_all()["dedup_minhash_lsh"].fn(spark, SF_SMALL).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _holds_frame(value) -> bool:
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        return True
    if isinstance(value, dict):
        value = [*value.keys(), *value.values()]
    if isinstance(value, (list, tuple)):
        return any(_holds_frame(v) for v in value)
    return False


def test_operators_hold_no_module_level_frames(spark):
    """No operator module keeps a DataFrame at module level, directly or in
    a list, tuple or dict — checked after the MinHash query ran, so a slot
    an operator fills as a side effect would be populated here."""
    import importlib
    import pkgutil

    from funnel_report_etl_pipeline__spark import operators
    from funnel_report_etl_pipeline__spark.plans.registry import load_all

    from .conftest import SF_SMALL

    load_all()["dedup_minhash_lsh"].fn(spark, SF_SMALL).collect()
    mods = [operators] + [
        importlib.import_module(info.name)
        for info in pkgutil.walk_packages(operators.__path__, operators.__name__ + ".")
    ]
    held = [
        f"{m.__name__}.{k}"
        for m in mods
        for k, v in vars(m).items()
        if not k.startswith("__") and _holds_frame(v)
    ]
    assert not held, held


def test_gram_freq_cap_bounds_viral_passage(spark):
    """A boilerplate passage shared by many docs must not reach the verify
    join's gram groups when the cap is on — and with the cap above the
    corpus's max doc-frequency, results are identical to uncapped."""
    from funnel_report_etl_pipeline__spark.operators.dedup import (
        drop_frequent_grams,
    )

    viral = "subscribe to our newsletter for more great content every day"
    rows = [(i, f"{viral} unique tail token{i} marker{i} end{i}", "s") for i in range(40)]
    rows += [(100, "an entirely unrelated document about query planning", "s")]
    docs = spark.createDataFrame(rows, "doc_id int, text string, source string")
    grams = gram_rows(docs, "doc_id", "text", 3)

    capped = drop_frequent_grams(grams, max_doc_freq=10)
    # every viral gram (doc-freq 40) is gone; per-gram group sizes bounded
    freqs = (
        capped.groupBy("gram").count().agg(F.max("count").alias("m")).collect()[0].m
    )
    assert freqs is not None and freqs <= 10
    # the viral docs share ONLY the boilerplate → no verified pairs survive
    # the cap (their per-doc unique tails don't overlap)
    pairs = minhash_dedup_pairs(docs, threshold=0.8, max_gram_freq=10).collect()
    assert pairs == []


def test_gram_freq_cap_noop_when_above_corpus_max(docs):
    """Cap above the max doc-frequency ⇒ bit-identical pairs to uncapped."""
    uncapped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(docs, threshold=0.5, max_gram_freq=None).collect()
    }
    capped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(docs, threshold=0.5, max_gram_freq=1000).collect()
    }
    assert uncapped == capped


def test_fast_hash_family_same_verified_pairs(spark):
    """All three hash families (md5 two-parse, md5w single-parse, xxhash64
    engine-native) run the identical pipeline; the exact-Jaccard verify
    step makes precision 1.0 for each, and on the test corpus their
    candidate recall coincides, so the final (id_a, id_b, jaccard) sets
    must be identical."""
    from funnel_report_etl_pipeline__spark.sources.readers import catalog_table

    docs = catalog_table(spark, "/root/testdata/sf0.001", "documents")
    by_family = {
        fam: {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_dedup_pairs(docs, threshold=0.8, hash_family=fam).collect()
        }
        for fam in ("md5", "md5w", "xxhash64")
    }
    assert by_family["md5"] == by_family["md5w"] == by_family["xxhash64"]
    assert len(by_family["md5"]) > 0


def test_decontaminate_flags_planted_overlap(spark):
    """A training doc that quotes a benchmark passage is flagged; an
    unrelated doc is not; counts equal the number of shared 5-grams."""
    from funnel_report_etl_pipeline__spark.operators.dedup import ngram_decontaminate

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    train = spark.createDataFrame(
        [
            # quotes a 6-token benchmark span → two overlapping 5-grams
            (1, "intro text the quick brown fox jumps over and more"),
            (2, "completely unrelated content about spark query planning"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in ngram_decontaminate(train, bench).collect()}
    assert out[1].contaminated and out[1].n_contaminated_grams == 2
    assert not out[2].contaminated and out[2].n_contaminated_grams == 0


def test_repetition_stats_detects_loops(spark):
    """A degenerate repeated-token doc fails the gates; varied text passes;
    a one-token doc (no 2-grams) defaults to 0.0 fractions and keeps."""
    from funnel_report_etl_pipeline__spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, " ".join(["spam"] * 30)),
            (2, "a varied sentence with no repeated phrases at all here"),
            (3, "single"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert out[1].top_2gram_frac == 1.0 and out[1].dup_3gram_frac == 1.0
    assert not out[1].rep_keep
    assert out[2].rep_keep and out[2].dup_3gram_frac == 0.0
    assert out[3].top_2gram_frac == 0.0 and out[3].rep_keep


# --- ExactSubstr span removal ------------------------------------------------


def test_dup_span_removal_planted(spark):
    """The canonical doc is byte-identical; a verbatim copy loses all its
    tokens; a copy SHIFTED by a prefix loses exactly the copied span
    (alignment-independence — the property chunk dedup lacks); a unique
    doc is untouched."""
    from funnel_report_etl_pipeline__spark.operators.dedup import dup_span_dedup

    words = [f"w{i}" for i in range(20)]
    a = " ".join(words)                                 # canonical
    b = a                                               # verbatim copy
    c = "x1 x2 x3 " + " ".join(words[:12])              # shifted 12-token copy
    d = " ".join(f"z{i}" for i in range(20))            # unique
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dup_span_dedup(docs).collect()}
    assert out[1].text_clean == a and out[1].n_kept == 20
    assert out[2].n_kept == 0 and out[2].text_clean == ""
    # doc 3: the 12 copied tokens die (all inside flagged 8-gram windows
    # starting at positions 4..8), the 3-token novel prefix survives
    assert out[3].text_clean == "x1 x2 x3"
    assert out[3].n_kept == 3
    assert out[4].text_clean == d and out[4].n_kept == 20


def test_dup_span_removal_null_and_empty_text_defined(spark):
    """NULL / empty text is a defined no-op (n_tokens = 0, n_kept = 0,
    text_clean = '') — the round-6 left-join rewrite had silently emitted
    n_tokens = -1 for nulls where the original posexplode path dropped
    the row (ADVICE r6)."""
    from funnel_report_etl_pipeline__spark.operators.dedup import dup_span_dedup

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words), (2, None), (3, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dup_span_dedup(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].text_clean == words and out[1].n_tokens == 10
    for i in (2, 3):
        assert out[i].n_tokens == 0
        assert out[i].n_kept == 0
        assert out[i].text_clean == ""


def test_dup_span_removal_short_docs_untouched(spark):
    from funnel_report_etl_pipeline__spark.operators.dedup import dup_span_dedup

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dup_span_dedup(docs).collect()}
    # < 8 tokens -> no spans exist, both stay whole (whole-doc dedup is
    # exact_dedup's job)
    assert out[1].text_clean == "a b c" and out[2].text_clean == "a b c"


def test_dup_span_removal_conserves_on_testdata(spark):
    from funnel_report_etl_pipeline__spark.operators.dedup import dup_span_dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = dup_span_dedup(docs).collect()
    assert len(out) == 500
    for r in out:
        assert 0 <= r.n_kept <= r.n_tokens
        if r.n_kept == r.n_tokens:
            continue
        # removed docs must have lost whole flagged spans, not stray tokens
        assert r.n_tokens - r.n_kept >= 8


def test_dup_span_removal_matches_python_reference(spark):
    """Differential test on duplication-rich random corpora: the
    distributed gram-min + coverage-window formulation must agree with a
    naive quadratic Python reference on every row."""
    import random

    from funnel_report_etl_pipeline__spark.operators.dedup import dup_span_dedup

    K = 8

    def py_reference(rows):
        first: dict[str, int] = {}
        for i, t in rows:
            toks = t.split(" ")
            for s in range(len(toks) - K + 1):
                g = " ".join(toks[s : s + K])
                first[g] = min(first.get(g, i), i)
        out = {}
        for i, t in rows:
            toks = t.split(" ")
            covered = [False] * len(toks)
            for s in range(len(toks) - K + 1):
                if first[" ".join(toks[s : s + K])] < i:
                    for j in range(s, s + K):
                        covered[j] = True
            kept = [tok for tok, c in zip(toks, covered) if not c]
            out[i] = (len(toks), len(kept), " ".join(kept))
        return out

    for seed in (3, 17, 99):
        rng = random.Random(seed)
        vocab = [f"v{i}" for i in range(6)]  # tiny vocab -> frequent collisions
        rows = []
        for i in range(1, 9):
            if rows and rng.random() < 0.4:
                # splice: novel prefix + copy of an earlier doc's tail
                src = rng.choice(rows)[1].split(" ")
                cut = rng.randrange(0, max(len(src) - K, 1))
                body = [rng.choice(vocab) for _ in range(rng.randint(0, 5))] + src[cut:]
            else:
                body = [rng.choice(vocab) for _ in range(rng.randint(5, 30))]
            rows.append((i, " ".join(body)))
        expect = py_reference(rows)
        got = {
            r.doc_id: (r.n_tokens, r.n_kept, r.text_clean)
            for r in dup_span_dedup(
                spark.createDataFrame(rows, "doc_id long, text string")
            ).collect()
        }
        assert got == expect, f"seed {seed}: mismatch"
