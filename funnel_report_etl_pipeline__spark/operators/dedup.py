"""Deduplication operators for large-scale text corpora.

Four families, all built from JVM-side expressions (no Python in the data
path) so they hold at 100 TB:

* **exact** — hash the (optionally normalized) text, keep first doc per
  hash. One shuffle on the hash.
* **MinHash + LSH** — shingle → k seeded min-hashes → band buckets →
  bucket-join for candidates → exact Jaccard verify. Never all-pairs: the
  only join is on (band_idx, band_hash), whose groups are near-duplicate
  clusters, not the corpus cross product.
* **SimHash** — 64-bit token-vote fingerprint, banded into 4×16-bit chunks
  for candidate generation (Hamming ≤ 3 within any chunk-equal pair).
* **n-gram Jaccard** — exact similarity join on shared n-grams; quadratic
  only within a blocking key, used as the verifier and as a small-corpus
  baseline.

Implementation note: shingles/tokens are processed as ROWS
(posexplode → window/groupBy), not per-row arrays with higher-order
functions. Spark's HOFs (transform/aggregate/element_at lambdas) are
CodegenFallback — interpreted row-at-a-time — while explode + grouped
min/sum aggregates stay inside whole-stage codegen with map-side partial
aggregation (measured ~4× faster at sf0.1, and the partial agg means only
(id, k ints) per partition ever reach a shuffle).

The reference has no dedup (it is a funnel ETL); these are the
training-data-pipeline extensions required alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.functions.core import sql_double

__all__ = [
    "normalize_text",
    "word_ngrams",
    "gram_rows",
    "drop_frequent_grams",
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_verify",
    "minhash_dedup_pairs",
    "ngram_decontaminate",
    "simhash",
    "simhash_candidate_pairs",
    "connected_components",
    "dedup_assign_clusters",
    "dup_span_dedup",
]


def normalize_text(col: F.Column) -> F.Column:
    """Lowercase, strip non-alphanumerics, collapse runs of spaces — the
    canonical form for exact near-dup hashing."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def word_ngrams(tokens: F.Column, n: int) -> F.Column:
    """Distinct word n-grams from a token array (per-row HOF form — useful
    for small frames / single-pass contexts; the hot path uses gram_rows).
    Fewer than n tokens → empty array (guarded: sequence(0,-1) would
    produce a DESCENDING sequence, not an empty one)."""
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(tokens) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )


def gram_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, gram) word-n-gram rows per document (distinct per doc by
    default; ``distinct=False`` keeps every occurrence, for frequency-based
    stats like repetition scoring).

    posexplode the token stream, window-lead n−1 successors, concat — every
    operator is codegen'd. The window's shuffle on id is the only exchange,
    and it parallelizes a single-file scan across the cluster for free.

    (Round-15 A/B note: a narrow sequence→transform→array_distinct→explode
    array-expression shape — zero exchanges — was tried and REVERTED:
    higher-order functions are CodegenFallback, and the interpreted
    per-element concat ran 3-4x more CPU than this codegen'd chain
    (dup_ngram_coverage 0.93 s → 3.82 s, benchmark_contamination 1.33 s →
    3.92 s at sf0.1/local[32]) — the same lesson dup_span_dedup's round-6
    A/B recorded. Gram-frame RECOMPUTATION across consumers is handled at
    the consumer (``minhash_dedup_pairs`` localCheckpoints its grams once
    per call), not by making the subtree narrow-but-slow.)

    Like every MinHash-family builder here, the plan is built from SQL
    expression strings: under PySpark 4 each Column-API call costs ~10-13
    py4j round trips, a ``selectExpr`` string about one.
    """
    tok = df.selectExpr(f"{id_col} AS id", f"posexplode(split({text_col}, ' ')) AS (pos, tok)")
    over = "OVER (PARTITION BY id ORDER BY pos)"
    leads = ["tok"] + [f"lead(tok, {j}) {over}" for j in range(1, ngram)]
    out = (
        tok.selectExpr("id", *[f"{c} AS __t{j}" for j, c in enumerate(leads)])
        .filter(f"__t{ngram - 1} IS NOT NULL")
        .selectExpr("id", f"concat_ws(' ', {', '.join(f'__t{j}' for j in range(ngram))}) AS gram")
    )
    return out.distinct() if distinct else out


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalized: bool = False
) -> DataFrame:
    """Keep the lowest-id row per (md5 of text). row_number over the hash
    partition — one shuffle on the 128-bit hash, no skew (hash keys are
    uniform; a pathological mega-duplicate group is bounded by its own
    cluster size, and only (id, hash) pairs shuffle, never the text)."""
    text = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    h = F.md5(text)
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def minhash_signatures(
    grams: DataFrame,
    num_perm: int = 32,
    hash_family: str = "md5",
) -> DataFrame:
    """(id, sig) — sig[i] = min over grams of h1 + i·h2, from a (id, gram)
    row frame: Kirsch–Mitzenmacher double hashing.

    One gram hash, then num_perm multiply-add min-aggregates in one
    grouped pass — map-side partials mean only (id, k longs) per partition
    shuffle.

    ``hash_family``:

    * ``"md5"`` — h1 = 60-bit md5 prefix, h2 = 48-bit mid slice forced
      odd. Plain hex/integer arithmetic, identical in any engine (unlike
      murmur3 seeds), so the full MinHash-LSH pipeline is DuckDB-replicable
      and carries a value-hash oracle. i·h2 ≤ 31·2⁴⁸ keeps h1 + i·h2 < 2⁶¹
      — never overflows a long (ANSI-safe).
    * ``"md5w"`` — the fast DuckDB-replicable family (round 5): ONE
      base-conversion parse per gram instead of md5's two. h1 = the same
      60-bit md5 prefix; h2 = (h1 mod 2⁴⁷) | 1 — the low 47 bits of h1,
      forced odd, derived with two integer ops instead of a second
      `conv(substring(...))` hex parse. Which doc wins each i·h2 + h1 min
      is dominated by h1's high bits while h2 varies with its low bits, so
      the Kirsch–Mitzenmacher walk stays well-mixed (empirically: the
      verified pair set matches the two-parse family on the test corpus,
      tests/test_dedup.py). i·h2 ≤ 31·2⁴⁷ keeps sums < 2⁶¹ — overflow-free
      in both engines, so the full pipeline carries a value-hash oracle.
    * ``"xxhash64"`` — the engine-native family: one native-long xxhash64
      per gram (JVM codegen, no hex-string materialization or
      base-conversion parse like md5's `conv(substring(...))` chain).
      h1 = top 60 bits of xxhash64(gram), h2 = top 48 bits of
      xxhash64(gram, 1) forced odd — the same overflow-safe ranges. Not
      DuckDB-replicable (engine hash), so queries built on it are
      rows-only; the md5 families are the value-verified twins over the
      identical plan shape."""
    if hash_family == "md5":
        h1 = "CAST(conv(substring(md5(gram), 1, 15), 16, 10) AS BIGINT)"
        h2 = "(CAST(conv(substring(md5(gram), 16, 12), 16, 10) AS BIGINT) | 1)"
    elif hash_family == "md5w":
        h1 = "CAST(conv(substring(md5(gram), 1, 15), 16, 10) AS BIGINT)"
        h2 = f"(({h1} % {1 << 47}L) | 1)"
    elif hash_family == "xxhash64":
        h1 = "shiftrightunsigned(xxhash64(gram), 4)"
        h2 = "(shiftrightunsigned(xxhash64(gram, 1), 16) | 1)"
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r} (md5 | md5w | xxhash64)")
    hashed = grams.selectExpr("id", f"{h1} AS __h1", f"{h2} AS __h2")
    mins = hashed.groupBy("id").agg(
        *[F.expr(f"min(__h1 + ({i} * __h2)) AS __h{i}") for i in range(num_perm)]
    )
    return mins.selectExpr(
        "id", f"array({', '.join(f'__h{i}' for i in range(num_perm))}) AS sig"
    )


def band_buckets(sigs: DataFrame, bands: int = 8, rows: int = 4) -> DataFrame:
    """(id, band_idx, band_hash) — each signature split into `bands` chunks
    of `rows`; the band key is the dash-joined decimal rendering of the
    band's minhash values — engine-neutral (no murmur3), so an oracle
    groups identically. Shared by the LSH candidate join and the bucket
    skew audit."""
    keys = [
        "concat_ws('-', "
        + ", ".join(f"CAST(element_at(sig, {b * rows + r + 1}) AS STRING)" for r in range(rows))
        + ")"
        for b in range(bands)
    ]
    return sigs.selectExpr("id", f"posexplode(array({', '.join(keys)})) AS (band_idx, band_hash)")


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 8, rows: int = 4) -> DataFrame:
    """Banding: split the signature into `bands` chunks of `rows`; docs
    sharing any (band_idx, band_key) are candidates. The join key is the
    band bucket — at 100 TB this is the only join, and each bucket holds a
    near-dup cluster (skewed mega-clusters are handled by AQE skew-join)."""
    buckets = band_buckets(sigs, bands=bands, rows=rows)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            F.expr("a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id"),
        )
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )


def drop_frequent_grams(grams: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop grams that appear in more than ``max_doc_freq`` documents (the
    CCNet stop-gram guard): a viral boilerplate passage shared by k docs
    otherwise makes every gram-blocked join build k² groups.

    Shape: grouped count (map-side partials — only (gram, partial_count)
    per partition reaches the shuffle, not the (id, gram) rows) → filter to
    the over-cap grams (by construction ≤ corpus/cap of them, a tiny set)
    → broadcast ANTI join. The gram rows themselves never shuffle, unlike
    a per-gram window count which would exchange the full frame. The
    surviving gram set is a pure doc-frequency predicate — identical on
    any engine, SQL-replicable for the oracle."""
    hot = (
        grams.groupBy("gram")
        .agg(F.expr("count(*) AS __df"))
        .filter(f"__df > {int(max_doc_freq)}")
        .select("gram")
    )
    return grams.join(F.broadcast(hot), "gram", "left_anti").select(*grams.columns)


def jaccard_verify(
    pairs: DataFrame,
    grams: DataFrame,
    threshold: float = 0.8,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over (id, gram) rows for the candidate pairs only:
    join each side's grams, count matches, inclusion-exclusion. Filters LSH
    false positives. All equi-joins — candidate-set-sized, never corpus².

    ``max_gram_freq`` applies the stop-gram guard to the verify join's gram
    frame: without it, a gram shared by k docs contributes k rows to each
    side of the intersection join; with it, group sizes are bounded by the
    cap. Jaccard is then computed over the capped gram set (standard
    doc-frequency weighting — stop-grams carry no dedup signal).

    Shape (round 5): the intersection is computed per candidate pair with
    ``array_intersect`` over per-doc gram-set arrays, not a gram-grain
    join. The old pair⋈grams_a⋈grams_b join materialized |pairs|·|grams
    per doc| rows — ~170 M at the 50 k-doc probe (3.4 M templated-corpus
    candidates × ~50 grams), which was the whole 10×-probe variance (GC on
    the two wide shuffles). Now each side contributes one |pairs|-row join
    against a 1-row-per-doc array frame, and the intersection is a per-row
    O(|a|+|b|) hash probe inside codegen — no gram row ever shuffles at
    pair grain. The per-doc array is bounded by document length (it IS the
    doc's shingle set), so executor memory per row stays flat at 100 TB."""
    if max_gram_freq is not None:
        grams = drop_frequent_grams(grams, max_gram_freq)
    # gram_rows emits distinct (id, gram) rows, so collect_list builds the
    # gram SET of each doc; sz is its cardinality
    sets_ = grams.groupBy("id").agg(F.expr("collect_list(gram) AS gs"))
    j = (
        pairs.join(sets_.withColumnsRenamed({"id": "id_a", "gs": "ga"}), "id_a")
        .join(sets_.withColumnsRenamed({"id": "id_b", "gs": "gb"}), "id_b")
        .withColumn("i", F.expr("size(array_intersect(ga, gb))"))
        .withColumn("jaccard", F.expr("CAST(i AS DOUBLE) / ((size(ga) + size(gb)) - i)"))
    )
    return j.filter(f"jaccard >= {sql_double(threshold)}").select("id_a", "id_b", "jaccard")


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    ngram: int = 3,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.8,
    max_gram_freq: int | None = 1000,
    hash_family: str = "md5",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: gram rows → signatures → banded
    candidates → exact-Jaccard verify. Returns (id_a, id_b, jaccard) pairs
    ≥ threshold.

    ``max_gram_freq`` (default 1000) drops grams shared by more document
    than the cap BEFORE both the signature and verify passes — one
    consistent gram universe, so signatures, candidates, and the verified
    Jaccard all agree. Viral boilerplate (a stop-gram in >cap docs)
    otherwise quadratically blows the verify join's per-gram groups at
    corpus scale; the dropped grams carry no near-dup signal (they don't
    discriminate). Set None to disable (exact textbook semantics).

    The gram frame feeds both the signature pass and the verify join, so
    it is localCheckpointed once per call: both consumers read the same
    materialized rows instead of re-running tokenization and the gram
    frequency filter. The checkpoint lives only in this call's lineage,
    so no other query's plan depends on it and nothing has to be reset
    between queries. At 100 TB the same cut is a parquet checkpoint of the
    gram frame between the two passes."""
    if bands * rows > num_perm:
        raise ValueError(
            f"bands*rows ({bands}*{rows}) exceeds signature length {num_perm}; "
            "banding would index past the end of the signature"
        )
    grams = gram_rows(df, id_col, text_col, ngram)
    if max_gram_freq is not None:
        grams = drop_frequent_grams(grams, max_gram_freq)
    grams = grams.localCheckpoint()
    sigs = minhash_signatures(grams, num_perm, hash_family)
    cands = lsh_candidate_pairs(sigs, bands, rows)
    return jaccard_verify(cands, grams, threshold)


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per training document, count the distinct
    word-n-grams it shares with an evaluation/benchmark corpus (the
    GPT-3/PaLM n-gram-overlap protocol — a training doc that reproduces any
    benchmark n-gram is flagged for removal before training).

    Returns one row per training doc: (doc_id, n_contaminated_grams,
    contaminated). Scale shape: eval sets are small by definition, so the
    benchmark gram set is broadcast and the training-side gram stream is
    filtered map-side — the corpus never shuffles on gram; the only
    training-side exchange is the per-doc count. The gram construction is
    shared with the dedup family (`gram_rows`), so the oracle replicates it
    exactly."""
    train_grams = gram_rows(docs, id_col, text_col, ngram)
    bench_grams = (
        gram_rows(benchmark, id_col, text_col, ngram).select("gram").distinct()
    )
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_contaminated_grams", F.lit(0)).alias("n_contaminated_grams"),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
) -> DataFrame:
    """C4-style chunk-level dedup: split every document into fixed-size
    token chunks, drop every chunk whose exact text already appeared
    earlier in the corpus (earlier = lower (doc_id, chunk_idx)), and
    reassemble the survivors in order — the sub-document analogue of
    `exact_dedup`, which removes boilerplate passages shared across
    otherwise-distinct pages without dropping whole documents.

    Returns (id_col, n_chunks, n_kept, text_clean) — one row per input
    document, text_clean = '' when every chunk was a repeat.

    Scale shape: tokens explode once; chunk assembly is a grouped sort of
    ≤ chunk_tokens elements per (doc, chunk); the dedup window partitions
    on md5(chunk_text), so the global comparison shuffles uniform 128-bit
    keys with per-group size bounded by a chunk's corpus frequency — never
    an all-pairs comparison, and whole-document text never shuffles as one
    value, only chunk-sized pieces."""
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    chunks = (
        tok.withColumn("chunk_idx", F.floor(F.col("pos") / chunk_tokens).cast("int"))
        .groupBy("id", "chunk_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("chunk_text")
        )
    )
    w = Window.partitionBy(F.md5(F.col("chunk_text"))).orderBy("id", "chunk_idx")
    return _assemble_chunk_survivors(chunks, w, id_col)


def _assemble_chunk_survivors(
    chunks: DataFrame, w_dedup, id_col: str
) -> DataFrame:
    """One grouped pass from the ranked chunk frame to the per-document
    report (round 14, guide §2.4): the previous shape computed the chunk
    aggregation TWICE — once filtered to survivors (`kept`), once for the
    totals — and joined the two back on id. collect_list SKIPS nulls, so
    a single groupBy can count all chunks, count survivors, and assemble
    only the survivor text in one aggregate: one exchange and no join,
    and the chunk frame is computed once. Values are identical: the
    survivor struct list is the same set array_sort saw before, a doc
    with zero survivors aggregates to ('' , 0) exactly as the old left
    join + coalesce produced."""
    ranked = chunks.withColumn("__rn", F.row_number().over(w_dedup))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct("chunk_idx", "chunk_text")
    )
    return ranked.groupBy("id").agg(
        F.count("*").alias("n_chunks"),
        F.sum((F.col("__rn") == 1).cast("int")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("text_clean"),
    ).select(
        F.col("id").alias(id_col), "n_chunks", "n_kept", "text_clean"
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
    boundary_hex: str = "0",
) -> DataFrame:
    """Content-defined-chunking dedup: chunk boundaries are placed where
    the md5 of the ``window_tokens``-token window ending at a position
    starts with ``boundary_hex`` (1/16 of positions on average → mean
    chunk ≈ 16 tokens), then exact-dedup the chunks corpus-wide and
    reassemble survivors — ``chunk_dedup``'s shift-robust sibling. Fixed
    8-token chunks miss a boilerplate passage that is offset by one token
    in another document; CDC boundaries are functions of content alone, so
    shared passages chunk identically wherever they sit (the rsync/LBFS
    gear-hash idea, done with md5 so the oracle replays it exactly).

    Returns (id_col, n_chunks, n_kept, text_clean), one row per document.

    Scale shape: tokens explode once and ONLY (id, pos, tok) crosses the
    doc-key exchange — the rolling window is rebuilt with lag() columns
    inside the same Window sort rather than slicing a carried copy of
    the full token array (the slice formulation shipped the whole array
    on every token row: O(len²) wire bytes per doc; round-6 A/B at
    sf0.1: 3.9 → 2.9 s, byte-identical). Chunk ids are ONE running-sum
    window partitioned per document (state = one counter per doc); the
    corpus-wide dedup window partitions on md5(chunk_text) exactly like
    ``chunk_dedup`` — uniform 128-bit keys, chunk-sized payloads, never
    all-pairs and never whole documents on the wire."""
    w = window_tokens
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    # window ending at pos (0-based): tokens [pos-w+1 .. pos] via lag
    # columns; positions before the first full window are never boundaries
    wlag = Window.partitionBy("id").orderBy("pos")
    win_text = F.concat_ws(
        " ", *[F.lag("tok", w - 1 - j).over(wlag) for j in range(w - 1)], F.col("tok")
    )
    boundary = (F.col("pos") >= w - 1) & (
        F.substring(F.md5(win_text), 1, 1) == boundary_hex
    )
    flagged = tok.withColumn("__b", boundary.cast("int"))
    w_run = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = flagged.select(
        "id",
        "pos",
        "tok",
        F.coalesce(F.sum("__b").over(w_run), F.lit(0)).alias("chunk_idx"),
    )
    chunks = chunked.groupBy("id", "chunk_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("chunk_text")
    )
    w_dedup = Window.partitionBy(F.md5(F.col("chunk_text"))).orderBy("id", "chunk_idx")
    return _assemble_chunk_survivors(chunks, w_dedup, id_col)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # 4 chunks × 15 bits; < 63 so every mask fits a signed long


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash: each distinct token votes ±1 on each bit of its
    hash; the sign of the vote sum sets the fingerprint bit. Exploded
    tokens → 60 grouped conditional sums (codegen, map-side partials).

    The token hash is the 60-bit md5 prefix — plain hex/integer arithmetic
    (no engine-specific murmur/xxhash), so the fingerprints, the chunk
    blocking, and the Hamming verify are all DuckDB-replicable and the
    registered query carries a full value-hash oracle. 60 bits (vs the
    textbook 64) keeps every bit mask inside a signed long in any engine."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"__v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return votes.select("id", fp.alias("simhash"))


def simhash_candidate_pairs(fps: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ max_hamming. Blocking: split the
    60-bit fingerprint into 4 × 15-bit chunks — any pair within distance 3
    must agree on ≥1 chunk (pigeonhole), so the join is on chunk equality,
    never all-pairs. Verify with bit_count(xor)."""
    chunks = F.posexplode(
        F.array(
            *[
                F.shiftrightunsigned("simhash", 15 * i).bitwiseAND(F.lit(0x7FFF))
                for i in range(4)
            ]
        )
    )
    blocked = fps.select("id", "simhash", chunks.alias("chunk_idx", "chunk"))
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Connected components (near-dup pairs → clusters → canonical docs)
# ---------------------------------------------------------------------------


def _union_find_labels(edges: DataFrame, rows: list | None = None) -> DataFrame:
    """(id, comp) via driver-side union-find over a SMALL edge list (the
    caller has already bounded its size). comp = min id per component,
    matching the distributed loop's labels exactly. Path-halving +
    union-by-min keeps it near-linear. ``rows`` lets the caller hand in
    already-collected edge rows so the frame is not re-executed."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    if rows is None:
        rows = edges.collect()
    for r in rows:
        a, b = r.src, r.dst
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so every root is its component's min id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    from pyspark.sql.types import StructField, StructType

    dt = edges.schema["src"].dataType
    labels = [(x, find(x)) for x in parent]
    return edges.sparkSession.createDataFrame(
        labels,
        StructType([StructField("id", dt), StructField("comp", dt)]),
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(id, comp) for every node in `pairs`, where comp is the minimum id
    in the node's connected component — the step that turns a near-dup
    *pair* list into dedup *decisions* (keep comp, drop the rest).

    Iterative min-label propagation with POINTER DOUBLING: each round
    every node takes the min of its own label and its neighbors' labels,
    then labels are shortcut through themselves (comp ← label[comp], the
    path-halving step of Hash-to-Min / large-star-small-star CC
    algorithms), so convergence is O(log diameter) rounds instead of
    O(diameter) — a 60-node chain closes in ~7 rounds, not 59. Near-dup
    clusters are dense (diameter 1-3 in practice) and pay one extra
    (label ⋈ label) join per round for the guarantee. Each round is three
    equi-joins (edge⋈label, label⋈neighbor-min, the doubling lookup) +
    one grouped min — fully distributed, nothing but
    (id, label) pairs ever shuffles, and `localCheckpoint` truncates the
    lineage so plan size stays O(1) across rounds (on a real cluster with
    flaky executors, prefer `checkpoint()` to a reliable store —
    localCheckpoint pins blocks to executors).

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds (needs diameter > ~2^max_iter — adversarial, not
    organic): returning the intermediate labels would silently split true
    components, making a dedup pass keep duplicates.

    Adaptive small-graph path: after banding/verification a dedup pair
    graph is often tiny even when the corpus is huge; if the (already
    deduplicated, undirected) edge count is ≤ ``driver_threshold``, labels
    are computed with a driver-side union-find in one pass instead of N
    distributed rounds — the same labels, none of the per-round job
    overhead. The distributed loop remains the path for graphs above the
    threshold (at 100 TB a near-dup graph can be billions of edges; set
    ``driver_threshold=0`` to force the distributed loop).
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # checkpoint once, then ONE take instead of count + collect (round-14,
    # guide §1.2 "fewer actions"): the old shape ran a count over the
    # materialized blocks to answer the size test and then a separate
    # full collect for the driver path. take(threshold+1) answers both —
    # it IS the edge list when it comes back short. (A/B note: a LAZY
    # checkpoint + take was tried first and regressed — take's
    # incremental partition scale-up re-entered the uncached pipeline in
    # 4 jobs; against materialized blocks it is 1-2 trivial ones.)
    edges = edges.localCheckpoint()
    if driver_threshold:
        head = edges.take(driver_threshold + 1)
        if len(head) <= driver_threshold:
            return _union_find_labels(edges, rows=head)
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
            (F.coalesce("nbr_comp", "comp") < F.col("comp")).alias("__changed"),
        )
        # both the doubling join's left side and comp_of_comp consume
        # stepped; without this the neighbor-min join executes twice per
        # round (the dup_span_dedup shared-subtree lesson)
        stepped = stepped.localCheckpoint()
        # pointer doubling: comp ← label[comp]. Every comp value is a node
        # id (labels only ever hold mins of node ids), so the lookup join
        # always hits; the left join + coalesce is belt-and-braces. This
        # halves the remaining chain length every round.
        comp_of_comp = stepped.select(
            F.col("id").alias("comp"), F.col("comp").alias("comp2")
        )
        # the change flag rides inside the checkpointed frame, so fixpoint
        # detection is a filter over already-materialized blocks — no extra
        # label-vs-label shuffle join per round
        new_labels = (
            stepped.join(comp_of_comp, "comp", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("comp2", "comp")).alias("comp"),
                (
                    F.col("__changed")
                    | (F.coalesce("comp2", "comp") < F.col("comp"))
                ).alias("__changed"),
            )
        )
        new_labels = new_labels.localCheckpoint()
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter exceeds max_iter); labels would be wrong — "
        "raise max_iter"
    )


def dedup_assign_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Full-corpus cluster assignment: every document gets a component id
    (its cluster's min doc_id; singletons are their own component) and an
    is_canonical flag — the row a dedup pass would keep."""
    labels = connected_components(pairs)
    return (
        docs.select(id_col)
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("component"),
            (F.coalesce("comp", F.col(id_col)) == F.col(id_col)).alias("is_canonical"),
        )
    )


def dup_span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022 §4.1, "Deduplicating
    Training Data Makes Language Models Better"): delete every token
    covered by a ``span_tokens``-gram that also occurs in an EARLIER
    document (lower id = canonical), reassemble the survivors. The
    canonical occurrence keeps its text; later copies lose exactly the
    duplicated spans — unlike chunk dedup this respects arbitrary span
    alignment (a copy shifted by one token still dies), and unlike
    whole-doc dedup it keeps each document's novel remainder.
    Within-doc self-repeats are NOT removed (the canonical doc is left
    byte-identical) — decontaminating self-repetition is
    `repetition_filter`'s job.

    Returns (id_col, n_tokens, n_kept, text_clean).

    The paper's suffix array is a global sort; the Spark-first shape is:
    gram-hash min-id aggregation (who saw each span first), flagged span
    STARTS joined back and collected to one sorted per-doc position array
    (duplicated-span starts only — typically a tiny fraction of tokens),
    merged into covered intervals with an O(#starts) array fold, and the
    survivors reassembled by slicing the UNEXPLODED token array on the
    complement intervals. Gram hashes are built with the codegen'd
    posexplode + window-lead shape (`gram_rows`'s) — one doc-key token
    exchange, linear per doc; the HOF transform-over-slice it replaces
    was CodegenFallback and O(len²) per doc (round-6 A/B at sf0.1:
    3.8 s → 2.3 s end-to-end, byte-identical output). Every other wide
    exchange carries md5 gram hashes (uniform keys) or (id, p) int
    pairs; reassembly never shuffles tokens — documents without
    duplicated spans take a null-side left join and pass through
    byte-identical. (An earlier formulation unioned a per-token event
    stream with the starts and ran a running-max window + collect_list
    reassembly per doc — collect_list over ALL tokens, GC-heavy struct
    collection that went superlinear on the 10× probe; the collect_list
    here only ever holds duplicated-span starts.)

    NULL / empty text is a defined no-op: the doc passes through with
    n_tokens = 0, n_kept = 0, text_clean = '' (the pre-round-7 left-join
    rewrite silently emitted n_tokens = -1 — F.size(NULL) — where the
    original posexplode path had dropped the row entirely)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    empty_toks = F.expr("CAST(array() AS array<string>)")
    toks = F.when(txt == "", empty_toks).otherwise(F.split(txt, " "))
    k = span_tokens
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    wg = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", j).over(wg) for j in range(1, k)]
    g = (
        tok.select("id", "pos", *[c.alias(f"__t{j}") for j, c in enumerate(leads)])
        .filter(F.col(f"__t{k - 1}").isNotNull())
        .select(
            "id",
            F.col("pos").alias("p0"),
            F.md5(F.concat_ws(" ", *[f"__t{j}" for j in range(k)])).alias("h"),
        )
    )
    # both the min-id agg and the join consume g; without this the token
    # window subtree executes twice (measured ~0.6 s at sf0.1)
    g = g.localCheckpoint()
    gmin = g.groupBy("h").agg(F.min("id").alias("min_id"))
    starts = (
        # gram-grain ⋈ gram-grain: force a shuffled join — gmin is
        # corpus-sized, so broadcasting it (which a generous
        # autoBroadcastJoinThreshold will happily pick at bench scale) is
        # wrong at every scale that matters
        g.join(gmin.hint("shuffle_hash"), "h")
        .filter(F.col("id") > F.col("min_id"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.col("p0") + 1)).alias("ss"))
    )
    # merged covered intervals: starts are sorted and every span has the
    # same width k, so a fold appends a new [s, s+k-1] interval or extends
    # the last one's hi to s+k-1 when they touch/overlap — O(#starts)
    empty = F.expr("CAST(array() AS array<struct<lo:int,hi:int>>)")
    last = lambda a: F.try_element_at(a, F.lit(-1))  # noqa: E731
    merged = F.aggregate(
        F.col("ss"),
        empty,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= last(acc)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["lo"].alias("lo"),
                        (s + (k - 1)).cast("int").alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.cast("int").alias("lo"), (s + (k - 1)).cast("int").alias("hi")
                    )
                ),
            )
        ),
    )
    n = F.size(toks)
    # complement of the covered intervals within [1, n]: zip the covered
    # his (shifted, with a leading 0) against the covered los (with a
    # trailing n+1) — each (prev_hi+1, next_lo-1) pair with lo <= hi is a
    # kept span
    cov = F.col("__cov")
    kept = F.filter(
        F.zip_with(
            F.concat(F.array(F.lit(1)), F.transform(cov, lambda m: m["hi"] + 1)),
            F.concat(F.transform(cov, lambda m: m["lo"] - 1), F.array(n)),
            lambda lo, hi: F.struct(lo.alias("lo"), hi.alias("hi")),
        ),
        lambda iv: iv["hi"] >= iv["lo"],
    )
    return (
        docs.select(F.col(id_col).alias("id"), F.col(text_col))
        .join(starts, "id", "left")
        .withColumn("__cov", F.coalesce(merged, empty))
        .withColumn("__kept", kept)
        .select(
            F.col("id").alias(id_col),
            n.cast("long").alias("n_tokens"),
            F.coalesce(
                F.aggregate(
                    F.col("__kept"),
                    F.lit(0),
                    lambda acc, iv: acc + iv["hi"] - iv["lo"] + 1,
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.flatten(
                    F.transform(
                        F.col("__kept"),
                        lambda iv: F.slice(toks, iv["lo"], iv["hi"] - iv["lo"] + 1),
                    )
                ),
                " ",
            ).alias("text_clean"),
        )
    )
