"""LLM-training-data pipeline queries: dedup, similarity, text analysis,
multimodal plumbing — registered over the driver's `documents` /
`embeddings` tables with DuckDB oracles wherever SQL-expressible.

Probabilistic-but-deterministic operators (MinHash-LSH, SimHash, hyperplane
ANN) hash with the cross-engine-reproducible md5 families (operators/
dedup.py ``hash_family``) rather than Spark-private murmur3/xxhash64, so since round 5
every one of them carries a FULL value-hash oracle — the DuckDB SQL
reproduces the seeded pipeline end-to-end (md5-derived minhash band keys,
simhash bit votes, quantized hyperplane signs) and the driver's strict
compare covers them like any other query. Each also has an exact-verified
sibling (ngram_jaccard_pairs, similarity_topk_brute) covering the same
semantics without the seeded machinery.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints at runtime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    simhash,
    simhash_candidate_pairs,
)
from funnel_report_etl_pipeline__spark.operators.multimodal import (
    attach_binary_payload,
    binary_meta,
    media_features,
)
from funnel_report_etl_pipeline__spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk_brute,
    cosine_topk_lsh,
)
from funnel_report_etl_pipeline__spark.operators.text import (
    doc_fingerprint,
    lang_id,
    text_stats,
    token_count_regex,
    LANG_MARKERS,
    STOPWORDS,
    TOKEN_REGEX,
)
from funnel_report_etl_pipeline__spark.plans.registry import register
from funnel_report_etl_pipeline__spark.sources.readers import catalog_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) t WHERE rn = 1
    """,
    tags=("pipeline", "dedup"),
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-hash groupBy keeping the lowest doc_id. Only
    (id, 128-bit hash) shuffles — never the text payload."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "source")


@register(
    "dedup_exact_norm",
    oracle="""
    SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')
           ))) AS n_unique_norm
    FROM documents
    """,
    tags=("pipeline", "dedup"),
)
def dedup_exact_norm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text dedup cardinality: how many docs survive when the
    dedup key is the lowercased/punct-stripped/space-collapsed text."""
    from funnel_report_etl_pipeline__spark.operators.dedup import normalize_text

    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.md5(normalize_text(F.col("text")))).alias("n_unique_norm"),
    )


@register(
    "ngram_jaccard_pairs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
    """,
    tags=("pipeline", "dedup", "jaccard"),
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity join (pairs ≥ 0.8): explode distinct
    grams, self-join on gram (blocking on shared content — never a raw
    cross product), count intersections, Jaccard by inclusion-exclusion.
    The exact-verified twin of dedup_minhash_lsh."""
    from funnel_report_etl_pipeline__spark.operators.dedup import gram_rows

    docs = _t(spark, sf_dir, "documents")
    g = gram_rows(docs, "doc_id", "text", 3).withColumnRenamed("id", "doc_id")
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = g.alias("a"), g.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    jacc = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("i").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))).alias(
                "jaccard"
            ),
        )
    )
    return jacc.filter(F.col("jaccard") >= 0.8)


@register(
    "dedup_minhash_lsh",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    g AS (  -- stop-gram guard: drop grams in > 1000 docs (matches max_gram_freq)
      SELECT doc_id, gram FROM (
        SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY gram) AS df FROM g0
      ) WHERE df <= 1000
    ),
    h AS (
      SELECT doc_id, gram,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h1,
             (CAST(('0x' || substr(md5(gram), 16, 12)) AS BIGINT) | 1) AS h2
      FROM g
    ),
    m AS (  -- minhash i = min over grams of h1 + i*h2 (Kirsch-Mitzenmacher)
      SELECT doc_id, i, MIN(h1 + i * h2) AS mh
      FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS i) perms
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band_idx,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
      FROM m GROUP BY doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
    ORDER BY id_a, id_b
    """,
    tags=("pipeline", "dedup", "lsh"),
    bench=True,
)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms over 3-gram shingles) + LSH(8 bands × 4) candidate
    generation, exact-Jaccard verified at ≥0.8, stop-grams (>1000 docs)
    dropped. The scale path: candidate join is on band buckets, cost ∝
    near-dup cluster sizes, not corpus².

    The minhash family is md5-based double hashing — plain hex/integer
    arithmetic, so the ENTIRE probabilistic pipeline (signatures → bands →
    candidates → verify) is replicated in the DuckDB oracle and the result
    is value-hash verified, not merely rows-only."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, threshold=0.8).orderBy("id_a", "id_b")


def _simhash_oracle() -> str:
    """DuckDB replica of the 60-bit md5 SimHash + chunk-blocked Hamming
    join — generated (60 vote aggregates + fingerprint reconstruction)."""
    from funnel_report_etl_pipeline__spark.operators.dedup import SIMHASH_BITS

    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, {fp} AS simhash FROM votes),
    blocked AS (
      SELECT doc_id, simhash, CAST(i AS INT) AS chunk_idx,
             (simhash >> (15 * CAST(i AS INT))) & 32767 AS chunk
      FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS i) c
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM blocked a JOIN blocked b
      ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    tags=("pipeline", "dedup", "simhash"),
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-60 near-dup pairs at Hamming ≤ 3, blocked on 15-bit chunks
    (pigeonhole guarantees recall within the distance budget). The token
    hash is the md5 prefix — engine-neutral — so the whole fingerprint +
    blocking + Hamming pipeline is value-hash verified against DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    fps = simhash(docs)
    return simhash_candidate_pairs(fps, max_hamming=3).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 {list(STOPWORDS)!r})) AS n_stop,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token,
           CAST(n_stop AS DOUBLE) / n_distinct AS stopword_ratio,
           CAST(n_alpha AS DOUBLE) / n_chars AS alpha_ratio,
           (n_tokens >= 10 AND n_tokens <= 1000 AND n_stop > 0) AS quality_keep
    FROM t
    """,
    tags=("pipeline", "text"),
)
def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality metrics per document; single scan."""
    return text_stats(_t(spark, sf_dir, "documents"))


@register(
    "token_counts",
    oracle=f"""
    SELECT doc_id,
           len(regexp_split_to_array(text, '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_bpe_tokens
    FROM documents
    """,
    tags=("pipeline", "text", "tokens"),
)
def token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    return token_count_regex(_t(spark, sf_dir, "documents"))


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_intersect(list_distinct(string_split(text, ' ')), [{markers}]))"
    )


@register(
    "lang_id_heuristic",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             {", ".join(f"{_lang_score_sql(lang)} AS score_{lang}" for lang in sorted(LANG_MARKERS))}
      FROM documents
    )
    SELECT doc_id, {", ".join(f"score_{lang}" for lang in sorted(LANG_MARKERS))},
      CASE greatest({", ".join(f"score_{lang}" for lang in sorted(LANG_MARKERS))})
        {" ".join(f"WHEN score_{lang} THEN '{lang}'" for lang in sorted(LANG_MARKERS))}
      END AS pred_lang
    FROM s
    """,
    tags=("pipeline", "text", "langid"),
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID with deterministic lexicographic tiebreak.
    (DuckDB's CASE scans WHENs in order → first max lang, same tiebreak.)"""
    return lang_id(_t(spark, sf_dir, "documents"))


def _char_ngram_score_sql(lang: str) -> str:
    from funnel_report_etl_pipeline__spark.operators.text import LANG_CHAR_TRIGRAMS

    terms = " + ".join(
        f"CASE WHEN contains(lower(text), '{g}') THEN 1 ELSE 0 END"
        for g in LANG_CHAR_TRIGRAMS[lang]
    )
    return f"CAST({terms} AS BIGINT)"


def _lang_char_oracle() -> str:
    from funnel_report_etl_pipeline__spark.operators.text import LANG_CHAR_TRIGRAMS

    langs = sorted(LANG_CHAR_TRIGRAMS)
    scores = ", ".join(f"{_char_ngram_score_sql(lg)} AS score_{lg}" for lg in langs)
    sel = ", ".join(f"score_{lg}" for lg in langs)
    whens = " ".join(f"WHEN score_{lg} THEN '{lg}'" for lg in langs)
    return f"""
    WITH s AS (SELECT doc_id, {scores} FROM documents)
    SELECT doc_id, {sel},
      CASE greatest({sel}) {whens} END AS pred_lang
    FROM s
    """


@register(
    "lang_id_char_ngrams",
    oracle=_lang_char_oracle(),
    tags=("pipeline", "text", "langid", "char-ngram"),
)
def lang_id_char_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram-profile language ID (substring presence scoring) —
    the n-gram sibling of the word-marker heuristic."""
    from funnel_report_etl_pipeline__spark.operators.text import lang_id_char_ngrams

    return lang_id_char_ngrams(_t(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5({_NORM_SQL}) AS fp_md5,
           sha256({_NORM_SQL}) AS fp_sha256,
           CAST(('0x' || substr(md5({_NORM_SQL}), 1, 15)) AS BIGINT) AS fp_int64
    FROM documents
    """,
    tags=("pipeline", "text", "fingerprint"),
)
def doc_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-address fingerprints (md5 / sha256 / 60-bit int) of the
    normalized text."""
    return doc_fingerprint(_t(spark, sf_dir, "documents"))


@register(
    "rolling_fingerprint",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text) - 16 + 1, 1) + 1)) AS p
      FROM documents
    )
    SELECT doc_id, MIN(md5(substr(text, CAST(p AS INT), 16))) AS fp_rolling
    FROM pos GROUP BY doc_id
    """,
    tags=("pipeline", "text", "fingerprint", "rolling"),
)
def rolling_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprint: min md5 over every
    16-char window — a containment-detection key (shared passages share
    the min with high probability)."""
    from funnel_report_etl_pipeline__spark.operators.text import rolling_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return rolling_fingerprints(docs, "text", "doc_id", 16).withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "corpus_curation",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 {list(STOPWORDS)!r})) AS n_stop,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    ),
    q AS (
      SELECT * FROM t
      WHERE n_tokens BETWEEN 10 AND 1000 AND CAST(n_stop AS DOUBLE) / n_distinct > 0
    ),
    d AS (
      SELECT * FROM (
        SELECT q.*, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM q
      ) WHERE rn = 1
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS BIGINT)
             AS total_bpe_tokens
    FROM d GROUP BY source
    """,
    tags=("pipeline", "curation", "composition"),
    bench=True,
)
def corpus_curation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: quality gate → exact dedup → per-source token
    budgets, one lineage (the composition every training-data pipeline
    runs; each stage is also verified standalone)."""
    from funnel_report_etl_pipeline__spark.operators.curation import curation_summary

    return curation_summary(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@register(
    "similarity_topk_brute",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT qid, cid,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cosine
      FROM q, c WHERE qid <> cid
    )
    SELECT qid, cid, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
    tags=("pipeline", "similarity", "ann"),
    bench=True,
)
def similarity_topk_brute_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors: broadcast queries, one
    corpus scan, JVM-side dot products (bit-identical to the oracle's
    list_dot_product — sequential double summation, verified)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_brute(emb, queries, k=5)


_LSH_TABLES, _LSH_BITS, _LSH_DIM = 2, 8, 64


def _ann_lsh_oracle() -> str:
    """DuckDB replica of the Rademacher-hyperplane ANN: same ±1 sign
    constants (md5-derived in plain Python), same integer-quantized dot
    products, same multi-table + Hamming-1 multi-probe candidate set,
    same exact re-rank — generated so both engines share one spec."""
    from funnel_report_etl_pipeline__spark.operators.similarity import rademacher_sign

    sums = ", ".join(
        "SUM(xq * (["
        + ",".join(str(rademacher_sign(t, j, i)) for i in range(_LSH_DIM))
        + f"])[dim + 1]) AS d{t}_{j}"
        for t in range(_LSH_TABLES)
        for j in range(_LSH_BITS)
    )
    bucket_cols = ", ".join(
        "("
        + " + ".join(
            f"(CASE WHEN d{t}_{j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(_LSH_BITS)
        )
        + f") AS b{t}"
        for t in range(_LSH_TABLES)
    )
    cb_union = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_idx, b{t} AS bucket FROM buck"
        for t in range(_LSH_TABLES)
    )
    masks = ",".join(str(m) for m in [0] + [1 << j for j in range(_LSH_BITS)])
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (
      SELECT vec_id, CAST(i AS INT) - 1 AS dim,
             CAST(round(v[CAST(i AS INT)] * 1000000) AS BIGINT) AS xq
      FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) g
      WHERE CAST(i AS INT) - 1 < {_LSH_DIM}
    ),
    sums AS (SELECT vec_id, {sums} FROM d GROUP BY vec_id),
    buck AS (SELECT vec_id, {bucket_cols} FROM sums),
    cb AS ({cb_union}),
    probes AS (
      SELECT vec_id AS qid, table_idx, xor(bucket, m.m) AS bucket
      FROM cb CROSS JOIN (SELECT unnest([{masks}]) AS m) m
      WHERE vec_id < 10
    ),
    cand AS (
      SELECT DISTINCT p.qid, c.vec_id AS cid
      FROM probes p
      JOIN cb c ON c.table_idx = p.table_idx AND c.bucket = p.bucket
      WHERE c.vec_id <> p.qid
    ),
    scored AS (
      SELECT cand.qid, cand.cid,
             list_dot_product(eq.v, ec.v)
               / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v)))
               AS cosine
      FROM cand
      JOIN e eq ON eq.vec_id = cand.qid
      JOIN e ec ON ec.vec_id = cand.cid
    )
    SELECT qid, cid, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rnk
      FROM scored
    ) t WHERE rnk <= 5 ORDER BY qid, rnk
    """


@register(
    "similarity_ann_lsh",
    oracle=_ann_lsh_oracle(),
    tags=("pipeline", "similarity", "ann", "lsh"),
)
def similarity_ann_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via Rademacher-hyperplane LSH: 2 independent 8-bit tables
    + Hamming-1 multi-probe, exact re-rank of the candidate union — the
    100 TB scale path. Signatures are integer-exact md5-derived constants,
    so the ENTIRE approximate pipeline (buckets → probes → candidates →
    re-rank) is value-hash verified against the DuckDB oracle — no
    rows-only waiver, and no interpreted HOFs on the corpus side."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_lsh(
        emb, queries, k=5, n_tables=_LSH_TABLES, n_bits=_LSH_BITS, dim=_LSH_DIM
    ).orderBy("qid", "rnk")


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
             AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
          >= 0.45
    """,
    tags=("pipeline", "dedup", "embedding"),
)
def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at ≥0.45 — exact all-pairs baseline
    (the LSH/IVF paths are the scale formulation; this is their verifier).
    The cutoff sits where THIS synthetic data has pairs (uniform-random
    embeddings, max pairwise cosine ≈0.51); a real corpus would use ≥0.9."""
    emb = _t(spark, sf_dir, "embeddings")
    # the synthetic embeddings are uniform-random (max pairwise cosine
    # ~0.51), so the "near-dup" threshold is set where the data has
    # pairs — the computation under test is identical at any cutoff
    return cosine_near_dup_pairs(emb, threshold=0.45)


@register(
    "similarity_ann_ivf",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    med AS (  -- hash-seeded medoid cells: the 16 vectors with smallest md5(id)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                  AS INT) AS cell,
             v AS mv
      FROM (SELECT vec_id, v FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
    ),
    csims AS (
      SELECT e.vec_id AS id, m.cell,
             list_dot_product(v, mv)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(mv, mv)))
               AS csim
      FROM e, med m
    ),
    ranked AS (
      SELECT id, cell,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cell ASC) AS r
      FROM csims
    ),
    c_cell AS (SELECT id AS cid, cell FROM ranked WHERE r = 1),
    q_cell AS (SELECT id AS qid, cell FROM ranked WHERE r <= 2 AND id < 10),
    scored AS (
      SELECT q.qid, c.cid,
             list_dot_product(qe.v, ce.v)
               / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v)))
               AS cosine
      FROM q_cell q
      JOIN c_cell c USING (cell)
      JOIN e qe ON qe.vec_id = q.qid
      JOIN e ce ON ce.vec_id = c.cid
      WHERE q.qid <> c.cid
    )
    SELECT qid, cid, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    ORDER BY qid, rnk
    """,
    tags=("pipeline", "similarity", "ann", "ivf"),
)
def similarity_ann_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 over deterministic hash-seeded medoid cells (16 cells,
    2-probe, exact re-rank inside probed cells) — the inverted-file scale
    shape with a content-derived quantizer, so the full pipeline carries a
    DuckDB value-hash oracle (round-4 review ask). The k-means-trained
    quantizer (`cosine_topk_ivf`) stays the recall-tuned production path,
    equivalence- and recall-asserted in tests/test_similarity.py and the
    scale probes."""
    from funnel_report_etl_pipeline__spark.operators.similarity import (
        cosine_topk_ivf_medoid,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_ivf_medoid(emb, queries, k=5, n_cells=16, n_probe=2).orderBy(
        "qid", "rnk"
    )


@register(
    "embedding_dim_stats",
    oracle="""
    WITH d AS (
      SELECT vec_id, CAST(i AS INT) - 1 AS dim,
             CAST(round((embedding::DOUBLE[])[CAST(i AS INT)] * 1000000) AS BIGINT) AS xq
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) g
    )
    SELECT dim,
           CAST(SUM(xq) AS BIGINT) AS sum_x_micro,
           CAST(SUM(xq * xq) AS BIGINT) AS sum_x2_micro2,
           COUNT(*) AS n
    FROM d GROUP BY dim
    """,
    tags=("pipeline", "similarity", "array", "lateral"),
)
def embedding_dim_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moment sums across the embedding corpus (the inputs to
    feature normalization): posexplode ≡ LATERAL UNNEST with ordinality.

    Values are quantized to integer microunits before summing: float→
    decimal conversion rounds dyadic fractions differently across engines
    at any finite scale, while round(x·1e6)→BIGINT is the same integer in
    both (the product is the identical IEEE double) — so the grouped sums
    are exact and partitioning-stable."""
    emb = _t(spark, sf_dir, "embeddings")
    xq = F.round(F.col("x") * 1_000_000).cast("long")
    d = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    ).withColumn("xq", xq)
    return d.groupBy("dim").agg(
        F.sum("xq").alias("sum_x_micro"),
        F.sum(F.col("xq") * F.col("xq")).alias("sum_x2_micro2"),
        F.count("*").alias("n"),
    )


@register(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(list_max(embedding::DOUBLE[]) AS DOUBLE) AS max_val,
           CAST(list_min(embedding::DOUBLE[]) AS DOUBLE) AS min_val,
           CAST((list_sort(embedding::DOUBLE[]))[1] AS DOUBLE) AS sorted_first,
           len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_positive
    FROM embeddings WHERE vec_id < 50
    """,
    tags=("pipeline", "array", "scalar"),
)
def array_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery over the embedding column: size/index/min/
    max/sort/filter — the collection-type surface of the engine, value-
    matched against DuckDB's list functions."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    return emb.filter(F.col("vec_id") < 50).select(
        "vec_id",
        F.size(e).cast("long").alias("dim"),
        e[0].alias("first_val"),
        F.array_max(e).alias("max_val"),
        F.array_min(e).alias("min_val"),
        F.array_sort(e)[0].alias("sorted_first"),
        F.size(F.filter(e, lambda x: x > 0)).cast("long").alias("n_positive"),
    )


@register(
    "embedding_label_stats",
    oracle="""
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(CAST(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                     AS DECIMAL(28,12))) AS DOUBLE) AS total_norm
    FROM embeddings GROUP BY label
    """,
    tags=("pipeline", "similarity"),
)
def embedding_label_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector stats; norms summed in exact decimal so the result
    is partitioning-independent."""
    from funnel_report_etl_pipeline__spark.operators.similarity import _norm

    emb = _t(spark, sf_dir, "embeddings")
    norm = _norm("CAST(embedding AS ARRAY<DOUBLE>)")
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.expr(f"CAST(sum(CAST({norm} AS DECIMAL(28,12))) AS DOUBLE) AS total_norm"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "arrow_udf_normalize",
    oracle=f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fp
    FROM documents
    """,
    tags=("pipeline", "udf", "arrow"),
)
def arrow_udf_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sanctioned Python escape hatch, value-verified: a vectorized
    @pandas_udf (Arrow batches, pandas string ops) reproducing the
    normalize-and-fingerprint pipeline bit-for-bit against the pure-SQL
    oracle. Exists to prove the Arrow path's plumbing and its ~10-100×
    advantage over row-at-a-time Python UDFs — production code still
    prefers the built-in expression (doc_fingerprints)."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def norm_md5(texts: pd.Series) -> pd.Series:
        norm = (
            texts.str.lower()
            .str.replace(r"[^a-z0-9 ]", " ", regex=True)
            .str.replace(r" +", " ", regex=True)
            .str.strip()
        )
        # NULL text propagates as NaN through .str — return None like the
        # oracle's md5(NULL), never .encode a float
        return norm.map(
            lambda s: hashlib.md5(s.encode()).hexdigest() if isinstance(s, str) else None
        )

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", norm_md5(F.col("text")).alias("fp"))


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256,
           16 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) % 64 AS width,
           16 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) % 64 AS height
    FROM documents
    """,
    tags=("pipeline", "multimodal"),
)
def multimodal_meta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata + stub-decoded features through the real
    mapInPandas plumbing (Arrow batches, bounded memory). The oracle
    replays the deterministic stub in SQL, so the whole Python path is
    value-verified."""
    docs = attach_binary_payload(_t(spark, sf_dir, "documents"))
    return binary_meta(docs, "payload", "doc_id")


@register(
    "multimodal_features",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             16 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) % 64 AS width,
             16 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) % 64 AS height,
             sha256(text || '224x224') AS resized_hex,
             sha256(text || 'f0') AS f0
      FROM documents
    ),
    c1 AS (SELECT *, sha256(f0 || 'f1') AS f1 FROM f),
    c2 AS (SELECT *, sha256(f1 || 'f2') AS f2 FROM c1),
    c3 AS (SELECT *, sha256(f2 || 'f3') AS f3 FROM c2)
    SELECT doc_id, width, height, resized_hex,
           array_to_string([f0, f1, f2, f3], ',') AS frames_hex
    FROM c3
    """,
    tags=("pipeline", "multimodal", "features"),
)
def multimodal_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode → resize → frame-sample in ONE Arrow-batched mapInPandas hop
    (stub codecs, real distribution plumbing). The stubs are deterministic
    sha256 fakes, so the oracle replays the whole Python path in SQL and
    the mapInPandas plumbing is value-hash verified end-to-end; binary
    outputs are hex-rendered for the cross-engine compare. ``frames_hex``
    is rendered as ONE comma-joined string (not array<string>): the
    driver's pandas canonicalizer sorts rows with ``sort_values`` over all
    columns, which raises ``unhashable type: 'list'`` on list cells."""
    docs = attach_binary_payload(_t(spark, sf_dir, "documents"))
    feat = media_features(docs, "payload", "doc_id", resize_to=(224, 224), n_frames=4)
    return feat.select(
        "doc_id",
        "width",
        "height",
        F.lower(F.hex("resized")).alias("resized_hex"),
        F.concat_ws(
            ",", F.transform("frames", lambda x: F.lower(F.hex(x)))
        ).alias("frames_hex"),
    )


@register(
    "hash_sample",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
    tags=("pipeline", "sampling"),
)
def hash_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed sampling: keep a doc iff the first
    hex digit of md5(doc_id) is in a fixed set (here 2/16 = 12.5%). Unlike
    ``df.sample`` this is reproducible across runs, engines, cluster sizes,
    and data re-partitioning — the property a training-data holdout split
    needs. Pure map-side filter: no shuffle, scan-pruned to two columns."""
    d = _t(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return d.filter(digit.isin("0", "1")).select("doc_id", "n_chars")


@register(
    "pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             len(regexp_split_to_array(text, '\\s+')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
      FROM t
    )
    SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
    FROM c
    """,
    tags=("pipeline", "packing", "tokens"),
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing for LLM pre-training: shard the corpus,
    lay documents end-to-end in doc_id order within each shard, and assign
    each doc the 2048-token context bin its first token falls in. One
    window (cumulative token sum) per shard — shards bound the sort width,
    so at 100 TB this is N independent partition-local sorts, never a
    global order-by."""
    d = _t(spark, sf_dir, "documents")
    budget = 2048.0
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split(F.col("text"), "\\s+")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget))
        .cast("long")
        .alias("bin_id"),
    )


@register(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    g AS (  -- stop-gram guard: matches max_gram_freq=1000
      SELECT doc_id, gram FROM (
        SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY gram) AS df FROM g0
      ) WHERE df <= 1000
    ),
    h AS (
      SELECT doc_id, gram,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h1,
             (CAST(('0x' || substr(md5(gram), 16, 12)) AS BIGINT) | 1) AS h2
      FROM g
    ),
    m AS (  -- minhash i = min over grams of h1 + i*h2 (Kirsch-Mitzenmacher)
      SELECT doc_id, i, MIN(h1 + i * h2) AS mh
      FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS i) perms
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band_idx,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
      FROM m GROUP BY doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
      GROUP BY c.id_a, c.id_b
    ),
    p AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p),
    walk(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.comp FROM edges e JOIN walk w ON e.dst = w.id
    ),
    lbl AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id)
    SELECT d.doc_id,
           CAST(COALESCE(l.comp, d.doc_id) AS BIGINT) AS component,
           COALESCE(l.comp, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id
    """,
    tags=("pipeline", "dedup", "iterative"),
    bench=True,  # the iterative-algorithm headliner
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end deduplicator on its 100 TB path: banded MinHash-LSH
    pair generation (never all-pairs — candidates come from band-bucket
    joins, verified by exact Jaccard) → connected components → per-document
    cluster assignment (component = min doc_id; is_canonical marks the
    keeper). Value-verified against a DuckDB replica of the FULL pipeline:
    md5 double-hash minhash signatures, banding, verify, then a
    recursive-CTE transitive closure for the component labels."""
    from funnel_report_etl_pipeline__spark.operators.dedup import (
        dedup_assign_clusters,
        minhash_dedup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.8).select("id_a", "id_b")
    return dedup_assign_clusters(docs, pairs)


@register(
    "grouped_arrow_stats",
    oracle="""
    WITH s AS (
      SELECT lang,
             COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_toks,
             CAST(SUM(length(text) * len(string_split(text, ' '))) AS BIGINT) AS sum_xy,
             CAST(SUM(length(text) * length(text)) AS BIGINT) AS sum_xx,
             CAST(SUM(len(string_split(text, ' ')) * len(string_split(text, ' ')))
               AS BIGINT) AS sum_yy
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, sum_chars, sum_toks,
           (CAST(n_docs AS DOUBLE) * sum_xy - CAST(sum_chars AS DOUBLE) * sum_toks) /
           (sqrt(CAST(n_docs AS DOUBLE) * sum_xx - CAST(sum_chars AS DOUBLE) * sum_chars) *
            sqrt(CAST(n_docs AS DOUBLE) * sum_yy - CAST(sum_toks AS DOUBLE) * sum_toks))
             AS corr_chars_tokens
    FROM s
    """,
    tags=("pipeline", "arrow", "grouped"),
)
def grouped_arrow_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Arrow exemplar: ``applyInPandas`` per language computes
    integer-exact moment sums in pandas (int64 — order-independent, so one
    partition or a thousand give identical bytes), then the Pearson
    correlation is derived JVM-side from those integers with the same IEEE
    double expression the oracle uses — bit-identical across engines. The
    pattern for any custom per-group Python science: ship exact partials
    out of Python, derive floats deterministically outside."""
    docs = _t(spark, sf_dir, "documents")

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["text"].str.len().astype("int64")
        y = pdf["text"].str.split(" ").str.len().astype("int64")
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "sum_chars": [int(x.sum())],
                "sum_toks": [int(y.sum())],
                "sum_xy": [int((x * y).sum())],
                "sum_xx": [int((x * x).sum())],
                "sum_yy": [int((y * y).sum())],
            }
        )

    moments = docs.select("lang", "text").groupBy("lang").applyInPandas(
        stats,
        "lang string, n_docs long, sum_chars long, sum_toks long, "
        "sum_xy long, sum_xx long, sum_yy long",
    )
    n = F.col("n_docs").cast("double")
    sx, sy = F.col("sum_chars").cast("double"), F.col("sum_toks").cast("double")
    return moments.select(
        "lang",
        "n_docs",
        "sum_chars",
        "sum_toks",
        (
            (n * F.col("sum_xy") - sx * F.col("sum_toks"))
            / (
                F.sqrt(n * F.col("sum_xx") - sx * F.col("sum_chars"))
                * F.sqrt(n * F.col("sum_yy") - sy * F.col("sum_toks"))
            )
        ).alias("corr_chars_tokens"),
    )


@register(
    "vocab_topk",
    oracle="""
    SELECT tok, n
    FROM (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    )
    ORDER BY n DESC, tok
    LIMIT 100
    """,
    tags=("pipeline", "text", "vocab"),
)
def vocab_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: token frequencies, top-100 by count with a
    token tiebreak — the first step of tokenizer/vocab induction. explode →
    map-side partial counts → one shuffle on token → TakeOrderedAndProject
    (per-partition top-k, k-row driver merge; no global sort at any
    scale)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(100)
    )


@register(
    "stratified_hash_sample",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
               % 100 AS bucket
      FROM documents
    )
    WHERE bucket < CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50 ELSE 100 END
    """,
    tags=("pipeline", "sampling", "stratified"),
)
def stratified_hash_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling — per-language rates (downsample
    dominant languages, keep the tail whole), the mixture-control step of
    training-data assembly. The doc's md5 prefix mod 100 is its permanent
    percentile bucket, so rates are stable under reruns, engine changes,
    and repartitioning. Map-side filter only, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
    bucket = bucket.cast("int") % 100
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "de", 50)
        .otherwise(100)
    )
    return d.filter(bucket < rate).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Decontamination + repetition filtering (round 3)
# ---------------------------------------------------------------------------


@register(
    "decontaminate_ngrams",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 3),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
      FROM t WHERE len(toks) >= 5
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
    hits AS (
      SELECT g.doc_id, COUNT(*) AS n_contaminated_grams
      FROM g JOIN bench USING (gram)
      WHERE g.doc_id % 20 <> 0
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_contaminated_grams, 0) AS n_contaminated_grams,
           COALESCE(h.n_contaminated_grams, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
    LEFT JOIN hits h USING (doc_id)
    """,
    tags=("pipeline", "text", "decontaminate"),
)
def decontaminate_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/PaLM protocol): flag every training
    document sharing any distinct word-5-gram with the held-out benchmark
    slice (here: docs with doc_id % 20 == 0 stand in for an eval set). The
    benchmark gram set is broadcast — the training corpus is filtered
    map-side and never shuffles on gram; the only exchange is the per-doc
    hit count."""
    from funnel_report_etl_pipeline__spark.operators.dedup import ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_decontaminate(train, bench, "doc_id", "text", ngram=5)


@register(
    "repetition_filter",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g2 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2
    ),
    c2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY doc_id, gram),
    f2 AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS f FROM c2 GROUP BY doc_id),
    g3 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    c3 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g3 GROUP BY doc_id, gram),
    f3 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS f
      FROM c3 GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(f2.f, 0.0) AS top_2gram_frac,
           COALESCE(f3.f, 0.0) AS dup_3gram_frac,
           (COALESCE(f2.f, 0.0) <= 0.20 AND COALESCE(f3.f, 0.0) <= 0.18) AS rep_keep
    FROM documents d
    LEFT JOIN f2 USING (doc_id)
    LEFT JOIN f3 USING (doc_id)
    """,
    tags=("pipeline", "text", "repetition"),
)
def repetition_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition gates: top-2-gram fraction and duplicated-3-gram
    fraction per document, with the keep predicate (≤0.20 / ≤0.18). Every
    occurrence counts (non-distinct grams); two grouped aggregates with
    map-side partials — only (id, gram, count) rows shuffle."""
    from funnel_report_etl_pipeline__spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_fast",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    g AS (  -- stop-gram guard: drop grams in > 1000 docs (matches max_gram_freq)
      SELECT doc_id, gram FROM (
        SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY gram) AS df FROM g0
      ) WHERE df <= 1000
    ),
    h AS (  -- md5w family: ONE hex parse; h2 = low 47 bits of h1, forced odd
      SELECT doc_id, gram, h1, (h1 % 140737488355328) | 1 AS h2
      FROM (SELECT doc_id, gram,
                   CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h1
            FROM g)
    ),
    m AS (  -- minhash i = min over grams of h1 + i*h2 (Kirsch-Mitzenmacher)
      SELECT doc_id, i, MIN(h1 + i * h2) AS mh
      FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS i) perms
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band_idx,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
      FROM m GROUP BY doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "lsh", "fast"),
    bench=True,
)
def dedup_minhash_fast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast MinHash-LSH: identical pipeline to dedup_minhash_lsh but with
    the single-parse ``md5w`` hash family — one `conv(substring(md5))`
    base-conversion per gram instead of two, h2 derived from h1 with two
    integer ops (see minhash_signatures). Round 5 moved this query off the
    engine-native xxhash64 family so it carries a full DuckDB value-hash
    oracle (round-4 review ask); xxhash64 stays available in the operator
    API and tests/test_dedup.py asserts all three families produce the
    same verified pair set on the test corpus."""
    from funnel_report_etl_pipeline__spark.operators.dedup import minhash_dedup_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, threshold=0.8, hash_family="md5w").orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# Round 3: chunk-level dedup, PII redaction, quantization, shard shuffle
# ---------------------------------------------------------------------------


@register(
    "chunk_dedup",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
      SELECT doc_id,
             unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS chunk_idx,
             unnest(list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)),
                    i -> array_to_string(toks[i*8+1 : i*8+8], ' '))) AS chunk_text
      FROM t
    ), d AS (
      SELECT doc_id, chunk_idx, chunk_text,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM c
    ), k AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS text_clean
      FROM d WHERE rn = 1 GROUP BY doc_id
    ), tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c GROUP BY doc_id)
    SELECT t.doc_id, CAST(t.n_chunks AS BIGINT) AS n_chunks,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(k.text_clean, '') AS text_clean
    FROM tot t LEFT JOIN k USING (doc_id)
    """,
    tags=("pipeline", "dedup", "chunk"),
    bench=True,  # the explode-heavy sub-document shape
)
def chunk_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup: drop every 8-token chunk whose exact
    text already appeared at a lower (doc_id, chunk_idx) anywhere in the
    corpus, reassemble the survivors. Removes cross-page boilerplate
    without discarding whole documents — the step between exact and
    near-dup dedup in a training-data pipeline."""
    from funnel_report_etl_pipeline__spark.operators.dedup import chunk_dedup

    return chunk_dedup(_t(spark, sf_dir, "documents"), chunk_tokens=8)


@register(
    "pii_redaction",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             text || ' contact ' || source || '@example.com at 10.0.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.7 tel +49-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS payload
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(payload,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(payload,
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(payload,
             '\\+[0-9]{1,3}(?:-[0-9]{3,4}){2,3}')) AS BIGINT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(payload,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
             '\\+[0-9]{1,3}(?:-[0-9]{3,4}){2,3}', '<PHONE>', 'g') AS redacted
    FROM p
    """,
    tags=("pipeline", "text", "pii"),
)
def pii_redaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a deterministically PII-seeded payload column
    (the synthetic corpus carries no organic PII, so the query grafts an
    email/IP/phone per doc from (doc_id, source) — both engines build the
    identical payload, then redact it). Counts + typed-token replacement,
    all map-side regexp built-ins."""
    from funnel_report_etl_pipeline__spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents")
    payload = F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("source"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel +49-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return redact_pii(d.select("doc_id", payload.alias("payload")), "payload", "doc_id")


@register(
    "quantize_embeddings",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
    ), s AS (
      SELECT vec_id, x,
             CASE WHEN MAX(ABS(x)) OVER (PARTITION BY vec_id) = 0 THEN 1.0
                  ELSE MAX(ABS(x)) OVER (PARTITION BY vec_id) / 127.0 END AS scale
      FROM e
    ), q AS (
      SELECT vec_id, x, scale, round_even(x / scale, 0) AS qv FROM s
    )
    SELECT vec_id, scale, CAST(SUM(qv) AS BIGINT) AS q_sum,
           CAST(MIN(qv) AS BIGINT) AS q_min, CAST(MAX(qv) AS BIGINT) AS q_max,
           MAX(ABS(x - qv * scale)) AS max_abs_err
    FROM q GROUP BY vec_id, scale
    """,
    tags=("pipeline", "similarity", "quantize"),
)
def quantize_embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with reconstruction-error
    audit — one posexplode, one window shuffle, integer-exact checksums
    (see operators/similarity.quantize_int8)."""
    from funnel_report_etl_pipeline__spark.operators.similarity import quantize_int8

    return quantize_int8(_t(spark, sf_dir, "embeddings"))


@register(
    "shard_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 8
             AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 8
             ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 5), doc_id) AS BIGINT) AS pos
    FROM documents
    """,
    tags=("pipeline", "sampling", "shuffle"),
)
def shard_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a
    content-addressed (shard, pos) — shard from its md5 prefix, pos by
    sorting the md5 remainder WITHIN the shard. Reproducible on any
    engine/cluster/partitioning (unlike df.orderBy(rand())), and the sort
    is per-shard, so at 100 TB it is N independent partition-local sorts
    of corpus/N rows each, never a global order-by."""
    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(key, 1, 4), 16, 10).cast("int") % 8
    w = Window.partitionBy("shard").orderBy(F.substring(F.col("__key"), 5, 28), "doc_id")
    return (
        d.select("doc_id", key.alias("__key"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


@register(
    "gram_novelty",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 3),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
      FROM t WHERE len(toks) >= 5
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
    first AS (SELECT gram, MIN(doc_id) AS first_id FROM g GROUP BY gram),
    nov AS (SELECT first_id AS doc_id, COUNT(*) AS n_novel FROM first GROUP BY first_id)
    SELECT t.doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(nov.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(COALESCE(nov.n_novel, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE)
             AS novelty
    FROM tot t LEFT JOIN nov USING (doc_id)
    """,
    tags=("pipeline", "text", "novelty"),
)
def gram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-5-gram novelty (fraction of the doc's distinct
    grams first seen in this doc, by lowest doc_id) — the cheap
    boilerplate-vs-fresh-prose ranking signal that runs before MinHash in
    a crawl curation pipeline. Exact integer counts + one IEEE division;
    see operators/text.novelty_scores for the scale shape."""
    from funnel_report_etl_pipeline__spark.operators.text import novelty_scores

    return novelty_scores(_t(spark, sf_dir, "documents"), ngram=5)
