"""The MinHash family, the cosine helpers and the IVF serve path build their
plans from SQL expression strings (one py4j round trip per string instead of
~10-13 per Column-API call). This module keeps the Column-API forms they
replaced as references and checks that each string-built plan is the same
plan: its analysed tree canonicalises equal to the reference's
(``sameSemantics``; lambda variables are normalised too, so the Column API's
``x_0``/``y_1`` names match SQL's ``x``/``y``) and its schema is identical.
Only a whole ``minhash_dedup_pairs`` build, whose localCheckpoint makes every
build a different plan, is compared by rows and schema."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.operators import dedup, similarity

from .conftest import SF_SMALL

HASH_FAMILIES = ("md5", "md5w", "xxhash64")


# ---------------------------------------------------------------------------
# Column-API references
# ---------------------------------------------------------------------------


def gram_rows_ref(df, id_col="doc_id", text_col="text", ngram=3, distinct=True):
    tok = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, ngram)]
    out = (
        tok.select("id", *[c.alias(f"__t{j}") for j, c in enumerate(leads)])
        .filter(F.col(f"__t{ngram - 1}").isNotNull())
        .select("id", F.concat_ws(" ", *[f"__t{j}" for j in range(ngram)]).alias("gram"))
    )
    return out.distinct() if distinct else out


def drop_frequent_grams_ref(grams, max_doc_freq):
    hot = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("gram")
    )
    return grams.join(F.broadcast(hot), "gram", "left_anti").select(*grams.columns)


def minhash_signatures_ref(grams, num_perm=32, hash_family="md5"):
    if hash_family == "md5":
        md5 = F.md5(F.col("gram"))
        h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(md5, 16, 12), 16, 10).cast("long").bitwiseOR(F.lit(1))
    elif hash_family == "md5w":
        md5 = F.md5(F.col("gram"))
        h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
        h2 = (h1 % F.lit(1 << 47)).bitwiseOR(F.lit(1))
    else:
        h1 = F.shiftrightunsigned(F.xxhash64(F.col("gram")), 4)
        h2 = F.shiftrightunsigned(F.xxhash64(F.col("gram"), F.lit(1)), 16).bitwiseOR(F.lit(1))
    hashed = grams.select("id", h1.alias("__h1"), h2.alias("__h2"))
    mins = hashed.groupBy("id").agg(
        *[
            F.min(F.col("__h1") + F.lit(i) * F.col("__h2")).alias(f"__h{i}")
            for i in range(num_perm)
        ]
    )
    return mins.select("id", F.array(*[f"__h{i}" for i in range(num_perm)]).alias("sig"))


def band_buckets_ref(sigs, bands=8, rows=4):
    band = F.posexplode(
        F.array(
            *[
                F.concat_ws(
                    "-",
                    *[F.element_at("sig", b * rows + r + 1).cast("string") for r in range(rows)],
                )
                for b in range(bands)
            ]
        )
    )
    return sigs.select("id", band.alias("band_idx", "band_hash"))


def lsh_candidate_pairs_ref(sigs, bands=8, rows=4):
    buckets = band_buckets_ref(sigs, bands=bands, rows=rows)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_verify_ref(pairs, grams, threshold=0.8):
    sets_ = grams.groupBy("id").agg(F.collect_list("gram").alias("gs"))
    j = (
        pairs.join(sets_.withColumnsRenamed({"id": "id_a", "gs": "ga"}), "id_a")
        .join(sets_.withColumnsRenamed({"id": "id_b", "gs": "gb"}), "id_b")
        .withColumn("i", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.col("i").cast("double") / (F.size("ga") + F.size("gb") - F.col("i")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def dot_ref(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm_ref(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine_ref(a, b):
    return dot_ref(F.col(a), F.col(b)) / (norm_ref(F.col(a)) * norm_ref(F.col(b)))


def medoid_cells_ref(corpus, n_cells=16, id_col="vec_id", vec_col="embedding"):
    med = (
        corpus.select(
            F.col(id_col).alias("mid"),
            F.col(vec_col).cast("array<double>").alias("mv"),
        )
        .withColumn("__mk", F.md5(F.col("mid").cast("string")))
        .orderBy("__mk", "mid")
        .limit(n_cells)
    )
    w = Window.orderBy("__mk", "mid")
    return med.withColumn("cell", (F.row_number().over(w) - 1).cast("int")).drop("__mk")


def nearest_medoid_cells_ref(vframe, med, id_name, n):
    sims = vframe.crossJoin(F.broadcast(med)).select(
        id_name, "cell", cosine_ref("__v", "mv").alias("__csim")
    )
    w = Window.partitionBy(id_name).orderBy(F.col("__csim").desc(), F.col("cell").asc())
    return (
        sims.withColumn("__crnk", F.row_number().over(w))
        .filter(F.col("__crnk") <= n)
        .select(id_name, "cell")
    )


def id_checksum_ref(id_col):
    return F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long")


def corpus_signature_ref(corpus, id_col):
    return corpus.agg(
        F.count("*").alias("n"), F.coalesce(F.sum(id_checksum_ref(id_col)), F.lit(0)).alias("sig")
    )


def cosine_topk_ivf_prebuilt_ref(corpus, queries, med, assign, k=5, n_probe=2,
                                 id_col="vec_id", vec_col="embedding"):
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("cv"))
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    q_cell = nearest_medoid_cells_ref(q, med, "qid", n_probe)
    qv = q.withColumnRenamed("__v", "qv").join(q_cell, "qid")
    cand = c.join(assign, "cid").join(F.broadcast(qv), "cell").filter(F.col("qid") != F.col("cid"))
    scored = cand.select("qid", "cid", cosine_ref("qv", "cv").alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return scored.withColumn("rnk", F.row_number().over(w).cast("long")).filter(F.col("rnk") <= k)


def cosine_topk_ivf_ref(corpus, queries, cents, k=5, n_probe=2, id_col="vec_id",
                        vec_col="embedding"):
    v = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("cv"))

    def top_cells(vec, n):
        sims = []
        for ci, cent in enumerate(cents):
            cvec = F.array(*[F.lit(float(x)) for x in cent])
            sims.append(
                F.struct(
                    (dot_ref(vec, cvec) / (norm_ref(vec) * norm_ref(cvec))).alias("sim"),
                    F.lit(ci).alias("cell"),
                )
            )
        ranked = F.reverse(F.array_sort(F.array(*sims)))
        return F.transform(F.slice(ranked, 1, n), lambda s: s["cell"])

    c = v.withColumn("cell", top_cells(F.col("cv"), 1)[0])
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("cell", F.explode(top_cells(F.col("qv"), n_probe)))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", cosine_ref("qv", "cv").alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return scored.withColumn("rnk", F.row_number().over(w).cast("long")).filter(F.col("rnk") <= k)


# ---------------------------------------------------------------------------
# Comparisons
# ---------------------------------------------------------------------------


def _same_plan(ours: DataFrame, ref: DataFrame) -> None:
    assert ours.sameSemantics(ref)
    assert ours.schema == ref.schema


def _same_rows(ours: DataFrame, ref: DataFrame) -> None:
    assert ours.schema == ref.schema
    got = sorted(ours.collect())
    assert got == sorted(ref.collect())
    assert got, "an empty result compares nothing"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))


@pytest.fixture(scope="module")
def grams(docs):
    return dedup.gram_rows(docs)


def test_gram_rows_same_plan(docs):
    for ngram in (3, 5):
        for distinct in (True, False):
            _same_plan(
                dedup.gram_rows(docs, ngram=ngram, distinct=distinct),
                gram_rows_ref(docs, ngram=ngram, distinct=distinct),
            )


def test_drop_frequent_grams_same_plan(grams):
    _same_plan(dedup.drop_frequent_grams(grams, 3), drop_frequent_grams_ref(grams, 3))


@pytest.mark.parametrize("family", HASH_FAMILIES)
def test_minhash_signatures_same_plan(grams, family):
    ours = dedup.minhash_signatures(grams, 32, family)
    _same_plan(ours, minhash_signatures_ref(grams, 32, family))
    _same_plan(dedup.band_buckets(ours), band_buckets_ref(ours))


@pytest.mark.parametrize("family", HASH_FAMILIES)
def test_lsh_candidates_and_verify_same_plan(grams, family):
    sigs = minhash_signatures_ref(grams, 32, family)
    cands = dedup.lsh_candidate_pairs(sigs)
    _same_plan(cands, lsh_candidate_pairs_ref(sigs))
    _same_plan(dedup.jaccard_verify(cands, grams, 0.5), jaccard_verify_ref(cands, grams, 0.5))


@pytest.mark.parametrize("family", HASH_FAMILIES)
def test_minhash_dedup_pairs_same_rows(docs, family):
    """The whole pipeline, string-built end to end, against the pipeline
    composed from the references (the localCheckpoint makes two builds
    different plans, so rows and schema are compared)."""
    grams = drop_frequent_grams_ref(gram_rows_ref(docs), 1000).localCheckpoint()
    sigs = minhash_signatures_ref(grams, 32, family)
    ref = jaccard_verify_ref(lsh_candidate_pairs_ref(sigs), grams, 0.8)
    _same_rows(dedup.minhash_dedup_pairs(docs, hash_family=family), ref)


@pytest.fixture(scope="module")
def vecs(spark):
    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    return emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("a"),
        F.reverse(F.col("embedding").cast("array<double>")).alias("b"),
    )


def test_cosine_helpers_same_plan(vecs):
    ours = vecs.select(
        "id",
        F.expr(similarity._dot("a", "b")).alias("dot"),
        F.expr(similarity._norm("a")).alias("norm"),
        F.expr(similarity._cosine("a", "b")).alias("cosine"),
    )
    ref = vecs.select(
        "id",
        dot_ref(F.col("a"), F.col("b")).alias("dot"),
        norm_ref(F.col("a")).alias("norm"),
        cosine_ref("a", "b").alias("cosine"),
    )
    _same_plan(ours, ref)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))


def test_medoid_cells_same_plan(emb):
    _same_plan(similarity.medoid_cells(emb, 8), medoid_cells_ref(emb, 8))


def test_nearest_medoid_cells_same_plan(emb):
    med = medoid_cells_ref(emb, 8)
    v = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").cast("array<double>").alias("__v"))
    _same_plan(
        similarity._nearest_medoid_cells(v, med, "cid", 2),
        nearest_medoid_cells_ref(v, med, "cid", 2),
    )


def test_corpus_signature_same_plan(emb):
    from funnel_report_etl_pipeline__spark.operators.ann_index import corpus_signature
    from funnel_report_etl_pipeline__spark.sources.sinks import _checksum_agg, _id_checksum_col

    ours = emb.agg(F.expr("count(*) AS n"), _checksum_agg("vec_id"))
    _same_plan(ours, corpus_signature_ref(emb, "vec_id"))
    _same_plan(
        emb.select(_id_checksum_col("vec_id").alias("k")),
        emb.select(id_checksum_ref("vec_id").alias("k")),
    )
    row = corpus_signature_ref(emb, "vec_id").collect()[0]
    assert corpus_signature(emb, "vec_id") == (row["n"], row["sig"])


def test_ivf_prebuilt_query_same_plan(spark, emb, tmp_path):
    from funnel_report_etl_pipeline__spark.operators import ann_index
    from funnel_report_etl_pipeline__spark.sources.sinks import _read_dir

    idx = str(tmp_path / "ivf8")
    ann_index.ensure_ivf_medoid_index(emb, idx, n_cells=8)
    queries = emb.filter("vec_id % 97 = 0")
    ours = ann_index.cosine_topk_ivf_prebuilt(emb, queries, idx, k=5, n_probe=2)
    ref = cosine_topk_ivf_prebuilt_ref(
        emb,
        queries,
        _read_dir(spark, os.path.join(idx, "cells.parquet")),
        _read_dir(spark, os.path.join(idx, "assignments.parquet")),
    )
    _same_plan(ours, ref)
    assert ours.count() == 5 * queries.count()


def test_cosine_topk_ivf_same_rows(emb):
    """The k-means IVF path with fixed centroids: the centroids become
    DOUBLE literals (negative ones and -0.0 included), so its plan matches
    the Column form's by rows; the struct field aliases make the analysed
    trees differ only cosmetically."""
    rows = emb.orderBy("vec_id").limit(3).collect()
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    cents[0][0] = -0.0
    queries = emb.filter("vec_id % 97 = 0")
    ours = similarity.cosine_topk_ivf(emb, queries, k=5, n_cells=3, n_probe=2, centroids=cents)
    _same_rows(ours, cosine_topk_ivf_ref(emb, queries, cents))
