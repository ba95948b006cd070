"""Similarity search over embedding columns (`array<float>`).

Three paths:

* **Brute-force cosine top-k** — the exact baseline. Queries are broadcast
  (a query set is small by definition); the corpus is scanned once, scored
  with JVM higher-order functions (zip_with/aggregate — sequential
  left-to-right double summation, bit-identical to DuckDB's
  list_dot_product, verified), and per-query top-k is taken with a
  WindowGroupLimit-eligible row_number.
* **LSH-bucketed ANN** — a 100 TB path. Rademacher (±1) hyperplane
  signatures over integer-quantized embeddings: the sign pattern is fixed
  md5-derived constants embedded as literals, the per-bit dot products are
  exact int64 sums over posexploded dimensions (whole-stage codegen, no
  interpreted HOFs on the corpus side), so signatures are bit-identical on
  any engine/partitioning — the registered query carries a full DuckDB
  value-hash oracle. Recall is tuned by tables × bits and Hamming-1
  multi-probe on the query side; candidates are re-ranked exactly.
* **IVF ANN** — the inverted-file 100 TB path: k-means coarse quantizer
  (trained once, tiny centroid table), cell-blocked join, exact re-rank
  inside the probed cells.

No Python touches row data in any path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.functions.core import sql_double

__all__ = [
    "with_cosine",
    "cosine_topk_brute",
    "rademacher_sign",
    "hyperplane_buckets",
    "cosine_topk_lsh",
    "cosine_near_dup_pairs",
    "embedding_dedup_pairs_lsh",
    "train_ivf_centroids",
    "cosine_topk_ivf",
    "medoid_cells",
    "cosine_topk_ivf_medoid",
    "quantize_int8",
    "maxsim_topk",
]


# The cosine helpers are SQL expression strings over array<double> SQL
# expressions: one F.expr / selectExpr string is ~1-3 py4j round trips where
# the same tree through the Column API cost ~60. Each fold is sequential
# left to right from a DOUBLE zero (0.0D, the F.lit(0.0) type), which is
# what makes the sums bit-identical to DuckDB's list_dot_product.


def _dot(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (s, x) -> s + x)"


def _norm(a: str) -> str:
    return f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, (s, x) -> s + x))"


def _cosine(a: str, b: str) -> str:
    return f"{_dot(a, b)} / ({_norm(a)} * {_norm(b)})"


def _vectors(df: DataFrame, id_col: str, vec_col: str, id_out: str, vec_out: str) -> DataFrame:
    """(id_out, vec_out): ``df``'s id and its vector cast to array<double>."""
    return df.selectExpr(f"{id_col} AS {id_out}", f"CAST({vec_col} AS ARRAY<DOUBLE>) AS {vec_out}")


def _topk_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best (qid, cid, cosine) rows, ranked cosine-desc
    with a cid tiebreak so the rank is engine-independent; ``rnk`` is a
    BIGINT. The row_number filter is WindowGroupLimit-eligible."""
    rank = "row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC)"
    return scored.withColumn("rnk", F.expr(f"CAST({rank} AS BIGINT)")).filter(f"rnk <= {int(k)}")


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    """cosine(a, b) over two array<double> columns."""
    return df.withColumn(out, F.expr(_cosine(a, b)))


def cosine_topk_brute(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast queries × corpus scan.

    Returns (qid, cid, cosine, rnk). The per-query top-k is a row_number
    window with a cid tiebreak — rank is engine-independent. At scale the
    scored relation never materializes: the window's group-limit keeps k
    rows per query per partition before the shuffle.
    """
    q = _vectors(queries, id_col, vec_col, "qid", "qv")
    c = _vectors(corpus, id_col, vec_col, "cid", "cv")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter("qid != cid")
        .selectExpr("qid", "cid", f"{_cosine('qv', 'cv')} AS cosine")
    )
    return _topk_by_cosine(scored, k)


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, all-pairs baseline).

    The exact-verified twin of the bucketed paths: id_a < id_b halves the
    pair space, but cost is still O(n²·dim) — correct for verification and
    small corpora. At 100 TB use hyperplane-LSH or IVF cells to block the
    join (cosine_topk_lsh / cosine_topk_ivf) and keep this only as the
    within-bucket verifier.

    ``max_rows`` is the footgun guard: the call RAISES if the corpus
    exceeds it, so nobody points the quadratic verifier at a real corpus
    by accident — raising the cap is an explicit, visible decision."""
    n = corpus.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_near_dup_pairs is the O(n²) exact baseline and the corpus "
            f"has {n} rows (> max_rows={max_rows}). Use cosine_topk_lsh / "
            "cosine_topk_ivf at scale, or pass a larger max_rows explicitly."
        )
    # precompute each vector's norm ONCE (n·dim) instead of twice per pair
    # (2·n²·dim): the arithmetic per norm is identical (same fold, same
    # order), so cosine = dot/(na·nb) is bit-for-bit the per-pair formula
    # the oracle computes — only the evaluation count changes. The
    # aggregate/zip_with HOFs are interpreted (not codegen'd), so this is
    # a ~3× wall cut on the pair stage (measured 66 s → 27 s at n=2000).
    v = _vectors(corpus, id_col, vec_col, "id", "v").withColumn("nrm", F.expr(_norm("v")))
    # The id_a < id_b join is a BroadcastNestedLoopJoin and its parallelism
    # equals the STREAMED side's partition count — a small parquet corpus
    # reads as one split, so without this the whole O(n²·dim) fold runs in
    # a single task (measured 22 s → 1.5 s at n=2000 on local[32]). The
    # shuffle moved is n rows, amortized over n²/2 pair evaluations.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    a = v.repartition(par).withColumnsRenamed({"id": "id_a", "v": "va", "nrm": "na"})
    b = v.withColumnsRenamed({"id": "id_b", "v": "vb", "nrm": "nb"})
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).withColumn(
        "cosine", F.expr(f"{_dot('va', 'vb')} / (na * nb)")
    )
    return pairs.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[float]]:
    """Spherical-ish k-means coarse quantizer: L2-normalize the vectors
    (so Euclidean k-means ≈ cosine clustering), train
    ``pyspark.ml.clustering.KMeans`` with a fixed seed, return the centers.

    The model is a tiny driver-side artifact (n_cells × dim floats — a
    hyperparameter, not data); training is a handful of distributed passes
    over the corpus. At 100 TB train on a hash-sample (a few million rows
    bounds centroid noise) rather than the full corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    norm = F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    feats = v.select(
        array_to_vector(F.transform("v", lambda x: x / norm)).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feats)
    return [list(c) for c in model.clusterCenters()]


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into `n_cells` cells, probe
    the query's `n_probe` nearest cells, exact re-rank inside them.

    Centroids come from the k-means quantizer (``train_ivf_centroids``)
    unless passed in. The centroid table is tiny and becomes literal
    expressions, so cell assignment is a per-row scan-side computation; the
    only join is corpus⋈queries on cell id — cost ∝ corpus·n_probe/n_cells
    per query instead of corpus."""
    v = _vectors(corpus, id_col, vec_col, "cid", "cv")
    cents = centroids if centroids is not None else train_ivf_centroids(
        corpus, n_cells, vec_col
    )

    def top_cells(vec: str, n: int) -> F.Column:
        sims = ", ".join(
            f"named_struct('sim', {_cosine(vec, cvec)}, 'cell', {ci})"
            for ci, cvec in enumerate(
                f"array({', '.join(sql_double(x) for x in cent)})" for cent in cents
            )
        )
        return F.expr(f"transform(slice(reverse(array_sort(array({sims}))), 1, {n}), s -> s.cell)")

    c = v.withColumn("cell", top_cells("cv", 1)[0])
    q = _vectors(queries, id_col, vec_col, "qid", "qv").withColumn(
        "cell", F.explode(top_cells("qv", n_probe))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter("qid != cid")
        .selectExpr("qid", "cid", f"{_cosine('qv', 'cv')} AS cosine")
    )
    return _topk_by_cosine(scored, k)


def medoid_cells(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic hash-seeded medoid "centroids": the ``n_cells`` corpus
    vectors with the smallest md5(id) — coarse cells derived purely from
    content, no trained model, so cell assignment is replicable in plain
    SQL (the k-means quantizer in ``train_ivf_centroids`` remains the
    recall-tuned production path; this is its oracle-friendly twin).

    Returns (cell, mid, mv) with cell = 0..n_cells-1 in md5 order. The
    md5 keys are uniform, so the medoids are an unbiased sample of the
    corpus — the same justification as hash-sampling. orderBy+limit
    compiles to TakeOrderedAndProject (distributed top-k, no full sort);
    the row_number window runs over the already-limited n_cells rows."""
    med = (
        _vectors(corpus, id_col, vec_col, "mid", "mv")
        .withColumn("__mk", F.expr("md5(CAST(mid AS STRING))"))
        .orderBy("__mk", "mid")
        .limit(n_cells)
    )
    return med.withColumn(
        "cell", F.expr("CAST(row_number() OVER (ORDER BY __mk, mid) - 1 AS INT)")
    ).drop("__mk")


def _nearest_medoid_cells(
    vframe: DataFrame, med: DataFrame, id_name: str, n: int
) -> DataFrame:
    """(id, cell) — the ``n`` medoid cells nearest by cosine, cell-asc
    tiebreak. The medoid frame is tiny and broadcast; the cosine doubles
    are sequential left-fold sums, bit-identical across engines (the
    similarity_topk_brute-verified property), so the argmin is too."""
    sims = vframe.crossJoin(F.broadcast(med)).selectExpr(
        id_name, "cell", f"{_cosine('__v', 'mv')} AS __csim"
    )
    rank = f"row_number() OVER (PARTITION BY {id_name} ORDER BY __csim DESC, cell ASC)"
    return (
        sims.withColumn("__crnk", F.expr(rank))
        .filter(f"__crnk <= {int(n)}")
        .select(id_name, "cell")
    )


def cosine_topk_ivf_medoid(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with deterministic hash-seeded medoid cells (round 5): the
    same inverted-file shape as ``cosine_topk_ivf`` — coarse-assign the
    corpus to its nearest cell, probe each query's ``n_probe`` nearest
    cells, exact re-rank inside them — but with ``medoid_cells`` as the
    quantizer, so every step (cell choice, assignment, ranking) is a pure
    function of the data and the plan carries a full DuckDB value-hash
    oracle. Returns (qid, cid, cosine, rnk).

    Scale shape is unchanged: the cell table is broadcast, assignment is a
    scan-side computation, and the only wide join is corpus⋈queries on
    cell id — cost ∝ corpus·n_probe/n_cells per query."""
    c = _vectors(corpus, id_col, vec_col, "cid", "__v")
    q = _vectors(queries, id_col, vec_col, "qid", "__v")
    med = medoid_cells(corpus, n_cells, id_col, vec_col)
    c_cell = _nearest_medoid_cells(c, med, "cid", 1)
    q_cell = _nearest_medoid_cells(q, med, "qid", n_probe)
    cand = (
        c.withColumnRenamed("__v", "cv")
        .join(c_cell, "cid")
        .join(
            F.broadcast(q.withColumnRenamed("__v", "qv").join(q_cell, "qid")),
            "cell",
        )
        .filter("qid != cid")
    )
    scored = cand.selectExpr("qid", "cid", f"{_cosine('qv', 'cv')} AS cosine")
    return _topk_by_cosine(scored, k)


def rademacher_sign(table: int, bit: int, dim_idx: int) -> int:
    """Deterministic ±1 hyperplane component: the low bit of
    md5("table:bit:dim") — plain Python, so the SAME constants can be
    embedded as literals in the Spark plan and in the SQL oracle."""
    return 1 if hashlib.md5(f"{table}:{bit}:{dim_idx}".encode()).digest()[0] & 1 else -1


def hyperplane_buckets(
    df: DataFrame,
    id_out: str,
    n_tables: int = 2,
    n_bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_idx, bucket) — one row per LSH table.

    Bit j of table t = sign(Σ_i q(v_i)·s_{t,j,i}) where q quantizes to
    integer microunits (round(x·1e6) — the identical int64 on any engine)
    and s is the fixed Rademacher ±1 matrix. The per-bit sums are grouped
    integer aggregates over posexploded dimensions: whole-stage codegen,
    map-side partials, only (id, tables×bits longs) reach the shuffle —
    the minhash pattern, NOT interpreted per-row HOFs."""
    base = (
        df.select(
            F.col(id_col).alias(id_out),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("__dim", "__x"),
        )
        .filter(F.col("__dim") < dim)
        .withColumn("__xq", F.round(F.col("__x") * 1_000_000).cast("long"))
    )
    aggs = []
    for t in range(n_tables):
        for j in range(n_bits):
            signs = F.array(*[F.lit(rademacher_sign(t, j, i)) for i in range(dim)])
            aggs.append(
                F.sum(F.col("__xq") * F.element_at(signs, F.col("__dim") + 1)).alias(
                    f"__d{t}_{j}"
                )
            )
    sums = base.groupBy(id_out).agg(*aggs)
    buckets = []
    for t in range(n_tables):
        b: F.Column | None = None
        for j in range(n_bits):
            bit = F.when(F.col(f"__d{t}_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            b = bit if b is None else b.bitwiseOR(bit)
        buckets.append(b)
    return sums.select(
        id_out, F.posexplode(F.array(*buckets)).alias("table_idx", "bucket")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 2,
    n_bits: int = 8,
    dim: int = 64,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: bucket corpus and queries by Rademacher-hyperplane
    signatures in `n_tables` independent tables, union candidates, exact
    re-rank. Recall < 1 by design; the bucket join replaces the brute
    cross join, so per-query cost scales with corpus·tables·probes/2^bits.

    Recall hardening: independent tables (any table can recover a
    neighbor) and Hamming-1 multi-probe (the query also probes the n_bits
    buckets one bit-flip away — the standard trade of query fan-out for
    table count). Signatures are integer-exact, so the whole pipeline is
    engine-deterministic and oracle-verifiable."""
    c = _vectors(corpus, id_col, vec_col, "cid", "cv")
    q = _vectors(queries, id_col, vec_col, "qid", "qv")
    cb = hyperplane_buckets(corpus, "cid", n_tables, n_bits, dim, id_col, vec_col)
    qb = hyperplane_buckets(queries, "qid", n_tables, n_bits, dim, id_col, vec_col)
    masks = [0] + ([1 << j for j in range(n_bits)] if multiprobe else [])
    probes = qb.select(
        "qid",
        "table_idx",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    cands = (
        cb.join(F.broadcast(probes), ["table_idx", "bucket"])
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )
    scored = (
        cands.join(c, "cid")
        .join(F.broadcast(q), "qid")
        .selectExpr("qid", "cid", f"{_cosine('qv', 'cv')} AS cosine")
    )
    return _topk_by_cosine(scored, k)


def embedding_dedup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 2,
    n_bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic near-dup pairs at scale: hyperplane-LSH-blocked candidate
    generation (corpus self-join on (table, bucket), id_a < id_b), exact
    cosine verify at ``threshold``. The scale-path replacement for the
    O(n²) ``cosine_near_dup_pairs`` — cost ∝ Σ bucket_size², never
    corpus², and the signatures are integer-exact (md5-derived ±1 signs ×
    quantized dims), so the whole pipeline is engine-deterministic and
    oracle-verifiable. Recall < 1 by design (a pair split by every table's
    hyperplanes is missed); tables trade cost for recall exactly as in
    ``cosine_topk_lsh``."""
    b = hyperplane_buckets(corpus, "id", n_tables, n_bits, dim, id_col, vec_col)
    a = b.withColumnsRenamed({"id": "id_a"})
    bb = b.withColumnsRenamed({"id": "id_b"})
    cand = (
        a.join(bb, ["table_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    v = _vectors(corpus, id_col, vec_col, "id", "v")
    scored = (
        cand.join(v.withColumnsRenamed({"id": "id_a", "v": "va"}), "id_a")
        .join(v.withColumnsRenamed({"id": "id_b", "v": "vb"}), "id_b")
        .withColumn("cosine", F.expr(_cosine("va", "vb")))
    )
    return scored.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving format
    for embedding tables at scale (4× smaller than float32, SIMD-friendly
    dot products downstream). scale = max|x| / 127 per vector; q_i =
    round_half_even(x_i / scale), so every q fits [-127, 127].

    Returns (id_col, scale, q_sum, q_min, q_max, max_abs_err) where
    max_abs_err = max_i |x_i − q_i·scale| is the reconstruction error —
    the quantization-quality audit column.

    Shape: posexplode the dimensions once, take the per-vector max with a
    WINDOW over the same partition key (one shuffle total — no
    groupBy-then-rejoin second exchange), re-aggregate. All integer/double
    arithmetic on codegen'd built-ins; max is order-independent, and the
    only sum is over exact integers — bit-identical on any engine or
    partitioning (dsum-style determinism without the decimal detour).
    """
    e = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
    )
    w = Window.partitionBy("id")
    amax = F.max(F.abs(F.col("x"))).over(w)
    scale = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / 127.0)
    q = F.bround(F.col("x") / scale).cast("long")
    return (
        e.select("id", "x", scale.alias("scale"), q.alias("q"))
        .groupBy("id", "scale")
        .agg(
            F.sum("q").alias("q_sum"),
            F.min("q").alias("q_min"),
            F.max("q").alias("q_max"),
            F.max(F.abs(F.col("x") - F.col("q") * F.col("scale"))).alias("max_abs_err"),
        )
        .select(
            F.col("id").alias(id_col),
            "scale",
            "q_sum",
            "q_min",
            "q_max",
            "max_abs_err",
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_segments: int = 8,
    seg_dim: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): vectors are split
    into ``n_segments`` sub-vectors, each encoded as the index of its
    nearest codeword, and query-to-vector distance is approximated by the
    asymmetric distance (ADC) — the sum of per-segment query→codeword
    distances looked up by the corpus vector's codes. Memory per vector
    collapses from d floats to n_segments bytes, which is what makes
    billion-vector indexes fit in RAM.

    Codebooks here are hash-anchored sample codebooks (the ``n_codes``
    corpus vectors with the lowest md5(id) donate their sub-vectors),
    mirroring `cosine_topk_ivf_medoid`'s determinism contract: no
    iterative training, so encoding — and therefore the whole result —
    is bit-identical across engines and partitionings, and the operator
    carries a full value-hash oracle. (A k-means-trained codebook drops
    in exactly like `train_ivf_centroids` does for IVF; the plan shape
    below is unchanged.)

    Plan shape: the codebook is a broadcast of n_segments × n_codes
    sub-vectors; encoding is corpus ⋈ broadcast → per-segment
    struct-min (deterministic (distance, code) tie-break); scoring joins
    the corpus code rows to the query ADC rows on (segment, code) — both
    sides code-grain, never vector×vector — and the final per-(query,
    vector) sum pivots segments to columns so the 8-term double addition
    has ONE fixed evaluation order. Every distance is a fixed
    left-associated expression over float→double-cast elements.
    At scale: encode once at ingest (the codes table is the index),
    re-rank the ADC top-k with exact cosine as `cosine_topk_lsh` does."""
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    corp = corpus.select(F.col(id_col).alias("cid"), dv.alias("v"))
    q = queries.select(F.col(id_col).alias("qid"), dv.alias("qv"))

    # TakeOrderedAndProject for the anchor pick (the medoid_cells idiom —
    # no corpus-grain single-partition window); the row_number window
    # runs over the already-limited n_codes rows
    picked = (
        corpus.select(F.col(id_col).alias("aid"), dv.alias("av"))
        .withColumn("__ak", F.md5(F.col("aid").cast("string")))
        .orderBy("__ak", "aid")
        .limit(n_codes)
    )
    w_anchor = Window.orderBy("__ak", "aid")
    anchors = picked.select(
        (F.row_number().over(w_anchor) - 1).alias("code"), "av"
    )

    def seg_dist(vcol: str, s: int):
        # squared terms via self-multiplication, NOT ``** 2`` — power()
        # routes through pow(), which is not guaranteed bit-identical
        # across engines (the sqrt-vs-pow rule from functions/core)
        d = None
        for j in range(1, seg_dim + 1):
            idx = s * seg_dim + j
            diff = F.element_at(F.col(vcol), idx) - F.element_at(F.col("av"), idx)
            term = diff * diff
            d = term if d is None else d + term
        return d

    def encode(side: DataFrame, idname: str, vcol: str) -> DataFrame:
        """(id, s, code[, dist]) — nearest codeword per segment."""
        joined = side.crossJoin(F.broadcast(anchors))
        per_seg = []
        for s in range(n_segments):
            per_seg.append(
                joined.groupBy(idname)
                .agg(F.min(F.struct(seg_dist(vcol, s).alias("d"), F.col("code"))).alias("m"))
                .select(
                    idname,
                    F.lit(s).alias("s"),
                    F.col("m.code").alias("code"),
                    F.col("m.d").alias("dist"),
                )
            )
        out = per_seg[0]
        for p in per_seg[1:]:
            out = out.unionByName(p)
        return out

    corpus_codes = encode(corp, "cid", "v").select("cid", "s", "code")
    # query ADC table: distance from each query to EVERY codeword/segment
    qj = q.crossJoin(F.broadcast(anchors))
    adc_parts = []
    for s in range(n_segments):
        adc_parts.append(
            qj.select(
                "qid", F.lit(s).alias("s"), "code", seg_dist("qv", s).alias("dist")
            )
        )
    adc = adc_parts[0]
    for p in adc_parts[1:]:
        adc = adc.unionByName(p)

    pairs = corpus_codes.join(F.broadcast(adc), ["s", "code"])
    pivot = pairs.groupBy("qid", "cid").agg(
        *[
            F.sum(F.when(F.col("s") == s, F.col("dist"))).alias(f"d{s}")
            for s in range(n_segments)
        ]
    )
    score = None
    for s in range(n_segments):
        score = F.col(f"d{s}") if score is None else score + F.col(f"d{s}")
    w = Window.partitionBy("qid").orderBy(F.col("adc_dist").asc(), F.col("cid").asc())
    return (
        pivot.select("qid", "cid", score.alias("adc_dist"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def maxsim_topk(
    corpus_tokens: DataFrame,
    query_tokens: DataFrame,
    n_query_tokens: int,
    k: int = 3,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ColBERT-style LATE-INTERACTION retrieval: documents and queries are
    bags of token-level vectors, and the relevance of document d to query
    q is MaxSim — for each query token, the best cosine against ANY of
    d's tokens, summed over q's tokens. This keeps token-level matching
    (which single-vector retrieval collapses away) while staying
    embarrassingly parallel: the corpus token table is scanned once,
    queries are broadcast.

    ``corpus_tokens``: (doc, tp, v); ``query_tokens``: (qdoc, qtp, qv)
    with array<double> vectors and qtp in [0, n_query_tokens). Returns
    (qdoc, doc, score, rnk), top ``k`` docs per query by (score desc,
    doc asc).

    Engine-exactness: the per-(query-token, doc) max is order-independent
    (no FP reassociation), and the final score sums the FIXED
    n_query_tokens per-token maxima as pivoted columns in one
    left-associated chain — the same double-addition discipline as the
    PQ ADC pivot, so a SQL oracle reproduces it bit for bit.

    One shuffle: the (qdoc, doc) grouped aggregation with map-side
    combine; the scored cross product never materializes past it. Top-k
    is a per-query row_number with WindowGroupLimit pre-filtering. At
    100 TB the yardstick form below stays |Q_tokens| x corpus-tokens
    bounded (queries broadcast); the production composition restricts
    candidate docs first via the prebuilt single-vector IVF index
    (operators/ann_index.py) and exact-MaxSims only the candidates —
    the same restrict-then-rerank shape as ivfpq_rerank.

    ``candidates`` is that restriction: a (qdoc, doc) frame limiting
    which pairs are scored (the per-query candidate set from a
    token-grain ANN probe — late_interaction_maxsim_pruned composes
    it). Candidate pairs are |Q|-bounded and broadcast, so the corpus
    token scan stays the only data-sized input."""
    from funnel_report_etl_pipeline__spark.functions.hints import spread_scan

    # Round-14 (guide §1.2 "per-task work" + §2.5 input skew): norms are
    # per-TOKEN quantities, so compute each side's norm ONCE per token
    # row before the cross join instead of once per scored PAIR — the
    # identical sqrt(left-fold) expression over the identical values, so
    # every double is bit-for-bit the same, but the per-pair work drops
    # from (dot + 2 norms) to (dot + 1 multiply + 1 divide), ~3× less.
    ctoks = corpus_tokens.withColumn("__vn", F.expr(_norm("v")))
    qtoks = query_tokens.withColumn("__qn", F.expr(_norm("qv")))
    if candidates is not None:
        # Round-15 (round-14 verdict Next #4): NO spread_scan here. The
        # candidate path's per-pair work is bounded by the |Q|-sized
        # broadcast candidate set, so the injected repartition was pure
        # shuffle + planning overhead (driver bench: 1.8 s → 4.6 s at 32
        # cores, 0.26 scaling ratio — faster on 8 cores than 32).
        base = ctoks.join(F.broadcast(candidates), "doc").join(
            F.broadcast(qtoks), "qdoc"
        )
    else:
        # spread_scan parallelizes the corpus-token side of the brute
        # cross-product compute on a small-file local scan and is a
        # no-op on a cluster-scale scan (kept only where the per-row
        # compute is corpus×|Q|-sized; A/B: unpruned maxsim improved
        # 1.15x with it in round 14).
        base = spread_scan(ctoks, "doc").crossJoin(F.broadcast(qtoks))
    pairs = (
        base.filter(F.col("qdoc") != F.col("doc"))
        .select(
            "qdoc",
            "doc",
            "qtp",
            F.expr(f"{_dot('qv', 'v')} / (__qn * __vn)").alias("s"),
        )
    )
    piv = pairs.groupBy("qdoc", "doc").agg(
        *[
            F.max(F.when(F.col("qtp") == t, F.col("s"))).alias(f"m{t}")
            for t in range(n_query_tokens)
        ]
    )
    # a query with fewer than n_query_tokens tokens leaves NULL pivot
    # slots; coalesce to 0 so the score sums its EXISTING tokens instead
    # of NULL-poisoning the chain (null-ordering semantics then differ
    # per engine)
    score = None
    for t in range(n_query_tokens):
        term = F.coalesce(F.col(f"m{t}"), F.lit(0.0))
        score = term if score is None else score + term
    w = Window.partitionBy("qdoc").orderBy(F.col("score").desc(), F.col("doc").asc())
    return (
        piv.select("qdoc", "doc", score.alias("score"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )
