"""Persistent ANN indexes: build once, save as parquet tables, serve many.

An ANN index outlives the queries it serves: a corpus builds it once (a
full-corpus pass) and serves many top-k lookups against the saved
artifact. This module gives both ANN families that lifecycle:

* **IVF (medoid quantizer)** — ``build_ivf_medoid_index`` persists the
  cell table (cell → medoid vector) AND the corpus cell assignments
  (id → cell) as parquet; ``cosine_topk_ivf_prebuilt`` serves top-k from
  the saved tables, touching corpus vectors only inside probed cells.
* **PQ (hash-anchored codebooks)** — ``build_pq_index`` persists the
  codebook (code → anchor vector) AND the corpus code table
  (id, segment, code) — n_segments bytes/vector, the billion-scale
  memory shape; ``pq_topk_prebuilt`` computes only the query-side ADC
  table and joins the SAVED codes, never re-encoding the corpus.

Both quantizers are the deterministic (hash-seeded) family, so a loaded
index serves answers BIT-IDENTICAL to the fresh-build operators
(pinned in tests/test_ann_index.py), and the registered queries carry
full DuckDB value-hash oracles like their fresh-build siblings.

Scale posture: every saved table is keyed by the corpus id (assignments,
codes) or is architecturally tiny (cells: n_cells rows; codebook:
n_codes rows — broadcast at serve time). Serving shuffles only the
candidate set (corpus ∩ probed cells, or code-grain ADC joins), never
the corpus².

Lifecycle: every ``ensure_*`` here and in ``dedup_index`` goes through
one of two paths. ``_ensure`` serves the saved index when ``_Staleness``
finds its meta current — every build parameter plus a content signature
(row count + order-independent id checksum) of the corpus — and
otherwise builds into a temp directory and renames it in, so
concurrent/repeated builders converge on one artifact.
``_ensure_versioned`` maintains an index over a versioned table from
the table's change feed. The meta is a one-row table written and read
locally (``sources.sinks._write_meta`` / ``_read_meta``, no Spark job);
an absent or unfinished meta means build, a corrupt one raises.
Artifacts are read footer-pinned through ``sources.sinks._read_dir``.

Reference parity note: the reference engine (report_engine.py,
run_reports.py) has no ANN surface — this is beyond-reference
LLM-pipeline capability per the round brief.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from funnel_report_etl_pipeline__spark.operators.similarity import (
    _cosine,
    _nearest_medoid_cells,
    _topk_by_cosine,
    _vectors,
    medoid_cells,
)
from funnel_report_etl_pipeline__spark.sources.sinks import (
    _count_and_checksum,
    _read_dir,
    _read_manifest_dir,
    _read_meta,
    _write_meta,
    read_versioned,
    table_versions,
    version_changes,
)

__all__ = [
    "corpus_signature",
    "build_ivf_medoid_index",
    "ensure_ivf_medoid_index",
    "ensure_ivf_index_versioned",
    "cosine_topk_ivf_prebuilt",
    "build_pq_index",
    "ensure_pq_index",
    "pq_topk_prebuilt",
    "ivfpq_topk_prebuilt",
    "ivfpq_rerank_topk_prebuilt",
    "build_ivfpq_residual_index",
    "ensure_ivfpq_residual_index",
    "ensure_ivfpq_residual_index_versioned",
    "ivfpq_residual_topk_prebuilt",
]


def corpus_signature(corpus: DataFrame, id_col: str) -> tuple[int, int]:
    """(n_rows, checksum): order-independent content signature of the
    indexed id set — the BIGINT sum of each id's 32-bit md5 prefix, the
    same attestation ``write_training_shards`` manifests carry. Detects
    a changed/grown corpus behind a saved index without reading vectors."""
    return _count_and_checksum(corpus, id_col)


# ---------------------------------------------------------------------------
# Index lifecycle (shared by every ensure_* here and in dedup_index)
# ---------------------------------------------------------------------------


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, "meta.parquet")


class _Staleness:
    """Whether a saved index's meta is current for ``corpus``: every
    build parameter in ``params`` equals the meta's (metas store
    strings), and the meta's signature (``count_key`` rows and
    ``corpus_sig``) equals the corpus's. The signature is computed at
    most once, and only for a meta whose parameters match."""

    def __init__(self, corpus: DataFrame, params: dict, count_key: str = "n_vectors"):
        self.corpus, self.params, self.count_key = corpus, params, count_key
        self._sig: tuple[int, int] | None = None

    def params_match(self, meta: dict) -> bool:
        return all(str(meta.get(k)) == str(v) for k, v in self.params.items())

    def signature(self) -> tuple[int, int]:
        if self._sig is None:
            self._sig = corpus_signature(self.corpus, self.params["id_col"])
        return self._sig

    def __call__(self, meta: dict) -> bool:
        if not self.params_match(meta):
            return False
        n, sig = self.signature()
        return int(meta[self.count_key]) == n and int(meta["corpus_sig"]) == sig


def _install_index(tmp_dir: str, out_dir: str, is_current) -> dict:
    """Install the index built in ``tmp_dir`` at ``out_dir`` and return
    the meta of the index served there. Three cases:

    * ``out_dir`` absent → one ``os.rename`` (atomic on one filesystem);
    * ``out_dir`` present and current (``is_current(meta)``) → a
      concurrent builder of the same deterministic index won the rename
      race: the tmp build is discarded and the served directory is left
      untouched (builds never write into the served path, so a parallel
      ensure never reads a half-written build);
    * ``out_dir`` present and stale, or its meta write never finished →
      swap: rename the old index away, rename tmp in, delete the old one.

    A committed meta that cannot be read raises (`_read_meta`). A reader
    mid-swap or two concurrent swappers need a lock or versioned
    directories — out of scope for a single-writer daily job; the
    deterministic-content property makes any rename winner correct."""
    meta_path = _meta_path(out_dir)
    try:
        os.rename(tmp_dir, out_dir)
    except OSError:
        existing = _read_meta(meta_path)
        if existing is not None and is_current(existing):
            shutil.rmtree(tmp_dir, ignore_errors=True)
            return existing
        old = f"{out_dir}.old.{os.getpid()}"
        os.rename(out_dir, old)
        os.rename(tmp_dir, out_dir)
        shutil.rmtree(old, ignore_errors=True)
    return _read_meta(meta_path)


def _ensure(
    corpus: DataFrame,
    out_dir: str,
    params: dict,
    build: Callable[[DataFrame, str], dict],
) -> dict:
    """Serve the index at ``out_dir`` when its meta is current for
    ``corpus`` (`_Staleness` over ``params``); otherwise
    ``build(corpus, tmp_dir)`` into a private temp directory and install
    it (`_install_index`), so a concurrent builder or a crash mid-build
    never leaves a half-written index in the served path. Returns the
    served meta."""
    current = _Staleness(corpus, params)
    meta = _read_meta(_meta_path(out_dir))
    if meta is not None and current(meta):
        return meta
    tmp = f"{out_dir}.build.{os.getpid()}"
    build(corpus, tmp)
    return _install_index(tmp, out_dir, current)


def _mask_path(index_dir: str) -> str:
    return os.path.join(index_dir, "deleted.parquet")


def _read_mask(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The index's tombstone mask (one column ``cid``): ids still
    present in the saved artifacts but deleted from the corpus. None
    when the index has no masked deletes. A full rebuild installs a
    fresh directory, so the mask disappears with the stale rows."""
    p = _mask_path(index_dir)
    if not os.path.exists(p):
        return None
    return _read_dir(spark, p).select("cid")


def _live_assignments(spark: SparkSession, index_dir: str) -> DataFrame:
    """The saved IVF assignments with tombstone-masked ids removed — the
    serve-time anti-join that makes deletes O(deleted) instead of an
    O(corpus) re-encode. No forced broadcast: the mask may legally grow
    to ``max_dead_fraction`` of the corpus before the rebuild trigger, so
    the join strategy is left to the size-gated planner — a small mask
    still broadcasts under the session threshold, a near-trigger one
    degrades to a shuffled join instead of an OOM."""
    assign = _read_dir(spark, os.path.join(index_dir, "assignments.parquet"))
    mask = _read_mask(spark, index_dir)
    if mask is None:
        return assign
    return assign.join(mask.distinct(), "cid", "left_anti")


def _readded_masked_id(
    spark: SparkSession, index_dir: str, new_ids: DataFrame, id_col: str
) -> bool:
    """True when any inserted id is currently tombstone-masked."""
    mask = _read_mask(spark, index_dir)
    if mask is None:
        return False
    return (
        new_ids.join(
            mask.withColumnRenamed("cid", id_col).distinct(), id_col, "semi"
        ).limit(1).count()
        > 0
    )


def _append_delete_mask(
    spark: SparkSession,
    index_dir: str,
    deleted: DataFrame,
    n_live: int,
    max_dead_fraction: float,
) -> int | None:
    """Append ``deleted`` (one column ``cid``) to the index's tombstone
    mask, crash-idempotently: the append anti-joins ids already masked,
    and the returned count is re-read FROM THE FILES so the meta
    attests disk state even after a crashed earlier append. Returns the
    new mask size, or None when the projected dead fraction exceeds
    ``max_dead_fraction`` (nothing written — the caller rebuilds)."""
    mask = _read_mask(spark, index_dir)
    mask_total = (
        deleted if mask is None else mask.distinct().unionByName(deleted).distinct()
    )
    n_masked = mask_total.count()
    if n_masked / max(1, n_live + n_masked) > max_dead_fraction:
        return None
    to_add = (
        deleted if mask is None else deleted.join(mask.distinct(), "cid", "left_anti")
    )
    to_add.write.mode("overwrite" if mask is None else "append").parquet(
        _mask_path(index_dir)
    )
    return _read_dir(spark, _mask_path(index_dir)).distinct().count()


def _ensure_versioned(
    spark: SparkSession,
    table_dir: str,
    out_dir: str,
    params: dict,
    build: Callable[[DataFrame, str], dict],
    encode_inserts: Callable[[DataFrame, DataFrame], None],
    rails_hold: Callable[[DataFrame, dict, tuple[int, int]], bool] | None = None,
    max_dead_fraction: float = 0.5,
    count_key: str = "n_vectors",
) -> dict:
    """Maintain the index at ``out_dir`` over the versioned table at
    ``table_dir`` (sources/sinks.py). Returns the meta plus
    ``maintenance`` ∈ {'current', 'incremental', 'masked', 'churn',
    'rebuilt'} (not persisted). The meta's ``indexed_version`` is the
    table version the index attests.

    * **current** — the meta passes `_Staleness` (every build parameter
      and the corpus signature) and its ledger is the head. A current
      index without a ledger (built by a plain ``ensure_*``) gets the
      head stamped instead of a bit-identical rebuild. The signature is
      membership-only, so a current index whose ledger lags the head
      still reads the span: payload rewrites are invisible to it.
    * **restamp** — a span whose change feed is empty (compaction,
      no-op recommits) changes nothing: the head is stamped, 'current'.
    * **in place** — a span of only inserts and deletes is applied in
      one pass: deletes append to the tombstone mask ``deleted.parquet``
      (O(deleted); every serve path anti-joins it) and
      ``encode_inserts(corpus, new_ids)`` appends the inserts'
      encodings (O(inserted)) — 'masked', 'incremental' or 'churn'. Its
      rails keep the maintained index equal to a fresh build on the
      live corpus; a failing one rebuilds:
        - no inserted id is masked (its stale rows cannot be replaced
          in place — parquet is immutable);
        - every deleted id is fully gone from the head (a net delete of
          one duplicate row keeps the id live; masking it would hide a
          live row);
        - ``rails_hold(corpus, meta, signature)``, the family's own
          (quantizer drift, crash debris);
        - the mask stays within ``max_dead_fraction`` of scanned rows
          (the compaction policy's trigger).
    * **rebuilt** — anything else (first build, changed parameters, an
      update in the span, a failed rail): ``build(corpus, tmp_dir)``,
      installed by rename, so the mask goes with the old directory. The
      install-race check is version-aware: the membership-only
      signature alone would take a stale index over the same ids for
      current and discard the fresh build.

    Crash-idempotent: encoders and the mask append anti-join rows
    already on disk, the mask size is re-read from the files, and the
    meta write is last."""
    head = table_versions(spark, table_dir)[-1]
    corpus = read_versioned(spark, table_dir, head)
    meta_path = _meta_path(out_dir)
    meta = _read_meta(meta_path)
    current = _Staleness(corpus, params, count_key)
    id_col = params["id_col"]

    def stamp(m: dict, label: str) -> dict:
        m = {**m, "indexed_version": head}
        _write_meta(meta_path, m)
        return {**m, "maintenance": label}

    def apply_span(ch: DataFrame, kinds: set) -> dict | None:
        inserts, deletes = "insert" in kinds, "delete" in kinds
        new_ids = ch.filter("_change_type = 'insert'").select(id_col)
        deleted = (
            ch.filter("_change_type = 'delete'")
            .select(F.col(id_col).alias("cid"))
            .distinct()
        )
        if inserts and _readded_masked_id(spark, out_dir, new_ids, id_col):
            return None
        if deletes and (
            corpus.select(F.col(id_col).alias("cid"))
            .join(deleted, "cid", "semi")
            .limit(1)
            .count()
            > 0
        ):
            return None
        n, sig = current.signature()
        if rails_hold is not None and not rails_hold(corpus, meta, (n, sig)):
            return None
        n_masked = int(meta.get("n_masked", 0) or 0)
        if deletes:
            n_masked = _append_delete_mask(spark, out_dir, deleted, n, max_dead_fraction)
            if n_masked is None:
                return None
        if inserts:
            encode_inserts(corpus, new_ids)
        label = "churn" if inserts and deletes else ("incremental" if inserts else "masked")
        return stamp({**meta, count_key: n, "corpus_sig": sig, "n_masked": n_masked}, label)

    if meta is not None and current(meta):
        if "indexed_version" not in meta:
            return stamp(meta, "current")
        if int(meta["indexed_version"]) == head:
            return {**meta, "maintenance": "current"}
    if (
        meta is not None
        and current.params_match(meta)
        and "indexed_version" in meta
        and int(meta["indexed_version"]) != head
    ):
        ch = version_changes(
            spark, table_dir, int(meta["indexed_version"]), head, id_col, detect_updates=True
        )
        kinds = {r["_change_type"] for r in ch.select("_change_type").distinct().collect()}
        if not kinds:
            return stamp(meta, "current")
        if kinds <= {"insert", "delete"}:
            applied = apply_span(ch, kinds)
            if applied is not None:
                return applied
    tmp = f"{out_dir}.build.{os.getpid()}"
    build(corpus, tmp)
    installed = _install_index(
        tmp,
        out_dir,
        lambda m: current(m) and str(m.get("indexed_version", "")) == str(head),
    )
    return stamp(installed, "rebuilt")


def _lowest_md5_ids(corpus: DataFrame, id_col: str, k: int, salt: str = "") -> str:
    """The ``k`` ids with the lowest md5(salt || id), comma-joined in
    that order: the id set a hash-anchored quantizer draws from (the IVF
    medoids unsalted, the residual anchors with salt ``res:``). One
    TakeOrderedAndProject over ids, no vector read."""
    rows = (
        corpus.selectExpr(
            f"`{id_col}` AS __id", f"md5(concat('{salt}', CAST(`{id_col}` AS STRING))) AS __k"
        )
        .orderBy("__k", "__id")
        .limit(k)
        .collect()
    )
    return ",".join(str(r["__id"]) for r in rows)


def _medoid_ids(ivf_dir: str) -> str:
    """The saved IVF index's medoid ids in cell order, comma-joined: the
    build identity every cell assignment and residual is relative to.
    The n_cells-row cell table is read locally, no Spark job."""
    cells = _read_manifest_dir(os.path.join(ivf_dir, "cells.parquet"))
    rows = sorted(cells.select(["cell", "mid"]).to_pylist(), key=lambda r: r["cell"])
    return ",".join(str(r["mid"]) for r in rows)


# ---------------------------------------------------------------------------
# IVF (medoid quantizer)
# ---------------------------------------------------------------------------


def _ivf_params(n_cells: int, id_col: str, vec_col: str) -> dict:
    return {"family": "ivf_medoid", "n_cells": n_cells, "id_col": id_col, "vec_col": vec_col}


def build_ivf_medoid_index(
    corpus: DataFrame,
    out_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build and persist the IVF index: ``cells.parquet`` (cell, mid, mv),
    ``assignments.parquet`` (cid, cell), ``meta.parquet`` (params +
    corpus signature). One corpus pass for medoids (TakeOrdered n_cells)
    + one for assignments (scan × broadcast cells). Returns the meta."""
    spark = corpus.sparkSession
    med = medoid_cells(corpus, n_cells, id_col, vec_col)
    med.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "cells.parquet"))
    spark.catalog.refreshByPath(os.path.join(out_dir, "cells.parquet"))
    saved_med = _read_dir(spark, os.path.join(out_dir, "cells.parquet"))
    c = _vectors(corpus, id_col, vec_col, "cid", "__v")
    assign = _nearest_medoid_cells(c, saved_med, "cid", 1)  # helper broadcasts
    assign.write.mode("overwrite").parquet(os.path.join(out_dir, "assignments.parquet"))
    n, sig = corpus_signature(corpus, id_col)
    meta = {**_ivf_params(n_cells, id_col, vec_col), "n_vectors": n, "corpus_sig": sig}
    _write_meta(_meta_path(out_dir), meta)
    return meta


def ensure_ivf_medoid_index(
    corpus: DataFrame,
    out_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Idempotent build (`_ensure`): the second run of a daily job reads
    the saved index instead of rewriting it."""
    return _ensure(
        corpus,
        out_dir,
        _ivf_params(n_cells, id_col, vec_col),
        lambda c, tmp: build_ivf_medoid_index(c, tmp, n_cells, id_col, vec_col),
    )


def ensure_ivf_index_versioned(
    spark: SparkSession,
    table_dir: str,
    out_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_dead_fraction: float = 0.5,
) -> dict:
    """Maintain an IVF index over a versioned corpus table
    (`_ensure_versioned`: ledger, mask, rails, rebuild). IVF assignment
    is per-vector, so inserts assign only the new vectors against the
    SAVED cells.

    Medoid-drift rail: the in-place path applies only when the n_cells
    lowest-md5 ids of the head corpus equal the saved cells' medoid ids.
    With the hash-anchored quantizer an unchanged medoid set makes the
    maintained index BIT-IDENTICAL to a fresh full build (pinned in
    tests/test_ann_index.py), while ANY medoid change (an inserted
    lower-md5 id, a deleted medoid) re-shapes every cell boundary, so
    the only correct response is a rebuild. The check is id-grain (a
    TakeOrdered over md5(id), no vector read)."""
    cells_path = os.path.join(out_dir, "cells.parquet")
    assign_path = os.path.join(out_dir, "assignments.parquet")

    def medoids_unchanged(corpus: DataFrame, meta: dict, signature) -> bool:
        return _lowest_md5_ids(corpus, id_col, n_cells) == _medoid_ids(out_dir)

    def encode_inserts(corpus: DataFrame, new_ids: DataFrame) -> None:
        newv = _vectors(corpus.join(new_ids, id_col, "semi"), id_col, vec_col, "cid", "__v")
        done = _read_dir(spark, assign_path).select("cid")
        _nearest_medoid_cells(newv, _read_dir(spark, cells_path), "cid", 1).join(
            done, "cid", "left_anti"
        ).write.mode("append").parquet(assign_path)

    return _ensure_versioned(
        spark,
        table_dir,
        out_dir,
        _ivf_params(n_cells, id_col, vec_col),
        lambda c, tmp: build_ivf_medoid_index(c, tmp, n_cells, id_col, vec_col),
        encode_inserts,
        medoids_unchanged,
        max_dead_fraction,
    )


def cosine_topk_ivf_prebuilt(
    corpus: DataFrame,
    queries: DataFrame,
    index_dir: str,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve IVF top-k from a SAVED index: load the cell table (tiny →
    broadcast) and the corpus assignments (id-grain parquet scan — the
    expensive quantization pass is NOT repeated), probe each query's
    ``n_probe`` nearest cells, exact re-rank inside them. Identical
    results to ``cosine_topk_ivf_medoid`` on the same corpus/params
    (pinned in tests) — the only difference is where the quantization
    came from."""
    spark = corpus.sparkSession
    med = _read_dir(spark, os.path.join(index_dir, "cells.parquet"))
    assign = _live_assignments(spark, index_dir)  # tombstone-masked deletes
    c = _vectors(corpus, id_col, vec_col, "cid", "cv")
    q = _vectors(queries, id_col, vec_col, "qid", "__v")
    q_cell = _nearest_medoid_cells(q, med, "qid", n_probe)  # helper broadcasts
    qv = q.withColumnRenamed("__v", "qv").join(q_cell, "qid")
    cand = c.join(assign, "cid").join(F.broadcast(qv), "cell").filter("qid != cid")
    scored = cand.selectExpr("qid", "cid", f"{_cosine('qv', 'cv')} AS cosine")
    return _topk_by_cosine(scored, k)


# ---------------------------------------------------------------------------
# PQ (hash-anchored codebooks)
# ---------------------------------------------------------------------------


def _pq_anchors(
    corpus: DataFrame, n_codes: int, id_col: str, vec_col: str
) -> DataFrame:
    """(code, av): the n_codes corpus vectors with the lowest md5(id) —
    the deterministic sample codebook ``pq_topk`` uses (one shared
    codebook across segments; each segment reads its own slice).
    orderBy+limit compiles to TakeOrderedAndProject (distributed top-k,
    no corpus-grain single-partition window — the medoid_cells idiom);
    the row_number window then runs over the already-limited rows."""
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    picked = (
        corpus.select(F.col(id_col).alias("aid"), dv.alias("av"))
        .withColumn("__ak", F.md5(F.col("aid").cast("string")))
        .orderBy("__ak", "aid")
        .limit(n_codes)
    )
    w_anchor = Window.orderBy("__ak", "aid")
    return picked.select(
        (F.row_number().over(w_anchor) - 1).alias("code"), "av"
    )


def _seg_dist(vcol: str, avcol: str, s: int, seg_dim: int) -> F.Column:
    """Fixed left-associated squared distance of segment ``s`` — self-
    multiplication, never pow() (the engine-exactness rule)."""
    d = None
    for j in range(1, seg_dim + 1):
        idx = s * seg_dim + j
        diff = F.element_at(F.col(vcol), idx) - F.element_at(F.col(avcol), idx)
        term = diff * diff
        d = term if d is None else d + term
    return d


def _seg_dists(vcol: str, avcol: str, n_segments: int, seg_dim: int) -> F.Column:
    """array<struct<s, dist>>: every segment's distance, to explode into
    one row per segment. One subtree — a union over segments
    re-inlined (and re-executed) its input once per segment."""
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                _seg_dist(vcol, avcol, s, seg_dim).alias("dist"),
            )
            for s in range(n_segments)
        ]
    )


def _adc(
    qj: DataFrame, vcol: str, avcol: str, n_segments: int, seg_dim: int,
    keys: tuple[str, ...] = ("qid",),
) -> DataFrame:
    """(*keys, s, code, dist): the query-side ADC table of ``qj`` (query
    rows × the codebook), one row per segment."""
    return qj.select(
        *keys, "code", F.explode(_seg_dists(vcol, avcol, n_segments, seg_dim)).alias("sd")
    ).select(*keys, F.col("sd.s").alias("s"), "code", F.col("sd.dist").alias("dist"))


def _adc_topk(pairs: DataFrame, n_segments: int, k: int) -> DataFrame:
    """(qid, cid, adc_dist, rnk) for each query's ``k`` nearest: the
    per-(qid, cid) segment distances pivot to columns and sum in ONE
    fixed double-addition order, exactly like ``pq_topk``."""
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


def _pq_params(
    n_segments: int, seg_dim: int, n_codes: int, id_col: str, vec_col: str
) -> dict:
    return {
        "family": "pq",
        "n_segments": n_segments,
        "seg_dim": seg_dim,
        "n_codes": n_codes,
        "id_col": id_col,
        "vec_col": vec_col,
    }


def build_pq_index(
    corpus: DataFrame,
    out_dir: str,
    n_segments: int = 8,
    seg_dim: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build and persist the PQ index: ``codebook.parquet`` (code, av)
    and ``codes.parquet`` (cid, s, code) — the n_segments-bytes-per-
    vector corpus representation, encoded ONCE here (corpus × broadcast
    codebook, per-segment struct-min) and never again at serve time."""
    spark = corpus.sparkSession
    anchors = _pq_anchors(corpus, n_codes, id_col, vec_col)
    anchors.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "codebook.parquet")
    )
    spark.catalog.refreshByPath(os.path.join(out_dir, "codebook.parquet"))
    saved = _read_dir(spark, os.path.join(out_dir, "codebook.parquet"))
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    corp = corpus.select(F.col(id_col).alias("cid"), dv.alias("v"))
    joined = corp.crossJoin(F.broadcast(saved))
    # ONE corpus pass: all n_segments struct-mins in a single grouped
    # aggregate, exploded to (cid, s, code)
    agg = joined.groupBy("cid").agg(
        *[
            F.min(
                F.struct(_seg_dist("v", "av", s, seg_dim).alias("d"), F.col("code"))
            ).alias(f"__m{s}")
            for s in range(n_segments)
        ]
    )
    codes = agg.select(
        "cid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"), F.col(f"__m{s}.code").alias("code")
                    )
                    for s in range(n_segments)
                ]
            )
        ).alias("__sc"),
    ).select("cid", F.col("__sc.s").alias("s"), F.col("__sc.code").alias("code"))
    codes.write.mode("overwrite").parquet(os.path.join(out_dir, "codes.parquet"))
    n, sig = corpus_signature(corpus, id_col)
    meta = {
        **_pq_params(n_segments, seg_dim, n_codes, id_col, vec_col),
        "n_vectors": n,
        "corpus_sig": sig,
    }
    _write_meta(_meta_path(out_dir), meta)
    return meta


def ensure_pq_index(
    corpus: DataFrame,
    out_dir: str,
    n_segments: int = 8,
    seg_dim: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Idempotent + concurrency-safe build (`_ensure`)."""
    return _ensure(
        corpus,
        out_dir,
        _pq_params(n_segments, seg_dim, n_codes, id_col, vec_col),
        lambda c, tmp: build_pq_index(c, tmp, n_segments, seg_dim, n_codes, id_col, vec_col),
    )


def pq_topk_prebuilt(
    queries: DataFrame,
    index_dir: str,
    k: int = 5,
    n_segments: int = 8,
    seg_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve PQ top-k from a SAVED index: the corpus never appears —
    only the saved code table (n_segments rows per corpus vector) and
    the broadcast codebook. The query side computes its ADC table
    (query → every codeword/segment distance, n_codes × n_segments rows
    per query) and joins the saved codes on (s, code); results are
    bit-identical to the fresh build (pinned in tests)."""
    spark = queries.sparkSession
    anchors = _read_dir(spark, os.path.join(index_dir, "codebook.parquet"))
    codes = _read_dir(spark, os.path.join(index_dir, "codes.parquet"))
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(F.col(id_col).alias("qid"), dv.alias("qv"))
    adc = _adc(q.crossJoin(F.broadcast(anchors)), "qv", "av", n_segments, seg_dim)
    pairs = codes.join(F.broadcast(adc), ["s", "code"])
    return _adc_topk(pairs, n_segments, k)


# ---------------------------------------------------------------------------
# IVF-PQ composed serving (both saved artifacts)
# ---------------------------------------------------------------------------


def ivfpq_topk_prebuilt(
    queries: DataFrame,
    ivf_dir: str,
    pq_dir: str,
    k: int = 5,
    n_probe: int = 2,
    n_segments: int = 8,
    seg_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the billion-scale serving shape, composed from the two
    saved artifacts. ``pq_topk_prebuilt`` alone is an ADC scan over ALL
    corpus codes (memory-right, compute ∝ |Q|·corpus); this restricts
    the ADC lookup to the corpus rows in each query's ``n_probe`` probed
    IVF cells, so compute drops to ∝ |Q|·corpus·n_probe/n_cells while
    the per-vector memory stays n_segments bytes. Corpus raw vectors are
    never read; the cells and codebook broadcast; the candidate join
    keys are (cell) then (s, code) — never vector×vector. Both
    quantizers are the deterministic hash-seeded family, so the
    composition carries a full value-hash oracle like its parents.
    Returns (qid, cid, adc_dist, rnk) over the probed-cell candidates."""
    spark = queries.sparkSession
    med = _read_dir(spark, os.path.join(ivf_dir, "cells.parquet"))
    assign = _live_assignments(spark, ivf_dir)  # tombstone-masked deletes
    anchors = _read_dir(spark, os.path.join(pq_dir, "codebook.parquet"))
    codes = _read_dir(spark, os.path.join(pq_dir, "codes.parquet"))
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(F.col(id_col).alias("qid"), dv.alias("qv"))
    q_cell = _nearest_medoid_cells(
        q.withColumnRenamed("qv", "__v"), med, "qid", n_probe
    )
    # candidate set: corpus ids inside the probed cells, per query
    cand = assign.join(F.broadcast(q_cell), "cell").select("qid", "cid")
    adc = _adc(q.crossJoin(F.broadcast(anchors)), "qv", "av", n_segments, seg_dim)
    pairs = (
        cand.filter(F.col("qid") != F.col("cid"))
        .join(codes, "cid")
        .join(F.broadcast(adc), ["qid", "s", "code"])
    )
    return _adc_topk(pairs, n_segments, k)


def ivfpq_rerank_topk_prebuilt(
    corpus: DataFrame,
    queries: DataFrame,
    ivf_dir: str,
    pq_dir: str,
    k: int = 5,
    m: int = 20,
    n_probe: int = 2,
    n_segments: int = 8,
    seg_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full production serving recipe: IVF cells restrict the
    candidate space, PQ codes rank it cheaply (ADC top-``m``), and only
    those m survivors per query are re-ranked by EXACT cosine over their
    raw vectors. The corpus vector table is touched for |Q|·m rows
    total — the join on the candidate ids is the only place full-width
    vectors leave the scan, which is what makes exact quality affordable
    at billion-vector scale (quantization error caps at the re-rank
    boundary instead of the answer). Returns (qid, cid, cosine, rnk)."""
    cand = ivfpq_topk_prebuilt(
        queries, ivf_dir, pq_dir, k=m, n_probe=n_probe,
        n_segments=n_segments, seg_dim=seg_dim, id_col=id_col, vec_col=vec_col,
    ).select("qid", "cid")
    c = _vectors(corpus, id_col, vec_col, "cid", "cv")
    q = _vectors(queries, id_col, vec_col, "qid", "qv")
    rer = (
        cand.join(c, "cid")
        .join(F.broadcast(q), "qid")
        .selectExpr("qid", "cid", f"{_cosine('qv', 'cv')} AS cosine")
    )
    return _topk_by_cosine(rer, k)


# ---------------------------------------------------------------------------
# Residual IVF-PQ (the production FAISS recipe: encode v − centroid)
# ---------------------------------------------------------------------------


def _residual(vcol: str, mvcol: str) -> F.Column:
    """Element-wise residual v − medoid as array<double> — one zip_with,
    fully codegen'd (DuckDB twin: list_transform over indexed
    subtraction; same double arithmetic either way)."""
    return F.zip_with(F.col(vcol), F.col(mvcol), lambda x, y: x - y)


def _residuals(vecs: DataFrame, assign: DataFrame, med: DataFrame) -> DataFrame:
    """(cid, cell, rv): each (cid, v) vector's residual against the
    medoid of its assigned cell."""
    return (
        vecs.join(assign, "cid")
        .join(F.broadcast(med.select("cell", "mv")), "cell")
        .select("cid", "cell", _residual("v", "mv").alias("rv"))
    )


def _residual_codes(
    res: DataFrame, codebook: DataFrame, n_segments: int, seg_dim: int
) -> DataFrame:
    """(cid, s, code): each residual's nearest codeword per segment, in
    ONE pass over the residuals (every segment's distance exploded per
    (cid, code) row, then a struct-min per (cid, s))."""
    return (
        res.crossJoin(F.broadcast(codebook))
        .select("cid", "code", F.explode(_seg_dists("rv", "ar", n_segments, seg_dim)).alias("sd"))
        .groupBy("cid", F.col("sd.s").alias("s"))
        .agg(F.min(F.struct(F.col("sd.dist").alias("d"), F.col("code"))).alias("m"))
        .select("cid", "s", F.col("m.code").alias("code"))
    )


def _residual_params(
    ivf_dir: str, n_segments: int, seg_dim: int, n_codes: int, id_col: str, vec_col: str
) -> dict:
    """The residual index's build parameters. ``codebook_salt`` is
    checked because unsalted builds are degenerate; ``medoid_ids``, the
    build identity of the IVF index at ``ivf_dir``, because every saved
    residual and code is relative to those cells."""
    return {
        "family": "ivfpq_residual",
        "codebook_salt": "res:",
        "n_segments": n_segments,
        "seg_dim": seg_dim,
        "n_codes": n_codes,
        "id_col": id_col,
        "vec_col": vec_col,
        "medoid_ids": _medoid_ids(ivf_dir),
    }


def build_ivfpq_residual_index(
    corpus: DataFrame,
    out_dir: str,
    ivf_dir: str,
    n_segments: int = 8,
    seg_dim: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build and persist the RESIDUAL PQ index over a saved IVF index:
    every corpus vector is encoded as PQ codes of its residual
    (v − medoid(cell)) instead of the raw vector — the production FAISS
    IVF-PQ recipe. The intuition: within a cell, vectors share the
    medoid's position, so the residuals occupy a much smaller ball than
    the raw corpus and the SAME code budget (n_segments bytes/vector)
    quantizes finer — ADC fidelity holds up as dims/cells grow. The
    codebook stays the deterministic hash-anchored family (the n_codes
    lowest-md5(id) vectors' RESIDUALS), so the whole index remains
    value-hash oracle-able in plain SQL.

    Persists ``codebook.parquet`` (code, ar), ``codes.parquet``
    (cid, s, code) and meta; requires ``ivf_dir`` to hold the matching
    IVF index (cells + assignments) — pass the same corpus to both
    ensure_* calls."""
    spark = corpus.sparkSession
    med = _read_dir(spark, os.path.join(ivf_dir, "cells.parquet"))
    assign = _read_dir(spark, os.path.join(ivf_dir, "assignments.parquet"))
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    corp = corpus.select(F.col(id_col).alias("cid"), dv.alias("v"))
    res = _residuals(corp, assign, med)
    # anchors: the n_codes lowest-md5(id) corpus vectors' RESIDUALS
    # (TakeOrderedAndProject pick, then the tiny join for their residuals)
    # SALTED anchor hash: the unsalted md5 order is what picks the IVF
    # medoids, so with n_codes == n_cells the anchors would BE the
    # medoids and every anchor residual would be the zero vector — a
    # degenerate all-zeros codebook whose ADC is constant per query.
    # The salt makes the anchor sample independent of the medoid sample
    # while staying deterministic and SQL-expressible.
    picked = (
        corp.select("cid")
        .withColumn(
            "__ak", F.md5(F.concat(F.lit("res:"), F.col("cid").cast("string")))
        )
        .orderBy("__ak", "cid")
        .limit(n_codes)
    )
    w_anchor = Window.orderBy("__ak", "cid")
    anchors = (
        picked.withColumn("code", (F.row_number().over(w_anchor) - 1).cast("int"))
        .join(res, "cid")
        .select("code", F.col("rv").alias("ar"))
    )
    anchors.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "codebook.parquet")
    )
    spark.catalog.refreshByPath(os.path.join(out_dir, "codebook.parquet"))
    saved = _read_dir(spark, os.path.join(out_dir, "codebook.parquet"))
    codes = _residual_codes(res, saved, n_segments, seg_dim)
    codes.write.mode("overwrite").parquet(os.path.join(out_dir, "codes.parquet"))
    n, sig = corpus_signature(corpus, id_col)
    meta = {
        **_residual_params(ivf_dir, n_segments, seg_dim, n_codes, id_col, vec_col),
        "n_vectors": n,
        "corpus_sig": sig,
        # the anchor pick rides in the meta for maintenance's drift rail:
        # the codebook stores residuals only
        "anchor_ids": _lowest_md5_ids(corp, "cid", n_codes, "res:"),
    }
    _write_meta(_meta_path(out_dir), meta)
    return meta


def ensure_ivfpq_residual_index(
    corpus: DataFrame,
    out_dir: str,
    ivf_dir: str,
    n_segments: int = 8,
    seg_dim: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Idempotent + concurrency-safe build (`_ensure`)."""
    return _ensure(
        corpus,
        out_dir,
        _residual_params(ivf_dir, n_segments, seg_dim, n_codes, id_col, vec_col),
        lambda c, tmp: build_ivfpq_residual_index(
            c, tmp, ivf_dir, n_segments, seg_dim, n_codes, id_col, vec_col
        ),
    )


def ensure_ivfpq_residual_index_versioned(
    spark: SparkSession,
    table_dir: str,
    out_dir: str,
    ivf_dir: str,
    n_segments: int = 8,
    seg_dim: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_dead_fraction: float = 0.5,
) -> dict:
    """Maintain the residual-PQ index over a versioned corpus table
    (`_ensure_versioned`) — the PQ half of `ensure_ivf_index_versioned`;
    run that FIRST with the same table so the new ids' cell assignments
    exist. PQ codes are per-vector, so inserts encode only the new
    vectors' residuals against the SAVED codebook. Deletes are masked in
    this index's own ``deleted.parquet`` purely as the re-add tripwire:
    serving already excludes them through the IVF assignments' mask.

    The IVF build identity (``medoid_ids``) is a build parameter, so a
    medoid-drift rebuild of the IVF half, which keeps the corpus
    signature current but changes EVERY residual, rebuilds this index.
    Family rails, any failing one rebuilds:
    * the IVF index is current for the head (its signature matches);
    * the anchor id set is unchanged: the meta's ``anchor_ids`` equal
      the head corpus's n_codes lowest salted-md5 ids (a deleted anchor
      re-shapes the codebook);
    * no PARTIAL cid in the saved codes: a crash mid-append can publish
      a subset of one cid's n_segments rows, and stray rows cannot be
      removed from parquet in place.
    Bit-equality of the maintained index vs a fresh full build is
    pinned in tests/test_ann_index.py."""
    codes_path = os.path.join(out_dir, "codes.parquet")

    def codes_per_cid() -> DataFrame:
        return _read_dir(spark, codes_path).groupBy("cid").agg(F.count("*").alias("__k"))

    def residual_rails_hold(corpus: DataFrame, meta: dict, signature) -> bool:
        ivf_meta = _read_meta(_meta_path(ivf_dir))
        return (
            ivf_meta is not None
            and (int(ivf_meta["n_vectors"]), int(ivf_meta["corpus_sig"])) == signature
            and meta.get("anchor_ids") == _lowest_md5_ids(corpus, id_col, n_codes, "res:")
            and codes_per_cid().filter(f"__k != {int(n_segments)}").count() == 0
        )

    def encode_inserts(corpus: DataFrame, new_ids: DataFrame) -> None:
        dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        newc = (
            corpus.join(new_ids, id_col, "semi")
            .select(F.col(id_col).alias("cid"), dv.alias("v"))
            .join(codes_per_cid().select("cid"), "cid", "left_anti")  # idempotence
        )
        res = _residuals(
            newc,
            _read_dir(spark, os.path.join(ivf_dir, "assignments.parquet")),
            _read_dir(spark, os.path.join(ivf_dir, "cells.parquet")),
        )
        codebook = _read_dir(spark, os.path.join(out_dir, "codebook.parquet"))
        _residual_codes(res, codebook, n_segments, seg_dim).write.mode("append").parquet(
            codes_path
        )

    return _ensure_versioned(
        spark,
        table_dir,
        out_dir,
        _residual_params(ivf_dir, n_segments, seg_dim, n_codes, id_col, vec_col),
        lambda c, tmp: build_ivfpq_residual_index(
            c, tmp, ivf_dir, n_segments, seg_dim, n_codes, id_col, vec_col
        ),
        encode_inserts,
        residual_rails_hold,
        max_dead_fraction,
    )


def ivfpq_residual_topk_prebuilt(
    queries: DataFrame,
    ivf_dir: str,
    res_dir: str,
    k: int = 5,
    n_probe: int = 2,
    n_segments: int = 8,
    seg_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve residual IVF-PQ top-k from the two saved artifacts. Same
    shape as ``ivfpq_topk_prebuilt`` with one twist: the query's ADC
    table is PER PROBED CELL — the query residual q − medoid(cell)
    differs per cell, so ADC rows are (qid, cell, s, code, dist),
    |Q| × n_probe × n_segments × n_codes rows (still tiny, broadcast),
    and the candidate join keys gain the cell: a candidate encoded
    against ITS cell's residual frame is scored against the query's
    residual in THAT SAME frame — which is exactly why residual ADC is
    faithful. Corpus raw vectors are never read; compute stays
    ∝ |Q|·corpus·n_probe/n_cells at n_segments bytes/vector."""
    spark = queries.sparkSession
    med = _read_dir(spark, os.path.join(ivf_dir, "cells.parquet"))
    assign = _live_assignments(spark, ivf_dir)  # tombstone-masked deletes
    anchors = _read_dir(spark, os.path.join(res_dir, "codebook.parquet"))
    codes = _read_dir(spark, os.path.join(res_dir, "codes.parquet"))
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(F.col(id_col).alias("qid"), dv.alias("qv"))
    q_cell = _nearest_medoid_cells(
        q.withColumnRenamed("qv", "__v"), med, "qid", n_probe
    )
    # per-(query, probed cell) residual, then the cell-aware ADC table
    qres = (
        q.join(F.broadcast(q_cell), "qid")
        .join(F.broadcast(med.select("cell", "mv")), "cell")
        .select("qid", "cell", _residual("qv", "mv").alias("qr"))
    )
    adc = _adc(
        qres.crossJoin(F.broadcast(anchors)), "qr", "ar", n_segments, seg_dim,
        keys=("qid", "cell"),
    )
    # candidates carry the cell they were probed through — the same cell
    # their codes were encoded in (assignments are 1-cell-per-vector)
    cand = assign.join(F.broadcast(q_cell), "cell").select("qid", "cell", "cid")
    pairs = (
        cand.filter(F.col("qid") != F.col("cid"))
        .join(codes, "cid")
        .join(F.broadcast(adc), ["qid", "cell", "s", "code"])
    )
    return _adc_topk(pairs, n_segments, k)
