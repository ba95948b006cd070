"""Scalar/aggregate expression helpers shared across operators.

All helpers return Column expressions built from `pyspark.sql.functions`
only — JVM-side, codegen'd, no Python in the data path — or, for the
``*_sql`` twins, the same expression as a Spark SQL string. They encode the
reference's numeric parity pitfalls (SURVEY.md §7.3):

* Python ``round`` is HALF_EVEN → Spark ``bround`` (not ``round``).
* ``astype(float).astype(int)`` truncates toward zero → ``cast("long")``.
* Drill ``NULLIF(c,'')`` empty-string→NULL before SUM.
* Cross-engine float determinism: a double SUM is order-dependent at the
  last ulp, so any value that is hash-compared against another engine is
  summed in exact decimal and only then cast back to double (``dsum``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def nullif_empty(col: Column | str) -> Column:
    """Drill `NULLIF(c, '')` (reference report_engine.py:149-153)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(c, F.lit(""))


def sum_cast_double(col: Column | str, *, nullif: bool = False) -> Column:
    """`SUM(CAST(c AS DOUBLE))`, optionally with the empty-string guard
    (reference A1/A2, report_engine.py:123-125, 149-153)."""
    c = F.col(col) if isinstance(col, str) else col
    if nullif:
        c = F.nullif(c, F.lit(""))
    # try_cast: under Spark 4's default ANSI mode a bare cast on a malformed
    # cell kills the job; the reference degraded to NULL/empty → 0.
    return F.sum(c.try_cast("double"))


def trunc_long(col: Column | str) -> Column:
    """Truncate-toward-zero double→long, matching pandas
    ``astype(float).astype(int)`` (reference report_engine.py:225).
    try_cast so malformed cells become NULL (ANSI-safe), as the reference's
    error path degraded to empty frames rather than raising."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double").try_cast("long")


def pct_of(value: Column, total: Column) -> Column:
    """Percent-of-total, 1 decimal, HALF_EVEN, 0 when total<=0
    (reference `_pct`, report_engine.py:228-230; Python round is
    banker's rounding → ``bround``)."""
    return F.when(total > 0, F.bround(value.cast("double") / total * 100, 1)).otherwise(
        F.lit(0.0)
    )


def pct_of_sql(value: str, total: str) -> str:
    """SQL-string twin of ``pct_of`` for ``selectExpr`` / ``F.expr`` plans;
    the same expression tree, so the same DOUBLE values. The else branch
    is ``0.0D``: a bare ``0.0`` in Spark SQL is DECIMAL(1,1), not DOUBLE."""
    return (
        f"CASE WHEN ({total}) > 0 THEN bround(CAST({value} AS DOUBLE) / ({total}) * 100, 1)"
        " ELSE 0.0D END"
    )


def sql_double(v: float) -> str:
    """``v`` as a Spark SQL DOUBLE literal, the type ``F.lit`` gives a
    Python float: ``0.8D``, since a bare ``0.8`` is DECIMAL(1,1)."""
    return f"{float(v)!r}D"


def dsum(col: Column | str, precision: int = 22, scale: int = 4) -> Column:
    """Order-independent exact sum, returned as double.

    Summing doubles is non-associative; two engines (or two partitionings
    of the same engine) can disagree in the last ulp, which breaks
    hash-compared oracles AND makes results non-deterministic across
    cluster sizes. Summing in decimal is exact, so the result is identical
    on 1 core or 1000 executors; the final cast back to double is a single
    deterministic conversion.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def pct_py(value: float, total: float) -> float:
    """Driver-side twin of ``pct_of`` for the presentation sink: Python
    round IS HALF_EVEN, matching the reference `_pct` exactly
    (report_engine.py:228-230)."""
    return round(value / total * 100, 1) if total and total > 0 else 0


# ---------------------------------------------------------------------------
# Sketch exactness-regime guard (shared by the *_approx percentile twins)
# ---------------------------------------------------------------------------

# Session conf that relaxes the regime guards. A guard protects the
# VALUE-HASH ORACLE contract (a GK approx_percentile sketch's output is
# the exact discrete quantile only while n <= accuracy); past that regime
# the *_approx queries still return correct-by-design approximate answers
# — exactly what a 100 TB deployment wants — so production runs and scale
# probes set this to false, and the hash gate keeps the strict default.
# Lives under the project's single spark.funnel.* conf prefix (round-9
# advice: the key briefly shipped as spark.funnelreport.*, splitting the
# conf surface; that spelling still reads as a fallback).
SKETCH_GUARD_CONF = "spark.funnel.sketchExactRegimeGuard"
_SKETCH_GUARD_CONF_LEGACY = "spark.funnelreport.sketchExactRegimeGuard"


def sketch_regime_guard(spark, name: str, n_col: str, accuracy: int) -> Column:
    """assert_true guard column: NULL on success, job-failing with an
    explicit message when the value count in ``n_col`` exceeds the sketch
    ``accuracy`` (the point where sketch quantiles stop being exact and a
    registered value-hash oracle would surface an opaque mismatch). Wrap
    an output column in ``when(guard.isNull(), ...)`` to keep the check
    in the plan — a bare withColumn().drop() would be pruned. Returns a
    plain NULL literal (guard disabled) when ``SKETCH_GUARD_CONF`` is
    false: the approximate regime is the intended behavior at scale, and
    only the oracle gate needs the loud failure."""
    enabled = spark.conf.get(
        SKETCH_GUARD_CONF, spark.conf.get(_SKETCH_GUARD_CONF_LEGACY, "true")
    )
    if enabled.lower() != "true":
        return F.lit(None)
    return F.assert_true(
        F.col(n_col) <= F.lit(accuracy),
        F.lit(
            f"{name}: value count exceeds the approx_percentile accuracy"
            f" ({accuracy}) — sketch quantiles are no longer exact and the"
            f" value-hash oracle no longer applies; set"
            f" {SKETCH_GUARD_CONF}=false to accept approximate quantiles"
            " (the intended 100 TB regime) or raise the accuracy"
        ),
    )
