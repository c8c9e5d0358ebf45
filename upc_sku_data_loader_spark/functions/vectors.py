"""Vector (embedding) column builders over ``array<float>`` (SURVEY §2 K5).

Two tiers, per SURVEY §4:
- **Oracle tier (here)**: higher-order functions — ``aggregate`` /
  ``transform`` / ``zip_with`` — exact, SQL-twinned, fine for correctness
  checks and small inputs.
- **Fast tier** (operators/similarity.py): Arrow → numpy block matmul
  via ``mapInPandas`` — the path bench and 100 TB use.

All doubles are rounded at the query edge (both engines), because
reduction order differs across engines/libms.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# --- finite-vector convention (--extreme / --nulls sweeps) --------------
# Numeric embedding kernels (KNN, ANN, dedup, centroid, quantize,
# projection) operate over FINITE, FULLY-PRESENT vectors only: a NaN/Inf
# component makes every derived similarity/statistic undefined, numpy and
# DuckDB disagree on NaN ordering inside argsort/ROW_NUMBER, the
# pandas-UDF output path renders NaN as NULL, and a NULL vector (or a
# NULL component) has no geometric meaning at all — DuckDB's
# list_cosine_similarity throws on it outright.  Both engines apply the
# identical predicate at ingestion; invalid vectors simply do not
# participate.  (NULL handling is explicit on both sides because the
# engines' bare lambdas diverge: Spark's `exists` yields NULL for a
# NULL element — row dropped by a WHERE — while DuckDB's list_filter
# silently SKIPS NULL elements — row kept.)


def finite_vec(vec: Column | str) -> Column:
    """True iff ``vec`` is non-NULL and every component is non-NULL and
    finite (Spark side)."""
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.coalesce(
        ~F.exists(
            c,
            lambda x: x.isNull()
            | F.isnan(x)
            | (x == F.lit(float("inf")))
            | (x == F.lit(float("-inf"))),
        ),
        F.lit(False),
    )


def finite_vec_sql(col: str) -> str:
    """DuckDB twin of :func:`finite_vec`."""
    return (
        f"COALESCE(len(list_filter({col},"
        " x -> x IS NULL OR NOT isfinite(x))) = 0, FALSE)"
    )


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(vec: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def l1_norm(vec: Column) -> Column:
    return F.aggregate(
        F.transform(vec, lambda x: F.abs(x)), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with the ZERO-NORM CONVENTION pinned to 0.0.

    A zero vector is "similar to nothing": the fast tier already maps
    zero norms to a unit divisor (operators/similarity._normalized), so
    the exact tier must agree — unguarded division throws under Spark's
    ANSI mode, and DuckDB's list_cosine_similarity returns an arbitrary
    -1.0 (degenerate-sweep finding, round 8; cosine_sql pins the same
    convention on the oracle side).  CASE branches are lazy per row, so
    the division never executes for zero-norm pairs."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )


# --- DuckDB twins ----------------------------------------------------------

DOUBLE_VEC = "CAST({e} AS DOUBLE[])"


def l2_norm_sql(expr: str) -> str:
    return f"sqrt(list_sum(list_transform(CAST({expr} AS DOUBLE[]), x -> x * x)))"


def l1_norm_sql(expr: str) -> str:
    return f"list_sum(list_transform(CAST({expr} AS DOUBLE[]), x -> abs(x)))"


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine` — same 0.0 zero-norm convention
    (DuckDB's bare list_cosine_similarity returns -1.0 there)."""
    return (
        f"CASE WHEN {l2_norm_sql(a)} = 0 OR {l2_norm_sql(b)} = 0 THEN 0.0"
        f" ELSE list_cosine_similarity(CAST({a} AS DOUBLE[]),"
        f" CAST({b} AS DOUBLE[])) END"
    )
