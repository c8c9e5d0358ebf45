"""Cross-engine-exact expression helpers.

The driver hash-compares Spark results against DuckDB at the value
level, so floating-point aggregation order matters.  These helpers give
each side a formulation that is *provably identical*, not merely close:

- ``dsum``: per-row cast to DECIMAL (both engines round the double to
  the same decimal value — ties at the 6th decimal of a double product
  are practically impossible), then an exact, order-independent decimal
  SUM, then one deterministic decimal→double cast.
- ``rnd``: ROUND(x, n) applied on BOTH sides for intrinsically
  order-sensitive aggregates (avg/stddev/corr/cosine), absorbing ~1e-9
  cross-engine drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Decimal wide enough for sf-scaled money sums: 600k rows × ~1e5 values
# → ~1e11; decimal(30,6) sums keep 24 integer digits of headroom.
DECIMAL_T = "decimal(30,6)"


def dsum(col: Column | str, alias: str) -> Column:
    """Exact double SUM: decimal-cast per row → SUM → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DECIMAL_T)).cast("double").alias(alias)


def dsum_sql(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE) AS {alias}"


_NAN = float("nan")
_PINF = float("inf")
_NINF = float("-inf")


def fsum(col: Column | str, alias: str | None = None) -> Column:
    """Non-finite-faithful exact double SUM (the --extreme sweep class).

    ``dsum``'s decimal cast THROWS on NaN/±Inf on both engines, yet a
    100 TB corpus of sensor/metric doubles contains them.  ``fsum``
    reproduces IEEE float-sum semantics in an ORDER-INDEPENDENT way —
    any NaN → NaN; +Inf and -Inf together → NaN; one signed Inf wins
    otherwise; all-finite falls back to the exact decimal sum (and
    empty/all-NULL input stays NULL, like SUM).  Every branch is an
    algebraic aggregate, so map-side partial aggregation is preserved.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_nan = F.count(F.when(F.isnan(c), F.lit(1)))
    n_pinf = F.count(F.when(c == F.lit(_PINF), F.lit(1)))
    n_ninf = F.count(F.when(c == F.lit(_NINF), F.lit(1)))
    fin = F.sum(
        F.when(~F.isnan(c) & (c > F.lit(_NINF)) & (c < F.lit(_PINF)), c)
        .cast(DECIMAL_T)
    ).cast("double")
    out = (
        F.when(n_nan > 0, F.lit(_NAN))
        .when((n_pinf > 0) & (n_ninf > 0), F.lit(_NAN))
        .when(n_pinf > 0, F.lit(_PINF))
        .when(n_ninf > 0, F.lit(_NINF))
        .otherwise(fin)
    )
    return out.alias(alias) if alias else out


def fsum_sql(expr: str, alias: str | None = None) -> str:
    """DuckDB twin of :func:`fsum` (identical branch semantics)."""
    e = expr
    sql = f"""CASE
      WHEN COUNT(CASE WHEN isnan({e}) THEN 1 END) > 0 THEN CAST('nan' AS DOUBLE)
      WHEN COUNT(CASE WHEN {e} = CAST('inf' AS DOUBLE) THEN 1 END) > 0
           AND COUNT(CASE WHEN {e} = CAST('-inf' AS DOUBLE) THEN 1 END) > 0
        THEN CAST('nan' AS DOUBLE)
      WHEN COUNT(CASE WHEN {e} = CAST('inf' AS DOUBLE) THEN 1 END) > 0
        THEN CAST('inf' AS DOUBLE)
      WHEN COUNT(CASE WHEN {e} = CAST('-inf' AS DOUBLE) THEN 1 END) > 0
        THEN CAST('-inf' AS DOUBLE)
      ELSE CAST(SUM(CAST(CASE WHEN isfinite({e}) THEN {e} END
                         AS DECIMAL(30,6))) AS DOUBLE)
    END"""
    return f"{sql} AS {alias}" if alias else sql


def fsum_over_sql(expr: str, over: str) -> str:
    """Windowed DuckDB :func:`fsum`: the same non-finite-faithful
    branches with each aggregate evaluated over the window ``over``,
    the full window clause, e.g. ``"OVER w"`` or ``"OVER (PARTITION BY
    u ORDER BY ts)"``."""
    e = expr
    return f"""CASE
      WHEN COUNT(CASE WHEN isnan({e}) THEN 1 END) {over} > 0 THEN CAST('nan' AS DOUBLE)
      WHEN COUNT(CASE WHEN {e} = CAST('inf' AS DOUBLE) THEN 1 END) {over} > 0
           AND COUNT(CASE WHEN {e} = CAST('-inf' AS DOUBLE) THEN 1 END) {over} > 0
        THEN CAST('nan' AS DOUBLE)
      WHEN COUNT(CASE WHEN {e} = CAST('inf' AS DOUBLE) THEN 1 END) {over} > 0
        THEN CAST('inf' AS DOUBLE)
      WHEN COUNT(CASE WHEN {e} = CAST('-inf' AS DOUBLE) THEN 1 END) {over} > 0
        THEN CAST('-inf' AS DOUBLE)
      ELSE CAST(SUM(CAST(CASE WHEN isfinite({e}) THEN {e} END
                         AS DECIMAL(30,6))) {over} AS DOUBLE)
    END"""


def fsum_over_sparksql(expr: str, over: str) -> str:
    """Windowed Spark-SQL-text :func:`fsum`, for frames only
    expressible in SQL (e.g. ``RANGE BETWEEN INTERVAL 1 HOUR
    PRECEDING``).  Branch-identical to :func:`fsum_over_sql`; the only
    differences are Spark's non-finite literal spellings ('NaN',
    'Infinity') and the lack of isfinite()."""
    e = expr
    inf = "CAST('Infinity' AS DOUBLE)"
    ninf = "CAST('-Infinity' AS DOUBLE)"
    nan = "CAST('NaN' AS DOUBLE)"
    return f"""CASE
      WHEN COUNT(CASE WHEN isnan({e}) THEN 1 END) {over} > 0 THEN {nan}
      WHEN COUNT(CASE WHEN {e} = {inf} THEN 1 END) {over} > 0
           AND COUNT(CASE WHEN {e} = {ninf} THEN 1 END) {over} > 0 THEN {nan}
      WHEN COUNT(CASE WHEN {e} = {inf} THEN 1 END) {over} > 0 THEN {inf}
      WHEN COUNT(CASE WHEN {e} = {ninf} THEN 1 END) {over} > 0 THEN {ninf}
      ELSE CAST(SUM(CAST(CASE WHEN NOT (isnan({e}) OR abs({e}) = {inf})
                              THEN {e} END AS DECIMAL(30,6))) {over} AS DOUBLE)
    END"""


def rnd(col: Column | str, alias: str) -> Column:
    """ROUND(col, 4): the Column twin of ``rnd_sql``'s default."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, 4).alias(alias)


def rnd_sql(expr: str, alias: str, n: int = 4) -> str:
    return f"ROUND({expr}, {n}) AS {alias}"
