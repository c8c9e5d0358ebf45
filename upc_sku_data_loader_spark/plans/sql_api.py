"""SQL API surface: the engine accepts SQL text directly via
``spark.sql`` over registered fixture views (SURVEY §2; reference
file:line n/a — empty tree §0.1).

These entries run the IDENTICAL SQL string on both engines — the
literal text is both the Spark query (``spark.sql(TEXT)``) and the
DuckDB oracle — pinning the engine's SQL dialect to the ANSI subset the
two parsers share: qualified names, CTEs, window functions, CASE,
decimal casts, timestamp literals.  This is the user-facing contract a
reference user migrating SQL workloads cares about: paste the query,
get the same answer.

Scale: ``spark.sql`` text compiles into the same Catalyst plans as the
DataFrame API — pushdown/broadcast/AQE all apply identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import register_views
from ..registry import query

# The exact text runs on both engines (ANSI-shared subset).
_S1_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

_S2_SQL = """
WITH spend AS (
  SELECT o_custkey,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_spend
  FROM orders
  GROUP BY o_custkey
),
ranked AS (
  SELECT c.c_mktsegment,
         s.o_custkey,
         s.total_spend,
         ROW_NUMBER() OVER (
           PARTITION BY c.c_mktsegment
           ORDER BY s.total_spend DESC, s.o_custkey ASC
         ) AS rn
  FROM spend s
  JOIN customer c ON c.c_custkey = s.o_custkey
)
SELECT c_mktsegment, o_custkey, total_spend, rn
FROM ranked
WHERE rn <= 5
"""


@query("s1_sql_passthrough", oracle=_S1_SQL)
def s1_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One SQL text, two engines: the oracle string IS the Spark input.
    Aggregation with decimal-exact sums (the shared formulation from
    functions/exprs.py written longhand in SQL)."""
    register_views(spark, sf_dir)
    return spark.sql(_S1_SQL)


@query("s2_sql_cte_window", oracle=_S2_SQL)
def s2_sql_cte_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-text SQL with CTE chain + join + window top-5 per segment
    (deterministic tiebreak) — the common BI-query shape, pasted
    verbatim into spark.sql."""
    register_views(spark, sf_dir)
    return spark.sql(_S2_SQL)

_S3_SQL = """
WITH RECURSIVE chain AS (
  SELECT p_partkey AS root, p_partkey AS node, 0 AS depth
  FROM part
  WHERE p_partkey BETWEEN 1 AND 10
  UNION ALL
  SELECT c.root, p.p_partkey, c.depth + 1
  FROM chain c
  JOIN part p ON p.p_partkey = c.node * 2
)
SELECT root, node, depth
FROM chain
"""

_S4_SQL = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n,
     LATERAL (
       SELECT c_custkey, c_acctbal
       FROM customer
       WHERE c_nationkey = n.n_nationkey
       ORDER BY c_acctbal DESC, c_custkey
       LIMIT 3
     ) t
"""


@query("s3_sql_recursive_cte", oracle=_S3_SQL)
def s3_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-text RECURSIVE CTE (Spark 4 WITH RECURSIVE): a doubling
    hierarchy walk over part keys, recursion bounded by table content
    (the recursive term joins back to `part`), never a literal.  Each
    recursion level is one more join-union round — the fixed-point
    pattern k37 implements by hand, here planned by the engine."""
    register_views(spark, sf_dir)
    return spark.sql(_S3_SQL)


@query("s4_sql_lateral_topk", oracle=_S4_SQL)
def s4_sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-text LATERAL correlated subquery: top-3 customers per
    nation, written as the per-row subquery users paste from other
    warehouses.  Catalyst decorrelates it into a ranked window join —
    the plan F4 builds explicitly — rather than re-running the inner
    query per outer row."""
    register_views(spark, sf_dir)
    return spark.sql(_S4_SQL)


# --- S5: parameterized SQL (named parameter markers, Spark 4) -----------------

_S5_TEMPLATE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderdate >= CAST(:lo AS TIMESTAMP_NTZ)
  AND o_orderdate <  CAST(:hi AS TIMESTAMP_NTZ)
  AND o_totalprice > :floor
GROUP BY o_orderpriority
"""

_S5_ARGS = {"lo": "1996-01-01", "hi": "1997-01-01", "floor": 1000.0}

# Oracle: the same template with literals spliced (DuckDB's TIMESTAMP is
# already timezone-naive, i.e. Spark's TIMESTAMP_NTZ).
_S5_ORACLE = (
    _S5_TEMPLATE.replace("CAST(:lo AS TIMESTAMP_NTZ)",
                         f"CAST('{_S5_ARGS['lo']}' AS TIMESTAMP)")
    .replace("CAST(:hi AS TIMESTAMP_NTZ)",
             f"CAST('{_S5_ARGS['hi']}' AS TIMESTAMP)")
    .replace(":floor", str(_S5_ARGS["floor"]))
)


@query(
    "s5_sql_parameterized",
    oracle=_S5_ORACLE,
)
def s5_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL — Spark 4's named parameter markers
    (`spark.sql(text, args={...})`): the injection-safe SQL entry point
    a reference user's application code would call with user-supplied
    bounds.  Parameters bind as typed literals BEFORE Catalyst sees the
    plan, so constant folding and parquet predicate pushdown work
    exactly as with inline literals (same pushed-filter scan as s1).
    The oracle is the same template with the literals spliced in — the
    binding itself is what's under test."""
    register_views(spark, sf_dir)
    return spark.sql(_S5_TEMPLATE, args=_S5_ARGS)


# --- S6: SQL pipe syntax (Spark 4 |> operator chains) -------------------------

# The pipe-syntax text Spark runs; the oracle below is the standard-SQL
# equivalent (DuckDB's parser has no |> yet — the POINT of this entry is
# that Spark's pipe dialect computes exactly what the ANSI form does).
_S6_PIPE = """
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
|> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
|> AGGREGATE COUNT(*) AS n_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
               AS sum_qty,
             CAST(SUM(CAST(disc_price AS DECIMAL(30,6))) AS DOUBLE)
               AS sum_disc_price
   GROUP BY l_returnflag, l_linestatus
|> WHERE n_rows > 0
"""

_S6_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 0
"""


@query("s6_sql_pipe_syntax", oracle=_S6_ORACLE)
def s6_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 / GoogleSQL `|>` chains, SPARK-49555):
    the linear FROM → WHERE → EXTEND → AGGREGATE form compiles to the
    IDENTICAL Catalyst plan as the nested ANSI query — same pushed
    parquet filter, same partial/final hash aggregation — which the
    value-hash against the ANSI-form oracle proves.  EXTEND introduces
    the derived column once; AGGREGATE's GROUP BY emits the grouping
    keys first in the output schema (pipe-dialect column order), so the
    oracle lists keys first too."""
    register_views(spark, sf_dir)
    return spark.sql(_S6_PIPE)


# --- S7: SQL scripting (BEGIN…END procedural control flow) --------------------

# n is count-ABOVE-THRESHOLD from the very first iteration (not the raw
# table count): on a corpus smaller than 100 rows the loop never runs,
# and an unfiltered initial n would emit a pair the declarative oracle
# (first power of ten with < 100 orders above) can never produce
# (degenerate-sweep finding, r8).
_S7_SCRIPT = """
BEGIN
  DECLARE thr DOUBLE DEFAULT 1.0;
  DECLARE n BIGINT DEFAULT 0;
  SET n = (SELECT COUNT(*) FROM orders WHERE o_totalprice > thr);
  WHILE n >= 100 DO
    SET thr = thr * 10.0;
    SET n = (SELECT COUNT(*) FROM orders WHERE o_totalprice > thr);
  END WHILE;
  SELECT CAST(thr AS BIGINT) AS threshold, n AS n_above;
END
"""


@query(
    "s7_sql_scripting",
    oracle="""
    WITH t AS (
      SELECT CAST(POWER(10, k) AS DOUBLE) AS thr
      FROM generate_series(0, 12) AS g(k)
    ),
    c AS (
      SELECT thr,
             (SELECT COUNT(*) FROM orders WHERE o_totalprice > t.thr) AS n
      FROM t
    )
    SELECT CAST(thr AS BIGINT) AS threshold, n AS n_above
    FROM c WHERE n < 100 ORDER BY thr LIMIT 1
    """,
)
def s7_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 SQL/PSM, SPARK-48338): a BEGIN…END block
    with DECLARE'd session variables and a WHILE loop, searching for
    the smallest power-of-ten price threshold that fewer than 100
    orders exceed — procedural control flow AROUND distributed
    queries, the stored-procedure migration surface.

    Each loop iteration's scalar subquery is a full Catalyst-planned
    distributed COUNT with the predicate pushed to the parquet scan;
    only the loop variables live on the driver (bounded scalar state,
    the k42 discipline).  The oracle replays the fixpoint
    declaratively: first power of ten whose exceed-count drops below
    100 — proving the loop's exit condition against an engine with no
    scripting support.  Powers of ten are exact in binary doubles
    through 1e22, so thr is bit-identical on both paths.  Scripting
    (``spark.sql.scripting.enabled``) is on by default in Spark 4.1.
    """
    register_views(spark, sf_dir)
    return spark.sql(_S7_SCRIPT)


# --- S8: SQL-defined functions (scalar UDF + table-valued UDF) ----------------

# The function BODIES are the shared contract: the oracle inlines the
# identical expression text, so both engines evaluate the same
# arithmetic tree (doubles, correctly rounded per op) before the single
# terminal rounding.
_S8_NET_EXPR = "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)"

_S8_ORACLE = f"""
WITH per_line AS (
  SELECT l_orderkey, {_S8_NET_EXPR} AS net
  FROM lineitem WHERE l_quantity >= 30
),
buckets AS (
  SELECT l_orderkey,
         COUNT(*) AS n_lines,
         CAST(ROUND(SUM(CAST(net AS DECIMAL(30,6))), 2) AS DOUBLE)
           AS order_net
  FROM per_line GROUP BY l_orderkey
)
SELECT CAST(FLOOR(order_net / 10000.0) AS BIGINT) AS net_bucket_10k,
       COUNT(*) AS n_orders,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines
FROM buckets
GROUP BY net_bucket_10k
"""


@query("s8_sql_udf", oracle=_S8_ORACLE)
def s8_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (Spark 4 SQL UDFs, SPARK-46246): a scalar
    ``CREATE TEMPORARY FUNCTION … RETURNS DOUBLE RETURN expr`` computing
    the net line price, and a table-valued
    ``RETURNS TABLE … RETURN SELECT`` wrapping the qualifying-lines
    scan, composed in one query — the catalog-function migration path
    for warehouses whose business logic lives in SQL UDFs rather than
    application code.

    SQL UDFs are inlined into the calling plan at analysis time (no
    serialization boundary, unlike J1's Python UDF): `.explain` shows
    the same pushed parquet filter and whole-stage codegen as writing
    the expression inline, which is exactly what the oracle does — the
    parity hash certifies the inlining is semantics-preserving.  Sum
    via per-row DECIMAL cast (order-independent, exact), one terminal
    2-dp round; the 10k bucketing floor is exact on both engines.
    """
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION s8_net(l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE) RETURNS DOUBLE "
        f"RETURN {_S8_NET_EXPR}"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION s8_qualifying_lines(min_qty DOUBLE)
        RETURNS TABLE(l_orderkey BIGINT, net DOUBLE)
        RETURN SELECT l_orderkey,
                      s8_net(l_extendedprice, l_discount, l_tax) AS net
               FROM lineitem WHERE l_quantity >= min_qty
        """
    )
    return spark.sql(
        """
        WITH buckets AS (
          SELECT l_orderkey,
                 COUNT(*) AS n_lines,
                 CAST(ROUND(SUM(CAST(net AS DECIMAL(30,6))), 2) AS DOUBLE)
                   AS order_net
          FROM s8_qualifying_lines(30.0) GROUP BY l_orderkey
        )
        SELECT CAST(FLOOR(order_net / 10000.0) AS BIGINT) AS net_bucket_10k,
               COUNT(*) AS n_orders,
               SUM(n_lines) AS n_lines
        FROM buckets
        GROUP BY net_bucket_10k
        """
    )


# --- S9: dynamic SQL via EXECUTE IMMEDIATE (Spark 4, SPARK-44751) -------------

# The statement text arrives as a *value* (string), not as parsed SQL —
# the dynamic-SQL entry point stored-procedure-style applications use.
# Parameters bind positionally through USING, so the dynamic text stays
# injection-safe; Spark folds them to literals before optimization and
# the parquet filter still pushes down.
_S9_DYNAMIC = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderdate >= ? AND o_orderstatus = ?
GROUP BY o_orderpriority
"""

_S9_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


@query("s9_sql_execute_immediate", oracle=_S9_ORACLE)
def s9_sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL: ``EXECUTE IMMEDIATE sqlString USING args`` (Spark 4,
    SPARK-44751) — the statement text is itself data (bound via a
    session variable), with positional USING parameters, exactly how a
    stored-procedure-style application issues runtime-built queries.
    The oracle is the same statement with the literals spliced in: the
    dynamic dispatch layer is what's under test, and it must be a pure
    pass-through — same plan, same pushed parquet filters, same result
    as the static form (s1).  Scale: dispatch is driver-side string
    handling; execution is the ordinary distributed plan."""
    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE s9_stmt STRING")
    spark.sql("SET VAR s9_stmt = ?", args=[_S9_DYNAMIC])
    return spark.sql(
        "EXECUTE IMMEDIATE s9_stmt USING TIMESTAMP '1996-01-01', 'O'"
    )
