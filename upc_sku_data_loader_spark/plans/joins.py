"""§2.C Joins (SURVEY.md §2.C; reference file:line n/a — empty tree §0.1).

The reference's join surface is delta detection against the already-
loaded MySQL table (semi/anti semantics) [R-core]; the rest generalizes
it to a full relational join suite.

Scale notes:
- Equi-joins shuffle both sides on the key (sort-merge) unless one side
  is broadcast-able; C2 pins the broadcast explicitly for dims.
- C6's range join deliberately routes through BroadcastNestedLoop with
  a tiny literal band table — the pattern that survives 100 TB is
  "broadcast the bands, scan the fact once".
- C8's as-of is the union+window plan (see operators/asof.py): one
  shuffle on the key, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, parquet_rowcount
from ..functions.exprs import dsum, dsum_sql

# c1's broadcast gate: with ≤ this many RAW orders rows, the filtered
# customer⋈orders side is at most a few-MB broadcast (BUILDING keeps
# ~1/5 of customers); above it the hint drops and the planner's shuffle
# strategies take over.  A plan-time metadata read, not a tuned local
# constant — the decision flips with the input, not with the core count.
_C1_BROADCAST_MAX_ORDERS = 4_000_000
from ..operators.asof import asof_join
from ..registry import query

# --- C1: inner equi-join (3-way fact⋈dim⋈fact, TPC-H Q3-like, top-10) --------


@query(
    "c1_join_inner_equi",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def c1_join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp_ntz")
    )
    # Deliberate build side (guide §3.1): the planner's size estimates
    # put filtered LINEITEM (~30 % of the fact table) under the 10 MB
    # broadcast threshold, so the static plan broadcast the FACT side —
    # a single-threaded driver collect+hash-build of ~180 k rows every
    # run (measured: q3 bench ~1.1 s, of which the build dominates).
    # The side that is actually small is customer⋈orders after the
    # BUILDING filter (~30 k rows): broadcasting it leaves lineitem
    # streamed — the only shuffle left is the group-key Exchange of the
    # partial aggregates.  The hint is gated on the parquet-footer row
    # count of orders so it stays input-adaptive: beyond ~4 M orders
    # rows the hint drops and the planner falls back to shuffle joins
    # (the right strategy at 100 TB, where no side fits a broadcast).
    co = c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    if parquet_rowcount(sf_dir, "orders") <= _C1_BROADCAST_MAX_ORDERS:
        co = F.broadcast(co)
    return (
        li.join(co, li.l_orderkey == co.o_orderkey, "inner")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --- C2: broadcast hash join (small dim pinned to broadcast) ------------------


@query(
    "c2_join_broadcast",
    oracle=f"""
    SELECT p_brand,
           COUNT(*) AS n_items,
           {dsum_sql("l_quantity", "total_qty")}
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'ECONOMY'
    GROUP BY p_brand
    """,
)
def c2_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity", "total_qty"))
    )


# --- C3: outer joins (unmatched preservation, FULL OUTER summary) -------------


@query(
    "c3_join_outer",
    oracle="""
    WITH o_p AS (SELECT * FROM orders WHERE o_orderstatus = 'P')
    SELECT n_nationkey,
           COUNT(*) AS n_rows,
           COUNT(o_orderkey) AS n_matched,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cust_without_p
    FROM customer
    LEFT JOIN o_p ON c_custkey = o_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def c3_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o_p = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o_p, c.c_custkey == o_p.o_custkey, "left")
        .join(n, c.c_nationkey == n.n_nationkey, "inner")
        .groupBy("n_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_matched"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "n_cust_without_p"
            ),
        )
    )


# --- C4: left-semi join (exists-in-target — the ETL "already loaded" check) ---


@query(
    "c4_join_semi",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers_with_urgent
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    GROUP BY c_mktsegment
    """,
)
def c4_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_with_urgent"))
    )


# --- C5: left-anti join (delta detection — the ETL-defining operator) ---------


@query(
    "c5_join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    """,
)
def c5_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o_p = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o_p, c.c_custkey == o_p.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --- C6: theta/range join (price bands; broadcast-NL the tiny band table) -----

PRICE_BANDS = [
    ("low", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("high", 150_000.0, 300_000.0),
    ("vip", 300_000.0, 1e12),
]


@query(
    "c6_join_theta_range",
    oracle=f"""
    SELECT band,
           COUNT(*) AS n_orders,
           {dsum_sql("o_totalprice", "band_total")}
    FROM orders
    JOIN (VALUES ('low', 0.0, 50000.0),
                 ('mid', 50000.0, 150000.0),
                 ('high', 150000.0, 300000.0),
                 ('vip', 300000.0, 1e12)) AS bands(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def c6_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "band_total"))
    )


# --- C7: cross join (all-pairs; kept tiny-side only — see K3 for the
#     vectorized large-scale all-pairs path) ----------------------------------


@query(
    "c7_join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    """,
)
def c7_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


# --- C8: as-of join (latest click at-or-before each purchase, per user) -------
# Oracle is DuckDB's native ASOF JOIN — a luxury: it checks our
# union+window rewrite against an independent first-class implementation.


@query(
    "c8_join_asof",
    # NULL-timestamp convention (operators/asof.py): timeless clicks
    # never match; timeless purchases keep their row with a NULL match
    # (routed around the native ASOF, whose NULL-probe behavior is
    # engine-specific).
    oracle="""
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
         clicks    AS (SELECT * FROM events
                       WHERE event_type = 'click' AND ts IS NOT NULL)
    SELECT p.event_id, p.user_id,
           CAST(p.ts AS TIMESTAMP) AS ts,
           CAST(c.ts AS TIMESTAMP) AS asof_click_ts
    FROM (SELECT * FROM purchases WHERE ts IS NOT NULL) p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    UNION ALL
    SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS ts,
           CAST(NULL AS TIMESTAMP) AS asof_click_ts
    FROM purchases WHERE ts IS NULL
    """,
)
def c8_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts"
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("asof_click_ts").alias("asof_click_ts")
    )


# --- C9: co-located bucketed join (zero-shuffle large⋈large) ------------------
# THE 100 TB technique for repeated fact⋈fact joins: persist both sides
# bucketed (+sorted) by the join key with equal bucket counts; Spark's
# scan then reports HashPartitioning(key, n) and the sort-merge join
# needs NO Exchange on either side (asserted in tests/test_plans.py).


@query(
    "c9_join_bucketed",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {dsum_sql("l_extendedprice", "revenue")}
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def c9_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pathlib import Path

    from .sources_sinks import _scratch

    tag = (Path(sf_dir).name or "sf").replace(".", "_")
    o_tbl, l_tbl = f"b_orders_{tag}", f"b_lineitem_{tag}"
    if not spark.catalog.tableExists(o_tbl):
        (
            load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.mode("overwrite")
            .option("path", _scratch(sf_dir, o_tbl))
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(o_tbl)
        )
        (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice")
            .write.mode("overwrite")
            .option("path", _scratch(sf_dir, l_tbl))
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(l_tbl)
        )
    o = spark.table(o_tbl)
    li = spark.table(l_tbl)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_extendedprice", "revenue"))
    )


# --- C10: large⋈large interval join via time-bucket equi-prefilter ------------
# C6 broadcasts a tiny band table; when BOTH sides are large (every
# purchase × every click within 10 minutes, across all users) the
# scalable plan replaces the nested loop with: bucket time into
# window-width buckets, explode each probe row to its 2 candidate
# buckets, EQUI-join on bucket id (an ordinary shuffle), then refine
# with the exact interval predicate.


@query(
    "c10_join_range_bucketed",
    oracle="""
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
         clicks    AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id,
           COUNT(c.event_id) AS n_nearby_clicks
    FROM purchases p
    LEFT JOIN clicks c
      ON c.ts > p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
    GROUP BY p.event_id
    """,
)
def c10_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    win_ns = 600 * 1_000_000_000  # 10 min, integer ns (exact arithmetic)
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("ts_ns").alias("p_ns"),
    )
    # integer `div`, NOT `/`: ts_ns ≈ 1.7e18 exceeds double's 2^53 exact
    # range, so float division would misplace bucket boundaries
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        F.expr(f"ts_ns div {win_ns}").alias("bkt"),
    )
    # a (p_ts - 10min, p_ts] window spans at most 2 width-10min buckets
    pb = p.withColumn(
        "bkt",
        F.explode(
            F.array(
                F.expr(f"p_ns div {win_ns}") - 1,
                F.expr(f"p_ns div {win_ns}"),
            )
        ),
    )
    joined = pb.join(
        c,
        (pb.bkt == c.bkt)
        & (c.c_ts > pb.p_ts - F.expr("INTERVAL 10 MINUTES"))
        & (c.c_ts <= pb.p_ts),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count("click_id").alias("n_nearby_clicks")
    )


# --- C11: dynamic partition pruning (runtime partition filter from a dim) -----


@query(
    "c11_join_dpp",
    oracle="""
    WITH dim AS (
      SELECT * FROM (VALUES ('A', 'archive'), ('N', 'active'), ('R', 'audit'))
        AS t(flag, action)
    )
    SELECT d.action,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total_price
    FROM lineitem l
    JOIN dim d ON d.flag = l.l_returnflag
    WHERE d.action = 'audit'
    GROUP BY d.action
    """,
)
def c11_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is stored partitioned by
    l_returnflag; the dim-side filter (action='audit') is only known at
    runtime, so Catalyst injects a `dynamicpruning` subquery into the
    fact scan's PartitionFilters — only the matching partition
    directories are read.  THE mechanism that makes star-schema joins
    cheap on partitioned 100 TB tables (plan asserted in
    tests/test_plans.py)."""
    from pathlib import Path

    from .sources_sinks import _scratch  # shared scratch layout

    fact_path = _scratch(sf_dir, "lineitem_dpp")
    src = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag"
    )
    if not Path(fact_path).exists():  # deterministic content; write once
        src.write.partitionBy("l_returnflag").parquet(fact_path)
    # explicit schema: an empty write leaves nothing to infer from
    fact = spark.read.schema(src.schema).parquet(fact_path)
    dim = spark.createDataFrame(
        [("A", "archive"), ("N", "active"), ("R", "audit")], "flag string, action string"
    ).filter(F.col("action") == "audit")
    return (
        fact.join(F.broadcast(dim), fact.l_returnflag == dim.flag)
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# --- C12: null-safe equality join (<=> / IS NOT DISTINCT FROM) -----------------


@query(
    "c12_join_null_safe",
    oracle="""
    WITH c AS (SELECT c_custkey, NULLIF(c_nationkey % 5, 0) AS grp FROM customer),
    s AS (SELECT s_suppkey, NULLIF(s_nationkey % 5, 0) AS grp FROM supplier)
    SELECT c.grp, COUNT(*) AS n_pairs
    FROM c JOIN s ON c.grp IS NOT DISTINCT FROM s.grp
    GROUP BY c.grp
    """,
)
def c12_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join: `eqNullSafe` (SQL `<=>`) matches NULL with
    NULL, where ordinary equality silently drops every NULL-keyed row.
    The semantics gap that corrupts delta detection when the natural
    key is nullable.  Still a hash join (null-safe equality is a valid
    hash key — NULLs hash to one bucket: the documented skew risk at
    scale; pre-split NULL keys if they dominate)."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("grp")
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.col("s_nationkey") % 5, F.lit(0)).alias("c_grp")
    )
    return (
        c.join(F.broadcast(s), c.grp.eqNullSafe(s.c_grp))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- C13: salted skew join (output bit-identical to the plain join) -----------

_SALT_R = 8


@query(
    "c13_join_salted_skew",
    # The oracle is the PLAIN join+agg: salting is a physical rewrite
    # and must be invisible in the result.
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand
    """,
)
def c13_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle join: the build side (part) is replicated
    once per salt value and the probe side (lineitem) tags each row
    with a hash-derived salt, so one hot l_partkey fans out over
    _SALT_R reducers instead of serializing through one.  Each probe
    row still matches exactly one replica (its own salt), so the output
    is bit-identical to the unsalted join — which is exactly what the
    oracle asserts.  This is the manual fallback for skew AQE cannot
    fix (AQE splits oversized *partitions*, salting splits one
    oversized *key*); the salt column never escapes the operator."""
    li = load(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT_R))
    )
    p = (
        load(spark, sf_dir, "part")
        .select("p_partkey", "p_brand")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_R - 1))))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    return (
        li.join(p.hint("shuffle_hash"), (li.salt == p.salt) & (li.l_partkey == p.p_partkey))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


# --- C14: runtime bloom-filter join (row-level runtime pruning) ---------------


@query(
    "c14_join_bloom_filtered",
    # The oracle is the PLAIN join+agg: the bloom filter is a runtime
    # physical rewrite (row-level pre-filter on the fact scan) and must
    # be invisible in the result.
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
             AS gross
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def c14_join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim fact join, the shape Spark's runtime bloom filter
    accelerates: the filtered orders side builds a bloom_filter_agg
    subquery that injects `might_contain(xxhash64(l_orderkey))` into
    the lineitem scan, discarding non-joining fact rows BEFORE the
    shuffle (row-level cousin of C11's partition-level DPP).  At 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling the ~1/5 that can join.  Injection is governed by
    spark.sql.optimizer.runtime.bloomFilter.* thresholds sized for real
    clusters (application side > 10 GB), so the toy-scale plan here
    runs it as a plain join; tests/test_plans.py::
    test_c14_bloom_runtime_filter pins the injection itself with the
    thresholds lowered.  Semantics are threshold-independent — the
    oracle is the plain join."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice"), "gross"),
        )
    )


# --- C15: fuzzy (edit-distance) self-join with token blocking -----------------
# Entity-resolution join: match names within Levenshtein distance 2
# WITHOUT the all-pairs cross product.  The BLOCKING is part of the
# operator contract (as k18's length prune is): candidate pairs must
# share at least one whitespace token AND sit within a +/-2 length
# band — then the survivors are exact-verified with levenshtein().
# Running on DISTINCT names first collapses the fixture's key fan-out
# (many parts share a name), so the expensive verify runs once per
# name pair, with part multiplicities re-attached as counts.


@query(
    "c15_join_fuzzy",
    oracle="""
    WITH names AS (
      SELECT p_name AS name, COUNT(*) AS n_parts
      FROM part GROUP BY p_name
    ),
    toks AS (
      SELECT name, n_parts, unnest(string_split(name, ' ')) AS tok
      FROM names
    ),
    cand AS (
      SELECT DISTINCT a.name AS name_a, b.name AS name_b
      FROM toks a JOIN toks b
        ON a.tok = b.tok
       AND a.name < b.name
       AND ABS(length(a.name) - length(b.name)) <= 2
    )
    SELECT c.name_a, c.name_b,
           levenshtein(c.name_a, c.name_b) AS lev,
           na.n_parts AS n_parts_a,
           nb.n_parts AS n_parts_b
    FROM cand c
    JOIN names na ON na.name = c.name_a
    JOIN names nb ON nb.name = c.name_b
    WHERE levenshtein(c.name_a, c.name_b) <= 2
    """,
)
def c15_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join on part names: pairs within Levenshtein <= 2,
    found via token blocking instead of an all-pairs cross product —
    the entity-resolution/record-linkage join shape (Fellegi-Sunter
    blocking + edit-distance verify).

    Scale design: the join runs on the DISTINCT-name relation (names
    de-duplicate heavily at any scale — vocabulary grows sublinearly
    in corpus size), keyed by shared token, so candidate generation is
    an inverted-index equi-join exactly like k18's prefix filter; the
    +/-2 length band prunes inside the join condition BEFORE the pair
    materializes (|len(a)-len(b)| > 2 makes lev <= 2 impossible); and
    levenshtein runs only on surviving candidates.  The blocking key
    (shared token) is declared in the contract — both engines compute
    the identical candidate set, so recall limits are explicit, not
    engine artifacts.
    """
    names = (
        load(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    toks = names.select(
        "name", "n_parts", F.explode(F.split("name", " ")).alias("tok")
    )
    a, b = toks.alias("a"), toks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.name") < F.col("b.name"))
            & (
                F.abs(F.length("a.name") - F.length("b.name")) <= 2
            ),
        )
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    na = names.select(
        F.col("name").alias("name_a"), F.col("n_parts").alias("n_parts_a")
    )
    nb = names.select(
        F.col("name").alias("name_b"), F.col("n_parts").alias("n_parts_b")
    )
    return (
        cand.withColumn("lev", F.levenshtein("name_a", "name_b"))
        .filter(F.col("lev") <= 2)
        .join(na, "name_a")
        .join(nb, "name_b")
        .select("name_a", "name_b", "lev", "n_parts_a", "n_parts_b")
    )


# --- C16: geospatial radius join (grid-cell bucketed haversine) ---------------

_C16_R_KM = 100.0  # match radius
_C16_CELL_DEG = 2.0  # 2° cells: ≥145 km in both axes at lat ≤ 49 — ≥ R

# Deterministic synthetic coordinates (continental-US box) derived from
# entity keys via the k28 md5-uniform construction — identical on both
# engines, so the geometry is engine-free.
_C16_LAT_SQL = (
    "25.0 + 24.0 * ((CAST(CONCAT('0x', substr(md5('lat:{tag}:' || "
    "CAST({key} AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5) / 4294967296.0)"
)
_C16_LON_SQL = (
    "-124.0 + 57.0 * ((CAST(CONCAT('0x', substr(md5('lon:{tag}:' || "
    "CAST({key} AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5) / 4294967296.0)"
)


def _c16_coord(tag: str, axis: str, key: str) -> F.Column:
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{axis}:{tag}:"), F.col(key).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    return (25.0 + 24.0 * u) if axis == "lat" else (-124.0 + 57.0 * u)


_C16_HAVERSINE_SQL = """
    2.0 * 6371.0 * asin(sqrt(
      pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)
      + cos(radians({lat1})) * cos(radians({lat2}))
        * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))
"""


@query(
    "c16_geo_radius_join",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             {_C16_LAT_SQL.format(tag='c', key='c_custkey')} AS lat,
             {_C16_LON_SQL.format(tag='c', key='c_custkey')} AS lon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             {_C16_LAT_SQL.format(tag='s', key='s_suppkey')} AS lat,
             {_C16_LON_SQL.format(tag='s', key='s_suppkey')} AS lon
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST(ROUND(({_C16_HAVERSINE_SQL.format(
               lat1='c.lat', lon1='c.lon', lat2='s.lat', lon2='s.lon')})
             * 1000.0) AS BIGINT) AS dist_m
    FROM c, s
    WHERE {_C16_HAVERSINE_SQL.format(
        lat1='c.lat', lon1='c.lon', lat2='s.lat', lon2='s.lon')} < {_C16_R_KM}
    """,
)
def c16_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial radius join: customer × supplier pairs within
    {_C16_R_KM} km by haversine distance.  The ORACLE does the naive
    all-pairs check; the Spark plan is the scalable GRID-CELL pattern:
    each point hashes to a (⌊lat/cell⌋, ⌊lon/cell⌋) cell whose size
    exceeds the radius in both axes, the supplier side is exploded to
    its 3×3 neighbor cells, the join is a pure EQUI-join on the cell
    key, and the exact haversine predicate filters candidates.  At
    100 TB this is how Sedona/Magellan-class engines shape it: keyed
    shuffle on cell ids (uniform by construction), never all-pairs —
    candidate count per cell is bounded by density, not corpus size.

    Boundary-float note: inclusion tests `dist < R` on both engines
    over IDENTICAL md5-derived coordinates; sin/asin last-ulp drift
    could only flip a pair within ~1e-9 km of the {_C16_R_KM} km shell
    — measure-zero in practice (same discipline as k75's ln)."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        _c16_coord("c", "lat", "c_custkey").alias("lat"),
        _c16_coord("c", "lon", "c_custkey").alias("lon"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _c16_coord("s", "lat", "s_suppkey").alias("lat"),
        _c16_coord("s", "lon", "s_suppkey").alias("lon"),
    )
    cell = lambda col: F.floor(col / _C16_CELL_DEG).cast("long")  # noqa: E731
    c_cells = cust.select(
        "c_custkey",
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
        cell(F.col("lat")).alias("cx"),
        cell(F.col("lon")).alias("cy"),
    )
    neighbor = F.explode(
        F.expr(
            "transform(sequence(0, 8), "
            "i -> struct(i div 3 - 1 as dx, i % 3 - 1 as dy))"
        )
    ).alias("n")
    s_cells = supp.select(
        "s_suppkey",
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        cell(F.col("lat")).alias("sx"),
        cell(F.col("lon")).alias("sy"),
        neighbor,
    ).select(
        "s_suppkey",
        "s_lat",
        "s_lon",
        (F.col("sx") + F.col("n.dx")).alias("cx"),
        (F.col("sy") + F.col("n.dy")).alias("cy"),
    )
    cand = c_cells.join(s_cells, ["cx", "cy"])
    rad = lambda c: F.radians(c)  # noqa: E731
    dist = (
        2.0
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(rad(F.col("s_lat") - F.col("c_lat")) / 2), 2)
                + F.cos(rad(F.col("c_lat")))
                * F.cos(rad(F.col("s_lat")))
                * F.pow(F.sin(rad(F.col("s_lon") - F.col("c_lon")) / 2), 2)
            )
        )
    )
    return (
        cand.withColumn("dist_km", dist)
        .filter(F.col("dist_km") < _C16_R_KM)
        .select(
            "c_custkey",
            "s_suppkey",
            F.round(F.col("dist_km") * 1000.0).cast("bigint").alias("dist_m"),
        )
    )


# --- C17: interval self-overlap join ------------------------------------------


@query(
    "c17_interval_overlap_join",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_orderdate AS DATE) AS d0,
             CAST(o_orderdate AS DATE) + INTERVAL 14 DAY AS d1
      FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS orderkey_a,
           b.o_orderkey AS orderkey_b,
           date_diff('day',
                     greatest(a.d0, b.d0),
                     least(CAST(a.d1 AS DATE), CAST(b.d1 AS DATE)))
             + 1 AS overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
    WHERE a.d0 <= CAST(b.d1 AS DATE) AND b.d0 <= CAST(a.d1 AS DATE)
    """,
)
def c17_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL×INTERVAL overlap self-join — the temporal-join shape
    (kdb `wj`, ClickHouse/QuestDB interval joins) that c8's as-of
    (point→interval) doesn't cover: each order opens a 14-day
    fulfillment window, and pairs of the SAME customer's windows that
    overlap are flagged with their overlap length — the order-split /
    duplicate-submission detector.

    Scale design: the overlap predicate alone is quadratic, so the
    join is keyed on o_custkey first (equi-join, hash-shuffled) and
    the interval predicate + key ordering run as post-join filters
    within per-customer groups (bounded: a customer has few orders in
    any 14-day span).  An unkeyed variant would need the c10-style
    bucket-grid; with a natural partition key present, using it IS the
    100 TB answer.  Day arithmetic only — integer-exact output.
    """
    o = load(spark, sf_dir, "orders")
    iv = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d0"),
        F.date_add(F.col("o_orderdate").cast("date"), 14).alias("d1"),
    )
    a = iv.alias("a")
    b = iv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.d0") <= F.col("b.d1"))
            & (F.col("b.d0") <= F.col("a.d1")),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("orderkey_a"),
            F.col("b.o_orderkey").alias("orderkey_b"),
            (
                F.datediff(
                    F.least(F.col("a.d1"), F.col("b.d1")),
                    F.greatest(F.col("a.d0"), F.col("b.d0")),
                )
                + 1
            ).cast("bigint").alias("overlap_days"),
        )
    )
