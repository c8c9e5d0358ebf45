"""Physical-plan shape guards (SURVEY §4): the scale techniques must
actually produce the plans they claim — pushdown reaching the scan,
bucketed joins running shuffle-free, broadcasts where pinned."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from upc_sku_data_loader_spark import plans  # noqa: F401,E402
from upc_sku_data_loader_spark.catalog import load  # noqa: E402
from upc_sku_data_loader_spark.registry import QUERIES  # noqa: E402


def _executed_plan(spark, name, sf_dir) -> str:
    df = QUERIES[name](spark, sf_dir)
    df.count()  # materialize so AQE finalizes the plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_a1_scan_pushes_filter_and_prunes_columns(spark, sf_dir):
    df = QUERIES["a1_parquet_scan"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(p_size,30)" in plan
    # projection pruned to exactly the needed columns at the reader
    assert "ReadSchema: struct<p_partkey:bigint,p_name:string" in plan


def test_c9_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Both sides bucketed by the join key ⇒ sort-merge join without a
    single shuffle Exchange (broadcast disabled to force SMJ)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["c9_join_bucketed"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    join_section = plan.split("HashAggregate")[-1]  # below the final agg
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in join_section, (
        "bucketed join still shuffles:\n" + join_section[:1500]
    )


def test_c2_broadcast_hint_respected(spark, sf_dir):
    plan = _executed_plan(spark, "c2_join_broadcast", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_c8_asof_is_single_shuffle_window_plan(spark, sf_dir):
    plan = _executed_plan(spark, "c8_join_asof", sf_dir)
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # one keyed exchange for the union+window (plus AQE reads); never a join
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


# --- Headline-query plan snapshots (bench regression guard) -----------------
# Exact operator-count fingerprints of the six BENCH queries' executed
# plans. A refactor that adds a shuffle, drops a broadcast, or falls
# back to a cartesian product changes these counts and must update the
# snapshot DELIBERATELY (with a bench run justifying it).

HEADLINE_PLAN_SNAPSHOT = {
    "d1_agg_hash_grouped": {"Exchange hashpartitioning": 1},
    "c1_join_inner_equi": {
        "Exchange hashpartitioning": 1,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
    },
    "e1_win_row_number": {"Exchange hashpartitioning": 1, "Window": 3},
    "i1_tumbling_window": {"Exchange hashpartitioning": 1},
    # r11: one tokenize+explode pass, df as a COUNT window over tf —
    # no persist (its materialization barrier lost under the bench's
    # collect methodology, r10 verdict item 1), no df join.  One linear
    # plan: Exchange(doc_id,term) tf agg → Exchange(term) df window →
    # Exchange(doc_id) row_number window (4 Window markers: each window
    # op prints its spec + the frame row).
    "k7_term_freq_tfidf": {
        "Exchange hashpartitioning": 3,
        "Window": 4,
    },
    # r10: topk_pairs' least/greatest+dropDuplicates (an Exchange +
    # HashAggregate) replaced by the provably-equivalent q<neighbor
    # filter — the kernel output feeds TakeOrdered directly.  The
    # kernel runs on the driver below _TOPK_CELL_BUDGET (similarity.py's
    # driver tier), so its rows arrive as a local relation: no
    # MapInPandas, no Exchange.
    "k3_similarity_topk": {"LocalTableScan": 1},
}

_PLAN_MARKERS = [
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
    "LocalTableScan",
    "ArrowEvalPython",
    "BatchEvalPython",
    "Window",
]


def test_headline_plan_snapshots(spark, sf_dir):
    got = {}
    for name, expected in HEADLINE_PLAN_SNAPSHOT.items():
        plan = _executed_plan(spark, name, sf_dir)
        got[name] = {m: plan.count(m) for m in _PLAN_MARKERS if plan.count(m)}
    assert got == HEADLINE_PLAN_SNAPSHOT


def test_q6_predicates_reach_parquet_scan(spark, sf_dir):
    """TPC-H Q6 is scan-dominated: all three predicates must be pushed
    to the parquet reader, not evaluated post-scan only."""
    df = QUERIES["q6_revenue_forecast"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    for frag in ("l_discount", "l_quantity", "l_shipdate"):
        assert frag in plan.split("PushedFilters: [", 1)[1].split("]", 1)[0], (
            f"{frag} not pushed:\n" + plan[:2000]
        )


def test_q10_topk_uses_take_ordered(spark, sf_dir):
    """Top-20 must compile to TakeOrderedAndProject (per-partition top-k
    + driver merge of 20 rows), never a global Sort materialization."""
    plan = _executed_plan(spark, "q10_returned_items", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_q4_exists_is_semi_join_not_aggregate_dedup(spark, sf_dir):
    """EXISTS must stay a left-semi hash join (no row duplication →
    no distinct/agg needed to repair cardinality)."""
    plan = _executed_plan(spark, "q4_order_priority", sf_dir)
    assert "LeftSemi" in plan


def test_k25_chunking_is_shuffle_free(spark, sf_dir):
    """Chunking is explode + slice — a map-only plan; any Exchange means
    an accidental shuffle crept in."""
    df = QUERIES["k25_doc_chunking"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]


def test_q17_decorrelated_no_cartesian(spark, sf_dir):
    """The correlated AVG subquery must run as a keyed pre-agg join —
    never a nested-loop/cartesian re-scan per outer row."""
    plan = _executed_plan(spark, "q17_small_quantity", sf_dir)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q5_dims_broadcast_no_nested_loop(spark, sf_dir):
    """Q5's bounded dims (region, nation) must ride broadcast hash
    joins; the SF-scaling joins must never degrade to a nested-loop or
    cartesian plan."""
    plan = _executed_plan(spark, "q5_local_supplier_volume", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q8_both_nation_sides_broadcast(spark, sf_dir):
    """Q8 joins nation twice (customer side and supplier side); both are
    25-row dims and must broadcast — at 100 TB a shuffled nation join
    would repartition the whole fact table for nothing."""
    plan = _executed_plan(spark, "q8_market_share", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_semi_join_and_take_ordered(spark, sf_dir):
    """Q18's IN-subquery must stay a left-semi join (qualifying-order
    set, no row duplication) and the ORDER BY + LIMIT 100 must compile
    to TakeOrderedAndProject, never a global sort."""
    plan = _executed_plan(spark, "q18_large_volume_customers", sf_dir)
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q21_rewrite_avoids_self_join_blowup(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair is rewritten as one per-order
    aggregation joined back — the plan must show the top-k short-circuit
    and no cartesian/nested-loop fallback, and at most the rewrite's
    keyed shuffles (a regression to three lineitem self-joins adds
    exchanges)."""
    plan = _executed_plan(spark, "q21_waiting_suppliers", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 5, plan[:2000]


def test_c11_scan_has_dynamic_partition_pruning(spark, sf_dir):
    """The fact scan must carry a dynamicpruning partition filter — the
    runtime subquery injected from the dim side — so only matching
    partition directories are read."""
    df = QUERIES["c11_join_dpp"](spark, sf_dir)
    df.count()
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in full.lower(), full[:2000]


def test_a13_compaction_reduces_file_count(spark, sf_dir):
    """64 fragment files must compact to ≤4 parquet files, losslessly."""
    from upc_sku_data_loader_spark.plans.sources_sinks import _scratch

    QUERIES["a13_compact_small_files"](spark, sf_dir).count()
    frag = list(Path(_scratch(sf_dir, "orders_fragmented")).glob("*.parquet"))
    compact = list(Path(_scratch(sf_dir, "orders_compacted")).glob("*.parquet"))
    assert len(frag) == 64
    assert 1 <= len(compact) <= 4


def test_c13_salted_join_shuffles_not_broadcasts(spark, sf_dir):
    """Salting is pointless under a broadcast join: the hint must hold
    and the physical plan must be a shuffled hash join on (salt, key)."""
    plan = _executed_plan(spark, "c13_join_salted_skew", sf_dir)
    assert "BroadcastHashJoin" not in plan, plan[:1500]
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan[:1500]
    assert "salt" in plan


def test_d17_sketch_merge_not_corpus_shuffle(spark, sf_dir):
    """The MG partial pass must be map-only: the only exchanges allowed
    are the sketch merge and the candidate recount agg — the exploded
    token stream itself must never hit a shuffle un-aggregated."""
    from upc_sku_data_loader_spark.registry import QUERIES as Q

    df = Q["d17_heavy_hitters"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "MapInPandas" in final, final[:1500]
    assert "LeftSemi" in final, final[:1500]  # recount is a semi filter
    # Only two row shuffles exist: the sketch-candidate merge and the
    # recount agg — both downstream of a partial aggregate, never the
    # raw exploded token stream.
    assert final.count("Exchange hashpartitioning") <= 2, final


def test_a15_clustered_files_have_disjoint_date_ranges(spark, sf_dir):
    """Cluster-on-write must produce parquet files whose o_orderdate
    footer ranges are pairwise disjoint — the invariant that makes
    min/max file skipping effective."""
    import pyarrow.parquet as pq

    from upc_sku_data_loader_spark.plans.sources_sinks import _scratch

    QUERIES["a15_clustered_write"](spark, sf_dir).count()
    ranges = []
    for f in sorted(Path(_scratch(sf_dir, "orders_clustered")).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["o_orderdate"]
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) >= 4
    ranges.sort()
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, ranges


def test_b13_check_digits_valid(spark, sf_dir):
    """Every emitted code must satisfy the GS1 mod-10 rule, and the
    EAN-13 must embed the UPC-A unchanged."""
    rows = QUERIES["b13_gtin_convert"](spark, sf_dir).collect()

    def ok(code: str) -> bool:
        digits = [int(c) for c in code]
        body, cd = digits[:-1], digits[-1]
        s = sum(d * (3 if (len(body) - i) % 2 == 1 else 1) for i, d in enumerate(body))
        return (10 - s % 10) % 10 == cd

    for r in rows[:500]:
        assert len(r["upc_a"]) == 12 and ok(r["upc_a"])
        assert len(r["ean13"]) == 13 and ok(r["ean13"])
        assert r["ean13"] == "0" + r["upc_a"]
        assert len(r["gtin14_case"]) == 14 and ok(r["gtin14_case"])
        assert r["gtin14_case"][0] == "1"


def test_c14_bloom_runtime_filter(spark, sf_dir):
    """With the size thresholds lowered to toy scale, the selective-dim
    join must inject a bloom_filter_agg subquery and a might_contain
    pre-filter on the fact scan — Spark's row-level runtime filter."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        plan = _executed_plan(spark, "c14_join_bloom_filtered", sf_dir)
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan


def test_a16_python_datasource_partition_parallel(spark, sf_dir):
    """The Python Data Source must plan one InputPartition per range
    shard (executor-side generation), not one driver-side blob."""
    df = QUERIES["a16_python_datasource"](spark, sf_dir)
    assert df.rdd.getNumPartitions() == 8
    rows = df.count()
    assert rows == 2000
    # every shard generated its contiguous range — no overlap, no gap
    from pyspark.sql import functions as F

    agg = df.agg(
        F.countDistinct("seq").alias("d"), F.min("seq").alias("mn"), F.max("seq").alias("mx")
    ).first()
    assert (agg["d"], agg["mn"], agg["mx"]) == (2000, 0, 1999)


def test_h13_variant_column_is_variant_type(spark, sf_dir):
    """parse_json must land a true VariantType column (binary variant
    encoding), not a string re-parsed per extraction."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import VariantType

    df = spark.range(3).select(
        F.parse_json(F.concat(F.lit('{"k":'), F.col("id").cast("string"), F.lit("}"))).alias("v")
    )
    assert isinstance(df.schema["v"].dataType, VariantType)
    out = df.select(F.expr("variant_get(v, '$.k', 'bigint')").alias("k")).collect()
    assert sorted(r["k"] for r in out) == [0, 1, 2]


# --- g6 multiset set ops ------------------------------------------------------


def test_g6_multiset_identity(spark, sf_dir):
    """|A ∩all B| + |A \\all B| == |A| — the bag-algebra identity
    intersectAll/exceptAll must satisfy."""
    out = QUERIES["g6_setop_all"](spark, sf_dir)
    by_op = {r["op"]: r["n"] for r in
             out.groupBy("op").agg(F.count(F.lit(1)).alias("n")).collect()}
    a_count = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < 10)
        .count()
    )
    assert by_op.get("intersect_all", 0) + by_op.get("except_all", 0) == a_count


# --- d21 bitmap distinct ------------------------------------------------------


def test_d21_bitmap_equals_count_distinct(spark, sf_dir):
    out = {
        r["o_orderpriority"]: r["n_cust"]
        for r in QUERIES["d21_bitmap_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert out == exact


def test_new_ops_plan_shapes(spark, sf_dir):
    """Scale-shape claims of the round-4 additions, pinned in the
    executed plan: k45's eval index is broadcast (no corpus shuffle for
    the probe side), k48 is map-only + one aggregation shuffle, k44
    never degenerates to a cartesian/nested-loop join."""
    p45 = _executed_plan(spark, "k45_contamination_score", sf_dir)
    assert "BroadcastExchange" in p45
    assert "CartesianProduct" not in p45

    p48 = _executed_plan(spark, "k48_length_buckets", sf_dir)
    assert p48.count("Exchange hashpartitioning") == 1

    p44 = _executed_plan(spark, "k44_dup_ngram_coverage", sf_dir)
    assert "CartesianProduct" not in p44
    assert "BroadcastNestedLoopJoin" not in p44


def test_etl6_cdc_semantics(spark, sf_dir):
    """Tombstoned keys are absent, inserted/updated keys carry the feed
    payload, and untouched base keys survive unchanged."""
    out = QUERIES["etl6_cdc_apply"](spark, sf_dir)
    rows = {r["o_orderkey"]: r for r in out.collect()}
    base_keys = {
        r["o_orderkey"]
        for r in load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey")
        .collect()
    }
    feed_keys = {
        r["o_orderkey"]
        for r in load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey")
        .collect()
    }
    for k in feed_keys:
        if k % 7 == 0:
            assert k not in rows  # tombstone wins
        else:
            assert rows[k]["o_orderstatus"] == "C"  # feed payload applied
    for k in base_keys - feed_keys:
        assert k in rows and rows[k]["o_orderstatus"] != "C"


def test_round4_late_ops_plan_shapes(spark, sf_dir):
    """t7 and k16b stay off the degenerate-join paths; etl6 is a single
    hash-partitioned window like etl3."""
    p_t7 = _executed_plan(spark, "t7_asof_interpolated", sf_dir)
    assert "CartesianProduct" not in p_t7
    assert "BroadcastNestedLoopJoin" not in p_t7

    p_16b = _executed_plan(spark, "k16b_ann_ivf_seeded", sf_dir)
    assert "CartesianProduct" not in p_16b

    p_etl6 = _executed_plan(spark, "etl6_cdc_apply", sf_dir)
    assert p_etl6.count("Exchange hashpartitioning") == 1
    assert "Window" in p_etl6


def test_a18_partition_pruning_reaches_scan(spark, sf_dir):
    """The executed plan must show PartitionFilters on o_orderpriority
    and the scan must touch only the 2 of 5 matching partitions."""
    df = QUERIES["a18_partition_pruned_read"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "o_orderpriority" in pf
    # partition pruning leaves exactly the 2 selected directories
    n_parts = (
        df.select("o_orderpriority").distinct().count()
    )
    assert n_parts == 2


def test_round5_ops_plan_shapes(spark, sf_dir):
    """Scale-shape claims of the round-5 additions, pinned in the
    executed plan: k50/k51 broadcast their stats sides (the only
    data-scale shuffle is the keyed tf/bigram agg), k54 and etl8 stay
    off degenerate join paths, and e10/t8 evaluate all window
    aggregates in a single user-partitioned Window pass."""
    p50 = _executed_plan(spark, "k50_bm25_topk", sf_dir)
    assert "BroadcastExchange" in p50
    assert "CartesianProduct" not in p50
    assert "TakeOrderedAndProject" in p50  # top-k, not a global sort

    p51 = _executed_plan(spark, "k51_pmi_collocations", sf_dir)
    assert "BroadcastExchange" in p51
    assert "CartesianProduct" not in p51
    assert "TakeOrderedAndProject" in p51

    p54 = _executed_plan(spark, "k54_containment_pairs", sf_dir)
    assert "CartesianProduct" not in p54
    assert "BroadcastNestedLoopJoin" not in p54

    p_etl8 = _executed_plan(spark, "etl8_snapshot_diff", sf_dir)
    assert "CartesianProduct" not in p_etl8
    assert "BroadcastNestedLoopJoin" not in p_etl8

    for name in ("e10_win_range_interval", "t8_ewma"):
        p = _executed_plan(spark, name, sf_dir)
        assert p.count("Window") == 1, name
        assert "Exchange hashpartitioning(user_id" in p, name

    # k53's sign matrix joins broadcast — the embeddings never shuffle
    # before the (vec_id, j) aggregation
    p53 = _executed_plan(spark, "k53_random_projection", sf_dir)
    assert "BroadcastExchange" in p53
    assert "CartesianProduct" not in p53


def test_round5_late_ops_plan_shapes(spark, sf_dir):
    """k55/k56/k58/t9/etl7: stats sides broadcast, no degenerate joins,
    and the scorecard's five gates cost exactly one data-scale shuffle
    chain (doc,term → doc), not one scan per gate."""
    p55 = _executed_plan(spark, "k55_bigram_logprob", sf_dir)
    assert "BroadcastExchange" in p55
    assert "CartesianProduct" not in p55

    p56 = _executed_plan(spark, "k56_curation_scorecard", sf_dir)
    assert "CartesianProduct" not in p56
    # one scan of documents feeds all five gates
    assert p56.count("FileScan parquet") == 1

    p58 = _executed_plan(spark, "k58_shard_manifest", sf_dir)
    assert "CartesianProduct" not in p58
    assert "BroadcastNestedLoopJoin" not in p58

    p_t9 = _executed_plan(spark, "t9_mad_outliers", sf_dir)
    assert "CartesianProduct" not in p_t9

    p_etl7 = _executed_plan(spark, "etl7_dq_expectations", sf_dir)
    assert "CartesianProduct" not in p_etl7
    # lineitem contributes ONE conditional-agg scan for three checks
    assert p_etl7.count("FileScan parquet [l_") <= 1 or "lineitem" in p_etl7


def test_round6_ops_plan_shapes(spark, sf_dir):
    """Scale-shape claims of the round-6 additions, pinned in the
    executed plan: the graph tier's top-k edge selection is a partial
    top-k (never a global sort), q23/q24/t13 broadcast their small
    stats sides, k74 is a single map-only codegen stage, and t11/t12
    cost exactly one user-keyed shuffle."""
    p71 = _executed_plan(spark, "k71_triangle_count", sf_dir)
    assert "TakeOrderedAndProject" in p71  # top-500 edges, no full sort
    assert "CartesianProduct" not in p71

    p72 = _executed_plan(spark, "k72_link_prediction", sf_dir)
    assert "TakeOrderedAndProject" in p72
    assert "BroadcastExchange" in p72  # degree side + anti-join side
    assert "CartesianProduct" not in p72

    p23 = _executed_plan(spark, "q23_basket_lift", sf_dir)
    assert "BroadcastExchange" in p23  # dims + brand counts broadcast
    assert "CartesianProduct" not in p23

    p24 = _executed_plan(spark, "q24_pareto_share", sf_dir)
    assert "BroadcastExchange" in p24
    assert "CartesianProduct" not in p24

    p13 = _executed_plan(spark, "t13_seasonal_adjust", sf_dir)
    assert "BroadcastExchange" in p13  # 7-row seasonal profile
    assert "SortMergeJoin" not in p13

    p74 = _executed_plan(spark, "k74_quality_model_score", sf_dir)
    assert "Exchange" not in p74  # map-only: zero shuffles
    assert "BatchEvalPython" not in p74

    for name in ("t11_holt_trend", "t12_naive_backtest"):
        p = _executed_plan(spark, name, sf_dir)
        assert "Exchange hashpartitioning(user_id" in p, name

    p24a = _executed_plan(spark, "d24_modern_aggs", sf_dir)
    assert "Exchange" in p24a  # one keyed agg...
    assert "Join" not in p24a  # ...and no self-join idiom
