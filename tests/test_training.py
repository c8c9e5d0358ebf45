"""Invariant + plan-shape tests for the training-shard tier
(plans/training.py k32–k40, plans/filters.py b12).

Each test checks a property the DuckDB oracle cannot express as a
hash compare: conservation laws, balance bounds, split purity,
shuffle counts.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from upc_sku_data_loader_spark.catalog import load
from upc_sku_data_loader_spark.plans.training import CHUNK, PACK_LEN, _SHARDS
from upc_sku_data_loader_spark.registry import QUERIES


def _executed_plan(spark, name, sf_dir) -> str:
    df = QUERIES[name](spark, sf_dir)
    df.count()
    return df._jdf.queryExecution().executedPlan().toString()


# --- k32 sequence packing -----------------------------------------------------


def test_k32_packing_conserves_tokens(spark, sf_dir):
    """Every token lands in exactly one pack: per-doc tok_in_pack sums
    to the doc's token count, and every pack except the last is full."""
    packs = QUERIES["k32_sequence_packing"](spark, sf_dir)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("ntok"))
    )
    per_doc = packs.groupBy("doc_id").agg(F.sum("tok_in_pack").alias("got"))
    bad = per_doc.join(docs, "doc_id").filter(F.col("got") != F.col("ntok"))
    assert bad.count() == 0

    per_pack = {
        r["pack_id"]: r["tot"]
        for r in packs.groupBy("pack_id")
        .agg(F.sum("tok_in_pack").alias("tot"))
        .collect()
    }
    last = max(per_pack)
    for pid, tot in per_pack.items():
        assert tot == PACK_LEN or (pid == last and 0 < tot <= PACK_LEN), (pid, tot)


def test_k32_no_global_window(spark, sf_dir):
    """The prefix sum must shard: every Window node carries a partition
    key except the #shards-row offset relation (which aggregates first,
    so its window input is the tiny shard-totals side)."""
    plan = _executed_plan(spark, "k32_sequence_packing", sf_dir)
    # The doc-level cumsum window must be partitioned by shard; a plan
    # that windows the full table unpartitioned would not mention the
    # shard column in any Window spec.
    assert "windowspecdefinition(shard" in plan.replace(" ", "").lower() or (
        "Window" in plan and "shard" in plan
    ), plan[:2000]


# --- k33 stratified sample ----------------------------------------------------


def test_k33_exact_n_per_stratum_and_deterministic(spark, sf_dir):
    s1 = QUERIES["k33_stratified_sample"](spark, sf_dir).collect()
    per_lang = defaultdict(int)
    for r in s1:
        per_lang[r["lang"]] += 1
    langs = (
        load(spark, sf_dir, "documents")
        .groupBy("lang").count().collect()
    )
    for lr in langs:
        assert per_lang[lr["lang"]] == min(20, lr["count"])
    s2 = QUERIES["k33_stratified_sample"](spark, sf_dir).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))


# --- k34 gopher rules ---------------------------------------------------------


def test_k34_flags_match_recomputed_signals(spark, sf_dir):
    rows = QUERIES["k34_gopher_rules"](spark, sf_dir).collect()
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").collect()
    }
    stop = {"the", "a", "of", "and", "in"}
    for r in rows[:200]:
        words = texts[r["doc_id"]].split(" ")
        n = len(words)
        mwl = sum(len(w) for w in words) / n
        sf = sum(w in stop for w in words) / n
        expect = 20 <= n <= 1000 and 3 <= mwl <= 10 and sf >= 0.01
        assert r["n_words"] == n
        assert r["passes"] == expect, (r, n, mwl, sf)


# --- k35 unigram logprob ------------------------------------------------------


def test_k35_logprob_nonpositive_and_counts(spark, sf_dir):
    rows = QUERIES["k35_unigram_logprob"](spark, sf_dir)
    assert rows.filter(F.col("logprob") > 0).count() == 0
    n_tok_sum = rows.agg(F.sum("n_tok")).collect()[0][0]
    corpus_tok = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")))
        .count()
    )
    assert n_tok_sum == corpus_tok


# --- k36 global chunk dedup ---------------------------------------------------


def test_k36_kept_chunks_globally_unique(spark, sf_dir):
    out = QUERIES["k36_chunk_dedup_global"](spark, sf_dir)
    assert out.filter(F.col("n_kept") > F.col("n_chunks")).count() == 0
    # Independent reconstruction (groupBy-min instead of the query's window):
    # first global occurrence of each chunk is (min(doc_id), min idx there);
    # the per-doc count of such keepers must equal n_kept exactly.
    ch = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("nch", F.expr(f"(size(t) + {CHUNK} - 1) div {CHUNK}"))
        .select(
            "doc_id",
            F.explode(F.expr("sequence(0, nch - 1)")).alias("idx"),
            F.expr(
                f"concat_ws(' ', slice(t, idx * {CHUNK} + 1, {CHUNK}))"
            ).alias("chunk"),
        )
    )
    keepers = (
        ch.groupBy("chunk")
        .agg(F.min(F.struct("doc_id", "idx")).alias("first"))
        .select(F.col("first.doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept_expected"))
    )
    mismatches = (
        out.join(keepers, "doc_id", "left")
        .filter(
            F.coalesce(F.col("n_kept_expected"), F.lit(0)) != F.col("n_kept")
        )
        .count()
    )
    assert mismatches == 0
    # dedup_text_md5 is a well-formed md5; n_kept == 0 docs hash the empty
    # string (engine-independent canonical value).
    assert out.filter(~F.col("dedup_text_md5").rlike("^[0-9a-f]{32}$")).count() == 0
    empty = out.filter(F.col("n_kept") == 0)
    assert (
        empty.filter(
            F.col("dedup_text_md5") != "d41d8cd98f00b204e9800998ecf8427e"
        ).count()
        == 0
    )


# --- k37 dedup clusters -------------------------------------------------------


def test_k37_component_invariants(spark, sf_dir):
    rows = QUERIES["k37_dedup_clusters"](spark, sf_dir).collect()
    assert len(rows) == len({r["doc_id"] for r in rows})  # total function
    sizes = defaultdict(set)
    for r in rows:
        assert r["component"] <= r["doc_id"]  # min-label semantics
        sizes[r["component"]].add(r["doc_id"])
    for r in rows:
        assert r["cluster_size"] == len(sizes[r["component"]])
    for comp, members in sizes.items():
        assert comp == min(members)  # label IS the min member


# --- k38 leakage-safe split ---------------------------------------------------


def test_k38_split_pure_per_source(spark, sf_dir):
    rows = QUERIES["k38_leakage_safe_split"](spark, sf_dir).collect()
    by_source = defaultdict(set)
    for r in rows:
        by_source[r["source"]].add(r["split"])
    assert all(len(s) == 1 for s in by_source.values()), by_source


def test_k38_map_only_plan(spark, sf_dir):
    plan = _executed_plan(spark, "k38_leakage_safe_split", sf_dir)
    assert "Exchange" not in plan, plan[:1500]


# --- k39 temperature sample ---------------------------------------------------


def test_k39_probabilities_and_flattening(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    n_by_source = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    kept = QUERIES["k39_source_temperature_sample"](spark, sf_dir).collect()
    p_by_source = {}
    for r in kept:
        assert 0 < r["p_keep"] <= 1
        p_by_source[r["source"]] = r["p_keep"]
    # Temperature α<1 flattens: a larger source must get a ≤ keep-prob.
    ps = sorted(p_by_source.items(), key=lambda kv: n_by_source[kv[0]])
    for (_, p_small), (_, p_big) in zip(ps, ps[1:]):
        assert p_big <= p_small + 1e-9


# --- k40 shard assignment -----------------------------------------------------


def test_k40_shards_balanced(spark, sf_dir):
    out = QUERIES["k40_shard_assign"](spark, sf_dir)
    tot = out.groupBy("shard_id").agg(
        F.sum("ntok").alias("tok"), F.count(F.lit(1)).alias("n")
    ).collect()
    assert len(tot) == _SHARDS
    counts = [r["n"] for r in tot]
    assert max(counts) - min(counts) <= 1  # round-robin doc balance
    toks = [r["tok"] for r in tot]
    max_doc = out.agg(F.max("ntok")).collect()[0][0]
    # Dealing size-sorted docs round-robin keeps totals within a few
    # max-doc lengths of each other.
    assert max(toks) - min(toks) <= 3 * max_doc, (toks, max_doc)


# --- b12 column profile -------------------------------------------------------


def test_b12_single_scan(spark, sf_dir):
    plan = _executed_plan(spark, "b12_column_profile", sf_dir)
    assert plan.count("Scan parquet") == 1, plan[:2000]


def test_b12_values_match_recomputation(spark, sf_dir):
    rows = {r["col_name"]: r for r in QUERIES["b12_column_profile"](spark, sf_dir).collect()}
    o = load(spark, sf_dir, "orders")
    exact = o.agg(
        F.countDistinct("o_custkey").alias("nd"),
        F.min("o_custkey").alias("mn"),
        F.max("o_custkey").alias("mx"),
    ).collect()[0]
    r = rows["o_custkey"]
    assert r["n_nulls"] == 0
    assert r["n_distinct"] == exact["nd"]
    assert r["min_repr"] == str(exact["mn"]) and r["max_repr"] == str(exact["mx"])


# --- k41 semantic dedup (SemDeDup) --------------------------------------------


def test_k41_semdedup_invariants(spark, sf_dir):
    """Every vector appears exactly once; the lowest vec_id of every
    cluster is always kept (it has no lower-id neighbor to defer to);
    kept flags are exactly {0,1}."""
    from upc_sku_data_loader_spark.plans.training import _SEMD_C

    rows = QUERIES["k41_semdedup"](spark, sf_dir).collect()
    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids))
    assert {r.kept for r in rows} <= {0, 1}
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster].append(r)
    assert len(by_cluster) <= _SEMD_C
    for members in by_cluster.values():
        lowest = min(members, key=lambda r: r.vec_id)
        assert lowest.kept == 1, f"cluster min {lowest.vec_id} was dropped"


# --- t6 linear interpolation ---------------------------------------------------


def test_t6_interpolation_bounds_and_edges(spark, sf_dir):
    """Interpolated values are never NULL, gap rows only appear strictly
    inside each user's span (edges are observed by construction), and
    observed rows agree with the t1 gap-fill day values."""
    t6 = QUERIES["t6_interpolate"](spark, sf_dir)
    assert t6.filter(F.col("value_interp").isNull()).count() == 0
    w_edges = (
        t6.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    )
    edge_gaps = (
        t6.join(w_edges, "user_id")
        .filter((F.col("day").isin(F.col("d0"), F.col("d1"))) & (F.col("was_gap") == 1))
        .count()
    )
    assert edge_gaps == 0
    t1 = QUERIES["t1_resample_gapfill"](spark, sf_dir).select(
        "user_id", "day", F.round("day_value", 6).alias("expect"), "is_gap"
    )
    joined = (
        t6.filter(F.col("was_gap") == 0)
        .join(t1.filter(~F.col("is_gap")), ["user_id", "day"])
        .filter(F.abs(F.col("value_interp") - F.col("expect")) > 1e-9)
    )
    assert joined.count() == 0


def test_k42_assignment_is_shuffle_free(spark, sf_dir):
    """The nearest-centroid assignment must be a pure projection over
    literal centroids — no Exchange anywhere in its plan."""
    from upc_sku_data_loader_spark.functions import vectors as V
    from upc_sku_data_loader_spark.plans.training import _KM_K, _km_assign

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in e.orderBy("vec_id").limit(_KM_K).collect()
    ]
    plan = _km_assign(e, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_k42_every_cluster_is_a_seed_and_nonempty(spark, sf_dir):
    from upc_sku_data_loader_spark.plans.training import _KM_K

    out = QUERIES["k42_kmeans"](spark, sf_dir)
    clusters = {r["cluster"] for r in out.select("cluster").distinct().collect()}
    seeds = {
        r["vec_id"]
        for r in load(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(_KM_K)
        .collect()
    }
    assert clusters <= seeds
    assert len(clusters) >= 2  # degenerate one-cluster fixture would hide bugs


def test_k43_pagerank_conserves_mass(spark, sf_dir):
    """Damped PageRank over a graph with no dangling nodes keeps total
    mass at 1 (up to the per-iteration rounding), and every rank holds
    at least the teleport floor."""
    out = QUERIES["k43_graph_pagerank"](spark, sf_dir)
    rows = out.collect()
    n = len(rows)
    total = sum(r["pr"] for r in rows)
    assert abs(total - 1.0) < 1e-4
    floor = 0.15 / n
    assert all(r["pr"] >= floor * 0.999 for r in rows)


# --- k47 farthest-point coreset -----------------------------------------------


def test_k47_fps_invariants(spark, sf_dir):
    rows = QUERIES["k47_coreset_fps"](spark, sf_dir).collect()
    centers = {r["center_id"] for r in rows}
    assert len(centers) == 4
    # every vector assigned to one of the 4 centers; centers assign to
    # themselves at distance 0
    for r in rows:
        assert r["center_id"] in centers
        if r["is_center"]:
            assert r["center_id"] == r["vec_id"]
            assert r["dist_r"] == 0.0
        assert r["dist_r"] >= 0.0
    # seed center is the min vec_id (deterministic greedy start)
    assert min(r["vec_id"] for r in rows) in centers
    # total function: one row per embedding
    n = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n


# --- k48 length buckets -------------------------------------------------------


def test_k48_bucket_accounting(spark, sf_dir):
    rows = QUERIES["k48_length_buckets"](spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_tokens = docs.select(F.explode(F.split("text", " "))).count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["total_tokens"] for r in rows) == n_tokens
    for r in rows:
        # bucket holds only docs that fit: padded >= total, and the
        # next-smaller bucket would not fit at least one doc
        assert r["padded_tokens"] == r["n_docs"] * r["bucket_len"]
        assert r["padded_tokens"] >= r["total_tokens"]
        assert 0 <= r["waste_micro"] <= 1_000_000


# --- t7 interpolated as-of join -----------------------------------------------


def test_t7_interp_between_neighbor_quotes(spark, sf_dir):
    """The interpolated quote always lies between the two neighboring
    quote values (inclusive, ±rounding), and no output row exists for a
    user with fewer than one quote on each side."""
    out = QUERIES["t7_asof_interpolated"](spark, sf_dir)
    eps = 5e-7
    bad = out.filter(
        (
            F.col("quote_interp")
            < F.least("prev_q", "next_q") - eps
        )
        | (
            F.col("quote_interp")
            > F.greatest("prev_q", "next_q") + eps
        )
    ).count()
    assert bad == 0
    # every output user has at least one purchase (quote) in events
    users_out = {r["user_id"] for r in out.select("user_id").distinct().collect()}

    quote_users = {
        r["user_id"]
        for r in load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .collect()
    }
    assert users_out <= quote_users


# --- k49 curriculum interleave ------------------------------------------------


def test_k49_interleave_balance(spark, sf_dir):
    """Positions are a permutation of 1..N and within any prefix of
    complete rounds every language appears its full round count —
    the no-front-loading property."""
    rows = QUERIES["k49_curriculum_interleave"](spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r["position"] for r in rows) == list(range(1, n + 1))
    from collections import Counter

    langs = Counter(r["lang"] for r in rows)
    n_langs = len(langs)
    min_docs = min(langs.values())
    # within the first k complete rounds (k <= min language size), each
    # language contributes exactly k docs
    k = min(5, min_docs)
    head = sorted(rows, key=lambda r: r["position"])[: k * n_langs]
    head_counts = Counter(r["lang"] for r in head)
    assert all(c == k for c in head_counts.values()), head_counts
