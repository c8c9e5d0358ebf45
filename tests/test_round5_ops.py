"""Round-5 operator properties: BM25 ranking, PMI collocations,
token entropy, JL random projection, EWMA, collation grouping, and the
DQ expectation suite (each also value-hash-checked in tools/parity.py;
these tests pin engine-independent invariants the hash can't express)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from upc_sku_data_loader_spark import plans  # noqa: F401
from upc_sku_data_loader_spark.catalog import load
from upc_sku_data_loader_spark.registry import QUERIES


# --- k50 BM25 -----------------------------------------------------------------


def test_k50_bm25_ranked_and_positive(spark, sf_dir):
    rows = QUERIES["k50_bm25_topk"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    scores = [r["bm25"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)
    assert len({r["doc_id"] for r in rows}) == len(rows)


def test_k50_bm25_hits_contain_query_terms(spark, sf_dir):
    from upc_sku_data_loader_spark.plans.curation import _BM25_QUERY

    out = QUERIES["k50_bm25_topk"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    joined = out.join(docs, "doc_id").select("doc_id", "text").collect()
    assert len(joined) == out.count()
    for r in joined:
        toks = set(r["text"].split(" "))
        assert toks & set(_BM25_QUERY)


# --- k51 PMI ------------------------------------------------------------------


def test_k51_pmi_floor_and_order(spark, sf_dir):
    from upc_sku_data_loader_spark.plans.llm import _PMI_MIN_COUNT

    rows = QUERIES["k51_pmi_collocations"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    assert all(r["c_xy"] >= _PMI_MIN_COUNT for r in rows)
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_k51_pmi_matches_manual_recompute(spark, sf_dir):
    """Recompute PMI for the top pair from raw corpus counts."""
    top = QUERIES["k51_pmi_collocations"](spark, sf_dir).limit(1).collect()[0]
    docs = load(spark, sf_dir, "documents")
    t = docs.select(F.split("text", " ").alias("t")).withColumn(
        "n", F.size("t")
    )
    bg = (
        t.filter(F.col("n") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    n_big = bg.count()
    c_xy = bg.filter(
        (F.col("w1") == top["w1"]) & (F.col("w2") == top["w2"])
    ).count()
    c_x = bg.filter(F.col("w1") == top["w1"]).count() + bg.filter(
        F.col("w2") == top["w1"]
    ).count()
    c_y = bg.filter(F.col("w1") == top["w2"]).count() + bg.filter(
        F.col("w2") == top["w2"]
    ).count()
    expect = math.log(c_xy * 2.0 * n_big / (c_x * c_y))
    assert top["c_xy"] == c_xy
    assert abs(top["pmi"] - expect) < 1e-5


# --- k52 token entropy --------------------------------------------------------


def test_k52_entropy_bounds(spark, sf_dir):
    out = QUERIES["k52_token_entropy"](spark, sf_dir)
    bad = out.filter(
        (F.col("entropy") < 0)
        | (F.col("entropy") > F.log(F.col("n_tokens").cast("double")) + 1e-6)
        | (F.col("n_types") > F.col("n_tokens"))
        | (F.col("ttr_micro") <= 0)
        | (F.col("ttr_micro") > 1_000_000)
    ).count()
    assert bad == 0
    assert out.count() == load(spark, sf_dir, "documents").count()


def test_k52_entropy_hand_checked():
    """-(2/3·ln(2/3) + 1/3·ln(1/3)) for the distribution {a:2, b:1}."""
    expect = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert round(expect, 6) == 0.636514


# --- k53 JL random projection -------------------------------------------------


def test_k53_projection_shape_and_determinism(spark, sf_dir):
    from upc_sku_data_loader_spark.plans.training import _RP_DIMS

    out = QUERIES["k53_random_projection"](spark, sf_dir)
    n_vec = load(spark, sf_dir, "embeddings").count()
    assert out.count() == n_vec * _RP_DIMS
    assert out.select("j").distinct().count() == _RP_DIMS
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, QUERIES["k53_random_projection"](spark, sf_dir).collect()))
    assert a == b


def test_k53_projection_preserves_norm_in_distribution(spark, sf_dir):
    """JL guarantee (in distribution): E[||Px||²]/d_out = ||x||², so the
    per-vector ratio concentrates around 1 — assert the median lands in
    a generous [0.4, 2.5] band rather than any per-vector bound."""
    out = QUERIES["k53_random_projection"](spark, sf_dir)
    proj_norm = out.groupBy("vec_id").agg(
        F.sum(F.col("comp") * F.col("comp")).alias("p2")
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        ).alias("x2"),
    )
    from upc_sku_data_loader_spark.plans.training import _RP_DIMS

    ratios = sorted(
        r["p2"] / (r["x2"] * _RP_DIMS)
        for r in proj_norm.join(emb, "vec_id").collect()
        if r["x2"] > 0
    )
    med = ratios[len(ratios) // 2]
    assert 0.4 < med < 2.5


# --- t8 EWMA ------------------------------------------------------------------


def test_t8_ewma_is_convex_combination(spark, sf_dir):
    """Normalized finite-kernel EWMA is a weighted mean of the trailing
    10 values → bounded by the user's running min/max over that frame."""
    from pyspark.sql.window import Window

    out = QUERIES["t8_ewma"](spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    checked = out.select(
        "*",
        F.min("value").over(w).alias("lo"),
        F.max("value").over(w).alias("hi"),
    )
    assert (
        checked.filter(
            (F.col("ewma10") < F.col("lo") - 1e-6)
            | (F.col("ewma10") > F.col("hi") + 1e-6)
        ).count()
        == 0
    )


def test_t8_first_row_equals_value(spark, sf_dir):
    from pyspark.sql.window import Window

    out = QUERIES["t8_ewma"](spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = out.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    assert (
        first.filter(
            F.abs(F.col("ewma10") - F.round(F.col("value"), 6)) > 1e-6
        ).count()
        == 0
    )


# --- h14 collation ------------------------------------------------------------


def test_h14_collation_collapses_case_variants(spark, sf_dir):
    rows = QUERIES["h14_collation_group"](spark, sf_dir).collect()
    cust = load(spark, sf_dir, "customer")
    assert sum(r["n_rows"] for r in rows) == cust.count()
    assert len(rows) == cust.select("c_mktsegment").distinct().count()
    for r in rows:
        assert r["segment"] == r["segment"].lower()
        assert 1 <= r["n_case_variants"] <= 3


# --- etl7 DQ expectations -----------------------------------------------------


def test_etl7_expectations_all_green_on_fixtures(spark, sf_dir):
    rows = QUERIES["etl7_dq_expectations"](spark, sf_dir).collect()
    assert len(rows) == 6
    assert {r["expectation"] for r in rows} == {
        "lineitem.quantity_in_range",
        "lineitem.shipdate_not_null",
        "lineitem.discount_domain",
        "orders.custkey_ref_integrity",
        "orders.orderkey_unique",
        "part.retailprice_positive",
    }
    for r in rows:
        assert r["n_checked"] > 0
        assert r["n_violations"] == 0 and r["ok"] is True


def test_etl7_catches_planted_violation(spark, sf_dir):
    """The conditional-agg construction must actually count violations:
    replay the lineitem expectations over a frame with planted bads."""
    d = spark.createDataFrame(
        [(0.05, 10), (0.5, 99), (0.02, 0)],
        "l_discount double, l_quantity int",
    )
    agg = d.agg(
        F.count(F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)).alias("vq"),
        F.count(F.when((F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.1), 1)).alias("vd"),
    ).collect()[0]
    assert agg["vq"] == 2 and agg["vd"] == 1


# --- e10 interval range frame -------------------------------------------------


def test_e10_frame_contains_current_row(spark, sf_dir):
    out = QUERIES["e10_win_range_interval"](spark, sf_dir)
    purchases = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert out.count() == purchases
    assert out.filter(F.col("n_1h") < 1).count() == 0
    # trailing sum always includes the current row's value
    assert out.filter(F.col("sum_1h") + 1e-9 < F.col("value")).count() == 0


# --- t9 MAD outliers ----------------------------------------------------------


def test_t9_mad_flags_respect_threshold(spark, sf_dir):
    out = QUERIES["t9_mad_outliers"](spark, sf_dir)
    assert out.filter(F.col("mad") < 0).count() == 0
    # flagged rows really exceed the modified-z cut (on rounded stats)
    bad = out.filter(
        F.col("is_outlier")
        & (
            F.abs(F.col("value") - F.col("med"))
            <= 3.5 * 1.4826 * F.col("mad") - 1e-4
        )
    ).count()
    assert bad == 0
    n = out.count()
    flagged = out.filter("is_outlier").count()
    assert flagged < n * 0.2  # robust stats flag a minority


# --- etl8 snapshot diff -------------------------------------------------------


def test_etl8_change_types_are_consistent(spark, sf_dir):
    out = QUERIES["etl8_snapshot_diff"](spark, sf_dir)
    assert (
        out.filter(
            (F.col("change_type") == "added") & F.col("old_price").isNotNull()
        ).count()
        == 0
    )
    assert (
        out.filter(
            (F.col("change_type") == "removed")
            & F.col("new_price").isNotNull()
        ).count()
        == 0
    )
    assert (
        out.filter(
            (F.col("change_type") == "changed")
            & (
                F.col("old_price").isNull()
                | F.col("new_price").isNull()
            )
        ).count()
        == 0
    )
    o = load(spark, sf_dir, "orders")
    expect_added = o.filter(
        (F.col("o_orderkey") % 97 == 3) & (F.col("o_orderkey") % 89 != 7)
    ).count()
    expect_removed = o.filter(
        (F.col("o_orderkey") % 97 != 3) & (F.col("o_orderkey") % 89 == 7)
    ).count()
    by_type = {
        r["change_type"]: r["n"]
        for r in out.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_type.get("added", 0) == expect_added
    assert by_type.get("removed", 0) == expect_removed


# --- k54 containment ----------------------------------------------------------


def test_k54_containment_threshold_and_no_self_pairs(spark, sf_dir):
    out = QUERIES["k54_containment_pairs"](spark, sf_dir)
    assert (
        out.filter(F.col("contained_id") == F.col("container_id")).count()
        == 0
    )
    assert (
        out.filter(
            (F.col("containment_micro") <= 0)
            | (F.col("containment_micro") > 1_000_000)
        ).count()
        == 0
    )
    assert (
        out.filter(
            F.col("shared") * 5 < 4 * F.col("n_contained")
        ).count()
        == 0
    )


def _k54_brute_force(rows, n=8, df_cap=64, num=4, den=5):
    """Reference containment pairs mirroring the k54 contract: distinct
    word-8-gram sets, boilerplate df-cap BEFORE pairing, integer threshold
    shared·den ≥ num·|contained|, half-up micro-unit fraction."""
    grams = {}
    for doc_id, text in rows:
        toks = text.split(" ")
        if len(toks) >= n:
            gs = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            if gs:
                grams[doc_id] = gs
    df = {}
    for gs in grams.values():
        for g in gs:
            df[g] = df.get(g, 0) + 1
    kept = {
        d: {g for g in gs if df[g] <= df_cap} for d, gs in grams.items()
    }
    kept = {d: gs for d, gs in kept.items() if gs}
    out = {}
    for a, ga in kept.items():  # a = contained
        for b, gb in kept.items():
            if a == b:
                continue
            shared = len(ga & gb)
            if shared and shared * den >= num * len(ga):
                micro = (shared * 2_000_000 + len(ga)) // (2 * len(ga))
                out[(a, b)] = (shared, len(ga), micro)
    return out


def test_k54_matches_brute_force_with_boilerplate_cap(spark, tmp_path):
    """Seeded randomized corpus exercising the full k54 surface: 70 docs
    sharing one boilerplate 8-gram (df 70 > cap 64, so it must NOT count
    toward containment), plus excerpt docs that are strict prefixes of
    others (the asymmetric-containment hit the operator exists to find)."""
    import random

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    boiler = ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dogs"]
    texts = []
    for _ in range(70):
        tail = [rng.choice(vocab) for _ in range(rng.randint(4, 20))]
        texts.append(" ".join(boiler + tail))
    # excerpts: first 12 words of two random docs → high containment in
    # the source doc (their non-boilerplate grams are a subset)
    for src in (rng.randrange(70), rng.randrange(70)):
        texts.append(" ".join(texts[src].split(" ")[:12]))
    rows = list(enumerate(texts, start=1))
    data = [(i, s, "en", "synth", len(s)) for i, s in rows]
    spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["contained_id"], r["container_id"]): (
            r["shared"], r["n_contained"], r["containment_micro"]
        )
        for r in QUERIES["k54_containment_pairs"](spark, str(tmp_path)).collect()
    }
    want = _k54_brute_force(rows)
    assert want  # the excerpt construction guarantees hits
    assert got == want
    # the boilerplate gram is in all 72 docs — over the cap — so no pair
    # may be justified by it alone: every contained side shares a NON-
    # boilerplate gram (implied by got == want, asserted for intent)
    assert all(shared >= 1 for shared, _, _ in want.values())


# --- s6 pipe syntax -----------------------------------------------------------


def test_s6_pipe_equals_ansi_in_spark(spark, sf_dir):
    """The pipe text and the ANSI oracle text must agree WITHIN Spark
    too (the parity gate checks Spark-pipe vs DuckDB-ANSI; this closes
    the triangle)."""
    from upc_sku_data_loader_spark.catalog import register_views
    from upc_sku_data_loader_spark.plans.sql_api import _S6_ORACLE, _S6_PIPE

    register_views(spark, sf_dir)
    a = {tuple(r) for r in spark.sql(_S6_PIPE).collect()}
    b = {tuple(r) for r in spark.sql(_S6_ORACLE).collect()}
    assert a == b and len(a) > 0


# --- h15 try_* functions ------------------------------------------------------


def test_h15_try_semantics_on_planted_frame(spark):
    d = spark.createDataFrame(
        [(1, 0), (2, 5)], "a long, b long"
    ).selectExpr(
        "try_divide(a, b) AS q",
        "try_add(a, 9223372036854775807) AS o",
        "try_cast('12' AS INT) AS c_ok",
        "try_cast('xx' AS INT) AS c_bad",
    )
    rows = d.collect()
    by_q = {r["o"] is None for r in rows}
    assert by_q == {True}  # both a=1,2 overflow
    assert rows[0]["c_ok"] == 12 and rows[0]["c_bad"] is None
    qs = sorted((r["q"] is None) for r in rows)
    assert qs == [False, True]  # b=0 → NULL, b=5 → value


def test_h15_fixture_null_pattern(spark, sf_dir):
    out = QUERIES["h15_try_functions"](spark, sf_dir)
    # division by zero exactly where l_linenumber == 1
    assert (
        out.filter(
            (F.col("l_linenumber") == 1)
            & F.col("price_per_extra_line").isNotNull()
        ).count()
        == 0
    )
    # try_add overflows (→ NULL) exactly for positive orderkeys;
    # orderkey 0 adds cleanly and keeps the value
    assert (
        out.filter(
            (F.col("l_orderkey") > 0) & F.col("overflow_add").isNotNull()
        ).count()
        == 0
    )
    assert (
        out.filter(
            (F.col("l_orderkey") == 0) & F.col("overflow_add").isNull()
        ).count()
        == 0
    )
    # even line numbers parse, odd (returnflag letters) do not
    assert (
        out.filter(
            (F.col("l_linenumber") % 2 == 0) & F.col("mixed_as_int").isNull()
        ).count()
        == 0
    )


# --- a19 malformed CSV --------------------------------------------------------


def test_a19_corrupt_routing_salvages_fields(spark, sf_dir):
    # Collect once (full parse — how the driver consumes results too):
    # Spark's analyzer rejects projections it deems corrupt-column-only
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the row-level invariants
    # are asserted in Python over the materialized rows.
    rows = QUERIES["a19_csv_malformed"](spark, sf_dir).collect()
    # every row keeps its parseable leading fields, corrupt or not
    assert all(r["k"] is not None for r in rows)
    assert all(r["status"] is not None for r in rows)
    # corrupt ⟺ price missing (bad-type and short-arity shapes)
    assert all(
        r["is_corrupt"] == (r["price_cents"] is None) for r in rows
    )
    corrupt = sum(1 for r in rows if r["is_corrupt"])
    assert 0 < corrupt < len(rows)


# --- k55 bigram logprob -------------------------------------------------------


def test_k55_bigram_logprob_bounds(spark, sf_dir):
    out = QUERIES["k55_bigram_logprob"](spark, sf_dir)
    # log-probs are strictly negative (smoothing forbids P=1 unless a
    # word pair is the whole vocabulary) and finite
    assert out.filter(F.col("logprob") >= 0).count() == 0
    assert out.filter(F.isnan("logprob")).count() == 0
    # every doc with >= 2 tokens is scored
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= 2)
        .count()
    )
    assert out.count() == docs


def test_k55_orders_better_than_shuffled(spark):
    """Word order must matter: the same tokens in corpus-frequent order
    score higher than a rare permutation — checked on a planted corpus
    where 'a b' dominates and 'b a' never occurs."""
    docs = [(i, "a b a b a b") for i in range(9)] + [(9, "b a b a b a")]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    d.createOrReplaceTempView("_k55_probe")
    # reuse the registered builder against a temp fixture via SQL-free
    # recompute: bigram counts over the probe corpus
    bg = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.split("text", " "), 1, 5),
                F.slice(F.split("text", " "), 2, 5),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_x"))
    v = bg.agg(F.countDistinct("w2").alias("vocab"))
    scored = (
        bg.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(v)
        .groupBy("doc_id")
        .agg(
            F.avg(
                F.log((F.col("c_xy") + 1.0) / (F.col("c_x") + F.col("vocab")))
            ).alias("lp")
        )
    )
    by_id = {r["doc_id"]: r["lp"] for r in scored.collect()}
    assert by_id[0] > by_id[9]


# --- a20 compressed JSON ------------------------------------------------------


def test_a20_files_are_gzip(spark, sf_dir):
    import glob

    from upc_sku_data_loader_spark.plans.sources_sinks import _scratch

    out = QUERIES["a20_compressed_json"](spark, sf_dir)
    n = out.count()
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 1)
        .count()
    )
    assert n == src
    files = glob.glob(_scratch(sf_dir, "orders_json_gz") + "/*.json.gz")
    assert files, "output must be .json.gz part files"
    with open(files[0], "rb") as fh:
        assert fh.read(2) == b"\x1f\x8b"  # gzip magic


# --- j9 applyInArrow ----------------------------------------------------------


def test_j9_matches_builtin_aggregation(spark, sf_dir):
    out = {
        r["o_custkey"]: (r["n_orders"], r["total_spend"], r["max_order"])
        for r in QUERIES["j9_apply_in_arrow"](spark, sf_dir).collect()
    }
    ref = {
        r["o_custkey"]: (r["n"], r["t"], r["m"])
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("t"),
            F.max("o_totalprice").alias("m"),
        )
        .filter(F.col("n") >= 3)
        .collect()
    }
    assert out == ref and len(out) > 0


# --- k56 curation scorecard ---------------------------------------------------


def test_k56_mask_consistent_with_keep(spark, sf_dir):
    rows = QUERIES["k56_curation_scorecard"](spark, sf_dir).collect()
    assert len(rows) == load(spark, sf_dir, "documents").count()
    for r in rows:
        assert 0 <= r["reason_mask"] < 32
        assert r["keep"] == (r["reason_mask"] == 0)


def test_k56_gates_fire_on_planted_docs(spark):
    """Each gate must actually fire: a 3-token doc (length), a
    one-word-repeated doc (ttr+repetition+entropy), a stopword-free
    doc (stopword floor)."""
    from upc_sku_data_loader_spark.plans.curation import _K56_STOPWORDS

    docs = spark.createDataFrame(
        [
            (1, "a b c"),                       # too short → bit 1
            (2, " ".join(["x"] * 50)),          # ttr/rep/entropy/stop
            (3, " ".join(f"w{i}" for i in range(40))),  # no stopwords
        ],
        "doc_id long, text string",
    )
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("types"),
        F.max("c").alias("cmax"),
        F.sum(
            F.when(F.col("term").isin(*_K56_STOPWORDS), F.col("c")).otherwise(0)
        ).alias("cstop"),
    )
    by = {r["doc_id"]: r for r in agg.collect()}
    assert by[1]["n"] < 10                        # bit 1 fires
    assert by[2]["types"] * 10 < 3 * by[2]["n"]   # bit 2 fires
    assert by[2]["cmax"] * 5 > by[2]["n"]         # bit 8 fires
    assert by[3]["cstop"] * 20 < by[3]["n"]       # bit 4 fires


# --- k58 shard manifest -------------------------------------------------------


def test_k58_manifest_covers_corpus_and_checksum_is_order_free(spark, sf_dir):
    rows = QUERIES["k58_shard_manifest"](spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert len(rows) == min(8, docs.count())
    # XOR checksum is order/partitioning independent: recompute from a
    # differently-partitioned corpus scan
    whole = (
        docs.repartition(7)
        .select(
            F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
            .cast("long")
            .alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("x"))
        .collect()[0]["x"]
    )
    fold = 0
    for r in rows:
        fold ^= r["content_checksum"]
    assert fold == whole


# --- h16 map HOFs -------------------------------------------------------------


def test_h16_map_pipeline_matches_row_form(spark, sf_dir):
    out = {
        (r["l_orderkey"], r["l_linenumber"]): r["fused"]
        for r in QUERIES["h16_map_hof"](spark, sf_dir).collect()
    }
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum("l_quantity").alias("qty"),
            F.floor(
                F.sum(F.col("l_extendedprice").cast("decimal(30,6)"))
                .cast("double")
                / 1000
            ).alias("kp"),
        )
        .withColumn("fused", F.col("qty") * 2 + F.col("kp"))
        .filter(F.col("fused") >= 30)
    )
    ref = {
        (r["l_orderkey"], r["l_linenumber"]): float(r["fused"])
        for r in li.collect()
    }
    assert out == ref and len(out) > 0


# --- k60 dataset card ---------------------------------------------------------


def test_k60_card_values_recompute(spark, sf_dir):
    card = {
        r["metric"]: r["value"]
        for r in QUERIES["k60_dataset_card"](spark, sf_dir).collect()
    }
    docs = load(spark, sf_dir, "documents")
    assert card["n_docs"] == docs.count()
    assert card["n_langs"] == docs.select("lang").distinct().count()
    assert card["n_sources"] == docs.select("source").distinct().count()
    assert 0 <= card["exact_dup_rate_micro"] <= 1_000_000
    assert card["p50_tokens"] <= card["p90_tokens"]
    assert card["n_tokens"] >= card["n_docs"]  # every doc has >= 1 token


# --- h17 / h18 function libraries ---------------------------------------------


def test_h17_calendar_invariants(spark, sf_dir):
    out = QUERIES["h17_datetime_extended"](spark, sf_dir)
    bad = out.filter(
        (F.col("q") < 1) | (F.col("q") > 4)
        | (F.col("iso_week") < 1) | (F.col("iso_week") > 53)
        | (F.col("doy") < 1) | (F.col("doy") > 366)
        | (F.dayofmonth("month_end") < 28)
        | (F.month("mid_year") != 7)
        | (F.dayofmonth("q_start") != 1)
    ).count()
    assert bad == 0


def test_h18_position_zero_when_absent(spark, sf_dir):
    out = QUERIES["h18_array_lib"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    joined = out.join(docs, "doc_id").select("pos_the", "text").collect()
    for r in joined:
        toks = r["text"].split(" ")
        if "the" in toks:
            assert r["pos_the"] == toks.index("the") + 1
        else:
            assert r["pos_the"] == 0


# --- k15d overlapping segments ------------------------------------------------


def test_k15d_segments_overlap_by_construction(spark, sf_dir):
    out = QUERIES["k15d_multimodal_segments"](spark, sf_dir)
    rows = out.collect()
    assert all(r["byte_offset"] == r["seg_index"] * 120 for r in rows)
    assert all(0 < r["seg_len"] <= 200 for r in rows)
    # hop(120) < window(200) ⇒ any doc with >= 2 segments has overlap:
    # segment i spans [120i, 120i+200) ⊇ start of segment i+1 at 120(i+1)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    multi = [v for v in by_doc.values() if len(v) > 1]
    assert multi, "fixture must produce multi-segment docs"
    for segs in multi:
        segs.sort(key=lambda r: r["seg_index"])
        for a, b in zip(segs, segs[1:]):
            if a["seg_len"] == 200:  # full window ⇒ true overlap
                assert a["byte_offset"] + a["seg_len"] > b["byte_offset"]


# --- k61 end-to-end pipeline --------------------------------------------------


def test_k61_pipeline_composes_its_stages(spark, sf_dir):
    out = {r["split"]: r for r in QUERIES["k61_pretrain_pipeline"](spark, sf_dir).collect()}
    assert set(out) <= {"train", "val", "test"}
    kept = (
        QUERIES["k56_curation_scorecard"](spark, sf_dir)
        .filter(F.col("keep"))
        .count()
    )
    total_docs = sum(r["n_docs"] for r in out.values())
    # dedup can only shrink the gated set
    assert 0 < total_docs <= kept
    # md5 split is deterministic: re-run gives identical manifests
    again = {r["split"]: r for r in QUERIES["k61_pretrain_pipeline"](spark, sf_dir).collect()}
    for k in out:
        assert tuple(out[k]) == tuple(again[k])
    # 80/10/10 target: train strictly dominates
    if "train" in out and "val" in out:
        assert out["train"]["n_docs"] > out["val"]["n_docs"]
