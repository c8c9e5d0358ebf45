"""Round-6 operator properties: basket lift (q23), Holt trend (t11),
SQL UDFs (s8) — engine-independent invariants beyond the parity hash."""

from __future__ import annotations

from pyspark.sql import functions as F

from upc_sku_data_loader_spark import plans  # noqa: F401
from upc_sku_data_loader_spark.catalog import load
from upc_sku_data_loader_spark.registry import QUERIES


def test_q23_metric_bounds(spark, sf_dir):
    rows = QUERIES["q23_basket_lift"](spark, sf_dir).collect()
    for r in rows:
        assert r["brand_a"] < r["brand_b"]
        assert r["pair_orders"] >= 20
        # support <= confidence (conf divides by the smaller brand count)
        assert 0 < r["support_micro"] <= r["confidence_micro"] <= 1_000_000
        assert r["lift_micro"] >= 0


def test_t11_holt_tracks_constant_series(spark):
    # On a constant series the level equals the series and trend stays 0.
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "user_id": [1] * 8,
            "ts": pd.date_range("2025-01-01", periods=8, freq="h"),
            "event_id": range(8),
            "value": [42.0] * 8,
            "event_type": ["purchase"] * 8,
            "props": ["{}"] * 8,
        }
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pdf.to_parquet(f"{d}/events.parquet")
        out = QUERIES["t11_holt_trend"](spark, d).orderBy("rn").collect()
    assert len(out) == 8
    for r in out:
        assert r["level_micro"] == 42_000_000
        assert r["trend_micro"] == 0
        assert r["forecast_micro"] == 42_000_000


def test_t11_first_row_initialization(spark, sf_dir):
    out = QUERIES["t11_holt_trend"](spark, sf_dir)
    first = out.filter(F.col("rn") == 1)
    bad = first.filter(
        (F.col("trend_micro") != 0)
        | (F.col("level_micro") != F.expr("CAST(ROUND(value * 1000000) AS BIGINT)"))
    ).count()
    assert bad == 0
    # one rn=1 row per user present in the purchase stream
    assert first.count() == out.select("user_id").distinct().count()


def test_s8_sql_udf_inlines_to_pushed_scan(spark, sf_dir):
    df = QUERIES["s8_sql_udf"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the SQL UDF must dissolve into the scan: no python/udf eval nodes
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert df.count() > 0


def test_d23_mode_is_argmax_of_counts(spark, sf_dir):
    rows = QUERIES["d23_agg_mode"](spark, sf_dir).collect()
    parts = (
        load(spark, sf_dir, "part")
        .groupBy("p_type", "p_brand")
        .count()
        .collect()
    )
    by_type: dict[str, dict[str, int]] = {}
    for r in parts:
        by_type.setdefault(r["p_type"], {})[r["p_brand"]] = r["count"]
    assert len(rows) == len(by_type)
    for r in rows:
        counts = by_type[r["p_type"]]
        best = max(counts.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0]]))
        assert counts[r["mode_brand"]] == r["mode_count"] == best[1]


def test_t12_backtest_nonnegative_and_counts(spark, sf_dir):
    rows = QUERIES["t12_naive_backtest"](spark, sf_dir).collect()
    for r in rows:
        assert r["n_evals"] >= 1
        assert r["sum_abs_err"] >= 0
        assert r["mae_micro"] >= 0


def test_etl11_wap_blocks_bad_batch(spark, sf_dir):
    rows = {r["batch_id"]: r for r in QUERIES["etl11_write_audit_publish"](spark, sf_dir).collect()}
    assert rows[1]["published"] is True
    assert rows[2]["published"] is False
    assert rows[2]["n_null_keys"] > 0 or rows[2]["n_nonpositive"] > 0
    # live table still serves batch 1 after the bad batch was rejected
    assert rows[1]["live_rows_after"] == rows[2]["live_rows_after"] == rows[1]["n_rows"]


def test_a24_fixed_width_roundtrip_is_lossless(spark, sf_dir):
    out = QUERIES["a24_fixed_width_source"](spark, sf_dir)
    src = load(spark, sf_dir, "supplier")
    assert out.count() == src.count()
    got = {r["s_suppkey"]: r for r in out.collect()}
    for r in src.collect():
        g = got[r["s_suppkey"]]
        assert g["s_name"] == r["s_name"][:20].rstrip()
        assert abs(g["s_acctbal_2dp"] - round(r["s_acctbal"], 2)) < 0.011


def test_k73_decisions_partition_the_new_batch(spark, sf_dir):
    out = QUERIES["k73_incremental_dedup"](spark, sf_dir)
    n_new = (
        load(spark, sf_dir, "documents")
        .filter("doc_id % 2 = 1")
        .count()
    )
    assert out.count() == n_new
    rows = out.collect()
    for r in rows:
        assert r["decision"] in ("exact_dup", "near_dup", "keep")
        if r["decision"] == "keep":
            assert r["n_exact"] == 0 and r["n_near"] == 0
        if r["decision"] == "near_dup":
            assert r["n_near"] >= 1 and r["max_jaccard"] >= 0.5


def test_a25_jdbc_stripes_tile_exactly(spark, sf_dir):
    out = QUERIES["a25_jdbc_partitioned_read"](spark, sf_dir)
    n_src = load(spark, sf_dir, "orders").count()
    rows = out.collect()
    assert sum(r["n_orders"] for r in rows) == n_src  # no loss/dup at bounds
    assert len(rows) == 8


def test_q24_share_is_monotone_and_ends_at_one(spark, sf_dir):
    rows = sorted(
        QUERIES["q24_pareto_share"](spark, sf_dir).collect(),
        key=lambda r: r["rk"],
    )
    shares = [r["cum_share_micro"] for r in rows]
    assert shares == sorted(shares)
    assert shares[-1] == 1_000_000
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_t13_deseasonalized_means_are_zeroish(spark, sf_dir):
    from pyspark.sql import functions as F

    out = QUERIES["t13_seasonal_adjust"](spark, sf_dir)
    per_dow = (
        out.groupBy("dow")
        .agg(F.avg("value_deseasonalized").alias("m"))
        .collect()
    )
    for r in per_dow:  # adjusted series has ~zero mean within each weekday
        assert abs(r["m"]) < 1e-4


def test_k74_score_decomposition(spark, sf_dir):
    from upc_sku_data_loader_spark.plans.curation import (
        _K74_KEEP,
        _K74_MIN_TOKENS,
        _K74_W_DIGIT,
        _K74_W_SHORT,
        _K74_W_TTR,
    )

    rows = QUERIES["k74_quality_model_score"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        expect = (
            _K74_W_TTR * r["ttr_micro"]
            + _K74_W_DIGIT * r["digit_micro"]
            + (_K74_W_SHORT if r["n_tokens"] < _K74_MIN_TOKENS else 0)
        )
        assert r["score_micro"] == expect
        assert r["keep"] == (expect >= _K74_KEEP)


def test_q25_chi2_cells_tile_the_user_base(spark, sf_dir):
    r = QUERIES["q25_ab_test_chi2"](spark, sf_dir).first()
    n_users = (
        load(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert r["n_control"] + r["n_treatment"] == n_users
    assert 0 <= r["conv_control"] <= r["n_control"]
    assert 0 <= r["conv_treatment"] <= r["n_treatment"]
    assert r["chi2_micro"] >= 0
    assert r["significant_p05"] == (r["chi2_micro"] >= 3_841_459)


def test_k76_roundtrip_is_universally_lossless(spark, sf_dir):
    rows = QUERIES["k76_bpe_roundtrip"](spark, sf_dir).collect()
    assert rows
    # the invariant itself: every word in every doc decodes exactly
    assert all(r["lossless"] for r in rows)
    assert all(r["n_words"] == r["n_roundtrip_exact"] for r in rows)


def test_i19_ledger_rejects_all_replays(spark, sf_dir):
    """After the adversarial full replay, the log must hold each event
    exactly once — n_rows == n_distinct per type."""
    rows = QUERIES["i19_stream_txn_sink"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_rows"] == r["n_distinct"]


def test_a27_each_file_is_one_row(spark, sf_dir):
    out = QUERIES["a27_wholefile_text"](spark, sf_dir)
    expect = (
        load(spark, sf_dir, "documents")
        .filter("doc_id % 25 = 0")
        .count()
    )
    assert out.count() == expect


def test_k77_removes_only_cross_doc_spans(spark, sf_dir):
    """Boilerplate spans must recur in >= _K77_MIN_DF docs; a doc with
    nothing removed keeps md5(original span text)."""
    rows = QUERIES["k77_boilerplate_prune"](spark, sf_dir).collect()
    assert len(rows) == 500
    n_pruned = sum(1 for r in rows if r["n_removed"] > 0)
    assert 0 < n_pruned < len(rows)  # threshold bites, but not everywhere
    for r in rows:
        assert 0 <= r["n_removed"] <= r["n_spans"]


def test_d25_corr_matrix_bounds_and_selfconsistency(spark, sf_dir):
    rows = QUERIES["d25_corr_matrix"](spark, sf_dir).collect()
    assert len(rows) == 6
    for r in rows:
        assert -1_000_000 <= r["corr_micro"] <= 1_000_000
    # qty ⟂ price in the generator ⇒ |corr| well below 0.5
    by = {(r["col_x"], r["col_y"]): r["corr_micro"] for r in rows}
    assert abs(by[("l_quantity", "l_discount")]) < 500_000


def test_t14_acf_lag_grid_and_bounds(spark, sf_dir):
    rows = QUERIES["t14_acf"](spark, sf_dir).collect()
    assert sorted(r["lag"] for r in rows) == list(range(1, 8))
    for r in rows:
        assert abs(r["acf_micro"]) <= 1_000_000
        assert r["n_pairs"] > 0
    # longer lag ⇒ fewer (or equal) joinable day pairs
    by_lag = {r["lag"]: r["n_pairs"] for r in rows}
    assert all(by_lag[k] >= by_lag[k + 1] for k in range(1, 7))


def test_q26_rfm_quintiles_are_balanced(spark, sf_dir):
    rows = QUERIES["q26_rfm_segments"](spark, sf_dir).collect()
    n_cust = (
        load(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert len(rows) == n_cust
    from collections import Counter

    for col in ("r_score", "f_score", "m_score"):
        c = Counter(r[col] for r in rows)
        assert sorted(c) == [1, 2, 3, 4, 5]
        assert max(c.values()) - min(c.values()) <= 1  # NTILE balance
    assert {r["segment"] for r in rows} <= {
        "champion", "loyal", "at_risk", "hibernating", "regular"
    }


def test_q27_attribution_conserves_purchases(spark, sf_dir):
    rows = QUERIES["q27_last_touch_attribution"](spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    n_purch = ev.filter("event_type = 'purchase'").count()
    assert sum(r["n_purchases"] for r in rows) == n_purch  # full credit
    assert {r["touch_type"] for r in rows} <= {"view", "click", "none"}


def test_q28_ltv_is_monotone_in_offset(spark, sf_dir):
    rows = QUERIES["q28_cohort_ltv"](spark, sf_dir).collect()
    assert rows
    from collections import defaultdict

    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r["cohort_week"]].append((r["week_offset"], r["cum_ltv_per_user"]))
    for curve in by_cohort.values():
        curve.sort()
        vals = [v for _, v in curve]
        assert vals == sorted(vals)  # cumulative ⇒ non-decreasing


def test_c16_grid_join_finds_exactly_the_all_pairs_matches(spark, sf_dir):
    """The bucketed candidate join must be complete: every pair the
    naive all-pairs haversine accepts is found (no cell-boundary
    misses) and nothing outside the radius slips in."""
    import math

    out = {
        (r["c_custkey"], r["s_suppkey"]): r["dist_m"]
        for r in QUERIES["c16_geo_radius_join"](spark, sf_dir).collect()
    }
    from upc_sku_data_loader_spark.plans.joins import _C16_R_KM, _c16_coord

    cust = (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            _c16_coord("c", "lat", "c_custkey").alias("lat"),
            _c16_coord("c", "lon", "c_custkey").alias("lon"),
        )
        .collect()
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            _c16_coord("s", "lat", "s_suppkey").alias("lat"),
            _c16_coord("s", "lon", "s_suppkey").alias("lon"),
        )
        .collect()
    )

    def hav(a, b):
        p1, l1, p2, l2 = map(math.radians, (a["lat"], a["lon"], b["lat"], b["lon"]))
        h = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2) * math.sin((l2 - l1) / 2) ** 2
        )
        return 2 * 6371 * math.asin(math.sqrt(h))

    expect = {
        (c["c_custkey"], s["s_suppkey"])
        for c in cust
        for s in supp
        if hav(c, s) < _C16_R_KM
    }
    assert set(out) == expect
    assert all(0 <= d < _C16_R_KM * 1000 for d in out.values())


def test_h20_seq_fanout_matches_size_formula(spark, sf_dir):
    rows = QUERIES["h20_generators"](spark, sf_dir).collect()
    p = (
        load(spark, sf_dir, "part")
        .filter("p_partkey % 20 = 0")
        .collect()
    )
    n_seq = sum(r["p_size"] % 3 + 1 for r in p)
    assert sum(1 for r in rows if r["kind"] == "seq") == n_seq
    assert sum(1 for r in rows if r["kind"] == "attr") == 2 * len(p)


def test_etl12_vault_key_integrity(spark, sf_dir):
    by = {
        r["vault_table"]: r
        for r in QUERIES["etl12_data_vault_load"](spark, sf_dir).collect()
    }
    assert set(by) == {
        "hub_customer", "hub_part", "hub_supplier",
        "link_order_part_supp", "sat_lineitem",
    }
    # hubs and links are DISTINCT by construction
    for t in ("hub_customer", "hub_part", "hub_supplier", "link_order_part_supp"):
        assert by[t]["n_rows"] == by[t]["n_distinct"]
    # every lineitem row lands one satellite row
    n_li = load(spark, sf_dir, "lineitem").count()
    assert by["sat_lineitem"]["n_rows"] == n_li
