"""Late-round operator properties: regression aggregates (d26),
k-anonymity recode (k78), rolling median (t15) — engine-independent
invariants beyond the parity hash."""

from __future__ import annotations

from pyspark.sql import functions as F

from upc_sku_data_loader_spark import plans  # noqa: F401
from upc_sku_data_loader_spark.catalog import load
from upc_sku_data_loader_spark.registry import QUERIES


def test_d26_regression_identities(spark, sf_dir):
    rows = QUERIES["d26_regr_stats"](spark, sf_dir).collect()
    assert rows, "at least one return-flag group"
    for r in rows:
        assert r["regr_n"] > 0
        # r² = corr² (same-pair OLS identity), within micro-unit rounding
        corr2_micro = round((r["corr_micro"] / 1e6) ** 2 * 1e6)
        assert abs(r["r2_micro"] - corr2_micro) <= 2
        assert 0 <= r["r2_micro"] <= 1_000_000


def test_d26_slope_matches_moments(spark, sf_dir):
    # Cross-check regr_slope against cov/var computed from raw moments
    # per group (the OLS normal-equation identity slope = cov/var).
    li = load(spark, sf_dir, "lineitem")
    m = {
        r["l_returnflag"]: r["cov"] / r["var"]
        for r in li.groupBy("l_returnflag")
        .agg(
            F.covar_samp("l_extendedprice", "l_quantity").alias("cov"),
            F.var_samp("l_quantity").alias("var"),
        )
        .collect()
    }
    for r in QUERIES["d26_regr_stats"](spark, sf_dir).collect():
        expect_milli = round(m[r["l_returnflag"]] * 1000)
        assert abs(r["slope_milli"] - expect_milli) <= 1


def test_k78_every_released_class_meets_k_or_is_flagged(spark, sf_dir):
    out = QUERIES["k78_k_anonymity"](spark, sf_dir)
    # tier-0 (non-generalized) classes all meet k=5
    bad = out.filter(~F.col("generalized") & (F.col("class_size") < 5)).count()
    assert bad == 0
    # generalized classes use the suppressed band sentinel
    assert out.filter(F.col("generalized") & (F.col("bal_band") != -999)).count() == 0
    # row conservation: class sizes sum to the customer count
    total = out.agg(F.sum("class_size")).collect()[0][0]
    n_cust = load(spark, sf_dir, "customer").count()
    assert total == n_cust


def test_t15_median_bounds_and_window(spark, sf_dir):
    out = QUERIES["t15_rolling_median"](spark, sf_dir)
    assert out.filter((F.col("n_win") < 1) | (F.col("n_win") > 7)).count() == 0
    # median lies within the frame's [min, max] — check via self-join-free
    # reconstruction: n_win==1 rows' median equals that day's value exactly.
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(30,6)")).cast("double"), 6
            ).alias("v")
        )
    )
    first = out.filter(F.col("n_win") == 1).join(p, ["user_id", "day"])
    assert first.filter(F.col("roll_med") != F.col("v")).count() == 0


def test_s9_matches_static_form(spark, sf_dir):
    """EXECUTE IMMEDIATE must be a pure pass-through: same result as
    running the statement with literals inlined."""
    out = QUERIES["s9_sql_execute_immediate"](spark, sf_dir)
    static = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
                 AS sum_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderstatus = 'O'
        GROUP BY o_orderpriority
        """
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, static.collect()))


def test_d27_listagg_sorted_and_distinct(spark, sf_dir):
    for r in QUERIES["d27_listagg"](spark, sf_dir).collect():
        names = r["top_names"].split("|")
        assert names == sorted(names), "WITHIN GROUP order must hold"
        assert len(names) == len(set(names)), "DISTINCT must hold"
        assert r["n_rows"] >= len(names)  # DISTINCT may collapse dupes


def test_q29_gap_accounting(spark, sf_dir):
    out = QUERIES["q29_purchase_intervals"](spark, sf_dir).collect()
    orders = load(spark, sf_dir, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    n_orders = orders.count()
    # every order beyond a customer's first contributes exactly one gap
    assert sum(r["n_gaps"] for r in out) == n_orders - n_cust
    for r in out:
        assert r["n_repeat_customers"] <= n_cust
        assert r["median_gap_days"] >= 0
        assert r["mean_gap_days"] >= 0


def test_k79_recovers_original_text(spark, sf_dir):
    """Stripping must recover the original words: clean_text equals the
    source text plus the deterministic title/footer tokens."""
    out = QUERIES["k79_markup_strip"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    j = out.join(docs, "doc_id")
    bad = j.filter(
        F.col("clean_text")
        != F.concat(
            F.lit("doc"),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.col("text"),
            F.lit(" &footer"),
        )
    ).count()
    assert bad == 0
    # no residual markup anywhere
    assert j.filter(F.col("clean_text").rlike("[<>]|&nbsp;|&amp;")).count() == 0


def test_t16_rows_sum_to_one(spark, sf_dir):
    out = QUERIES["t16_markov_transitions"](spark, sf_dir)
    rows = (
        out.groupBy("prev")
        .agg(F.sum("prob_micro").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    assert rows
    for r in rows:
        # micro-unit rounding: each row of the matrix sums to 1 ± |cur| ulps
        assert abs(r["s"] - 1_000_000) <= 25
    # transition count conservation: one transition per event beyond each
    # user's first
    e = load(spark, sf_dir, "events")
    expected = e.count() - e.select("user_id").distinct().count()
    assert sum(r["n"] for r in rows) == expected


def test_a28_metadata_file_names_multi_file(spark, tmp_path):
    """The provenance claim the oracle can't check: _metadata.file_name
    must equal the real on-disk basename, per row, across many files."""
    src = spark.range(0, 1000).withColumn("part_id", F.col("id") % 4)
    out = f"{tmp_path}/multi"
    src.repartition(4).write.parquet(out)
    got = (
        spark.read.parquet(out)
        .select(F.col("_metadata.file_name").alias("fn"))
        .distinct()
        .collect()
    )
    import os

    on_disk = {f for f in os.listdir(out) if f.endswith(".parquet")}
    assert {r["fn"] for r in got} == on_disk
    assert len(on_disk) >= 2


def test_q30_elasticity_bounds(spark, sf_dir):
    rows = QUERIES["q30_price_elasticity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_obs"] > 0
        assert 0 <= r["r2_micro"] <= 1_000_000
        # log-log slope on bounded data stays in a sane band
        assert abs(r["elasticity_milli"]) < 100_000


def test_h21_roundtrip_always_ok(spark, sf_dir):
    out = QUERIES["h21_binary_encoding"](spark, sf_dir)
    assert out.filter(~F.col("b64_roundtrip_ok")).count() == 0
    # md5 is 32 lowercase hex chars; hex column is 16 (8 bytes)
    assert out.filter(~F.col("text_md5").rlike("^[0-9a-f]{32}$")).count() == 0
    assert out.filter(F.length("hx") != 16).count() == 0


def test_k80_zipf_slope_negative_and_r2_high(spark, sf_dir):
    r = QUERIES["k80_zipf_fit"](spark, sf_dir).collect()[0]
    assert r["n_terms"] > 10
    # freq must decrease with rank: slope strictly negative
    assert r["zipf_slope_milli"] < 0
    assert 0 <= r["r2_micro"] <= 1_000_000
    # the fixture corpus draws terms near-uniformly, so the fit is WEAK
    # (r² ≪ natural text's) — exactly the synthetic-corpus signature
    # this gate exists to flag; pin that property so a fixture change
    # that breaks the discrimination shows up here.
    assert r["r2_micro"] < 500_000
    assert r["max_freq"] >= 1


def test_k81_fertility_at_least_one(spark, sf_dir):
    for r in QUERIES["k81_tokenizer_fertility"](spark, sf_dir).collect():
        # the BPE-ish regex never merges across whitespace, so fertility >= 1
        assert r["fertility_micro"] >= 1_000_000
        assert r["n_bpe_tokens"] >= r["n_words"] > 0


def test_q31_growth_math(spark, sf_dir):
    rows = QUERIES["q31_yoy_growth"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["revenue"] > 0
        assert r["yoy_growth_micro"] > -1_000_000  # can't lose >100%


def test_c17_overlap_pairs_are_real_overlaps(spark, sf_dir):
    out = QUERIES["c17_interval_overlap_join"](spark, sf_dir)
    # symmetric-dedup: a < b ordering admits each pair once
    assert out.filter(F.col("orderkey_a") >= F.col("orderkey_b")).count() == 0
    # overlap length is within (0, 15] days for 14-day windows
    assert out.filter(
        (F.col("overlap_days") < 1) | (F.col("overlap_days") > 15)
    ).count() == 0
    # spot-check one pair against raw dates
    r = out.orderBy("custkey", "orderkey_a", "orderkey_b").first()
    if r:
        o = load(spark, sf_dir, "orders")
        d = {
            x["o_orderkey"]: x["o_orderdate"].date()
            for x in o.filter(
                F.col("o_orderkey").isin([r["orderkey_a"], r["orderkey_b"]])
            ).collect()
        }
        da, db = d[r["orderkey_a"]], d[r["orderkey_b"]]
        assert abs((da - db).days) <= 14


def test_etl13_fixtures_are_conformant_and_orphans_detected(spark, sf_dir, tmp_path):
    out = {r["relation"]: r for r in QUERIES["etl13_fk_conformance"](spark, sf_dir).collect()}
    assert len(out) == 3
    for r in out.values():
        assert r["n_orphans"] == 0, "driver fixtures are FK-conformant"
        assert r["n_rows"] > 0
    # the audit must actually DETECT orphans: corrupt a copy of part
    import shutil, os

    d = f"{tmp_path}/sf"
    os.makedirs(d)
    for t in ["lineitem", "part", "supplier", "orders", "customer", "events"]:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    half = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 2 == 0)
    half.write.mode("overwrite").parquet(f"{d}/part.parquet")
    out2 = {r["relation"]: r for r in QUERIES["etl13_fk_conformance"](spark, d).collect()}
    assert out2["lineitem.l_partkey->part"]["n_orphans"] > 0
    assert out2["orders.o_custkey->customer"]["n_orphans"] == 0


def test_b17_expansion_rules_and_check_digit(spark, sf_dir):
    out = QUERIES["b17_upce_expand"](spark, sf_dir)
    rows = out.collect()
    assert rows
    from upc_sku_data_loader_spark.functions.upc import gtin_check_digit  # noqa

    for r in rows[:200]:
        upce, upca = r["upce"], r["upca"]
        assert len(upce) == 6 and len(upca) == 12
        assert upca[0] == "0"  # number system 0
        # hand-expand and compare
        d = upce
        last = d[5]
        if last in "012":
            body6 = d[0:2] + last + "0000" + d[2:5]
        elif last == "3":
            body6 = d[0:3] + "00000" + d[3:5]
        elif last == "4":
            body6 = d[0:4] + "00000" + d[4]
        else:
            body6 = d[0:5] + "0000" + last
        assert upca[1:11] == body6
        # GS1 check digit over the 11-digit body
        body = upca[:11]
        total = sum(
            int(c) * (3 if (12 - i) % 2 == 1 else 1)
            for i, c in enumerate(body, start=1)
        )
        assert int(upca[11]) == (10 - total % 10) % 10


def test_d28_geomean_below_arithmetic_mean(spark, sf_dir):
    # AM–GM: geometric mean <= arithmetic mean of unit prices per group
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 0
    )
    am = {
        r["l_returnflag"]: r["am"]
        for r in li.groupBy("l_returnflag")
        .agg(F.avg(F.col("l_extendedprice") / F.col("l_quantity")).alias("am"))
        .collect()
    }
    for r in QUERIES["d28_geomean"](spark, sf_dir).collect():
        gm = r["geomean_unit_price_milli"] / 1000.0
        assert 0 < gm <= am[r["l_returnflag"]] + 1e-6


def test_q32_gini_in_unit_interval_and_scale_invariant(spark, sf_dir):
    r = QUERIES["q32_spend_gini"](spark, sf_dir).collect()[0]
    assert 0 <= r["gini_micro"] <= 1_000_000
    assert r["n_customers"] > 0 and r["total_spend"] > 0


def test_k82_partition_of_events(spark, sf_dir):
    rows = QUERIES["k82_ip_cidr_filter"](spark, sf_dir).collect()
    e = load(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in rows) == e.count()
    for r in rows:
        assert r["n_blocked"] + r["n_kept"] == r["n_events"]
        assert r["n_blocked"] >= 0 and r["n_kept"] >= 0


def test_q33_classes_partition_and_order(spark, sf_dir):
    out = {r["abc_class"]: r for r in QUERIES["q33_abc_classification"](spark, sf_dir).collect()}
    assert set(out) == {"A", "B", "C"}
    # A captures ~80% of revenue with far fewer parts than C
    tot = sum(r["class_revenue"] for r in out.values())
    assert out["A"]["class_revenue"] <= 0.8 * tot + out["A"]["class_revenue"] / out["A"]["n_parts"]
    assert out["A"]["class_revenue"] / tot > 0.5
    # class revenue per part strictly decreases A > B > C
    per = {k: v["class_revenue"] / v["n_parts"] for k, v in out.items()}
    assert per["A"] > per["B"] > per["C"]


def test_t17_km_is_monotone_decreasing_in_unit_interval(spark, sf_dir):
    rows = (
        QUERIES["t17_survival_km"](spark, sf_dir)
        .orderBy("duration_days")
        .collect()
    )
    assert rows, "purchase stream must produce churn events"
    prev = 1_000_000
    for r in rows:
        assert 0 <= r["survival_micro"] <= prev, "S(t) is non-increasing"
        assert r["n_churned"] >= 1
        assert r["n_at_risk"] >= r["n_churned"]
        prev = r["survival_micro"]


def test_d29_agrees_with_builtin_population_estimators(spark, sf_dir):
    # Spark's own skewness()/kurtosis() are the population estimators —
    # the exact-decimal reconstruction must agree to micro precision.
    ref = {
        r["event_type"]: r
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.skewness("value").alias("sk"), F.kurtosis("value").alias("ku")
        )
        .collect()
    }
    for r in QUERIES["d29_higher_moments"](spark, sf_dir).collect():
        assert abs(r["skew_micro"] - round(ref[r["event_type"]]["sk"] * 1e6)) <= 5
        assert (
            abs(r["excess_kurtosis_micro"] - round(ref[r["event_type"]]["ku"] * 1e6))
            <= 5
        )


def test_k83_metrics_identities(spark, sf_dir):
    rows = QUERIES["k83_langid_metrics"](spark, sf_dir).collect()
    docs_n = load(spark, sf_dir, "documents").count()
    assert sum(r["actual_n"] for r in rows) == docs_n
    assert sum(r["pred_n"] for r in rows) == docs_n
    assert sum(r["tp"] for r in rows) <= docs_n
    for r in rows:
        assert 0 <= r["precision_micro"] <= 1_000_000
        assert 0 <= r["recall_micro"] <= 1_000_000
        # F1 lies between min and max of precision/recall (harmonic mean)
        lo = min(r["precision_micro"], r["recall_micro"])
        hi = max(r["precision_micro"], r["recall_micro"])
        assert lo - 2 <= r["f1_micro"] <= hi + 2


def test_t17_km_full_churn_risk_set_is_survival_zero(spark, tmp_path):
    """KM edge the fixtures never hit: when the whole remaining risk set
    churns at some duration (d == n_at_risk), the factor is ln(0) — Spark
    log() NULLs it (SUM would silently skip → wrong nonzero survival) and
    DuckDB LN(0) throws.  Both sides must instead pin survival to exactly
    0 from that duration on.  Asserted against the live DuckDB oracle on
    the same corpus (a micro-parity run on adversarial data) AND against
    a from-scratch KM reference."""
    import datetime
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import pandas as pd

    from upc_sku_data_loader_spark.registry import ORACLES

    day0 = datetime.datetime(2024, 1, 1)

    def ts(day):
        return day0 + datetime.timedelta(days=day)

    # user A: days 0..20, churned (cutoff-20 = 10 > 3), t = 20 — and A is
    # the ONLY user with t >= 20, so d == n_at_risk at t = 20.
    # user B: days 18..30, censored (cutoff = its last day), t = 12.
    # user C: days 0..5, churned, t = 5 (a normal nonzero-survival row).
    purchases = [
        ("A", 0), ("A", 20), ("B", 18), ("B", 30), ("C", 0), ("C", 5),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": range(len(purchases)),
            "ts": [ts(d) for _, d in purchases],
            "user_id": [u for u, _ in purchases],
            "event_type": ["purchase"] * len(purchases),
            "value": [1.0] * len(purchases),
            "props": ["{}"] * len(purchases),
        }
    )
    pdf.to_parquet(f"{tmp_path}/events.parquet")

    got = {
        r["duration_days"]: (r["n_churned"], r["n_at_risk"], r["survival_micro"])
        for r in QUERIES["t17_survival_km"](spark, str(tmp_path)).collect()
    }
    # from-scratch reference (exact contract arithmetic: 6dp half-up log
    # factors, exact decimal sum, micro half-up)
    log_s, want = Decimal(0), {}
    risk = {5: (1, 3), 20: (1, 1)}  # t -> (d, n_at_risk); B's t=12 has d=0
    dead = False
    for t in sorted(risk):
        d, n = risk[t]
        dead = dead or d == n
        if d < n:
            log_s += Decimal(repr(math.log(1.0 - d / n))).quantize(
                Decimal("0.000001"), ROUND_HALF_UP
            )
        surv = (
            0
            if dead
            else int(
                Decimal(repr(math.exp(float(log_s)) * 1e6)).quantize(
                    Decimal("1"), ROUND_HALF_UP
                )
            )
        )
        want[t] = (d, n, surv)
    assert got == want
    assert got[20][2] == 0  # the full-churn duration pins S to exactly 0

    # the live oracle must agree on the same corpus (and must not throw)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(ORACLES["t17_survival_km"]).fetchall()
    }
    assert oracle == want


def test_d30_constant_group_variance_clamped_not_negative(spark, tmp_path):
    """Float cancellation in the power-sum variance: two purchases of
    value 0.1 give s2 - s1²/n = -3.5e-18 < 0, so unclamped arithmetic
    feeds sqrt a negative — Spark NaN vs a DuckDB SQRT error.  Both
    sides must clamp the variance at 0 and agree exactly; the oracle
    must not throw."""
    import datetime

    import duckdb
    import pandas as pd

    from upc_sku_data_loader_spark.registry import ORACLES

    rows = [("purchase", 0.1), ("purchase", 0.1),
            ("click", 1.0), ("click", 2.0), ("click", 3.0)]
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [datetime.datetime(2024, 1, 1 + i) for i in range(len(rows))],
            "user_id": ["u"] * len(rows),
            "event_type": [t for t, _ in rows],
            "value": [v for _, v in rows],
            "props": ["{}"] * len(rows),
        }
    )
    pdf.to_parquet(f"{tmp_path}/events.parquet")

    got = QUERIES["d30_welch_ttest"](spark, str(tmp_path)).first()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = con.execute(ORACLES["d30_welch_ttest"]).fetchone()  # must not throw
    assert (got["n1"], got["n2"], got["t_micro"], got["welch_dof_milli"]) == oracle
    # with the purchase variance clamped to 0 the t statistic is finite
    # and driven entirely by the click-side variance
    assert got["t_micro"] is not None and got["t_micro"] < 0


def test_d30_degenerate_groups_null_not_throw(spark, tmp_path):
    """Spark's ANSI mode THROWS on double x/0 while DuckDB returns NULL,
    so every zero-reachable denominator must go through try_divide.
    Degenerate shapes: BOTH groups constant (t = diff/sqrt(0) → NULL on
    both engines), and a single-row group (n-1 = 0: the NULL variance is
    mapped to 0 by GREATEST on both engines, giving the same FINITE t
    and a NULL dof).  Engines must agree exactly, and neither may
    throw."""
    import datetime

    import duckdb
    import pandas as pd

    from upc_sku_data_loader_spark.registry import ORACLES

    cases = [
        # both groups constant → va = vb = 0
        [("purchase", 0.1), ("purchase", 0.1), ("click", 2.0), ("click", 2.0)],
        # single-row purchase group → n1 - 1 = 0
        [("purchase", 5.0), ("click", 1.0), ("click", 2.0), ("click", 3.0)],
    ]
    for case_no, rows in enumerate(cases):
        d = tmp_path / f"case{case_no}"
        d.mkdir()
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": [
                    datetime.datetime(2024, 1, 1 + i) for i in range(len(rows))
                ],
                "user_id": ["u"] * len(rows),
                "event_type": [t for t, _ in rows],
                "value": [v for _, v in rows],
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(f"{d}/events.parquet")
        got = QUERIES["d30_welch_ttest"](spark, str(d)).first()  # must not throw
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
        )
        oracle = con.execute(ORACLES["d30_welch_ttest"]).fetchone()
        assert (
            got["n1"], got["n2"], got["t_micro"], got["welch_dof_milli"]
        ) == oracle, f"case {case_no}"
        if case_no == 0:  # zero pooled variance → NULL t on both engines
            assert got["t_micro"] is None
        else:  # n1 = 1: variance treated as 0 → finite t, NULL dof
            assert got["t_micro"] is not None
            assert got["welch_dof_milli"] is None


def test_d29_constant_group_moments_null_not_throw(spark, tmp_path):
    """A constant-valued group cancels to a tiny negative variance in
    the derived central moment (pow(-ε, 1.5) = NaN → cast throws on both
    engines, pre-fix).  Skew/kurtosis of a zero-variance distribution is
    undefined: both engines must emit NULL for the constant group and
    agree exactly on the non-constant one."""
    import datetime

    import duckdb
    import pandas as pd

    from upc_sku_data_loader_spark.registry import ORACLES

    rows = [("purchase", 0.1), ("purchase", 0.1),
            ("click", 1.0), ("click", 2.0), ("click", 4.0)]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [datetime.datetime(2024, 1, 1 + i) for i in range(len(rows))],
            "user_id": ["u"] * len(rows),
            "event_type": [t for t, _ in rows],
            "value": [v for _, v in rows],
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(f"{tmp_path}/events.parquet")
    got = {
        r["event_type"]: (r["n"], r["skew_micro"], r["excess_kurtosis_micro"])
        for r in QUERIES["d29_higher_moments"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(ORACLES["d29_higher_moments"]).fetchall()
    }
    assert got == oracle
    assert got["purchase"][1] is None and got["purchase"][2] is None
    assert got["click"][1] is not None  # non-degenerate group still real


def test_t18_peaks_are_strict_maxima(spark, sf_dir):
    out = QUERIES["t18_peak_detection"](spark, sf_dir)
    assert out.filter(F.col("prominence_milli") <= 0).count() == 0
    # no two consecutive days can both be strict peaks
    days = sorted(r["day"] for r in out.collect())
    for a, b in zip(days, days[1:]):
        assert (b - a).days >= 2


def test_q34_backlog_conservation(spark, sf_dir):
    out = QUERIES["q34_open_order_backlog"](spark, sf_dir)
    rows = out.orderBy("day").collect()
    assert rows
    # backlog is the prefix sum of net changes and never negative
    run = 0
    for r in rows:
        run += r["net_change"]
        assert r["open_orders"] == run
        assert r["open_orders"] >= 0
    # all orders eventually close: final backlog is zero
    assert rows[-1]["open_orders"] == 0
    # peak backlog can't exceed total orders
    n = load(spark, sf_dir, "orders").count()
    assert max(r["open_orders"] for r in rows) <= n


def test_etl14_scd3_one_row_per_user_matching_latest(spark, sf_dir):
    out = QUERIES["etl14_scd3_prior_value"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    assert out.count() == e.select("user_id").distinct().count()
    assert out.groupBy("user_id").count().filter("count > 1").count() == 0
    # current_type matches the true latest event; n_changes = event count
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", F.col("event_type").alias("expect_type"))
    )
    j = out.join(latest, "user_id")
    assert j.filter(F.col("current_type") != F.col("expect_type")).count() == 0
    counts = e.groupBy("user_id").count()
    j2 = out.join(counts, "user_id")
    assert j2.filter(F.col("n_changes") != F.col("count")).count() == 0
    # a user with >1 events has a prior_type
    assert j2.filter((F.col("count") > 1) & F.col("prior_type").isNull()).count() == 0


def test_q35_hhi_bounds(spark, sf_dir):
    rows = QUERIES["q35_supplier_hhi"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # HHI in (1/n, 1]: lower bound at perfect evenness, 1 at monopoly
        assert r["hhi_e7"] <= 10_000_000
        assert r["hhi_e7"] >= round(1e7 / r["n_suppliers"]) - 1
        assert r["n_suppliers"] >= 1


def test_d30_welch_agrees_with_scipy_formula(spark, sf_dir):
    import math

    r = QUERIES["d30_welch_ttest"](spark, sf_dir).collect()[0]
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
        .collect()
    )
    st = {x["event_type"]: x for x in e}
    a, b = st["purchase"], st["click"]
    t = (a["m"] - b["m"]) / math.sqrt(a["v"] / a["n"] + b["v"] / b["n"])
    assert abs(r["t_micro"] - round(t * 1e6)) <= 5
    num = (a["v"] / a["n"] + b["v"] / b["n"]) ** 2
    den = (a["v"] / a["n"]) ** 2 / (a["n"] - 1) + (b["v"] / b["n"]) ** 2 / (b["n"] - 1)
    assert abs(r["welch_dof_milli"] - round(num / den * 1000)) <= 5
    assert r["n1"] == a["n"] and r["n2"] == b["n"]


def test_q36_streak_accounting(spark, sf_dir):
    rows = {r["hot"]: r for r in QUERIES["q36_revenue_streaks"](spark, sf_dir).collect()}
    assert set(rows) == {True, False}
    n_days = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .distinct()
        .count()
    )
    # every day belongs to exactly one streak
    assert rows[True]["total_days"] + rows[False]["total_days"] == n_days
    for r in rows.values():
        assert 1 <= r["longest"] <= r["total_days"]
        assert r["n_streaks"] >= 1
    # alternating islands: counts differ by at most one
    assert abs(rows[True]["n_streaks"] - rows[False]["n_streaks"]) <= 1
    # strict > median: hot days are a minority or exact half
    assert rows[True]["total_days"] <= rows[False]["total_days"]


def test_d31_ci_brackets_point_estimate(spark, sf_dir):
    r = QUERIES["d31_bootstrap_ci"](spark, sf_dir).collect()[0]
    assert r["n_replicates"] == 20
    # the bootstrap CI must bracket the point estimate and be ordered
    assert r["ci_lo_milli"] <= r["point_mean_milli"] <= r["ci_hi_milli"]
    assert r["ci_lo_milli"] < r["ci_hi_milli"]
    # CI width is a small fraction of the mean for N≥500 docs
    width = r["ci_hi_milli"] - r["ci_lo_milli"]
    assert width < r["point_mean_milli"] * 0.5


def test_q37_sla_accounting(spark, sf_dir):
    rows = QUERIES["q37_ship_sla"](spark, sf_dir).collect()
    li_n = load(spark, sf_dir, "lineitem").count()
    assert sum(r["n_lines"] for r in rows) == li_n
    for r in rows:
        assert 0 <= r["n_within_7d"] <= r["n_lines"]
        assert 0 <= r["sla_attain_micro"] <= 1_000_000
        assert r["worst_lag_days"] >= 0


def test_t19_fano_positive_and_poisson_scale(spark, sf_dir):
    rows = QUERIES["t19_fano_burstiness"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["fano_micro"] > 0
        assert r["n_days"] >= 2
        # uniform synthetic arrivals are Poisson-ish: Fano within [0.1, 10]
        assert 100_000 <= r["fano_micro"] <= 10_000_000


def test_k84_degree_identities(spark, sf_dir):
    rows = sorted(
        QUERIES["k84_degree_distribution"](spark, sf_dir).collect(),
        key=lambda r: -r["degree"],
    )
    assert rows
    # handshake lemma: sum(degree * n_nodes) = 2 * |E| (graph may hold
    # fewer than the 500-edge sparsification cap at small sf)
    from upc_sku_data_loader_spark.plans.graphs import _edges

    n_edges = _edges(spark, sf_dir).count()
    assert 0 < n_edges <= 500
    assert sum(r["degree"] * r["n_nodes"] for r in rows) == 2 * n_edges
    # CCDF is the running sum in descending-degree order
    run = 0
    for r in rows:
        run += r["n_nodes"]
        assert r["n_nodes_at_least"] == run


def test_k85_oov_bounds_and_total(spark, sf_dir):
    out = QUERIES["k85_oov_rate"](spark, sf_dir)
    assert out.filter(
        (F.col("n_oov") < 0) | (F.col("n_oov") > F.col("n_tokens"))
    ).count() == 0
    assert out.filter(
        (F.col("oov_micro") < 0) | (F.col("oov_micro") > 1_000_000)
    ).count() == 0
    # doc count preserved; token totals match a direct count
    docs = load(spark, sf_dir, "documents")
    assert out.count() == docs.count()
    direct = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("s")
    ).collect()[0]["s"]
    assert out.agg(F.sum("n_tokens")).collect()[0][0] == direct


def test_q38_final_cumulative_equals_distinct_customers(spark, sf_dir):
    rows = (
        QUERIES["q38_cumulative_uniques"](spark, sf_dir)
        .orderBy("week_start")
        .collect()
    )
    assert rows
    o = load(spark, sf_dir, "orders")
    n_cust = o.select("o_custkey").distinct().count()
    assert rows[-1]["cumulative_uniques"] == n_cust
    run = 0
    for r in rows:
        run += r["new_customers"]
        assert r["cumulative_uniques"] == run
        assert r["new_customers"] >= 1


def test_t20_theil_sen_pair_count_and_robustness(spark, sf_dir):
    r = QUERIES["t20_theil_sen"](spark, sf_dir).collect()[0]
    n = r["n_days"]
    assert r["n_pairs"] == n * (n - 1) // 2
    # fitted line must pass through the data's vertical band
    daily_rev = [
        x["rev"]
        for x in load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("rev")
        )
        .collect()
    ]
    lo, hi = min(daily_rev), max(daily_rev)
    icept = r["intercept_milli"] / 1000.0
    assert lo - (hi - lo) <= icept <= hi + (hi - lo)


def test_etl15_skew_identities(spark, sf_dir):
    r = QUERIES["etl15_skew_report"](spark, sf_dir).collect()[0]
    o = load(spark, sf_dir, "orders")
    assert r["n_rows"] == o.count()
    assert r["n_keys"] == o.select("o_custkey").distinct().count()
    assert r["p50_rows"] <= r["p99_rows"] <= r["max_rows_per_key"]
    # skew ratio = max / mean >= 1 by definition
    assert r["skew_ratio_milli"] >= 1000


def test_q39_entropy_bands_bounded(spark, sf_dir):
    import math

    rows = QUERIES["q39_behavior_entropy"](spark, sf_dir).collect()
    e = load(spark, sf_dir, "events")
    assert sum(r["n_users"] for r in rows) == e.select("user_id").distinct().count()
    assert sum(r["n_events"] for r in rows) == e.count()
    max_band = math.floor(math.log2(5) / 0.25)
    for r in rows:
        assert 0 <= r["entropy_band"] <= max_band


def test_k86_backoff_tiers_on_heldout_doc(spark, tmp_path):
    """Construct a corpus where one doc holds an UNSEEN trigram whose
    backoff bigram IS seen, exercising the 0.4 tier — and check scores
    stay in (0, 1]."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "a b c a b c a b c",   # trigram (a,b,c) frequent
                "x b c x b c",          # (x,b,c) frequent
                "a b d",                # (a,b,d) unseen; bigram (b,d) unseen;
                                        # unigram d seen once → 0.16 tier
            ],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [17, 11, 5],
        }
    )
    pdf.to_parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in QUERIES["k86_trigram_backoff"](spark, str(tmp_path)).collect()
    }
    assert rows[1]["n_trigrams"] == 7
    # doc 3 has exactly one trigram and it's unseen-at-order-3
    assert rows[3]["n_trigrams"] == 1
    assert 0 < rows[3]["backoff_micro"] < rows[1]["backoff_micro"]
    for r in rows.values():
        assert 0 < r["backoff_micro"] <= 1_000_000


def test_b18_isbn_check_digits(spark, sf_dir):
    rows = QUERIES["b18_isbn_convert"](spark, sf_dir).collect()
    assert rows
    for r in rows[:200]:
        i10, i13 = r["isbn10"], r["isbn13"]
        assert len(i10) == 10 and len(i13) == 13
        assert i13.startswith("978") and i13[3:12] == i10[:9]
        # ISBN-10: sum of digit*weight(10..1) ≡ 0 mod 11 (X = 10)
        vals = [10 if c == "X" else int(c) for c in i10]
        assert sum(v * w for v, w in zip(vals, range(10, 0, -1))) % 11 == 0
        # ISBN-13: standard EAN mod-10
        total = sum(int(c) * (3 if i % 2 == 1 else 1) for i, c in enumerate(i13[:12]))
        assert int(i13[12]) == (10 - total % 10) % 10


def test_k87_l_diversity_identities(spark, sf_dir):
    out = QUERIES["k87_l_diversity"](spark, sf_dir)
    c = load(spark, sf_dir, "customer")
    assert out.agg(F.sum("class_size")).collect()[0][0] == c.count()
    n_segments = c.select("c_mktsegment").distinct().count()
    bad = out.filter(
        (F.col("l_distinct") < 1)
        | (F.col("l_distinct") > n_segments)
        | (F.col("l_distinct") > F.col("class_size"))
    ).count()
    assert bad == 0
    # flag consistency
    assert out.filter(F.col("meets_l3") != (F.col("l_distinct") >= 3)).count() == 0


def test_d32_weighted_median_splits_weight(spark, sf_dir):
    out = {r["l_returnflag"]: r for r in QUERIES["d32_weighted_median"](spark, sf_dir).collect()}
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .select(
            "l_returnflag",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("p"),
            "l_quantity",
        )
    )
    for flag, r in out.items():
        m = r["weighted_median_price"]
        below = li.filter(
            (F.col("l_returnflag") == flag) & (F.col("p") <= m)
        ).agg(F.sum("l_quantity")).collect()[0][0]
        total = li.filter(F.col("l_returnflag") == flag).agg(
            F.sum("l_quantity")
        ).collect()[0][0]
        # weight at or below the weighted median covers >= half the total
        assert below >= total / 2 * 0.999
