"""Data-selection tier invariants (k62/k63/k67, t10, etl9, a21) — each
is also value-hash-checked in tools/parity.py; these tests pin the
engine-independent properties the hash alone can't express (cluster
argmax policy, reconstruction round-trips, alarm algebra, backfill
audit-flag semantics, bloom filters may-only-skip)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from upc_sku_data_loader_spark import plans  # noqa: F401
from upc_sku_data_loader_spark.catalog import load
from upc_sku_data_loader_spark.registry import QUERIES


# --- k62 cluster representative ----------------------------------------------


def test_k62_one_rep_per_cluster_with_max_ttr(spark, sf_dir):
    rows = QUERIES["k62_cluster_best_keeper"](spark, sf_dir).collect()
    assert rows, "fixture corpus has near-dup clusters at t=0.5"
    clusters = defaultdict(list)
    for r in rows:
        clusters[r["cluster_id"]].append(r)
    for cid, members in clusters.items():
        reps = [m for m in members if m["is_rep"]]
        assert len(reps) == 1
        rep = reps[0]
        best = max(members, key=lambda m: (m["ttr_micro"], -m["doc_id"]))
        assert rep["doc_id"] == best["doc_id"]
        assert all(m["rep_doc_id"] == rep["doc_id"] for m in members)
        # cluster label is the component's min doc id (CC invariant)
        assert cid == min(m["doc_id"] for m in members)


def test_k62_members_match_k20_components(spark, sf_dir):
    """Same pair graph ⇒ same membership as the min-id resolver."""
    k20 = {
        (r["doc_id"], r["cluster_keeper"])
        for r in QUERIES["k20_dedup_clusters"](spark, sf_dir).collect()
    }
    k62 = {
        (r["doc_id"], r["cluster_id"])
        for r in QUERIES["k62_cluster_best_keeper"](spark, sf_dir).collect()
    }
    assert k20 == k62


# --- k63 DSIR importance ------------------------------------------------------


def test_k63_topk_ordering_and_pool(spark, sf_dir):
    rows = QUERIES["k63_dsir_importance"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    assert [r["rk"] for r in rows] != []
    assert sorted(r["rk"] for r in rows) == list(range(1, len(rows) + 1))
    assert all(r["lang"] != "en" for r in rows), "target docs are not selected"
    w = [(-r["logw"], r["doc_id"]) for r in sorted(rows, key=lambda r: r["rk"])]
    assert w == sorted(w), "rank order is (logw DESC, doc_id ASC)"


def test_k63_weight_recompute_for_top_doc(spark, sf_dir):
    """Recompute the winner's Σ c_b·logratio_b from raw corpus counts."""
    import math

    out = QUERIES["k63_dsir_importance"](spark, sf_dir)
    top = out.filter(F.col("rk") == 1).collect()[0]
    docs = load(spark, sf_dir, "documents").collect()

    def bucket(tok: str) -> int:
        import hashlib

        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 128

    tgt, raw = defaultdict(int), defaultdict(int)
    nt = nr = 0
    for d in docs:
        for t in d["text"].split(" "):
            b = bucket(t)
            raw[b] += 1
            nr += 1
            if d["lang"] == "en":
                tgt[b] += 1
                nt += 1
    doc = next(d for d in docs if d["doc_id"] == top["doc_id"])
    logw = 0.0
    for t in doc["text"].split(" "):
        b = bucket(t)
        lr = math.log(
            (tgt[b] + 1) * (nr + 128) / ((raw[b] + 1) * (nt + 128))
        )
        logw += round(lr, 6)
    assert abs(logw - top["logw"]) < 1e-3


# --- k67 span corruption ------------------------------------------------------


def test_k67_reconstruction_roundtrip(spark, sf_dir):
    out = QUERIES["k67_span_corruption"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    joined = out.join(docs, "doc_id").collect()
    assert joined
    for r in joined:
        toks = r["input_text"].split(" ")
        assert toks.count("<X>") == 1
        assert len(toks) == r["n_tokens"] - 2  # 3 masked, 1 sentinel added
        span = r["target_text"].split(" ")
        assert span[0] == "<X>" and len(span) == 4
        i = toks.index("<X>")
        assert i == r["span_start"] - 1
        rebuilt = toks[:i] + span[1:] + toks[i + 1 :]
        assert " ".join(rebuilt) == r["text"]


def test_k67_short_docs_skipped(spark, sf_dir):
    out = QUERIES["k67_span_corruption"](spark, sf_dir)
    assert out.filter(F.col("n_tokens") < 8).count() == 0


# --- t10 CUSUM ---------------------------------------------------------------


def test_t10_alarm_algebra_matches_bruteforce(spark, sf_dir):
    alarms = QUERIES["t10_cusum_changepoint"](spark, sf_dir).collect()
    events = (
        load(spark, sf_dir, "events")
        .select("event_type", "event_id", "ts", "value")
        .collect()
    )
    by_type = defaultdict(list)
    for e in events:
        by_type[e["event_type"]].append(e)
    expected = set()
    for et, rows in by_type.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        xm = [round(r["value"] * 1_000_000) for r in rows]
        n, tot = len(xm), sum(xm)
        dev = [n * x - tot for x in xm]
        mad_n = sum(abs(d) for d in dev) // n
        slack, thr = mad_n // 2, 8 * mad_n
        run_min, r = 0, 0
        for row, d in zip(rows, dev):
            r += d - slack
            run_min = min(run_min, r)
            if r - run_min > thr:
                expected.add((et, row["event_id"]))
    got = {(a["event_type"], a["event_id"]) for a in alarms}
    assert got == expected


# --- etl9 late-dim backfill ---------------------------------------------------


def test_etl9_audit_flags_consistent(spark, sf_dir):
    out = QUERIES["etl9_late_dim_backfill"](spark, sf_dir)
    rows = out.collect()
    orders_keys = {
        r["o_custkey"]
        for r in load(spark, sf_dir, "orders")
        .select("o_custkey")
        .collect()
    }
    cust = {
        r["c_custkey"]: r
        for r in load(spark, sf_dir, "customer").collect()
    }
    assert {r["custkey"] for r in rows} == orders_keys
    assert len(rows) == len(orders_keys), "one final dim row per fact key"
    for r in rows:
        k = r["custkey"]
        if not r["was_inferred"]:
            assert not r["backfilled"]
            assert r["c_name"] == cust[k]["c_name"]
        elif r["backfilled"]:
            assert k % 7 == 0 and k in cust
            assert r["c_name"] == cust[k]["c_name"]
        else:
            assert k not in cust
            assert r["c_name"] == "UNKNOWN" and r["c_nationkey"] == -1


# --- a21 bloom-filtered parquet ----------------------------------------------


def test_a21_roundtrip_equals_direct_filter(spark, sf_dir):
    from upc_sku_data_loader_spark.plans.sources_sinks import _A21_KEYS

    out = {
        (r["l_partkey"], r["n_lines"], float(r["sum_qty"]))
        for r in QUERIES["a21_parquet_bloom_write"](spark, sf_dir).collect()
    }
    direct = {
        (r["l_partkey"], r["n_lines"], float(r["sum_qty"]))
        for r in load(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey").isin(*_A21_KEYS))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .collect()
    }
    assert out == direct


# --- c15 fuzzy join -----------------------------------------------------------


def test_c15_pairs_within_distance_and_blocked(spark, sf_dir):
    rows = QUERIES["c15_join_fuzzy"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["name_a"] < r["name_b"]
        assert r["lev"] <= 2
        assert set(r["name_a"].split(" ")) & set(r["name_b"].split(" "))
        assert abs(len(r["name_a"]) - len(r["name_b"])) <= 2


def test_c15_matches_bruteforce_blocked(spark, sf_dir):
    """Recompute the full contract (blocking + verify) in Python."""
    from collections import Counter

    try:
        from Levenshtein import distance  # noqa: F401

        have_lev = True
    except ImportError:
        have_lev = False

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    names = Counter(
        r["p_name"]
        for r in load(spark, sf_dir, "part").collect()
    )
    expected = set()
    uniq = sorted(names)
    for i, a in enumerate(uniq):
        for b in uniq[i + 1 :]:
            if (
                set(a.split(" ")) & set(b.split(" "))
                and abs(len(a) - len(b)) <= 2
                and lev(a, b) <= 2
            ):
                expected.add((a, b))
    got = {
        (r["name_a"], r["name_b"])
        for r in QUERIES["c15_join_fuzzy"](spark, sf_dir).collect()
    }
    assert got == expected


# --- k68 BPE merges -----------------------------------------------------------


def test_k68_merges_match_reference_bpe(spark, sf_dir):
    """Reference BPE (Sennrich alg. 1) in plain Python over the vocab."""
    from collections import Counter

    words = Counter()
    for r in load(spark, sf_dir, "documents").collect():
        for w in r["text"].split(" "):
            if "|" not in w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    expected = []
    for _ in range(3):
        pairs = Counter()
        for w, syms in vocab.items():
            for l, r in zip(syms, syms[1:]):
                pairs[(l, r)] += words[w]
        (l, r), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((l, r, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    rows = QUERIES["k68_bpe_merges"](spark, sf_dir).collect()
    got = sorted(
        (r["sym_left"], r["sym_right"], r["pair_count"])
        for r in rows
        if r["stage"] <= 3
    )
    assert sorted(expected) == got
    final = [r for r in rows if r["stage"] == 4]
    assert len(final) == 10
    assert [r["rk"] for r in sorted(final, key=lambda r: r["rk"])] == list(
        range(1, 11)
    )


# --- physical-plan shape guards for the new tier ------------------------------


def _executed_plan(spark, name, sf_dir) -> str:
    df = QUERIES[name](spark, sf_dir)
    df.count()  # materialize so AQE finalizes the plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_a21_in_probe_reaches_parquet_reader(spark, sf_dir):
    """The IN-list must be pushed to the bloom-filtered parquet scan —
    row-group skipping only happens when the reader sees the filter."""
    plan = _executed_plan(spark, "a21_parquet_bloom_write", sf_dir)
    assert "PushedFilters: [In(l_partkey" in plan


def test_k63_bucket_tables_broadcast_no_cartesian(spark, sf_dir):
    """The 128-row log-ratio table must broadcast onto the (doc,bucket)
    stream; the only nested-loop allowed is the 1-row totals scalar."""
    plan = _executed_plan(spark, "k63_dsir_importance", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_c15_blocking_join_is_keyed_not_cartesian(spark, sf_dir):
    plan = _executed_plan(spark, "c15_join_fuzzy", sf_dir)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_t10_single_exchange_feeds_fused_window(spark, sf_dir):
    """Both window passes (prefix sum, prefix min) must ride ONE
    hashpartitioning(event_type) exchange; the per-type stats join
    broadcasts."""
    plan = _executed_plan(spark, "t10_cusum_changepoint", sf_dir)
    assert "BroadcastHashJoin" in plan
    lines = plan.splitlines()
    widx = [i for i, ln in enumerate(lines) if "Window [" in ln]
    assert len(widx) == 2, f"expected 2 window passes, saw {len(widx)}"
    between = lines[widx[0] + 1 : widx[1]]
    assert not any("Exchange" in ln for ln in between), (
        "prefix-sum and prefix-min windows must share one exchange"
    )


# --- k64 CCNet buckets --------------------------------------------------------


def test_k64_buckets_are_ordered_terciles(spark, sf_dir):
    rows = QUERIES["k64_ccnet_buckets"](spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents").count()
    assert len(rows) == docs, "every document is bucketed exactly once"
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    for lang, rs in by_lang.items():
        tails = [r["logprob"] for r in rs if r["bucket"] == "tail"]
        mids = [r["logprob"] for r in rs if r["bucket"] == "middle"]
        heads = [r["logprob"] for r in rs if r["bucket"] == "head"]
        if tails and mids:
            assert max(tails) <= min(mids)
        if mids and heads:
            assert max(mids) < min(heads)
        # terciles: no bucket may dominate (ties can skew boundaries)
        assert max(len(tails), len(mids), len(heads)) <= 0.7 * len(rs)


# --- d22 count-min sketch -----------------------------------------------------


def test_d22_never_underestimates_and_exact_counts_true(spark, sf_dir):
    from upc_sku_data_loader_spark.plans.aggregates import _CM_PROBES

    rows = QUERIES["d22_count_min_sketch"](spark, sf_dir).collect()
    assert {r["custkey"] for r in rows} == set(_CM_PROBES)
    direct = {
        r["o_custkey"]: r["n"]
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r["is_overestimate"]
        assert r["cm_estimate"] >= r["exact_cnt"]
        assert r["exact_cnt"] == direct.get(r["custkey"], 0)


# --- f5 keyset pagination -----------------------------------------------------


def test_f5_page3_matches_global_sort(spark, sf_dir):
    got = [
        r["o_orderkey"]
        for r in QUERIES["f5_keyset_pagination"](spark, sf_dir)
        .orderBy("o_orderkey")
        .collect()
    ]
    allkeys = sorted(
        r["o_orderkey"]
        for r in load(spark, sf_dir, "orders")
        .select("o_orderkey")
        .collect()
    )
    assert got == allkeys[200:300]


def test_f5_boundary_filter_is_pushed_to_scan(spark, sf_dir):
    df = QUERIES["f5_keyset_pagination"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(o_orderkey" in plan


# --- j10 iterator pandas UDF --------------------------------------------------


def test_j10_matches_affine_and_runs_via_arrow(spark, sf_dir):
    df = QUERIES["j10_pandas_iter_udf"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, "iterator UDF must ride Arrow batches"
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture,
    # so compare as multisets keyed by orderkey + value.
    got = sorted(
        (r["l_orderkey"], r["qty_z"]) for r in df.collect()
    )
    want = sorted(
        (r["l_orderkey"], round((r["l_quantity"] - 25.0) / 10.0, 6))
        for r in load(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .collect()
    )
    assert got == want


# --- s7 SQL scripting ---------------------------------------------------------


def test_s7_threshold_is_tight_power_of_ten(spark, sf_dir):
    row = QUERIES["s7_sql_scripting"](spark, sf_dir).collect()[0]
    thr = row["threshold"]
    assert thr > 1 and 10 ** len(str(thr)[1:]) == thr, "power of ten"
    orders = load(spark, sf_dir, "orders")
    above = orders.filter(F.col("o_totalprice") > float(thr)).count()
    assert above == row["n_above"] < 100
    # tightness: one decade lower still had >= 100 above (loop invariant)
    assert (
        orders.filter(F.col("o_totalprice") > float(thr) / 10).count() >= 100
    )


# --- k69 BPE encode -----------------------------------------------------------


def test_k69_fertility_bounds_and_merge_effect(spark, sf_dir):
    rows = QUERIES["k69_bpe_encode"](spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents").collect()
    assert len(rows) == len(docs)
    chars = {
        d["doc_id"]: sum(len(w) for w in d["text"].split(" "))
        for d in docs
    }
    words = {d["doc_id"]: len(d["text"].split(" ")) for d in docs}
    for r in rows:
        # merges only ever shrink: tokens <= total chars, >= word count
        assert words[r["doc_id"]] <= r["n_bpe_tokens"] <= chars[r["doc_id"]]
        assert r["n_words"] == words[r["doc_id"]]
        assert (
            r["tokens_per_word_micro"]
            == 1_000_000 * r["n_bpe_tokens"] // r["n_words"]
        )
    # 3 merges must actually compress: corpus-wide tokens < corpus chars
    assert sum(r["n_bpe_tokens"] for r in rows) < sum(chars.values())


# --- a22 managed catalog table ------------------------------------------------


def test_a22_catalog_metadata_and_idempotent_rerun(spark, sf_dir):
    out1 = {
        (r["l_returnflag"], r["n_lines"])
        for r in QUERIES["a22_managed_table"](spark, sf_dir).collect()
    }
    # rerun must not double-append (DROP + location clear up front)
    out2 = {
        (r["l_returnflag"], r["n_lines"])
        for r in QUERIES["a22_managed_table"](spark, sf_dir).collect()
    }
    assert out1 == out2
    from pathlib import Path

    tag = (Path(sf_dir).name or "sf").replace(".", "_")
    tbl = f"engine_cat.lineitem_rf_{tag}"
    assert spark.catalog.tableExists(tbl)
    parts = spark.sql(f"SHOW PARTITIONS {tbl}").collect()
    flags = {p[0].split("=")[1] for p in parts}
    assert flags == {"R", "A"}, "partition metadata lives in the catalog"


# --- e11 ignore-nulls navigation ---------------------------------------------


def test_e11_prev_observed_skips_error_rows(spark, sf_dir):
    rows = QUERIES["e11_win_ignore_nulls"](spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    for rs in by_user.values():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        observed = []
        for r in rs:
            assert r["prev_observed"] == (observed[-1] if observed else None)
            assert r["second_observed"] == (
                observed[1] if len(observed) >= 2 else None
            ) or (
                r["v"] is not None
                and len(observed) == 1
                and r["second_observed"] == r["v"]
            )
            if r["v"] is not None:
                observed.append(r["v"])


# --- a23 recursive glob read --------------------------------------------------


def test_a23_sidecar_ignored_and_tree_complete(spark, sf_dir):
    out = {
        (r["l_returnflag"], r["n_lines"])
        for r in QUERIES["a23_glob_recursive_read"](spark, sf_dir).collect()
    }
    direct = {
        (r["l_returnflag"], r["n"])
        for r in load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("R", "N"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == direct
    # the planted sidecar exists and would crash a naive read
    from upc_sku_data_loader_spark.plans.sources_sinks import _scratch
    from pathlib import Path

    assert (Path(_scratch(sf_dir, "lineitem_tree")) / "batch=1"
            / "manifest.json").exists()


# --- etl10 lambda merge -------------------------------------------------------


def test_etl10_layers_disjoint_and_complete(spark, sf_dir):
    rows = QUERIES["etl10_lambda_merge"](spark, sf_dir).collect()
    days = defaultdict(set)
    for r in rows:
        days[r["day"]].add(r["layer"])
    assert all(len(layers) == 1 for layers in days.values()), (
        "a day must come from exactly one layer"
    )
    assert {r["layer"] for r in rows} == {"batch", "speed"}
    total = sum(r["n_events"] for r in rows)
    assert total == load(spark, sf_dir, "events").count()
    speed_days = {r["day"] for r in rows if r["layer"] == "speed"}
    assert len(speed_days) <= 3, "speed layer serves only the hot tail"


# --- k70 contrastive triplets -------------------------------------------------


def test_k70_triplet_integrity(spark, sf_dir):
    import hashlib

    rows = QUERIES["k70_contrastive_triplets"](spark, sf_dir).collect()
    docs = {
        d["doc_id"]: d["text"].split(" ")
        for d in load(spark, sf_dir, "documents").collect()
    }
    assert rows
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    for r in rows:
        t = docs[r["doc_id"]]
        n = len(t)
        assert n == r["n_tokens"] >= 4
        assert r["query_md5"] == md5(" ".join(t[: n // 2]))
        assert r["pos_md5"] == md5(" ".join(t[n // 2 :]))
        assert r["neg_doc_id"] != r["doc_id"], "negative is never the anchor"
        nt = docs[r["neg_doc_id"]]
        assert r["neg_md5"] == md5(" ".join(nt[len(nt) // 2 :]))


# --- b14 sentinel normalization -----------------------------------------------


def test_b14_rescue_accounting(spark, sf_dir):
    rows = QUERIES["b14_sentinel_normalize"](spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r["n_rows"] for r in rows) == n_docs
    null_row = next(r for r in rows if r["source_norm"] == "∅NULL")
    # doc_id % 7 in {0,1,2} plants a pure sentinel
    expected_nulled = sum(1 for i in range(n_docs) if i % 7 in (0, 1, 2))
    assert null_row["n_nulled"] == null_row["n_rows"] == expected_nulled
    # %7==3 rows are whitespace-padded, rescued by TRIM into real values
    assert sum(r["n_trimmed"] for r in rows) == sum(
        1 for i in range(n_docs) if i % 7 == 3
    )
    for r in rows:
        if r["source_norm"] != "∅NULL":
            assert r["source_norm"] == r["source_norm"].strip() != ""
