"""Edge-case tests for plans/curation.py that the uniform fixtures
can't hit: single-word and empty-ish documents for chunking, zero
vectors for quantization, and cross-run determinism of the seeded
weighted sample."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from upc_sku_data_loader_spark import plans  # noqa: F401,E402
from upc_sku_data_loader_spark.catalog import load  # noqa: E402
from upc_sku_data_loader_spark.plans.curation import _CHUNK, _STRIDE  # noqa: E402
from upc_sku_data_loader_spark.registry import QUERIES  # noqa: E402


def _chunk_df(spark, docs):
    """Run the k25 chunking expressions over synthesized documents."""
    d = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    s = d.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(0), F.size("ws") - 1, F.lit(_STRIDE))).alias("start"),
    )
    return s.select(
        "doc_id",
        (F.col("start") / _STRIDE).cast("long").alias("chunk_idx"),
        F.least(F.size("ws") - F.col("start"), F.lit(_CHUNK)).alias("n_tokens"),
        F.array_join(
            F.slice(
                F.col("ws"),
                F.col("start") + 1,
                F.least(F.lit(_CHUNK), F.size("ws") - F.col("start")),
            ),
            " ",
        ).alias("chunk_text"),
    )


def test_chunking_single_word_and_exact_boundary(spark):
    rows = _chunk_df(
        spark,
        [
            (1, "solo"),  # 1 word → exactly one chunk
            (2, " ".join(f"w{i}" for i in range(_STRIDE))),  # == stride words
            (3, " ".join(f"w{i}" for i in range(_STRIDE + 1))),  # stride+1 → 2 chunks
        ],
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "solo"
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == _STRIDE
    assert len(by_doc[3]) == 2
    tail = sorted(by_doc[3], key=lambda r: r["chunk_idx"])[-1]
    assert tail["n_tokens"] == 1 and tail["chunk_text"] == f"w{_STRIDE}"


def test_chunking_covers_every_word_once_per_window(spark):
    """Every word index appears in ≥1 chunk; consecutive chunks overlap
    by exactly CHUNK - STRIDE words when the doc is long enough."""
    n = _CHUNK * 3 + 7
    rows = _chunk_df(spark, [(1, " ".join(f"w{i}" for i in range(n)))]).collect()
    seen = set()
    for r in rows:
        words = r["chunk_text"].split(" ")
        assert len(words) == r["n_tokens"]
        seen.update(words)
    assert seen == {f"w{i}" for i in range(n)}


def test_quantize_zero_vector_guard(spark):
    """An all-zero embedding must not divide by zero — the epsilon floor
    yields checksum 0 and zero reconstruction error."""
    df = spark.createDataFrame(
        [(1, [0.0] * 8), (2, [1.0, -2.0, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    df.createOrReplaceTempView("_qz")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(dbl, lambda x: F.abs(x))) / 127.0, F.lit(1e-12)
    )
    q = df.select("vec_id", "embedding", scale.alias("scale"))
    qint = F.transform(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        lambda x: F.round(x / F.col("scale")).cast("long"),
    )
    out = {
        r["vec_id"]: r
        for r in q.select(
            "vec_id",
            F.aggregate(qint, F.lit(0).cast("long"), lambda a, x: a + x).alias("cs"),
        ).collect()
    }
    assert out[1]["cs"] == 0
    # max-magnitude element quantizes to ±127
    assert out[2]["cs"] != 0


def test_weighted_sample_is_deterministic_across_runs(spark, sf_dir):
    a = sorted(r["doc_id"] for r in QUERIES["k28_weighted_sample"](spark, sf_dir).collect())
    b = sorted(r["doc_id"] for r in QUERIES["k28_weighted_sample"](spark, sf_dir).collect())
    assert a == b and len(a) > 0


def test_pii_redact_leaves_no_matches(spark, sf_dir):
    """Post-redaction text must contain zero residual PII matches."""
    from upc_sku_data_loader_spark.plans.curation import _EMAIL_RE, _IP_RE, _PHONE_RE

    df = QUERIES["k23_pii_redact"](spark, sf_dir)
    residual = df.filter(
        F.col("redacted").rlike(_EMAIL_RE)
        | F.col("redacted").rlike(_PHONE_RE)
        | F.col("redacted").rlike(_IP_RE)
    ).count()
    assert residual == 0


# --- k44 duplicate-n-gram coverage --------------------------------------------


def test_k44_coverage_bounds_and_known_doc(spark, sf_dir):
    out = QUERIES["k44_dup_ngram_coverage"](spark, sf_dir)
    # micro-unit fractions live in [0, 1e6]
    assert out.filter(
        (F.col("dup2_cov_micro") < 0) | (F.col("dup2_cov_micro") > 1_000_000)
    ).count() == 0
    assert out.filter(
        (F.col("dup5_cov_micro") < 0) | (F.col("dup5_cov_micro") > 1_000_000)
    ).count() == 0
    # Hand-checked doc: "a b a b c" → dup 2-grams {"a b"(×2)} cover
    # positions {1,2,3,4} → 4/5; no dup 5-gram → 0.
    d = spark.createDataFrame(
        [(1, "a b a b c")], "doc_id long, text string"
    )
    probe = _run_k44_on(spark, d)
    row = probe.collect()[0]
    assert row["n_tokens"] == 5
    assert row["dup2_cov_micro"] == 800_000
    assert row["dup5_cov_micro"] == 0


def _run_k44_on(spark, docs_df):
    """Apply k44's construction to an arbitrary (doc_id, text) frame."""
    from pyspark.sql.window import Window

    d = docs_df.select("doc_id", F.split("text", " ").alias("t")).withColumn(
        "n", F.size("t")
    )

    def coverage(ngram, out):
        g = (
            d.filter(F.col("n") >= ngram)
            .select(
                "doc_id",
                "t",
                F.explode(F.expr(f"sequence(1, n - {ngram - 1})")).alias("i"),
            )
            .select(
                "doc_id",
                "i",
                F.expr(f"concat_ws(' ', slice(t, i, {ngram}))").alias("gram"),
            )
        )
        w = Window.partitionBy("doc_id", "gram")
        dup = g.withColumn("cnt", F.count(F.lit(1)).over(w)).filter(
            F.col("cnt") >= 2
        )
        return (
            dup.select(
                "doc_id",
                F.explode(F.expr(f"sequence(i, i + {ngram - 1})")).alias("j"),
            )
            .distinct()
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias(out))
        )

    return (
        d.join(coverage(2, "covered2"), "doc_id", "left")
        .join(coverage(5, "covered5"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.expr(
                "(COALESCE(covered2, CAST(0 AS BIGINT)) * CAST(2000000 AS BIGINT)"
                " + n) div (2 * n)"
            ).alias("dup2_cov_micro"),
            F.expr(
                "(COALESCE(covered5, CAST(0 AS BIGINT)) * CAST(2000000 AS BIGINT)"
                " + n) div (2 * n)"
            ).alias("dup5_cov_micro"),
        )
    )


# --- k45 contamination scoring ------------------------------------------------


def test_k45_excludes_eval_docs_and_bounds(spark, sf_dir):
    out = QUERIES["k45_contamination_score"](spark, sf_dir)
    rows = out.collect()
    # eval docs (md5 first hex digit '0') are excluded from the output
    import hashlib

    for r in rows:
        assert hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[0] != "0"
    assert all(0 <= r["contaminated_micro"] <= 1_000_000 for r in rows)
    # total = all docs minus eval docs
    n_docs = load(spark, sf_dir, "documents").count()
    n_eval = sum(
        1
        for (doc_id,) in load(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
        if hashlib.md5(str(doc_id).encode()).hexdigest()[0] == "0"
    )
    assert len(rows) == n_docs - n_eval


# --- k46 source token budget --------------------------------------------------


def test_k46_shares_sum_and_cumulative_monotone(spark, sf_dir):
    rows = QUERIES["k46_source_token_budget"](spark, sf_dir).collect()
    total = sum(r["n_tokens"] for r in rows)
    # shares are micro-units of the true total (half-up each, so the sum
    # is within ±len(rows)/2 of 1e6)
    share_sum = sum(r["share_micro"] for r in rows)
    assert abs(share_sum - 1_000_000) <= len(rows)
    ordered = sorted(rows, key=lambda r: (-r["n_tokens"], r["source"]))
    cums = [r["cum_share_micro"] for r in ordered]
    assert cums == sorted(cums)
    assert cums[-1] == 1_000_000
    # corpus token total matches an independent count
    indep = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")))
        .count()
    )
    assert total == indep
