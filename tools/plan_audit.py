"""Automated physical-plan audit: sweep EVERY registry query and flag
scale anti-patterns in the executed plan.

This institutionalizes the per-op `.explain` review the build does by
hand: at 100 TB the plan shapes below are the difference between a job
that finishes and one that doesn't, so a regression must show up as a
named finding, not survive until cluster scale.

Checks per query (executed plan at the audit SF):
- CARTESIAN      CartesianProduct present
- BNLJ           BroadcastNestedLoopJoin present (allowlisted for
                 intentional broadcast range/theta joins over
                 constant-size sides)
- PY_EVAL        BatchEvalPython / ArrowEvalPython present (allowlisted
                 for the J-tier UDF contract demos and ops whose kernel
                 is necessarily Python — multimodal decode, blocked
                 cogroups)
- GLOBAL_SORT    a Sort with a SinglePartition exchange NOT part of a
                 TakeOrderedAndProject (allowlisted for final
                 small-result ordering where the sort input is an
                 aggregate, or where a per-key scan is the operator's
                 semantics)

Usage:  python tools/plan_audit.py [--sf DIR] [names...]
Exit 1 if any non-allowlisted finding fires.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from upc_sku_data_loader_spark import plans  # noqa: F401,E402
from upc_sku_data_loader_spark.registry import QUERIES  # noqa: E402
from upc_sku_data_loader_spark.session import get_spark  # noqa: E402

# Intentional BroadcastNestedLoopJoin: constant-size broadcast side
# probed with a non-equi predicate (the correct plan for these shapes).
BNLJ_OK = {
    "c6_join_theta_range",  # theta join, broadcast dim
    "c7_join_cross",  # the cross-join contract demo itself
    "b16_gs1_prefix_lookup",  # 11-row GS1 range dim
    "c10_join_range_bucketed",  # bucketed range join, broadcast buckets
    "t7_asof_interpolated",  # broadcast quote windows
    "d18_histogram",  # broadcast bin edges
    "k54_containment_pairs",  # length-band candidate windows
    "q22_dormant_customers",  # scalar subquery broadcast (TPC-H Q22 shape)
    "q11_important_part_values",  # scalar threshold broadcast
    "q25_ab_test_chi2",  # 1-row cells table
    "t3_winsorize",  # broadcast [p05,p95] band
    "q6_revenue_forecast",  # scalar forecast factors
    "k36_chunk_dedup_global",  # 1-row count side
    "k46_source_token_budget",  # per-source budget scalars
    "t9_mad_outliers",  # broadcast median/MAD scalars
    # scalar corpus-stats cross joins: the broadcast side is ONE row of
    # global aggregates (N docs / total tokens / cutoffs) — a BNLJ over
    # a 1-row side is a map-only enrich, the correct 100 TB plan
    "d19_hll_merge",
    "d22_count_min_sketch",
    "q23_basket_lift",
    "k28_weighted_sample",
    "k50_bm25_topk",
    "k51_pmi_collocations",
    "k35_unigram_logprob",
    "k55_bigram_logprob",
    "k63_dsir_importance",
    "k64_ccnet_buckets",
    "etl10_lambda_merge",
    # bounded-grid block cross joins: the cross join pairs BLOCK IDS
    # (QB×RB, a few dozen rows), never data rows — the documented
    # beyond-broadcast KNN/dedup strategy
    "k4b_knn_join_blocked",
    "k17b_dedup_embedding_blocked",
    # within-cluster pair enumeration over broadcast k×d centroids
    "k41_semdedup",
    # broadcast sign-matrix / projection-plane sides (k×d literals)
    "k53_random_projection",
    # constant bin-grid cross join (|event types| × 8 bins)
    "k75_drift_psi",
    # 1-row global-stat broadcasts (min date / mean / ss) + 7-row lag grid
    "t14_acf",
    # 1-row corpus-max-date broadcast
    "q26_rfm_segments",
    # 1-row observation-cutoff broadcast (KM censoring bound)
    "t17_survival_km",
    # 1-row corpus-median broadcast (streak threshold)
    "q36_revenue_streaks",
    # 1-row point-estimate broadcast onto the B-row replicate table
    "d31_bootstrap_ci",
    # 1-row min-day/fitted-slope broadcasts + day-sized pair self-join
    "t20_theil_sen",
    # 1-row corpus-total broadcast (k55's shape one order higher)
    "k86_trigram_backoff",
}

# Python execution is the operator's contract (UDF-tier demos) or its
# kernel is necessarily Python (multimodal decode, numpy block matmul,
# learned-merge application).
PY_OK_PREFIXES = ("j",)  # the whole UDF/UDAF/UDTF tier
PY_OK = {
    "k3_similarity_topk",
    "k4_knn_join",
    "k4b_knn_join_blocked",
    "k15_multimodal_features",
    "k15b_multimodal_frames",
    "k15c_multimodal_resize",
    "k15d_multimodal_segments",
    "k16_ann_ivf",
    "k16b_ann_ivf_seeded",
    "k17_dedup_embedding",
    "k17b_dedup_embedding_blocked",
    "k41_semdedup",
    "k42_kmeans",
    "k26_embedding_quantize",
    "k53_random_projection",
    "k61_pretrain_pipeline",
    "k63_dsir_importance",
    "k69_bpe_encode",
    "k70_contrastive_triplets",
    "i6_stateful_sessionize",
    "i6b_stateful_streaming",
    "t6_interpolate",
    "t11_holt_trend",
    "a4_rest_api_source",
    "a16_python_datasource",
    "a16b_python_stream_source",
    "etl_load_upcs",
    "k19_curation_pipeline",
    "k5_vector_ops",
    "k5b_vector_centroid",
    "k47_coreset_fps",
    # per-source all-pairs token-set Jaccard as a 0/1 indicator
    # matmul kernel (the k41 within-block pattern; r10 — the JVM
    # array_intersect pair join paid ~8 µs × 622k pairs)
    "k9_doc_similarity_pairs",
    "d17_heavy_hitters",  # Misra-Gries partial-sketch merge kernel
    # broadcast-CSR intersect-size kernel over the candidate pair
    # stream (counts only; jaccard math stays in SQL) — the pure-SQL
    # array_intersect verify allocates per-pair intersection arrays
    # (~200 s at the 10× replica's 67.9M candidates)
    "k18_ngram_jaccard",
    # r11: the same gated CSR kernel prunes the near-dup verify's
    # candidate stream (hash-overlap upper bound; exact string verify
    # still runs on the survivors — operators/dedup.py
    # verify_jaccard).  k20/k62/k37 share the pipeline but
    # return driver union-find output, so only these two carry the
    # MapInPandas node in their returned plan.
    "k2_dedup_near_minhash",
    "k73_incremental_dedup",
}

SKIP = {
    # streaming queries run via writeStream (executedPlan differs) and
    # sink-side ops whose return is a read-back — audited by their
    # dedicated plan tests instead
}


def audit(name: str, plan: str) -> list[str]:
    findings = []
    if "CartesianProduct" in plan:
        findings.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
        findings.append("BNLJ")
    if (
        ("BatchEvalPython" in plan or "ArrowEvalPython" in plan
         or "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan
         or "PythonMapInArrow" in plan or "FlatMapCoGroupsInPandas" in plan
         or "MapInArrow" in plan or "EvalPythonUDTF" in plan
         or "AggregateInPandas" in plan or "WindowInPandas" in plan)
        and name not in PY_OK
        and not name.startswith(PY_OK_PREFIXES)
    ):
        findings.append("PY_EVAL")
    return findings


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    # Isolate the side-effecting builders' scratch tree from a pytest /
    # parity run sharing the machine (same hook the pytest shards use):
    # both default to .scratch/<sf-name>/, and a concurrent rebuild of
    # e.g. c9's bucketed tables mid-write is a TASK_WRITE_FAILED flake.
    import os

    os.environ.setdefault(
        "SPARK_GRAFT_SCRATCH", str(REPO / ".scratch" / "_plan_audit")
    )
    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    names = args.names or list(QUERIES)
    bad = 0
    for name in names:
        try:
            df = QUERIES[name](spark, args.sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR    {name}: {str(exc)[:120]}")
            bad += 1
            continue
        findings = audit(name, plan)
        if findings:
            print(f"FLAG     {name}: {', '.join(findings)}")
            bad += 1
    print(f"== {len(names) - bad} clean, {bad} flagged (of {len(names)}) ==")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
