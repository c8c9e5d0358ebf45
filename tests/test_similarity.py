"""Similarity-search properties (SURVEY §7 'hard parts' #5): the numpy
fast path must agree with a brute-force reference, and IVF-ANN recall
against the exact KNN must clear a floor at fixture scale."""

from __future__ import annotations

import numpy as np

from upc_sku_data_loader_spark.operators.similarity import (
    ann_ivf,
    dedup_embedding,
    knn_join,
)


def _exact_pairs(spark, sf_dir, k):
    rows = knn_join(spark, sf_dir, k=k).collect()
    return {(r["q_vec_id"], r["neighbor_id"]) for r in rows}


def test_knn_matches_bruteforce_numpy(spark, sf_dir):
    got = {
        (r["q_vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in knn_join(spark, sf_dir, k=2).collect()
    }
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    ids = t["vec_id"].to_numpy(dtype=np.int64)
    mat = np.vstack(t["embedding"].to_numpy()).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(mat @ mat.T, 6)
    for qi, qid in enumerate(ids):
        mask = ids != qid
        cand_ids, cand_sims = ids[mask], sims[qi][mask]
        order = np.lexsort((cand_ids, -cand_sims))[:2]
        for rank, j in enumerate(order, start=1):
            nid, sim = got[(int(qid), rank)]
            assert nid == int(cand_ids[j]) and sim == float(cand_sims[j])


def test_ann_ivf_recall_curve(spark, sf_dir):
    """Recall must rise monotonically with n_probe (measured on the
    uniform fixtures: ~0.37 / 0.57 / 0.82 at probe 2/4/8 of 16 — random
    embeddings have no cluster structure, so partial-probe recall is
    intrinsically modest) and be EXACT when every list is probed."""
    k = 3
    exact = _exact_pairs(spark, sf_dir, k)

    def recall(n_probe):
        approx = {
            (r["q_vec_id"], r["neighbor_id"])
            for r in ann_ivf(
                spark, sf_dir, n_centroids=16, n_probe=n_probe, k=k
            ).collect()
        }
        return len(exact & approx) / len(exact), approx

    r2, _ = recall(2)
    r4, _ = recall(4)
    r8, _ = recall(8)
    assert 0.25 <= r2 <= r4 <= r8, (r2, r4, r8)
    assert r8 >= 0.7, f"IVF n_probe=8 recall {r8:.2f} below floor"

    r16, full = recall(16)
    assert full == exact  # probing every list ⇒ exhaustive ⇒ exact


def test_dedup_embedding_keeper_invariants(spark, sf_dir):
    rows = dedup_embedding(spark, sf_dir, tau=0.35).collect()
    by_id = {r["vec_id"]: r for r in rows}
    for r in rows:
        if r["is_keeper"]:
            assert r["dup_of"] is None
        else:
            # canonical keeper is an earlier vector, and itself a keeper
            # OR a dup of something even earlier (chain always descends)
            assert r["dup_of"] < r["vec_id"]


def test_blocked_strategy_bit_identical_and_driver_free(spark, sf_dir):
    """The beyond-broadcast path must (a) never collect the reference
    side to the driver — its physical plan is cogroup-shaped — and
    (b) produce bit-identical results to the broadcast kernel (disjoint
    per-block partials + same deterministic re-rank key).  At fixture
    scale the broadcast strategy takes its driver tier; the fan-out
    tier is pinned against it in test_vectors_dedup's gate test."""
    from upc_sku_data_loader_spark.operators.similarity import topk_pairs

    def rows(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple(str(x) for x in t),
        )

    for a, b in [
        (
            knn_join(spark, sf_dir, k=3, strategy="broadcast"),
            knn_join(spark, sf_dir, k=3, strategy="blocked"),
        ),
        (
            topk_pairs(spark, sf_dir, k=10, strategy="broadcast"),
            topk_pairs(spark, sf_dir, k=10, strategy="blocked"),
        ),
        (
            dedup_embedding(spark, sf_dir, tau=0.35, strategy="broadcast"),
            dedup_embedding(spark, sf_dir, tau=0.35, strategy="blocked"),
        ),
    ]:
        assert rows(a) == rows(b)

    plan = (
        knn_join(spark, sf_dir, k=3, strategy="blocked")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapCoGroupsInPandas" in plan


_DRIVER_TIER = ("k3_similarity_topk", "k4_knn_join", "k17_dedup_embedding")


def _executed_plan(spark, name, sf_dir):
    from upc_sku_data_loader_spark import plans  # noqa: F401  (registry)
    from upc_sku_data_loader_spark.registry import QUERIES

    df = QUERIES[name](spark, sf_dir)
    return df, df._jdf.queryExecution().executedPlan().toString()


def test_driver_tier_starts_no_python_worker(spark, sf_dir, monkeypatch):
    """A problem that fits one sub-block runs on the driver: the
    executed plans of k3/k4/k17 hold no MapInPandas.  Zeroing the
    budget brings the fan-out's MapInPandas back."""
    from upc_sku_data_loader_spark.operators import similarity as S

    for name in _DRIVER_TIER:
        assert "MapInPandas" not in _executed_plan(spark, name, sf_dir)[1], name
    monkeypatch.setattr(S, "_TOPK_CELL_BUDGET", 0)
    for name in _DRIVER_TIER:
        assert "MapInPandas" in _executed_plan(spark, name, sf_dir)[1], name


def _embeddings_dir(tmp_path, vectors):
    """An sf dir whose only table is ``embeddings``: (vec_id, vector)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vectors], pa.int64()),
                "embedding": pa.array([v[1] for v in vectors], pa.list_(pa.float32())),
                "label": pa.array([0] * len(vectors), pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    return str(tmp_path)


#: every way a vector leaves the finite-vector convention
_NON_FINITE = [
    (0, None),
    (40, [float("nan"), 1.0]),
    (60, [float("inf"), 0.0]),
    (80, [float("-inf"), 1.0]),
    (100, [None, 1.0]),
]


def test_driver_tier_without_a_finite_vector_is_empty(spark, tmp_path):
    """Every vector non-finite or NULL: each query returns no rows and
    the exact schema of its other tiers."""
    sf = _embeddings_dir(tmp_path, _NON_FINITE)
    schemas = {
        "k3_similarity_topk": "a bigint, b bigint, sim double",
        "k4_knn_join": "q_vec_id bigint, neighbor_id bigint, sim double, rank int",
        "k17_dedup_embedding": "vec_id bigint, dup_of bigint, is_keeper boolean",
    }
    for name in _DRIVER_TIER:
        df, plan = _executed_plan(spark, name, sf)
        assert "MapInPandas" not in plan, name
        assert df.collect() == [], name
        assert df.schema == spark.createDataFrame([], schemas[name]).schema, name


def test_driver_tier_with_one_finite_vector(spark, tmp_path):
    """One finite vector among invalid ones: it has no neighbor (k3 and
    k4 return no rows) and is its own keeper (k17 returns one row)."""
    sf = _embeddings_dir(tmp_path, _NON_FINITE + [(20, [0.6, 0.8])])
    got = {name: _executed_plan(spark, name, sf)[0].collect() for name in _DRIVER_TIER}
    assert got["k3_similarity_topk"] == []
    assert got["k4_knn_join"] == []
    assert [tuple(r) for r in got["k17_dedup_embedding"]] == [(20, None, True)]


def test_driver_tier_query_flag_follows_finite_rows(spark, tmp_path):
    """k4's query flag rides in the matrix collect: after the invalid
    first row drops, the flag must still mark vec_id 20, not 21."""
    sf = _embeddings_dir(tmp_path, [(1, None), (20, [1.0, 0.0]), (21, [0.6, 0.8])])
    rows = _executed_plan(spark, "k4_knn_join", sf)[0].collect()
    assert [tuple(r) for r in rows] == [(20, 21, 0.6, 1)]


def test_ann_ivf_trains_without_full_collect(spark, sf_dir, monkeypatch):
    """IVF centroid training must never pull the full table to the
    driver: embedding_matrix (the broadcast-path full collect) is
    poisoned and ann_ivf must still run end-to-end."""
    from upc_sku_data_loader_spark.operators import similarity as S

    def boom(*a, **k):  # pragma: no cover - should never fire
        raise AssertionError("ann_ivf called embedding_matrix (full collect)")

    monkeypatch.setattr(S, "embedding_matrix", boom)
    out = S.ann_ivf(spark, sf_dir, n_centroids=8, n_probe=2, k=3).collect()
    assert len(out) > 0


def test_k16b_seeded_ivf_rank_contract(spark, sf_dir):
    """Ranks are 1..3 per query, cosines are non-increasing within a
    query, and no query returns itself."""
    from upc_sku_data_loader_spark import plans  # noqa: F401
    from upc_sku_data_loader_spark.registry import QUERIES

    rows = QUERIES["k16b_ann_ivf_seeded"](spark, sf_dir).collect()
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in rows:
        assert r["n_vec_id"] != r["q_vec_id"]
        per_q[r["q_vec_id"]].append((r["rank"], r["cos_r"]))
    for q, rs in per_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        cosines = [x[1] for x in rs]
        assert cosines == sorted(cosines, reverse=True)
