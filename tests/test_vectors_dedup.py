"""Vector HOF kernels vs numpy ground truth, dedup idempotence, and
MinHash-vs-exact-Jaccard agreement (SURVEY §5.3.3)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from upc_sku_data_loader_spark.functions.vectors import cosine, dot, l2_norm
from upc_sku_data_loader_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_base,
    verified_near_dup_pairs,
    verify_jaccard,
)
from upc_sku_data_loader_spark.session import Held


def test_vector_kernels_match_numpy(spark):
    rng = np.random.default_rng(11)
    a = rng.normal(size=(50, 16)).round(4)
    b = rng.normal(size=(50, 16)).round(4)
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(50)],
        "i int, a array<double>, b array<double>",
    )
    rows = df.select(
        "i",
        dot(F.col("a"), F.col("b")).alias("dot"),
        l2_norm(F.col("a")).alias("norm"),
        cosine(F.col("a"), F.col("b")).alias("cos"),
    ).collect()
    for r in rows:
        i = r["i"]
        np.testing.assert_allclose(r["dot"], float(a[i] @ b[i]), rtol=1e-12)
        np.testing.assert_allclose(r["norm"], float(np.linalg.norm(a[i])), rtol=1e-12)
        np.testing.assert_allclose(
            r["cos"],
            float(a[i] @ b[i] / (np.linalg.norm(a[i]) * np.linalg.norm(b[i]))),
            rtol=1e-9,
        )


def test_exact_dedup_idempotent(spark):
    df = spark.createDataFrame(
        [(i % 7, f"text {i % 7}") for i in range(100)], "k int, text string"
    )
    once = df.dropDuplicates(["text"])
    twice = once.dropDuplicates(["text"])
    assert once.count() == 7 == twice.count()
    assert sorted(once.collect()) == sorted(twice.collect())


def test_minhash_lsh_finds_near_duplicates(spark):
    """A doc and its lightly-edited copy must land in a shared LSH
    bucket and verify above the Jaccard threshold; unrelated docs must
    verify below it (recall property on a constructed instance)."""
    base = [f"tok{i}" for i in range(60)]
    edited = base.copy()
    edited[5], edited[25] = "tokX", "tokY"  # ~2/62 token flip ⇒ J ≈ 0.94
    other = [f"other{i}" for i in range(60)]
    docs = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(edited)), (3, " ".join(other))],
        "doc_id bigint, text string",
    )
    held = Held()
    base = shingle_base(docs, held)
    try:
        sigs = minhash_signatures(base, n_hashes=32)
        cands = lsh_candidate_pairs(sigs, n_bands=8, rows_per_band=4)
        verified = verify_jaccard(cands, base, threshold=0.8)
        pairs = {(r["a"], r["b"]) for r in verified.collect()}
    finally:
        held.free(base)
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_lsh_bucket_cap_defuses_degenerate_band(spark):
    """Adversarial corpus: 60 identical docs collide in EVERY band (one
    degenerate bucket per band → 60² candidate work uncapped).  With a
    small cap the degenerate buckets are dropped before the self-join —
    the pipeline completes without the quadratic bucket and still finds
    the genuine near-dup pair living in small buckets."""
    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit")
              for i in range(60)]
    near = [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (101, "the quick brown fox jumps over the lazy dog today"),
    ]
    docs = spark.createDataFrame(boiler + near, "doc_id long, text string")
    held = Held()
    base = shingle_base(docs, held, shingle_k=3)
    try:
        sigs = minhash_signatures(base, n_hashes=32)

        uncapped = lsh_candidate_pairs(sigs, max_bucket_size=None)
        assert uncapped.count() >= 60 * 59 // 2  # the quadratic blowup is real

        capped = lsh_candidate_pairs(sigs, max_bucket_size=5)
        pairs = {(r["a"], r["b"]) for r in capped.collect()}
    finally:
        held.free(base)
    assert (100, 101) in pairs          # genuine pair survives
    assert all(a >= 100 for a, _ in pairs)  # degenerate bucket dropped
    assert len(pairs) == 1


def test_dedup_clusters_transitive_closure(spark):
    """(1,2)+(2,3) must collapse to one cluster with keeper 1 even though
    (1,3) was never compared; disjoint components stay separate; a long
    chain converges within the iteration bound."""
    from upc_sku_data_loader_spark.operators.dedup import dedup_clusters

    chain = [(i, i + 1) for i in range(10, 18)]  # 10-11-...-18 (diameter 8)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)] + chain, "a long, b long"
    )
    got = {r["doc_id"]: r["cluster_keeper"] for r in dedup_clusters(pairs, Held()).collect()}
    assert {k: got[k] for k in (1, 2, 3)} == {1: 1, 2: 1, 3: 1}
    assert got[5] == 5 and got[6] == 5
    assert all(got[i] == 10 for i in range(10, 19))


def test_dedup_clusters_matches_union_find_on_random_graphs(spark):
    """Property: on random pair graphs the Spark fixpoint equals a
    reference union-find, component for component."""
    import numpy as np

    from upc_sku_data_loader_spark.operators.dedup import dedup_clusters

    rng = np.random.default_rng(23)
    for _ in range(3):
        n = 40
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(45, 2))
            if a != b
        ]
        edges = [(min(a, b), max(a, b)) for a, b in edges]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        members = {v for e in edges for v in e}
        expected = {v: find(v) for v in sorted(members)}

        got = {
            r["doc_id"]: r["cluster_keeper"]
            for r in dedup_clusters(
                spark.createDataFrame(edges, "a long, b long"), Held()
            ).collect()
        }
        assert got == expected


def test_dedup_clusters_driver_and_distributed_paths_agree(spark, monkeypatch):
    """r10: the size-gated driver union-find fast path and the
    distributed min-label loop must emit identical components (the k18
    gate-pinning pattern: force the distributed path by zeroing the
    gate)."""
    from upc_sku_data_loader_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 10), (3, 11)],
        "a long, b long",
    )
    fast = {
        (r["doc_id"], r["cluster_keeper"])
        for r in D.dedup_clusters(pairs, Held()).collect()
    }
    monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["doc_id"], r["cluster_keeper"])
        for r in D.dedup_clusters(pairs, Held()).collect()
    }
    assert fast == slow and len(fast) == 10


def test_dedup_clusters_raises_when_labels_still_move(spark, monkeypatch):
    """The distributed loop refuses to return labels that have not
    converged: with the round cap at 1, a chain whose labels one round
    cannot settle raises instead of emitting two keepers for one
    component.  The default cap settles the same chain."""
    from upc_sku_data_loader_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "a long, b long"
    )  # 1-2-...-9: one round moves labels, and more are left to move
    monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    settled = {
        r["doc_id"]: r["cluster_keeper"]
        for r in D.dedup_clusters(pairs, Held()).collect()
    }
    assert settled == {i: 1 for i in range(1, 10)}
    monkeypatch.setattr(D, "_CC_MAX_ITERS", 1)
    held = Held()
    with pytest.raises(RuntimeError, match="did not converge within 1 rounds"):
        D.dedup_clusters(pairs, held)
    held._free_all()  # what a @holding query does when its build raises


_DEDUP = "upc_sku_data_loader_spark.operators.dedup"
_SIMILARITY = "upc_sku_data_loader_spark.operators.similarity"

#: (module, gate constant, registry query that reaches the gate)
_GATES = [
    (_DEDUP, "_CSR_KERNEL_MAX_ROWS", "k2_dedup_near_minhash"),
    (_DEDUP, "_CSR_KERNEL_MAX_ROWS", "k73_incremental_dedup"),
    (_DEDUP, "_CSR_KERNEL_MAX_ROWS", "k18_ngram_jaccard"),
    (_DEDUP, "_DRIVER_MAX_EDGES", "k20_dedup_clusters"),
    (_DEDUP, "_DRIVER_MAX_EDGES", "k43_graph_pagerank"),
    (
        "upc_sku_data_loader_spark.plans.joins",
        "_C1_BROADCAST_MAX_ORDERS",
        "c1_join_inner_equi",
    ),
    (_SIMILARITY, "_TOPK_CELL_BUDGET", "k3_similarity_topk"),
    (_SIMILARITY, "_TOPK_CELL_BUDGET", "k4_knn_join"),
    (_SIMILARITY, "_TOPK_CELL_BUDGET", "k17_dedup_embedding"),
]


@pytest.mark.parametrize("module, gate, name", _GATES, ids=[q for *_, q in _GATES])
def test_zero_gate_matches_default_path(spark, sf_dir, monkeypatch, module, gate, name):
    """Every size-gated driver fast path and the path beyond its gate
    emit the same rows: zeroing the gate constant forces the other side
    (the CSR kernel's distributed verify, the distributed edge loops,
    c1's shuffle join, the similarity kernels' fan-out broadcast).
    Rows compare as a multiset, so a duplicate on either side fails
    too."""
    import importlib
    from collections import Counter

    from upc_sku_data_loader_spark import plans  # noqa: F401  (registry)
    from upc_sku_data_loader_spark.registry import QUERIES

    fast = Counter(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())
    monkeypatch.setattr(importlib.import_module(module), gate, 0)
    slow = Counter(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())
    assert fast == slow and fast  # non-vacuous at the test fixture


def test_pair_intersect_counts_empty_b_segments(spark):
    """Docs with an empty ``hs`` count 0 hits as the b side — mid-group,
    as a group's trailing segment, and in a batch where every b-side
    segment is empty."""
    from upc_sku_data_loader_spark.operators import dedup as D

    hs = {1: [10, 11, 12], 2: [], 3: [10, 12], 4: [], 5: [11]}
    docs = spark.createDataFrame(list(hs.items()), "doc_id long, hs array<long>")

    def expected(pairs):
        return {
            (a, b, len(set(hs[a]) & set(hs[b])), len(hs[a]), len(hs[b]))
            for a, b in pairs
        }

    for pairs in (
        [(1, 2), (1, 3), (1, 4), (3, 2), (3, 4), (5, 2), (5, 3)],
        [(1, 2), (1, 4), (3, 2), (5, 4)],  # every b-side segment empty
    ):
        df = spark.createDataFrame(pairs, "a long, b long")
        got = {tuple(r) for r in D._pair_intersect_counts(spark, df, docs).collect()}
        assert got == expected(pairs)


# --- k14b md5-simhash ---------------------------------------------------------


def test_k14b_signature_popcount_and_range(spark, sf_dir):
    from upc_sku_data_loader_spark import plans  # noqa: F401  (registry)
    from upc_sku_data_loader_spark.registry import QUERIES

    rows = QUERIES["k14b_simhash_md5"](spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r["simhash32"] < (1 << 32)
        assert bin(r["simhash32"]).count("1") == r["n_set_bits"]


# --- k18 char-n-gram jaccard (PPJoin + dup-cluster expansion) -------------------


def _k18_brute_force(rows, n=10, t=0.7):
    """Reference all-pairs jaccard with the oracle's length-ratio prune."""
    import math

    def grams(text):
        hi = max(len(text) - (n - 1), 1)
        return {text[i : i + n] for i in range(hi)}

    gs = {r[0]: (grams(r[1]), r[2]) for r in rows}
    out = {}
    ids = sorted(gs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ga, na = gs[a]
            gb, nb = gs[b]
            if not (math.trunc(na * t) <= nb <= math.trunc(na / t)):
                continue
            inter = len(ga & gb)
            jac = inter / (len(ga) + len(gb) - inter)
            if jac >= t:
                out[(a, b)] = round(jac, 6)
    return out


def _k18_fixture_dir(spark, tmp_path):
    """Tiny corpus with exact-dup clusters AND near-dups: 3 copies of one
    text (within-cluster pairs), 2 copies of a 1-char edit (cross-cluster
    pairs between two clusters), one unrelated text."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "hazy", 1)
    other = "completely different content with nothing shared here " * 8
    rows = [
        (1, base), (2, base), (3, base),
        (4, near), (5, near),
        (6, other),
    ]
    data = [(i, s, "en", "synth", len(s)) for i, s in rows]
    df = spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path), [(i, s, len(s)) for i, s in rows]


def test_k18_matches_brute_force_with_dup_clusters(spark, tmp_path):
    from upc_sku_data_loader_spark import plans  # noqa: F401
    from upc_sku_data_loader_spark.registry import QUERIES

    sf, rows = _k18_fixture_dir(spark, tmp_path)
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in QUERIES["k18_ngram_jaccard"](spark, sf).collect()
    }
    want = _k18_brute_force(rows)
    assert got == want
    # the fixture exercises both expansion kinds
    assert (1, 2) in want and (2, 3) in want  # within-cluster (jaccard 1.0)
    assert (3, 4) in want and (1, 5) in want  # cross-cluster near-dups
    assert all(v == 1.0 for (a, b), v in want.items() if {a, b} <= {1, 2, 3})


def test_k18_expansion_reapplies_directional_length_filter(spark, tmp_path, monkeypatch):
    """Truncation makes the oracle's length filter direction-dependent —
    n=(15,10): 10 ∈ [trunc(10.4999...)=10, trunc(21.4)] passes, but
    reversed 15 > trunc(10/0.7) = 14 fails.  Exact-dup expansion can flip
    pair direction vs the rep pair, so candidates must be generated with
    the symmetrized filter and the directional filter re-applied per
    expanded pair.  Both failure sides regress here, on both verify
    strategies: the MISS side (rep direction fails, a member direction
    passes) and the GHOST side (rep direction passes, a member direction
    fails).  All same-letter docs share the single distinct 10-gram, so
    every candidate pair has jaccard exactly 1.0 and only the length
    filter decides membership."""
    from upc_sku_data_loader_spark import plans  # noqa: F401
    from upc_sku_data_loader_spark.operators import dedup as D
    from upc_sku_data_loader_spark.registry import QUERIES

    rows = [
        # miss side: cluster {1,4} (len 10) vs {2} (len 15) — rep pair
        # (1,2) fails the directional filter, member pair (2,4) passes
        (1, "x" * 10), (2, "x" * 15), (4, "x" * 10),
        # ghost side: cluster {5,7} (len 15) vs {6} (len 10) — rep pair
        # (5,6) passes, member pair (6,7) fails
        (5, "y" * 15), (6, "y" * 10), (7, "y" * 15),
    ]
    data = [(i, s, "en", "synth", len(s)) for i, s in rows]
    spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    want = _k18_brute_force([(i, s, len(s)) for i, s in rows])
    assert (2, 4) in want and (5, 6) in want  # miss side must be found
    assert (1, 2) not in want and (6, 7) not in want  # ghost side must not
    for max_rows in (D._CSR_KERNEL_MAX_ROWS, 0):  # kernel, then fallback
        monkeypatch.setattr(D, "_CSR_KERNEL_MAX_ROWS", max_rows)
        got = {
            (r["a"], r["b"]): r["jaccard"]
            for r in QUERIES["k18_ngram_jaccard"](spark, str(tmp_path)).collect()
        }
        assert got == want


def test_k18_matches_brute_force_on_seeded_random_corpora(spark, tmp_path):
    """Seeded randomized stress over the whole predicate surface: a tiny
    two-letter alphabet forces heavy gram collisions (prefix filter
    degenerates), lengths 1..40 hit many TRUNC-asymmetric length pairs
    (and sub-gram-width docs whose gram set is the whole text), and
    injected exact dups permute doc_id order so expansion must flip pair
    direction.  Deterministic seeds — no flake, reproducible failures."""
    import random

    from upc_sku_data_loader_spark import plans  # noqa: F401
    from upc_sku_data_loader_spark.registry import QUERIES

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        texts = [
            "".join(rng.choice("xy") for _ in range(rng.randint(1, 40)))
            for _ in range(8)
        ]
        # exact dups of two random texts, ids interleaved so a dup's id can
        # fall on either side of another cluster's members
        texts += [texts[rng.randrange(8)], texts[rng.randrange(8)]]
        ids = list(range(1, len(texts) + 1))
        rng.shuffle(ids)
        rows = list(zip(ids, texts))
        data = [(i, s, "en", "synth", len(s)) for i, s in rows]
        out = tmp_path / f"seed{seed}"
        spark.createDataFrame(
            data, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(out / "documents.parquet")
        )
        got = {
            (r["a"], r["b"]): r["jaccard"]
            for r in QUERIES["k18_ngram_jaccard"](spark, str(out)).collect()
        }
        want = _k18_brute_force([(i, s, len(s)) for i, s in rows])
        assert want  # the injected exact dups guarantee ≥1 pair per seed
        assert got == want, f"seed {seed}: got {got} want {want}"


def test_k18_kernel_dedups_across_arrow_batch_boundaries(spark, sf_dir):
    """Duplicate candidate witnesses that straddle an Arrow batch boundary
    must still be emitted once (the kernel carries the last pair across
    batches)."""
    from upc_sku_data_loader_spark import plans  # noqa: F401
    from upc_sku_data_loader_spark.registry import QUERIES

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        tiny = sorted(
            tuple(r) for r in QUERIES["k18_ngram_jaccard"](spark, sf_dir).collect()
        )
    finally:
        spark.conf.set(key, old)
    normal = sorted(
        tuple(r) for r in QUERIES["k18_ngram_jaccard"](spark, sf_dir).collect()
    )
    assert tiny == normal


def test_k18_unpersists_caches_when_result_dropped(spark, sf_dir):
    """r8 verdict nit: a direct library call to k18 must leave no cached
    blocks behind once the caller drops the result — the two persisted
    relations (clustered docs, prefix index) are lifetime-bound to the
    returned plan via a weakref finalizer, with no reliance on any
    harness-level clearCache()."""
    import gc

    from upc_sku_data_loader_spark import plans  # noqa: F401
    from upc_sku_data_loader_spark.registry import QUERIES

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    df = QUERIES["k18_ngram_jaccard"](spark, sf_dir)
    assert not cm.isEmpty()  # caches live while the result is referenced
    assert df.count() > 0
    del df
    gc.collect()
    assert cm.isEmpty(), "k18 left cached blocks after its result was dropped"


def test_prefix_candidates_guarantee_boundary_recall(spark):
    """A pair at EXACTLY the 0.5 Jaccard threshold escapes 8x4 MinHash
    banding with real probability (fuzz sweep, seed 23 found one); the
    deterministic prefix-filter union must catch every such pair.  The
    two docs below share 4 of their 8 distinct 3-shingles -> J = 0.5
    with shingle sets engineered to defeat any particular banding.
    Runs the registry's own pipeline (k2/k20/k62/k73)."""
    # the seed-23 corpus pair, verbatim (J = 0.5 on 3-token shingles)
    docs = spark.createDataFrame(
        [
            (1, "日本語のテキスト déjà vu naïve déjà vu naïve 日本語のテキスト"),
            (2, "déjà vu naïve déjà vu naïve 日本語のテキスト 🚀 emoji 🎉"),
        ],
        "doc_id long, text string",
    )
    held = Held()
    base = shingle_base(docs, held, shingle_k=3)
    try:
        got = verified_near_dup_pairs(
            docs, held, shingle_k=3, threshold=0.5, base=base
        ).collect()
    finally:
        held.free(base)
    assert [(r["a"], r["b"], r["jaccard"]) for r in got] == [(1, 2, 0.5)]
