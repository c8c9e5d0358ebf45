"""Embedding similarity search (SURVEY §2 K3/K4/K16 [X]).

Fast path: Arrow-batched ``mapInPandas`` + numpy float64 block matmul.
BASELINE.md measured the naive crossJoin+HOF plan at 33.5 s vs DuckDB
0.17 s at sf0.1 (n=2000, d=64) — the vectorized path is mandatory.

Scale design (100 TB / billions of vectors) — three physical tiers
behind one logical operator.  ``strategy=`` (default "auto") picks
broadcast or blocked; under broadcast, the measured problem size picks
the driver tier or the fan-out:

- **driver** (the whole problem fits one sub-block: footer count n with
  n·n ≤ ``_TOPK_CELL_BUDGET``, i.e. n ≤ 2 828): collect + L2 normalize
  the matrix once (the same collect the fan-out broadcasts), run the
  numpy kernel on the driver and return its rows as a local Arrow
  relation — no shuffle, no broadcast variable, no Python worker.  A
  Python stage costs about 0.2–0.3 s before it does any work
  (SCALING.md), more than the whole kernel at this size.
- **fan-out broadcast** (reference side fits executor memory): collect
  + L2 normalize the reference matrix once, broadcast it; each executor
  partition multiplies its query block against it — embarrassingly
  parallel O(n·m·d/p) with BLAS constants, one small query shuffle.
- **blocked** (beyond broadcast): NO driver-side collect anywhere.  A
  QB×RB grid of cogroup cells: queries hash into QB blocks (replicated
  across RB), references into RB blocks (replicated across QB) — the
  blocked cross join, the irreducible cost of exact KNN beyond
  broadcast.  Each ``cogroup().applyInPandas`` cell multiplies one
  query block against one reference block (task memory |Q|/QB +
  |R|/RB — neither side is ever whole in a task), and a final
  ``row_number`` window reduces RB·k partial candidates per query to
  the global top-k.  All shuffles are keyed ((qb, rb), then q_vec_id).
- "auto" picks broadcast below ``BROADCAST_MAX_ROWS`` reference rows
  (a metadata-only parquet count), blocked above.
- The ANN tier (``ann_ivf``) cuts candidate generation to n_probe
  clusters — IVF-style coarse quantization with deterministic seeding;
  centroids are trained from executor-side aggregates (never a
  full-table collect); recall is property-tested vs the exact path.

Determinism contract: similarities are rounded to 6 dp and ordered by
(rounded sim DESC, neighbor id ASC), which both numpy and DuckDB agree
on bit-for-bit (cross-engine fp drift ~1e-15 can't straddle a 5e-7
boundary in practice).  The blocked path is bit-identical to the
broadcast path by construction: per-block partials are disjoint and the
global window re-ranks with the same key.  The driver tier runs the
fan-out's own kernels on the same normalized rows.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, parquet_rowcount
from ..functions.vectors import finite_vec


def _load_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load embeddings under the finite-vector convention (see
    functions/vectors.py): NaN/Inf-bearing vectors do not participate in
    any similarity kernel, matching the oracles' identical predicate.

    The JVM-side HOF filter here is for paths whose downstream work runs
    JVM-side (ann_ivf's Lloyd aggregate / assignment UDFs).  The numpy
    fast paths load RAW via :func:`_raw_vecs` and drop invalid rows
    inside the Arrow kernel (:func:`_finite_rows`) instead: a per-load
    HOF re-scan (4 predicates x d elements x n rows, three times per
    broadcast-KNN plan) cost the vector family ~35 % at bench sf0.1,
    while `np.isfinite(mat).all(axis=1)` is free next to the matmul."""
    return (
        load(spark, sf_dir, "embeddings")
        .filter(finite_vec("embedding"))
        .select("vec_id", "embedding")
    )


def _raw_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unfiltered (vec_id, embedding) load for the numpy kernels, which
    enforce the finite-vector convention row-wise via :func:`_finite_rows`."""
    return load(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _finite_index(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(positions int[n], float64[n,d]) of the FINITE rows of an
    embeddings pandas batch — the numpy twin of ``finite_vec``.

    Arrow renders a NULL vector as None and a NULL float component as
    NaN (verified: pa.list_(float32).to_pandas), so the None guard plus
    ``np.isfinite`` reproduces the JVM/oracle predicate exactly.  The
    positions index ``pdf``'s rows, so any other column lines up with
    the matrix; the matrix is NOT normalized (callers decide)."""
    emb = pdf["embedding"].to_numpy()
    present = np.nonzero([e is not None for e in emb])[0]
    if len(present) == 0:
        return present, np.zeros((0, 1))
    # object→float64 astype maps a stray None to NaN on the non-Arrow
    # (plain toPandas) path too, so both entrances land on the same check
    mat = np.vstack(emb[present]).astype(np.float64, copy=False)
    keep = np.isfinite(mat).all(axis=1)
    return present[keep], mat[keep]


def _finite_rows(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(vec_ids int64[n], float64[n,d]) of the FINITE rows of an
    embeddings pandas batch (see :func:`_finite_index`)."""
    pos, mat = _finite_index(pdf)
    return pdf["vec_id"].to_numpy()[pos].astype(np.int64), mat

SIM_DECIMALS = 6

# "auto" switches to the blocked strategy above this many reference rows
# (~64-dim float64 ≈ 512 B/row → 500k rows ≈ 256 MB, a sane broadcast cap).
BROADCAST_MAX_ROWS = 500_000


def _normalized(mat: np.ndarray) -> np.ndarray:
    m = mat.astype(np.float64, copy=False)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


def embedding_matrix(
    spark: SparkSession, sf_dir: str, query_filter: str | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vec_ids int64[n], L2-normalized float64[n,d], is_query bool[n])
    — the driver-side matrix of the driver and fan-out tiers only; the
    blocked strategy never calls this (no full-table driver collect at
    scale).  Finiteness is enforced numpy-side (one pass, free next to
    the matmul) instead of a JVM HOF re-scan of the parquet.

    ``is_query`` marks, row-aligned, the rows ``query_filter`` keeps
    (every row without one); it rides in the same collect, so the
    driver tier reads the table once."""
    keep = F.expr(query_filter) if query_filter else F.lit(True)
    pdf = (
        _raw_vecs(spark, sf_dir)
        .withColumn("is_query", F.coalesce(keep, F.lit(False)))
        .toPandas()
    )
    pos, mat = _finite_index(pdf)
    ids = pdf["vec_id"].to_numpy()[pos].astype(np.int64)
    is_query = pdf["is_query"].to_numpy(bool)[pos]
    return ids, _normalized(mat), is_query  # 0×1 when empty: callers stay 2-D


# Extra top-candidates kept per row beyond k so boundary ties almost never
# force the per-row exact fallback (ties come from the 6-dp rounding; a tie
# group wider than this margin is pathological and handled exactly anyway).
_TIE_MARGIN = 64
# Per-task budget for one sims sub-matrix (float64 cells).  The sub-block
# row count adapts to the reference width: every executor core runs a task
# concurrently, so a FIXED row count (the first cut used 1024 → 1.6 GB per
# sub-matrix at a 200k reference) multiplies into executor-memory pressure
# exactly when the reference is large.  ~8M cells = 64 MB per in-flight
# sub-matrix: selection temporaries (argpartition's index matrix, the
# boolean self-mask) are matrix-shaped too, so the real transient is
# ~3x the sims matrix per task — at 32 concurrent tasks a 256 MB
# sub-matrix thrashed the allocator and memory bandwidth (measured:
# the 200k x 200k stage ran ~5x slower than the single-thread
# per-sub-block cost predicts); 64 MB keeps the whole working set
# cache-friendly and the executor under ~6 GB.
# It also gates the driver tier: a problem whose whole n×n sims matrix
# fits one sub-block (n ≤ 2 828) runs on the driver (_pick_strategy).
_TOPK_CELL_BUDGET = 8_000_000


def _sub_block_rows(n_ref: int) -> int:
    return max(64, _TOPK_CELL_BUDGET // max(1, n_ref))


def _topk_block(
    chunk_ids: np.ndarray,
    chunk_mat: np.ndarray,
    all_ids: np.ndarray,
    all_mat_t: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized per-row top-k by (round(sim,6) DESC, id ASC), self-excluded.

    One argpartition keeps the top (k + _TIE_MARGIN) sims per row; one
    global lexsort orders every kept candidate by (row, -sim, id).  A row
    falls back to an exact full-row sort only when its k-th similarity
    still ties the margin boundary (so the tie group could extend past
    the kept set).  Vectorized because a per-row Python loop costs
    ~10 ms/row, 504x super-linear at the 10x replica."""
    m, n = len(chunk_ids), len(all_ids)
    empty = (
        np.empty(0, np.int64), np.empty(0, np.int64),
        np.empty(0, np.float64), np.empty(0, np.int64),
    )
    if m == 0 or n == 0:
        return empty
    # all_mat_t is the PRE-TRANSPOSED C-contiguous (d, n) reference: dgemm
    # against a strided .T view of a wide matrix ran at ~2 GFLOP/s at
    # n=200k (TLB-hostile column stride) vs ~30 GFLOP/s contiguous.
    # Round IN PLACE — the matmul result is already this block's private
    # buffer, and a second matrix-sized temp per block doubles the
    # allocator churn that dominates at high task concurrency.
    sims = chunk_mat @ all_mat_t
    np.round(sims, SIM_DECIMALS, out=sims)
    sims[np.equal.outer(chunk_ids, all_ids)] = -np.inf  # self-exclusion
    kk = min(k, n)
    margin = min(n, k + _TIE_MARGIN)
    if margin < n:
        part = np.argpartition(sims, n - margin, axis=1)[:, n - margin:]
        vals = np.take_along_axis(sims, part, axis=1)
        ids = all_ids[part]
    else:
        vals = sims
        ids = np.broadcast_to(all_ids, (m, n))
    rows = np.repeat(np.arange(m), vals.shape[1])
    order = np.lexsort((ids.ravel(), -vals.ravel(), rows))
    vals_sorted = vals.ravel()[order].reshape(m, -1)
    ids_sorted = ids.ravel()[order].reshape(m, -1)
    top_v = vals_sorted[:, :kk].copy()
    top_i = ids_sorted[:, :kk].copy()
    if margin < n:
        # a candidate OUTSIDE the margin can only matter if it ties the
        # k-th similarity — possible only when the margin's worst kept
        # value equals that boundary value.  The fallback must NOT be a
        # full-row lexsort (n log n per row — at the 100x replica every
        # row is unsafe because 99 exact copies tie at sim 1.0, and 200k
        # full sorts took ~100 ms/row): partition to the k-th boundary,
        # keep the tied superset, lexsort only that.
        unsafe = vals_sorted[:, -1] == vals_sorted[:, kk - 1]
        for i in np.nonzero(unsafe)[0]:
            row = sims[i]
            kth = np.partition(row, n - kk)[n - kk]
            sel = np.nonzero(row >= kth)[0]  # boundary ties included
            order = sel[np.lexsort((all_ids[sel], -row[sel]))][:kk]
            top_v[i] = row[order]
            top_i[i] = all_ids[order]
    valid = (top_v != -np.inf).ravel()
    return (
        np.repeat(chunk_ids.astype(np.int64), kk)[valid],
        top_i.ravel()[valid].astype(np.int64),
        top_v.ravel()[valid],
        np.tile(np.arange(1, kk + 1, dtype=np.int64), m)[valid],
    )


def _chunk_topk(
    chunk_ids: np.ndarray,
    chunk_mat: np.ndarray,
    all_ids: np.ndarray,
    all_mat: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(query_id, neighbor_id, sim, rank) arrays for a query chunk —
    sub-blocked so peak memory stays ~_TOPK_CELL_BUDGET sims cells."""
    all_mat_t = np.ascontiguousarray(all_mat.T)  # one (d, n) copy per chunk
    step = _sub_block_rows(len(all_ids))
    outs = [
        _topk_block(
            chunk_ids[s : s + step],
            chunk_mat[s : s + step],
            all_ids, all_mat_t, k,
        )
        for s in range(0, len(chunk_ids), step)
    ]
    if not outs:
        return _topk_block(chunk_ids, chunk_mat, all_ids, all_mat_t, k)
    return tuple(np.concatenate(cols) for cols in zip(*outs))  # type: ignore[return-value]


def _pick_strategy(strategy: str, sf_dir: str) -> str:
    """The tier for ``strategy`` ("auto", "broadcast" or "blocked"):
    "driver", "broadcast" (the fan-out) or "blocked".  The RAW footer
    count is a conservative stand-in for the post-finiteness count
    (raw >= finite), so neither gate takes a tier the finite count would
    have rejected.  The budget is read here, when the query is built."""
    if strategy not in ("auto", "broadcast", "blocked"):
        raise ValueError(f"unknown similarity strategy {strategy!r}")
    if strategy == "blocked":
        return strategy
    n = parquet_rowcount(sf_dir, "embeddings")
    if strategy == "auto" and n > BROADCAST_MAX_ROWS:
        return "blocked"
    return "driver" if n * n <= _TOPK_CELL_BUDGET else "broadcast"


# Below this many query rows per task the python-worker round trip costs
# more than the kernel; the fan-out caps partitions so small inputs don't
# pay 32 Arrow round-trips for sub-millisecond matmuls.
_FAN_OUT_MIN_ROWS = 256


def _fan_out(queries: DataFrame, est_rows: int | None = None) -> DataFrame:
    """Spread the query side across cores before a broadcast kernel.

    The kernel is embarrassingly parallel in query rows, but a small
    parquet input arrives in 1-2 partitions, so 20k queries x 20k refs
    ran on 2 of 32 cores (83 s wall where ~6 s is available).  One tiny
    shuffle of the query rows only — the reference matrix travels by
    broadcast; per-row results are independent of the chunking, so
    values are unchanged.  ``est_rows`` (an UPPER bound —
    callers pass the unfiltered footer count) sizes the fan-out:
    ceil(est/_FAN_OUT_MIN_ROWS) partitions, capped at defaultParallelism,
    so bench-scale inputs stop paying a 32-task floor while any input
    big enough to matter still spans every core."""
    sc = queries.sparkSession.sparkContext
    parts = sc.defaultParallelism
    if est_rows is not None:
        parts = max(1, min(parts, -(-est_rows // _FAN_OUT_MIN_ROWS)))
    return queries.repartition(parts)


def _knn_columns(
    cids: np.ndarray, cmat: np.ndarray, all_ids: np.ndarray, all_mat: np.ndarray, k: int
) -> dict[str, np.ndarray]:
    q, nb, sim, rank = _chunk_topk(cids, cmat, all_ids, all_mat, k)
    return {"q_vec_id": q, "neighbor_id": nb, "sim": sim, "rank": rank.astype(np.int32)}


def _broadcast(
    spark: SparkSession,
    sf_dir: str,
    tier: str,
    columns: Callable[..., dict],
    schema: str,
    query_filter: str | None = None,
) -> DataFrame:
    """The broadcast strategy's two tiers around one column kernel,
    ``columns(query_ids, query_mat, all_ids, all_mat) -> {name: array}``
    over L2-normalized finite rows.

    ``tier == "driver"``: one collect, the kernel on the driver, the
    columns back as a local Arrow relation.  Otherwise the fan-out: the
    matrix travels by broadcast and each ``mapInPandas`` task runs the
    kernel on its query rows."""
    if tier == "driver":
        ids, mat, is_query = embedding_matrix(spark, sf_dir, query_filter)
        cols = columns(ids[is_query], mat[is_query], ids, mat)
        return spark.createDataFrame(pa.table(cols), schema)
    ids, mat, _ = embedding_matrix(spark, sf_dir)
    bc = spark.sparkContext.broadcast((ids, mat))
    queries = _raw_vecs(spark, sf_dir)
    if query_filter:
        queries = queries.filter(query_filter)
    queries = _fan_out(
        queries, est_rows=parquet_rowcount(sf_dir, "embeddings")
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        for pdf in batches:
            cids, cmat = _finite_rows(pdf)
            if len(cids) == 0:
                continue
            yield pd.DataFrame(columns(cids, _normalized(cmat), all_ids, all_mat))

    return queries.mapInPandas(compute, schema)


def _pair_topk_pdf(q_pdf: pd.DataFrame, r_pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """Shared cogroup kernel: per-query top-k of q_pdf against r_pdf.
    Finiteness enforced numpy-side on BOTH sides (see _finite_rows)."""
    cols = ["q_vec_id", "neighbor_id", "sim"]
    qids, qmat = _finite_rows(q_pdf) if not q_pdf.empty else (np.empty(0, np.int64), np.zeros((0, 1)))
    rids, rmat = _finite_rows(r_pdf) if not r_pdf.empty else (np.empty(0, np.int64), np.zeros((0, 1)))
    if len(qids) == 0 or len(rids) == 0:
        return pd.DataFrame(columns=cols).astype(
            {"q_vec_id": "int64", "neighbor_id": "int64", "sim": "float64"}
        )
    q, nb, sim, _ = _chunk_topk(qids, _normalized(qmat), rids, _normalized(rmat), k)
    return pd.DataFrame({"q_vec_id": q, "neighbor_id": nb, "sim": sim})


def _global_topk(partial: DataFrame, k: int) -> DataFrame:
    """Reduce disjoint per-block top-k partials to the global top-k with
    the deterministic (sim DESC, neighbor ASC) key."""
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "neighbor_id", "sim", "rank")
    )


# Blocks per side of the blocked tier's grid: _GRID_BLOCKS² cogroup cells.
_GRID_BLOCKS = 8


def _grid_cogroup(
    spark: SparkSession,
    queries: DataFrame,
    ref: DataFrame,
    kernel,
    out_schema: str,
) -> DataFrame:
    """Blocked cross join as a QB×RB grid of cogroup cells
    (QB = RB = ``_GRID_BLOCKS``).

    BOTH sides are blocked: queries hash into QB blocks (replicated
    across the RB reference blocks), references into RB blocks
    (replicated across QB) — so one task holds |Q|/QB + |R|/RB rows,
    never a full side.  Replication cost is the classic grid bound
    (RB·|Q| + QB·|R| rows shuffled once, keyed).
    """
    r_rep = ref.withColumn(
        "rb", F.pmod(F.hash("vec_id"), F.lit(_GRID_BLOCKS)).cast("int")
    ).crossJoin(
        spark.range(_GRID_BLOCKS).select(F.col("id").cast("int").alias("qb"))
    )
    q_rep = queries.withColumn(
        "qb", F.pmod(F.hash("vec_id"), F.lit(_GRID_BLOCKS)).cast("int")
    ).crossJoin(spark.range(_GRID_BLOCKS).select(F.col("id").cast("int").alias("rb")))
    return (
        q_rep.groupby("qb", "rb")
        .cogroup(r_rep.groupby("qb", "rb"))
        .applyInPandas(kernel, out_schema)
    )


def _knn_blocked(
    spark: SparkSession, sf_dir: str, queries: DataFrame, k: int
) -> DataFrame:
    """Exact KNN without any driver-side collect: grid-blocked cogroup
    matmul top-k, then a global window re-rank."""
    ref = _raw_vecs(spark, sf_dir)

    def per_cell(q_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        return _pair_topk_pdf(q_pdf, r_pdf, k)

    partial = _grid_cogroup(
        spark,
        queries,
        ref,
        per_cell,
        "q_vec_id bigint, neighbor_id bigint, sim double",
    )
    # disjoint reference blocks → partials never overlap; RB·k rows per
    # query reduce to the global top-k with the same deterministic key
    return _global_topk(partial, k)


def knn_join(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    query_filter: str | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """K nearest neighbors for each (optionally filtered) query vector.
    Non-finite/NULL vectors drop inside the Arrow kernels (query AND
    reference side), so results match the HOF-filtered plan exactly."""
    tier = _pick_strategy(strategy, sf_dir)
    if tier != "blocked":
        return _broadcast(
            spark, sf_dir, tier, functools.partial(_knn_columns, k=k),
            "q_vec_id bigint, neighbor_id bigint, sim double, rank int",
            query_filter,
        )
    queries = _raw_vecs(spark, sf_dir)
    if query_filter:
        queries = queries.filter(query_filter)
    return _knn_blocked(spark, sf_dir, queries, k)


def topk_pairs(
    spark: SparkSession, sf_dir: str, k: int = 10, strategy: str = "auto"
) -> DataFrame:
    """Global top-k most-similar distinct pairs (a < b) by cosine.

    Per-row top-k is sufficient: if pair (a,b) is in the global top-k,
    at most k-1 pairs beat it, so b is within a's per-row top-k.

    The same argument holds SYMMETRICALLY — the pairs beating (a,b)
    inside a's per-row list are exactly the globally-better pairs that
    contain a (the per-row key (sim DESC, neighbor ASC) agrees with the
    global key (sim DESC, a, b) on pairs sharing a member), so a
    global-top-k pair always appears in BOTH members' lists.  Keeping
    only the copy emitted by the smaller id (q < neighbor) therefore
    retains a superset of the global top-k with zero duplicates, and
    the final TakeOrdered under the same total order returns identical
    rows.  A least/greatest + dropDuplicates would instead force an
    extra Exchange + HashAggregate stage (its first()-aggregate) between
    the kernel and the top-k: 2 Exchanges where the broadcast path needs
    1."""
    per_row = knn_join(spark, sf_dir, k=k, strategy=strategy)
    pairs = per_row.filter(F.col("q_vec_id") < F.col("neighbor_id")).select(
        F.col("q_vec_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.col("sim"),
    )
    return pairs.orderBy(F.desc("sim"), "a", "b").limit(k)


def _dup_of_block(
    cids: np.ndarray, cmat: np.ndarray, rids: np.ndarray, rmat: np.ndarray, tau: float
) -> list[int | None]:
    """Per query: lowest reference id with id < query id and sim ≥ tau.
    Vectorized (sub-blocked) — min over a masked id matrix, no per-row loop."""
    out: list[int | None] = []
    # masked min stays in int64 space: a float64 detour would round ids
    # at or above 2^53 to a wrong dup_of
    sentinel = np.iinfo(np.int64).max
    rmat_t = np.ascontiguousarray(rmat.T)  # contiguous dgemm operand
    step = _sub_block_rows(len(rids))
    for s in range(0, len(cids), step):
        cseg = cids[s : s + step]
        sims = cmat[s : s + step] @ rmat_t
        np.round(sims, SIM_DECIMALS, out=sims)  # in place: halve the churn
        mask = (rids[None, :] < cseg[:, None]) & (sims >= tau)
        best = np.where(mask, rids[None, :], sentinel).min(axis=1)
        out.extend(int(v) if v != sentinel else None for v in best)
    return out


def _dedup_columns(
    cids: np.ndarray, cmat: np.ndarray, all_ids: np.ndarray, all_mat: np.ndarray, tau: float
) -> dict:
    dup_of = _dup_of_block(cids, cmat, all_ids, all_mat, tau)
    return {
        "vec_id": cids,
        "dup_of": pd.array(dup_of, dtype="Int64"),
        "is_keeper": np.array([d is None for d in dup_of], dtype=bool),
    }


def dedup_embedding(
    spark: SparkSession,
    sf_dir: str,
    tau: float = 0.8,
    strategy: str = "auto",
) -> DataFrame:
    """Embedding-cosine near-dup dedup: each vector is a duplicate of the
    LOWEST-id vector whose cosine similarity (rounded to 6 dp) ≥ tau;
    vectors with no earlier near-neighbor are keepers.  The driver and
    fan-out tiers run one kernel for small references; the blocked
    strategy computes a per-block min-dup-id partial and reduces with a
    keyed min — associative, so bit-identical to the broadcast answer."""
    tier = _pick_strategy(strategy, sf_dir)
    if tier != "blocked":
        return _broadcast(
            spark, sf_dir, tier, functools.partial(_dedup_columns, tau=tau),
            "vec_id bigint, dup_of bigint, is_keeper boolean",
        )

    vecs = _raw_vecs(spark, sf_dir)
    # fresh load → distinct lineage, avoids self-join ambiguity in cogroup
    ref = _raw_vecs(spark, sf_dir)

    def per_cell(q_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        cids, cmat = _finite_rows(q_pdf) if not q_pdf.empty else (
            np.empty(0, np.int64), np.zeros((0, 1)))
        if len(cids) == 0:
            return pd.DataFrame(
                {"vec_id": pd.array([], dtype="int64"),
                 "dup_of": pd.array([], dtype="Int64")}
            )
        rids, rmat = _finite_rows(r_pdf) if not r_pdf.empty else (
            np.empty(0, np.int64), np.zeros((0, 1)))
        if len(rids) == 0:
            dup_of: list[int | None] = [None] * len(cids)
        else:
            dup_of = _dup_of_block(
                cids, _normalized(cmat), rids, _normalized(rmat), tau
            )
        return pd.DataFrame(
            {"vec_id": cids, "dup_of": pd.array(dup_of, dtype="Int64")}
        )

    partial = _grid_cogroup(
        spark, vecs, ref, per_cell, "vec_id bigint, dup_of bigint"
    )
    # every query appears once per reference block (possibly with NULL
    # dup_of), so min() over blocks preserves "no earlier near-neighbor
    # ⇒ keeper"
    return partial.groupBy("vec_id").agg(
        F.min("dup_of").alias("dup_of"),
        F.min("dup_of").isNull().alias("is_keeper"),
    )


def _assign_udf(spark: SparkSession, cents: np.ndarray):
    """Scalar pandas UDF: nearest-centroid id for each embedding."""
    bc = spark.sparkContext.broadcast(cents)

    @F.pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        m = _normalized(np.vstack(emb.to_numpy()))
        return pd.Series(np.argmax(m @ bc.value.T, axis=1).astype(np.int32))

    return assign


def ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 3,
    query_filter: str | None = None,
) -> DataFrame:
    """IVF-style approximate KNN: deterministic coarse centroids (the
    n_centroids lowest vec_ids, one Lloyd refinement), probe the n_probe
    nearest inverted lists, exact rerank within them.

    Training never collects the table: the driver sees only (a) the
    n_centroids seed rows (bounded limit-k collect) and (b) the
    n_centroids × d per-(cluster, position) means — an executor-side
    aggregate whose size is independent of the table.  Assignment,
    probing, and rerank all run executor-side; the rerank pairs each
    inverted list with the queries probing it via cogroup, so candidate
    work drops by ~n_centroids/n_probe vs brute force and the inverted
    index is the (cluster-keyed) shuffle itself.
    """
    from ..functions import vectors as V

    vecs = _load_vecs(spark, sf_dir)

    # (a) deterministic seeds: the n_centroids lowest vec_ids
    seed_rows = vecs.orderBy("vec_id").limit(n_centroids).collect()
    if not seed_rows:  # empty table: no centroids, no neighbors
        return spark.createDataFrame(
            [], "q_vec_id bigint, neighbor_id bigint, sim double, rank int"
        )
    cents0 = _normalized(
        np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in seed_rows])
    )

    # (b) one Lloyd iteration: per-(cluster, pos) mean of the normalized
    # vectors, computed as a keyed JVM-side aggregate.  The norm is
    # materialized once per row (O(d)) before the per-element divide —
    # inlining l2_norm inside the transform lambda would re-evaluate the
    # O(d) aggregate per element, an O(d²) row cost.
    # zero-norm divisor pinned to 1.0, mirroring _normalized: the zero
    # vector stays all-zeros (contributes nothing to the mean) instead
    # of throwing under Spark's ANSI x/0 semantics
    assigned0 = (
        vecs.withColumn("cluster", _assign_udf(spark, cents0)("embedding"))
        .withColumn("nrm", V.l2_norm(V.as_double(F.col("embedding"))))
        .withColumn(
            "nrm",
            F.when(F.col("nrm") == 0.0, F.lit(1.0)).otherwise(F.col("nrm")),
        )
    )
    norm_vec = F.transform(
        V.as_double(F.col("embedding")), lambda x: x / F.col("nrm")
    )
    means = (
        assigned0.select("cluster", F.posexplode(norm_vec).alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg(F.avg("v").alias("c"))
        .collect()
    )
    cents1 = cents0.copy()  # empty clusters keep their seed
    for r in means:
        cents1[r["cluster"], r["pos"]] = r["c"]
    cents1 = _normalized(cents1)

    # final inverted index: one cluster per vector, executor-side
    inverted = vecs.withColumn("cluster", _assign_udf(spark, cents1)("embedding"))

    queries = _load_vecs(spark, sf_dir)
    if query_filter:
        queries = queries.filter(query_filter)

    bc_c = spark.sparkContext.broadcast(cents1)

    @F.pandas_udf("array<int>")
    def probes(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        m = _normalized(np.vstack(emb.to_numpy()))
        order = np.argsort(-(m @ bc_c.value.T), axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32) for row in order])

    probed = queries.withColumn("cluster", F.explode(probes("embedding")))

    def per_cluster(q_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        return _pair_topk_pdf(q_pdf, r_pdf, k)

    partial = (
        probed.groupby("cluster")
        .cogroup(inverted.groupby("cluster"))
        .applyInPandas(per_cluster, "q_vec_id bigint, neighbor_id bigint, sim double")
    )
    # inverted lists are disjoint → partials never overlap a neighbor
    return _global_topk(partial, k)
