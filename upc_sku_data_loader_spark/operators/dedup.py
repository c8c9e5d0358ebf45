"""Near-duplicate detection: MinHash + LSH banding, SimHash (SURVEY §2
K2/K14 [X]; cf. Broder's resemblance/minwise papers — public knowledge).

Pipeline (all DataFrame ops; the shuffle IS the LSH bucketing), one
function per stage, every stage reading one persisted
:func:`shingle_base` scan:
  :func:`minhash_signatures` (n_hashes seeded xxhash64 minima over the
  pre-hashed shingles) → :func:`lsh_candidate_pairs` (band keys, one
  groupBy per bucket) ∪ :func:`prefix_candidates` (PPJoin prefix
  filter, for exact recall) → :func:`verify_jaccard` (exact shingle-set
  Jaccard).  :func:`verified_near_dup_pairs` chains them.

Scale notes:
- No crossJoin ever materializes: candidates come from keyed shuffles
  (band bucket, shingle hash) and are verified by keyed joins.
- Band-key skew (a degenerate bucket with B docs → B² candidate pairs)
  is the real 100 TB risk: ``lsh_candidate_pairs(max_bucket_size=...)``
  drops degenerate buckets before pair emission (off by default); AQE
  skew-split handles moderate cases below the cap.
- xxhash64 is Spark-JVM-specific → the LSH stage is rows-only for the
  oracle; the *verify* stage (exact Jaccard) and the recall property
  (vs exact all-pairs) are tested in pytest instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import Held


def shingle_base(
    docs: DataFrame,
    held: Held,
    *,
    shingle_k: int = 3,
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """ONE persisted scan+tokenize pass over ``docs``' ``doc_id`` and
    ``text`` columns, feeding every dedup stage: ``(doc_id, sh_set,
    hs[, extra...])`` where ``sh_set`` is the distinct shingle array and
    ``hs = transform(sh_set, xxhash64)`` its per-element 8-byte
    pre-hash.

    The shingle pass is the dominant map, so one cached pass beats one
    per stage as long as re-execution costs more than materialization
    (guide §2.4/§5; A/B numbers in OPTIMIZATION_r11.md).  The
    InMemoryRelation is also the barrier that keeps ``hs`` evaluated
    once (see :func:`minhash_signatures`).

    NULL-text docs are filtered ONCE here, so they join no candidate
    pairs and carry no signature (--nulls sweep): without the filter,
    ``shingles(split(NULL))`` collapses to ``[""]`` (concat_ws skips
    NULL inputs), giving a contentless doc a REAL signature that
    collides with every empty doc.  ``extra`` lets a caller ride
    additional per-doc columns on the same scan (k73's md5 exact-dup
    key) instead of paying another pass.

    Scale: this caches a corpus-sized relation (MEMORY_AND_DISK — the
    DataFrame.persist default), trading one uncompressed write+3 local
    reads against 3 remote parquet scans + 3 tokenize passes.  At
    100 TB prefer re-reading the columnar source if executor-local disk
    is the bottleneck — drop the persist here and the pipeline is
    plan-identical, just recomputed (SCALING.md r11 note)."""
    docs = docs.filter(F.col("text").isNotNull())
    sh_set = shingles(F.split(F.col("text"), " "), shingle_k)
    cols = [F.col("doc_id"), sh_set.alias("sh_set")]
    for name, expr in (extra or {}).items():
        cols.append(expr.alias(name))
    return held.persist(
        docs.select(*cols).withColumn(
            "hs", F.transform("sh_set", lambda s: F.xxhash64(s))
        )
    )


def verified_near_dup_pairs(
    docs: DataFrame,
    held: Held,
    *,
    shingle_k: int = 3,
    threshold: float = 0.5,
    base: DataFrame | None = None,
) -> DataFrame:
    """The full k2-contract near-dup pair pipeline: (a, b, jaccard) for
    every doc pair with exact shingle Jaccard ≥ ``threshold``, a < b.

    Candidates are the union of 32-hash MinHash-LSH collisions (8 bands
    × 4 rows, no bucket cap) and the exact-recall prefix-filter pairs.
    The union is not distinct-ed: it is consumed once, by
    :func:`verify_jaccard`, which dedups pairs itself, so the union
    pays neither a distinct Exchange nor a materialization barrier.

    The :func:`shingle_base` relation all stages read goes into the
    caller's ``held`` (session.Held), so the query that returns the
    plan owns its lifetime; pass ``base=`` to share one base with
    caller-side branches (k73's exact-hash layer)."""
    if base is None:
        base = shingle_base(docs, held, shingle_k=shingle_k)
    cands = lsh_candidate_pairs(minhash_signatures(base)).unionByName(
        prefix_candidates(base, threshold)
    )
    return verify_jaccard(cands, base, threshold)


def shingles(toks: Column, k: int = 3) -> Column:
    """Distinct k-token shingles as space-joined strings.

    Built as a k-way shifted zip (k whole-array slices, one
    ``arrays_zip``, then a per-element concat of struct fields): slice
    i of the zip is the shingle starting at token i, and array_distinct
    keeps first occurrence.  A per-shingle ``slice`` inside the lambda
    would pay an O(k) array allocation+copy for every shingle (3.2x
    slower at sf0.1, and worse on long documents).  The DuckDB oracles
    use the same zip shape, so both engines run the linear form.  Short
    inputs (n < k) give one shingle joining all tokens (concat_ws over
    the whole array)."""
    n = F.size(toks)
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, n - k + 1).alias(f"t{i}") for i in range(k)]
    )
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                zipped,
                lambda s: F.concat_ws(" ", *[s[f"t{j}"] for j in range(k)]),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signatures(base: DataFrame, n_hashes: int = 32) -> DataFrame:
    """One row per :func:`shingle_base` doc: ``mh`` = array<long> of
    n_hashes min-hash values.

    Each minimum is a plain ``array_min(transform(hs, h -> xxhash64(i,
    h)))`` over the base's pre-hashed ``hs``: per shingle, one string
    hash (paid once, in the base) + n_hashes fixed-8-byte long hashes
    instead of n_hashes string hashes.  ``hs`` must reach this
    projection already evaluated: with the pre-hash inlined into the
    n_hashes minima the optimizer duplicates the transform and the
    string-hash pass runs n_hashes times (11.6 s against 1.09 s at
    sf0.1; OPTIMIZATION_r10.md also lists the rejected explode/groupBy
    and ``aggregate``-fold shapes).  The base's InMemoryRelation is that
    barrier.

    The per-seed lambdas are single-parameter closures built in a
    helper — the tempting ``lambda h, i=i:`` two-parameter form
    silently binds i to transform's ELEMENT INDEX argument, seeding
    every hash identically (test_minhash_lsh_finds_near_duplicates
    catches it).

    Hash-family note: the signature values xxhash64(seed,
    xxhash64(shingle)) are engine-internal: they exist only to generate
    LSH candidates, recall is guaranteed by the deterministic
    prefix-filter union, and every emitted pair is exact-string-verified,
    so the k2 family's oracle-checked output is invariant to the hash
    family (a 64-bit collision merges two shingles for CANDIDATE
    purposes only — the same collision class prefix_candidates already
    accepts)."""

    def _seed_min(hs: Column, i: int) -> Column:
        # single-param lambda: i is captured by the enclosing call
        return F.array_min(F.transform(hs, lambda h: F.xxhash64(F.lit(i), h)))

    return base.select(
        "doc_id",
        F.array(*[_seed_min(F.col("hs"), i) for i in range(n_hashes)]).alias(
            "mh"
        ),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (a, b) candidate pairs colliding in ≥1 LSH band.

    ``max_bucket_size`` is the band-skew guard: a degenerate bucket with
    B docs yields B² candidate pairs, which is the one quadratic blowup
    in this pipeline.  Buckets larger than the cap are dropped before
    pair emission (a bucket that large means boilerplate/empty shingles,
    not near-duplicates; a missed pair costs recall in one band only —
    the other n_bands-1 bands still catch genuine pairs).  The default
    is ``None`` (no cap) so the contract-checked exact-recall behavior
    is what callers get unless they opt in to the scale knob — at
    100 TB, pass an explicit cap (~10k) to bound the worst bucket.

    Shape: ONE shuffle — groupBy (band, key) → sorted doc-id list →
    emit the i<j pairs of each list.  A self-join on (band, key) would
    pay that Exchange on both join inputs plus the join itself; here
    the cap is a ``size(lst)`` filter on the already-grouped row.
    array_sort fixes collect_list's nondeterministic order so i<j ⇔
    a<b, and a doc appears at most once per bucket (one key per band
    per doc), so in-bucket pairs are unique; the trailing distinct
    merges pairs that collide in several bands."""
    bands = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.lit(b),
                            *[
                                F.element_at("mh", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    buckets = bands.groupBy("band", "key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    # all i<j pairs of the sorted bucket: posexplode to one row per
    # (position, id) FIRST, then pair each id with the tail slice after
    # its position.  Building the whole flattened pair array in ONE row
    # would put O(B²) structs for a degenerate B-doc bucket in a single
    # task row (with max_bucket_size=None, a single-executor OOM at
    # scale); here per-row memory is O(B) (the carried ids array + its
    # tail slice).  pos is 0-based, so the tail after position pos
    # starts at 1-based index pos+2.
    exploded = buckets.filter(F.size("ids") >= 2).select(
        F.col("ids"), F.posexplode("ids").alias("pos", "a")
    )
    return (
        exploded.select(
            "a",
            F.explode(
                F.slice(F.col("ids"), F.col("pos") + 2, F.size("ids"))
            ).alias("b"),
        )
        .distinct()
    )


def prefix_candidates(base: DataFrame, threshold: float = 0.5) -> DataFrame:
    """DETERMINISTIC candidate pairs (a, b), a < b, via the prefix filter
    (PPJoin family, Xiao et al. 2008 — public): under any shared total
    order of shingles, two sets with Jaccard >= t must share at least
    one element of each other's (|X| - ceil(t*|X|) + 1)-element prefix.

    This is the exact-recall complement to :func:`lsh_candidate_pairs`
    (fuzz sweep, seed 23): MinHash banding is PROBABILISTIC — a pair
    sitting exactly AT the threshold collides in no band with real
    probability, so a pipeline whose contract is "every pair >= t" must
    union these candidates in.  Order = (global shingle frequency ASC,
    shingle hash) — rarest-first, which also makes the candidate join
    touch the SMALLEST posting lists.

    The (doc_id, h) rows explode the :func:`shingle_base` pre-hash
    array ``hs``; they are distinct by construction (``sh_set`` is
    array_distinct per doc), so no dedup Exchange precedes the windows.
    Every relation past the explode moves 8-byte hashes rather than
    ~25-char shingle strings, so the df window, both per-doc windows
    and the candidate self-join shuffle narrow rows (guide §2.3).  The
    hash is engine-internal — candidates go to the exact string-array
    verify, so the 64-bit collision class (same one k18/k14b already
    accept) can only add a false candidate, never lose a true pair:
    merging colliding shingles makes the hashed Jaccard an UPPER bound
    on the true Jaccard, and the prefix theorem keeps exact recall
    under any consistent total order.

    A pair sharing several prefix hashes is emitted once per shared
    hash: the output is NOT distinct.  :func:`verify_jaccard` dedups
    its candidates, so no Exchange is spent on it here."""
    sh = base.select("doc_id", F.explode("hs").alias("h"))
    w_freq = Window.partitionBy("h")
    w_doc = Window.partitionBy("doc_id").orderBy("df", "h")
    w_size = Window.partitionBy("doc_id")
    ranked = (
        sh.withColumn("df", F.count(F.lit(1)).over(w_freq))
        .withColumn("rk", F.row_number().over(w_doc))
        .withColumn("s", F.count(F.lit(1)).over(w_size))
    )
    prefix = ranked.filter(
        F.col("rk") <= F.col("s") - F.ceil(F.lit(threshold) * F.col("s")) + 1
    ).select("doc_id", "h", "s", "rk")
    a = prefix.select(
        F.col("doc_id").alias("a"), "h",
        F.col("s").alias("sa"), F.col("rk").alias("ra"),
    )
    b = prefix.select(
        F.col("doc_id").alias("b"),
        F.col("h").alias("hb"),
        F.col("s").alias("sb"),
        F.col("rk").alias("rb"),
    )
    # Required overlap for J >= t: |A∩B| >= ceil(t/(1+t)·(|A|+|B|)).
    # The 1e-9 backoff makes the fp product a LOWER bound on the exact
    # rational, so the filter can only be weaker than the true bound —
    # false positives go to verify, false negatives are impossible.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("sa") + F.col("sb"))
        - F.lit(1e-9)
    )
    # length filter INSIDE the join (PPJoin lemma): J(A,B) >= t forces
    # t*|A| <= |B| and t*|B| <= |A|, so size-mismatched posting-list
    # pairs never materialize — the standard prune that keeps the
    # shared-shingle join linear-ish in posting-list mass.
    # positional filter (PPJoin's second lemma, same as k18): a shared
    # prefix shingle at ranks (ra, rb) bounds the overlap by
    # min(ra,rb) + min(sa-ra, sb-rb) — elements strictly before the
    # witness contribute at most min(ra-1, rb-1), the witness itself 1,
    # elements after at most min(sa-ra, sb-rb).  The bound holds for
    # EVERY shared shingle, so a witness row whose bound misses alpha
    # is proof the pair fails and drops at generation; a true pair's
    # witnesses ALL satisfy it (bound >= true overlap >= alpha), so
    # recall is exact.  Without it the t=0.5 prefix join emitted 310k
    # candidate pairs at sf0.1 against 256 true pairs, each paying an
    # exact verify.
    return a.join(
        b,
        (F.col("h") == F.col("hb"))
        & (F.col("a") < F.col("b"))
        & (F.col("sb") >= F.ceil(F.lit(threshold) * F.col("sa")))
        & (F.col("sa") >= F.ceil(F.lit(threshold) * F.col("sb")))
        & (
            F.least(F.col("ra"), F.col("rb"))
            + F.least(F.col("sa") - F.col("ra"), F.col("sb") - F.col("rb"))
            >= alpha
        ),
    ).select("a", "b")


def verify_jaccard(
    candidates: DataFrame, base: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """(a, b, jaccard) for each distinct candidate pair whose exact
    shingle-set Jaccard over the :func:`shingle_base` arrays, rounded to
    6 dp, is ≥ ``threshold``.  ``candidates`` may repeat a pair.  A doc
    the base dropped (NULL text) joins nothing, so the inner joins keep
    the stage total.

    Kernel prefilter (guide §4.2 — the k18 CSR pattern made a shared
    helper): at sf0.1 the t=0.5 prefix join emits ~309k candidate pairs
    against 256 true ones, and dragging ~300-element string arrays
    through two joins + per-pair ``array_intersect`` set builds is the
    family's dominant stage (a JVM long-array prefilter measured FLAT,
    because per-pair set builds cost the same on longs).  The gated
    path broadcasts the pre-hashed shingle CSR (uint32 dense ids over
    ``hs``) and streams the 16-byte pairs sorted by ``a`` through
    :func:`_pair_intersect_counts`, which also drops repeated pairs; a
    pair survives when its HASH-overlap jaccard clears ``threshold -
    1e-6``.  The kernel count is an UPPER bound on the true string
    overlap (every common string hits ≥ 1 marked LUT slot; hash
    collisions and within-doc duplicate hashes only overcount), and the
    margin covers the final 6-dp rounding (a pair passing ``round(j, 6)
    >= t`` has raw j > t - 5e-7), so no true pair is pruned — the
    survivors (≈ the true pair count) then pay the exact STRING-array
    verify, keeping output values bit-identical to the unfiltered path.
    Above the CSR gate (:func:`_pair_intersect_counts` returns ``None``)
    the candidates are distinct-ed and the exact verify runs over all
    of them — the 100 TB path, where the CSR is corpus-sized."""
    stats = _pair_intersect_counts(
        base.sparkSession, candidates, base.select("doc_id", "hs")
    )
    if stats is not None:
        ih = F.col("inter").cast("double")
        jh = ih / ((F.col("sza") + F.col("szb")).cast("double") - ih)
        surv = stats.filter(jh >= F.lit(threshold - 1e-6)).select("a", "b")
    else:
        surv = candidates.distinct()
    sets = base.select("doc_id", "sh_set")
    a = sets.select(F.col("doc_id").alias("a"), F.col("sh_set").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("b"), F.col("sh_set").alias("sh_b"))
    joined = surv.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))).cast(
        "double"
    )
    return (
        joined.select("a", "b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


#: CSR-fit gate of :func:`_pair_intersect_counts`: the (doc_id, hs)
#: relation is collected and broadcast only when it has at most this
#: many rows AND its estimated driver footprint fits the byte ceiling.
#: Driver memory scales with the hash occurrences, not the row count, so
#: the byte bound is the one that binds on long documents.
_CSR_KERNEL_MAX_ROWS = 2_000_000
_CSR_KERNEL_MAX_BYTES = 512 * 2**20


def _pair_intersect_counts(
    spark, pairs: DataFrame, docs_hs: DataFrame
) -> DataFrame | None:
    """(a, b, inter, sza, szb) for each candidate pair, where ``inter``
    counts b-side hash elements marked by a's LUT row — the k18 CSR
    kernel as a shared helper: broadcast the corpus's pre-hashed
    shingle CSR, stream pairs sorted by ``a``, build each ``a`` row's
    boolean vocab LUT once and count every paired ``b`` row in one
    ragged gather + bincount (no per-row Python).  Repeated (a, b)
    pairs are emitted once — they arrive consecutive after the sort,
    carried across batch boundaries — so callers need no distinct
    Exchange on ``pairs``.

    Returns ``None`` when ``docs_hs`` does not fit the CSR gate
    (``_CSR_KERNEL_MAX_ROWS`` / ``_CSR_KERNEL_MAX_BYTES``); the caller
    then runs its distributed fallback.  One aggregate job sizes the
    CSR before anything is collected."""
    import numpy as np
    import pandas as pd

    n_rows, n_occ = docs_hs.select(
        F.count(F.lit(1)), F.coalesce(F.sum(F.size("hs")), F.lit(0))
    ).first()
    # 4 B/uint32 occurrence + 8 B/int64 vocab entry + 1 B LUT (vocab <=
    # occurrences, so 13x bounds all three) + 32 B/row of ids/perm/
    # indptr, x2 transient doubling during np.unique
    csr_bytes = 2 * (13 * n_occ + 32 * n_rows)
    if n_rows > _CSR_KERNEL_MAX_ROWS or csr_bytes > _CSR_KERNEL_MAX_BYTES:
        return None
    tbl = docs_hs.toArrow()
    doc_ids = tbl["doc_id"].to_numpy()
    lists = tbl["hs"].combine_chunks()
    flat = lists.flatten().to_numpy()
    offsets = lists.offsets.to_numpy().astype(np.int64)
    indptr = offsets - offsets[0]  # flatten() re-bases a sliced array
    vocab, dense = np.unique(flat, return_inverse=True)
    indices = dense.astype(np.uint32)
    perm = np.argsort(doc_ids)
    ids_sorted = doc_ids[perm]
    bc = spark.sparkContext.broadcast(
        (ids_sorted, perm.astype(np.int64), indptr, indices, len(vocab))
    )

    def intersect_counts(batches):
        ids_s, pm, ip, ind, nvocab = bc.value
        lut = np.zeros(nvocab, dtype=bool)
        prev_a = prev_b = None  # last pair of the previous batch
        for pdf in batches:
            if pdf.empty:
                continue
            a = pdf["a"].to_numpy()
            b = pdf["b"].to_numpy()
            keep = np.r_[True, (a[1:] != a[:-1]) | (b[1:] != b[:-1])]
            if prev_a is not None and a[0] == prev_a and b[0] == prev_b:
                keep[0] = False
            prev_a, prev_b = int(a[-1]), int(b[-1])
            if not keep.all():
                a, b = a[keep], b[keep]
            if not len(a):
                continue
            ra = pm[np.searchsorted(ids_s, a)]
            rb = pm[np.searchsorted(ids_s, b)]
            inter = np.zeros(len(a), dtype=np.int64)
            bounds = np.flatnonzero(np.r_[True, a[1:] != a[:-1], True])
            for gi in range(len(bounds) - 1):
                s0, s1 = int(bounds[gi]), int(bounds[gi + 1])
                arow = ind[ip[ra[s0]] : ip[ra[s0] + 1]]
                lut[arow] = True
                rbs = rb[s0:s1]
                starts = ip[rbs]
                seg = ip[rbs + 1] - starts
                offs = np.cumsum(seg) - seg
                pos = (
                    np.arange(int(seg.sum()), dtype=np.int64)
                    - np.repeat(offs, seg)
                    + np.repeat(starts, seg)
                )
                # bincount, not reduceat: reduceat yields x[offs[i]] for an
                # empty b segment (and IndexError when a trailing one is)
                seg_id = np.repeat(np.arange(len(seg)), seg)
                inter[s0:s1] = np.bincount(
                    seg_id[lut[ind[pos]]], minlength=len(seg)
                )
                lut[arow] = False
            yield pd.DataFrame(
                {
                    "a": a,
                    "b": b,
                    "inter": inter,
                    "sza": ip[ra + 1] - ip[ra],
                    "szb": ip[rb + 1] - ip[rb],
                }
            )

    return (
        pairs.repartition(spark.sparkContext.defaultParallelism, "a")
        .sortWithinPartitions("a", "b")
        .mapInPandas(
            intersect_counts, "a long, b long, inter long, sza long, szb long"
        )
    )


#: Driver-kernel gate for symmetrized edge lists (dedup_clusters'
#: union-find here, k43's power iteration in plans/training.py): edge
#: rows at or below this are collected to the driver (2M edges ≈ 32 MB
#: of int64 Arrow buffers — well inside maxResultSize); above it the
#: distributed loop runs.
_DRIVER_MAX_EDGES = 2_000_000
#: Round cap of dedup_clusters' distributed loop.  Pointer doubling halves
#: chain depth each round, so 15 rounds cover components of diameter up
#: to 2^15; a graph still moving after that raises.
_CC_MAX_ITERS = 15


def _union_find_clusters(spark, edge_pairs) -> DataFrame:
    """Driver-side union-find over symmetrized (u, v) edge pairs; emits
    (doc_id, cluster_keeper=min doc id of the component) for every node
    that appears in an edge — exactly the distributed loop's fixpoint
    (its label init is the edge-endpoint set, and min-label
    propagation converges to the component minimum).

    ``edge_pairs`` is an iterable of plain (u, v) int pairs — the
    caller collects via Arrow, NOT ``collect()``: 2M pyspark Row
    objects cost hundreds of driver MB where two int64 numpy columns
    cost 32 MB.  The result returns through ``createDataFrame(pandas)``
    for the same reason (Arrow path; session.py enables
    spark.sql.execution.arrow.pyspark.enabled)."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_pairs:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN root: the root IS the running component min,
            # so no second pass is needed
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    nodes = list(parent)
    out = pd.DataFrame(
        {
            "doc_id": pd.Series(nodes, dtype="int64"),
            "cluster_keeper": pd.Series(
                [find(n) for n in nodes], dtype="int64"
            ),
        }
    )
    return spark.createDataFrame(
        out, "doc_id bigint, cluster_keeper bigint"
    )


def dedup_clusters(pairs: DataFrame, held: Held) -> DataFrame:
    """Resolve near-dup pairs into connected components: every member of
    a component maps to the component's lowest doc id (the canonical
    keeper).  This is the step after LSH candidate verification — pair
    (a,b) + pair (b,c) must yield ONE cluster {a,b,c} even though (a,c)
    was never compared.

    Algorithm: iterative min-label propagation with pointer doubling
    (the simple variant of the large-star/small-star map-reduce
    connected-components family — public algorithm, cf. Kiveris et al.,
    "Connected Components in MapReduce and Beyond").  Each round:
    label[v] ← min(label[v], min(label[u]) over neighbors u), then one
    pointer-jump label[v] ← min(label[v], label[label[v]]) — the jump
    halves chain depth, so convergence is O(log diameter) rounds, not
    O(diameter).  Early-exits when a round changes nothing and raises
    RuntimeError if ``_CC_MAX_ITERS`` rounds still left labels moving
    (silent non-convergence would emit two different keepers for one
    component).

    Iterative-plan discipline: each round's labels are checkpointed
    through ``held``.  persist() alone caches data but the logical plan
    still deepens every round (Catalyst analysis cost grows until the
    driver OOMs around ~10 rounds); checkpointing truncates lineage so
    every round plans against a flat cached relation.  Each superseded
    round is freed as soon as the next one is materialized; the final
    labels stay held, because the returned plan reads them.

    Small-graph fast path (per-round overhead is the wall, not the
    data): near-dup pair graphs are true-dup-density bound — at sf0.1
    the verified pipeline emits 256 pairs / 477 nodes, yet the
    distributed loop costs 2-3 s in pure per-round job-launch +
    planning latency (2 joins + an eager checkpoint + a convergence
    count per round).  When the SYMMETRIZED edge count
    (known for free — the eager checkpoint already materialized it) is
    within ``_DRIVER_MAX_EDGES``, resolve the components with a
    driver-side union-find instead: O(E α(E)) over ≤ a few-MB of longs
    (distributed loop unchanged beyond the gate; both sides pinned
    equal by the gate-zeroing tests in tests/test_vectors_dedup.py).
    At 100 TB the pair graph of a near-dup-dense corpus exceeds the
    gate and the loop runs exactly as before.
    """
    e = pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
    edges = held.checkpoint(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    if edges.count() <= _DRIVER_MAX_EDGES:
        # gated: ≤ _DRIVER_MAX_EDGES (u, v) longs.  toArrow() keeps
        # the transfer columnar — 2M edges ≈ 32 MB of int64 buffers,
        # where collect()'s Row objects cost hundreds of MB.  tolist()
        # yields plain Python ints for the dict-based union-find.
        tbl = edges.toArrow()
        held.free(edges)
        return _union_find_clusters(
            pairs.sparkSession,
            zip(
                tbl["u"].to_numpy().tolist(),
                tbl["v"].to_numpy().tolist(),
            ),
        )
    labels = held.checkpoint(
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    converged = False
    for _ in range(_CC_MAX_ITERS):
        neigh = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy("u")
            .agg(F.min("label").alias("neigh_min"))
        )
        stepped = labels.join(neigh, labels.doc_id == neigh.u, "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce("neigh_min", F.col("label"))
            ).alias("label"),
        )
        # pointer jump: follow the current label one hop (label[label[v]])
        hop = stepped.select(
            F.col("doc_id").alias("h_id"), F.col("label").alias("h_label")
        )
        new_labels = held.checkpoint(
            stepped.join(hop, stepped.label == hop.h_id, "left").select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("h_label", F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        held.free(labels)
        labels = new_labels
        if changed == 0:
            converged = True
            break
    held.free(edges)
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge within {_CC_MAX_ITERS} rounds "
            f"(component diameter > 2^{_CC_MAX_ITERS} is pathological input)"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_keeper"))


def simhash(docs: DataFrame) -> DataFrame:
    """63-bit SimHash of ``docs``' ``text`` per ``doc_id``, from per-token
    xxhash64 bit votes (sign bit left clear so the result fits a BIGINT).
    Engine-specific hash → rows-only for the oracle; Hamming-distance
    properties are pytest-verified."""
    n_bits = 63
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(n_bits)
        ]
    )
    sim = None
    for b in range(n_bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ) * F.lit(2**b).cast("bigint")
        sim = bit if sim is None else sim + bit
    return votes.select("doc_id", sim.alias("simhash"))
