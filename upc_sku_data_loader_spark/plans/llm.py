"""§2.K LLM-data-pipeline extensions (SURVEY.md §2.K; mandated by the
driver's north star — BASELINE.json:6 — beyond the reference's own
surface; reference file:line n/a — empty tree §0.1).

Dedup (exact / MinHash-LSH / SimHash), similarity search (brute-force +
IVF), vector ops, text analysis (tokenize, TF-IDF, quality, lang-ID,
fingerprint), multimodal binary columns.
"""

from __future__ import annotations


import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, parquet_rowcount
from ..functions import text as TXT
from ..functions import vectors as V
from ..functions.multimodal import (
    extract_features,
    sample_frames,
    windowed_segments,
    with_binary_payload,
)
from ..operators.dedup import (
    _pair_intersect_counts,
    dedup_clusters,
    shingle_base,
    simhash,
    verified_near_dup_pairs,
)
from ..operators.similarity import ann_ivf, dedup_embedding, knn_join, topk_pairs
from ..registry import query
from ..session import Held, holding

# --- K1: exact content-hash dedup (corpus with injected duplicates) -----------


@query(
    "k1_dedup_exact_hash",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
    GROUP BY sha256(text)
    """,
)
def k1_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    corpus = d.unionByName(d)  # duplicate-injected corpus
    return (
        corpus.withColumn("content_hash", F.sha2("text", 256))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- K2: MinHash + LSH near-dup candidates → exact-Jaccard verify -------------
# The xxhash64 MinHash family is engine-specific, so the oracle instead
# computes exact all-pairs shingle-Jaccard ≥ 0.5 — the LSH pipeline's
# *output contract*. This hash-check is legitimate because LSH recall is
# exactly 1.0 on this corpus (measured at sf0.01: every true pair has
# Jaccard ≥ 0.9; P(band-miss) at s=0.9 with b=8,r=4 is (1-0.9^4)^8 ≈
# 2e-4, and the seeded hashes are deterministic — verified pair-for-pair
# against the oracle below). Residual recall risk on other corpora is
# property-tested in tests/test_vectors_dedup.py.
# The oracle's shingle builder mirrors operators/dedup.py:shingles():
# indices 1..max(n-k+1, 1), slices clamp for docs shorter than k tokens.


# Shared by k2 and k20 (cluster resolution over the same pair set).
K2_ORACLE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                  WHERE text IS NOT NULL),
    sh AS (
      -- 3-way shifted zip, linear in len(t): the per-index t[i:i+2]
      -- slice re-sliced the token list per shingle -- O(n^2), hung the
      -- oracle on a 290k-token megadoc (r10 --megadoc sweep).  Short
      -- docs (len < 3) keep the original one-shingle whole-list form.
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
               list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
               x -> concat(x[1], ' ', x[2], ' ', x[3])
             ))
             ELSE [array_to_string(t, ' ')] END AS s
      FROM toks
    ),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
               AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.5
    """


@query("k2_dedup_near_minhash", oracle=K2_ORACLE)
@holding
def k2_dedup_near_minhash(spark: SparkSession, sf_dir: str, held: Held) -> DataFrame:
    # cap disabled: the oracle is exact all-pairs Jaccard with no cap, so
    # the hash-checked contract must not drop oversized buckets (the cap
    # is a scale knob for uncontracted pipelines; its behavior is pinned
    # by the adversarial test in tests/test_vectors_dedup.py).
    # Exact-recall guarantee (fuzz sweep, seed 23): MinHash banding is
    # probabilistic and can miss a pair sitting exactly AT the 0.5
    # threshold; the pipeline unions the deterministic prefix-filter
    # candidates in (operators/dedup.py:verified_near_dup_pairs).
    # r10: the candidate set is persisted (plan-bound lifetime) and the
    # trailing global orderBy — absent from the oracle, invisible to the
    # order-insensitive hash check — is dropped: the range-partition
    # SAMPLING pass of a global sort re-executed the whole candidate
    # pipeline a second time (16.8 s → 3.9 s at sf0.1, see
    # OPTIMIZATION_r10.md).
    d = load(spark, sf_dir, "documents")
    return verified_near_dup_pairs(d, held, shingle_k=3, threshold=0.5)


# --- K3: global top-k most-similar embedding pairs (numpy fast path vs
#     DuckDB's native list_cosine_similarity) ----------------------------------


@query(
    "k3_similarity_topk",
    oracle=f"""
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND({V.cosine_sql('a.embedding', 'b.embedding')}, 6) AS sim
    FROM (SELECT * FROM embeddings
          WHERE {V.finite_vec_sql('embedding')}) a
    JOIN (SELECT * FROM embeddings
          WHERE {V.finite_vec_sql('embedding')}) b ON a.vec_id < b.vec_id
    ORDER BY sim DESC, a, b
    LIMIT 10
    """,
)
def k3_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk_pairs(spark, sf_dir, k=10)


# --- K4: KNN join (top-3 neighbors per query vector) ---------------------------


# Shared by k4 (auto → the driver or fan-out broadcast tier) and k4b
# (forced blocked strategy): every physical plan implements the same
# logical KNN join, so one oracle hash-checks each against DuckDB
# independently.
K4_ORACLE = f"""
    WITH scored AS (
      SELECT a.vec_id AS q_vec_id, b.vec_id AS neighbor_id,
             ROUND({V.cosine_sql('a.embedding', 'b.embedding')}, 6) AS sim,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND({V.cosine_sql('a.embedding', 'b.embedding')}, 6) DESC,
                        b.vec_id
             ) AS rank
      FROM (SELECT * FROM embeddings
            WHERE {V.finite_vec_sql('embedding')}) a
      JOIN (SELECT * FROM embeddings
            WHERE {V.finite_vec_sql('embedding')}) b
        ON b.vec_id != a.vec_id
      WHERE a.vec_id % 20 = 0
    )
    SELECT q_vec_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM scored WHERE rank <= 3
    """


@query("k4_knn_join", oracle=K4_ORACLE)
def k4_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_join(spark, sf_dir, k=3, query_filter="vec_id % 20 = 0")


# --- K5: vector ops (norms / normalize / dot) via higher-order functions --------


@query(
    "k5_vector_ops",
    # Per-vector metrics stay a full-table projection (no row is dropped),
    # so an INVALID vector (NULL, or any NULL component — --nulls sweep)
    # carries NULL metrics on both engines.  Spark's aggregate() lambda
    # yields that NULL naturally; DuckDB's list_sum/list_transform SKIP
    # NULL elements (silently computing a partial norm), so the oracle
    # gates every metric on the shared validity predicate explicitly.
    oracle=f"""
    SELECT vec_id,
           CASE WHEN {V.finite_vec_sql('embedding')}
                THEN ROUND({V.l2_norm_sql('embedding')}, 6) END AS l2_norm,
           CASE WHEN {V.finite_vec_sql('embedding')}
                THEN ROUND({V.l1_norm_sql('embedding')}, 6) END AS l1_norm,
           CASE WHEN {V.finite_vec_sql('embedding')}
                THEN ROUND(CAST(embedding[1] AS DOUBLE)
                           / {V.l2_norm_sql('embedding')}, 6) END AS unit_first,
           CASE WHEN {V.finite_vec_sql('embedding')}
                THEN ROUND(list_sum(CAST(embedding AS DOUBLE[])), 6)
                END AS dot_with_ones
    FROM embeddings
    """,
)
def k5_vector_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    v = V.as_double(F.col("embedding"))
    ok = V.finite_vec(F.col("embedding"))

    def gated(expr):
        return F.when(ok, expr)

    return e.select(
        "vec_id",
        gated(F.round(V.l2_norm(v), 6)).alias("l2_norm"),
        gated(F.round(V.l1_norm(v), 6)).alias("l1_norm"),
        # try_divide: the zero vector has no unit form — NULL on both
        # engines (DuckDB x/0 → NULL), not an ANSI crash
        gated(
            F.round(F.try_divide(F.element_at(v, 1), V.l2_norm(v)), 6)
        ).alias("unit_first"),
        gated(
            F.round(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x), 6)
        ).alias("dot_with_ones"),
    )


# --- K5b: per-label centroid (posexplode → avg per position → re-assemble) ------


@query(
    "k5b_vector_centroid",
    # Centroid is serialized to one comma-joined string of DECIMAL(18,6)
    # components: the driver's canonicalizer cannot hash ArrayType cells
    # (r1 verdict), and decimal rendering pads scale identically in both
    # engines ('0.500000'), unlike raw double→string formatting.
    oracle=f"""
    WITH flat AS (
      SELECT label,
             unnest(CAST(embedding AS DOUBLE[])) AS v,
             unnest(generate_series(1, len(embedding))) AS pos
      FROM embeddings
      WHERE {V.finite_vec_sql('embedding')}
    ),
    per_pos AS (
      SELECT label, pos, ROUND(AVG(v), 6) AS c
      FROM flat GROUP BY label, pos
    )
    SELECT label,
           array_to_string(
             list(CAST(CAST(c AS DECIMAL(18,6)) AS VARCHAR) ORDER BY pos), ','
           ) AS centroid,
           (SELECT COUNT(*) FROM embeddings e
            WHERE e.label IS NOT DISTINCT FROM per_pos.label
              AND {V.finite_vec_sql('e.embedding')})
             AS n_vectors
    FROM per_pos
    GROUP BY label
    """,
)
def k5b_vector_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # finite-vector convention (functions/vectors.py): a NaN/Inf
    # component would poison every per-position mean
    e = load(spark, sf_dir, "embeddings").filter(V.finite_vec("embedding"))
    flat = e.select(
        "label", F.posexplode(V.as_double(F.col("embedding"))).alias("pos", "v")
    )
    per_pos = flat.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("c"), F.count(F.lit(1)).alias("n")
    )
    return per_pos.groupBy("label").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.getField("c").cast("decimal(18,6)").cast("string"),
            ),
            ",",
        ).alias("centroid"),
        F.max("n").alias("n_vectors"),
    )


# --- K6: tokenize / normalize / stopword filter ----------------------------------


@query(
    "k6_tokenize_normalize",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_unique,
           CAST({TXT.stopword_count_sql('toks')} AS INT) AS n_stopwords,
           CAST(len(toks) - {TXT.stopword_count_sql('toks')} AS INT) AS n_content,
           ROUND(list_sum(list_transform(toks, x -> length(x))) / len(toks), 6) AS avg_token_len
    FROM t
    """,
)
def k6_tokenize_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", TXT.tokens("text").alias("toks"))
    n_stop = TXT.stopword_count(F.col("toks"))
    total_len = F.aggregate(
        F.transform("toks", lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_unique"),
        n_stop.alias("n_stopwords"),
        (F.size("toks") - n_stop).alias("n_content"),
        F.round(total_len / F.size("toks"), 6).alias("avg_token_len"),
    )


# --- K7: term frequency + TF-IDF, top-5 terms per doc -----------------------------


@query(
    "k7_term_freq_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tfc.doc_id, tfc.term, tfc.tf,
             ROUND(tfc.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tfc JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, tfidf
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    WHERE rn <= 5
    """,
)
def k7_term_freq_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_docs = parquet_rowcount(sf_dir, "documents")  # footer read, no job
    tf = (
        d.select("doc_id", F.explode(TXT.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # r11 (verdict item 1): document frequency is a COUNT window over
    # tf partitioned by term — tf is unique on (doc_id, term) by
    # construction, so the per-term row count IS the distinct-doc
    # count.  This keeps r10's single tokenize+explode pass WITHOUT the
    # tf persist (whose InMemoryRelation materialization barrier lost
    # under bench.py's collect methodology: driver artifact qmin 0.915
    # → 1.257 s) and without the df groupBy+join: one linear plan,
    # Exchange(doc_id,term) → Exchange(term) window → Exchange(doc_id)
    # window.  Measured interleaved under the bench methodology
    # (median-of-7 count(), warm session, sf0.1): persist 1.227 /
    # min 1.018, no-persist join 0.974/0.867, this shape 0.890/0.836.
    w_term = Window.partitionBy("term")
    scored = tf.withColumn("df", F.count(F.lit(1)).over(w_term)).select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf") * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "tfidf")
    )


# --- K8: text stats by language/source ---------------------------------------------


@query(
    "k8_text_stats_by_lang",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens,
           MAX(n_chars) AS max_chars,
           CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT)
             AS n_len_consistent
    FROM documents
    GROUP BY lang, source
    """,
)
def k8_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(TXT.tokens("text"))), 4).alias("avg_tokens"),
        F.max("n_chars").alias("max_chars"),
        F.sum(F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0)).alias(
            "n_len_consistent"
        ),
    )


# --- K9: token-set Jaccard similarity (same-source blocking), aggregated ------------


@query(
    "k9_doc_similarity_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {TXT.token_set_sql('text')} AS s FROM documents
    ),
    pairs AS (
      SELECT a.source,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
      FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    )
    SELECT source,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN j >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups,
           ROUND(AVG(j), 6) AS avg_jaccard
    FROM pairs
    GROUP BY source
    """,
)
def k9_doc_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source all-pairs token-set Jaccard, aggregated per source.

    r10 rewrite (guide §4.2): the old shape was a blocked self-JOIN on
    source — ~622k pair rows at sf0.1, each paying a JVM
    array_intersect over ~50-string token sets (5.0 s noop).  The
    contract is inherently all-pairs WITHIN a source block (the oracle
    joins every a<b pair), so the kernel is the k41 pattern: one
    Exchange on source into applyInPandas, which computes every
    intersection size for the block as ONE 0/1 indicator matmul
    (X @ X.T — counts ≤ vocab size, exact in float32), row-blocked to
    the similarity-family cell budget.  Token sets are built JVM-side
    by the same token_set() as before, so set semantics (including
    multibyte) are bit-identical; |A∩B| is an exact integer either
    way; j = inter/union is the same single IEEE float64 division
    (0/0 → NaN matches Spark's double division); the j ≥ 0.6 compare
    runs on the same doubles.  The kernel emits the per-source SUM of
    j (numpy float64 — summation ORDER differs from both engines'
    internal orders exactly as the old Spark partial-agg order did;
    the 6 dp round has absorbed that class since r3) and AVG + ROUND
    happen in the JVM after the kernel, keeping Spark's HALF_UP
    semantics.  NULL-source docs pair with nobody (join equality) —
    the kernel returns empty for the NULL group; n < 2 groups emit no
    row (GROUP BY over an empty pair set).

    Scale: all-pairs-within-block is the operator's contract (cf.
    SemDeDup k41); blocks are source-bounded and the matmul is
    row-blocked, so per-task transient memory stays at the shared
    cell budget."""
    import numpy as np

    from ..operators.similarity import _TOPK_CELL_BUDGET

    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", TXT.token_set("text").alias("s"))

    def kern(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        empty = pd.DataFrame(
            {
                "source": pd.Series([], dtype=object),
                "n_pairs": pd.Series([], dtype=np.int64),
                "n_near_dups": pd.Series([], dtype=np.int64),
                "n_j": pd.Series([], dtype=np.int64),
                "sum_j": pd.Series([], dtype=np.float64),
            }
        )
        n = len(pdf)
        src = pdf["source"].iloc[0] if n else None
        if n < 2 or src is None:
            return empty
        # NULL text → NULL token set → j is NULL for every pair that
        # touches it: counted in n_pairs, excluded from n_near_dups AND
        # from AVG's denominator (SQL AVG skips NULLs — nulls sweep).
        # The matmul runs over the non-null rows only; n_pairs stays
        # C(n, 2) over ALL rows.
        all_sets = pdf["s"].tolist()
        sets = [x for x in all_sets if x is not None]
        n_pairs_total = n * (n - 1) // 2
        n = len(sets)
        if n < 2:
            return pd.DataFrame(
                {
                    "source": [src],
                    "n_pairs": np.array([n_pairs_total], dtype=np.int64),
                    "n_near_dups": np.array([0], dtype=np.int64),
                    "n_j": np.array([n * (n - 1) // 2], dtype=np.int64),
                    "sum_j": np.array([0.0], dtype=np.float64),
                }
            )
        lens = np.array([len(x) for x in sets], dtype=np.int64)
        if lens.sum() == 0:
            vocab_n = 1
            rows = np.array([], dtype=np.int64)
            inv = np.array([], dtype=np.int64)
        else:
            flat = np.concatenate(
                [np.asarray(x, dtype=object) for x in sets if len(x)]
            )
            _, inv = np.unique(flat, return_inverse=True)
            vocab_n = int(inv.max()) + 1 if len(inv) else 1
            rows = np.repeat(np.arange(n), lens)
        x = np.zeros((n, vocab_n), dtype=np.float32)
        if len(rows):
            x[rows, inv] = 1.0
        sizes = lens.astype(np.float64)
        xt = x.T
        n_near = 0
        sum_j = 0.0
        step = max(1, _TOPK_CELL_BUDGET // max(n, 1))
        col = np.arange(n)
        with np.errstate(invalid="ignore", divide="ignore"):
            for i0 in range(0, n - 1, step):
                i1 = min(n - 1, i0 + step)
                inter = (x[i0:i1] @ xt).astype(np.float64)  # (block, n)
                union = sizes[i0:i1, None] + sizes[None, :] - inter
                j = inter / union
                upper = col[None, :] > np.arange(i0, i1)[:, None]
                n_near += int(((j >= 0.6) & upper).sum())
                sum_j += float(j[upper].sum())
        return pd.DataFrame(
            {
                "source": [src],
                "n_pairs": np.array([n_pairs_total], dtype=np.int64),
                "n_near_dups": np.array([n_near], dtype=np.int64),
                "n_j": np.array([n * (n - 1) // 2], dtype=np.int64),
                "sum_j": np.array([sum_j], dtype=np.float64),
            }
        )

    agg = t.groupBy("source").applyInPandas(
        kern,
        "source string, n_pairs bigint, n_near_dups bigint, n_j bigint, "
        "sum_j double",
    )
    return agg.select(
        "source",
        "n_pairs",
        "n_near_dups",
        # AVG skips NULL j values: denominator is the NON-NULL pair
        # count; all-NULL → AVG of nothing → NULL
        F.when(
            F.col("n_j") > 0, F.round(F.col("sum_j") / F.col("n_j"), 6)
        ).alias("avg_jaccard"),
    )


# --- K10: language-ID heuristic (lexicon scores, deterministic argmax) ---------------

_LANGS = sorted(TXT.LANG_LEXICONS)  # tie-break = alphabetical


def _argmax_lang_sql(toks_expr: str) -> str:
    scores = {
        lang: TXT.lexicon_score_sql(toks_expr, TXT.LANG_LEXICONS[lang]) for lang in _LANGS
    }
    greatest = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN {scores[lang]} = {greatest} THEN '{lang}'" for lang in _LANGS
    )
    return f"CASE {cases} END"


@query(
    "k10_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    pred AS (
      SELECT lang AS actual_lang, {_argmax_lang_sql('toks')} AS pred_lang FROM t
    )
    SELECT actual_lang, pred_lang, COUNT(*) AS n_docs
    FROM pred
    GROUP BY actual_lang, pred_lang
    """,
)
def k10_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.col("lang").alias("actual_lang"), TXT.tokens("text").alias("toks"))
    scores = {
        lang: TXT.lexicon_score(F.col("toks"), TXT.LANG_LEXICONS[lang]) for lang in _LANGS
    }
    greatest = F.greatest(*scores.values())
    pred = F.when(scores[_LANGS[0]] == greatest, _LANGS[0])
    for lang in _LANGS[1:]:
        pred = pred.when(scores[lang] == greatest, lang)
    return (
        t.select("actual_lang", pred.alias("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- K11: document quality scoring ----------------------------------------------------


@query(
    "k11_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks, n_chars FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           ROUND(CAST({TXT.stopword_count_sql('toks')} AS DOUBLE) / len(toks), 6)
             AS stopword_ratio,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
             AS unique_ratio,
           ROUND(least(CAST(n_chars AS DOUBLE) / 500.0, 1.0), 6) AS length_score,
           ROUND(0.4 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
               + 0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
               + 0.2 * (CAST({TXT.stopword_count_sql('toks')} AS DOUBLE) / len(toks)), 6)
             AS quality
    FROM t
    """,
)
def k11_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", TXT.tokens("text").alias("toks"), "n_chars")
    n_tok = F.size("toks").cast("double")
    stop_ratio = TXT.stopword_count(F.col("toks")).cast("double") / n_tok
    uniq_ratio = F.size(F.array_distinct("toks")).cast("double") / n_tok
    len_score = F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        F.round(len_score, 6).alias("length_score"),
        F.round(0.4 * len_score + 0.4 * uniq_ratio + 0.2 * stop_ratio, 6).alias("quality"),
    )


# --- K12: BPE-ish regex token counting --------------------------------------------------


@query(
    "k12_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{TXT.TOKEN_REGEX}')) AS INT) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_chars_div4
    FROM documents
    """,
)
def k12_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(TXT.TOKEN_REGEX), 0)).alias("n_bpe_tokens"),
        F.size(TXT.tokens("text")).alias("n_ws_tokens"),
        F.ceil(F.col("n_chars") / 4.0).alias("n_chars_div4"),
    )


# --- K13: document fingerprint (order-insensitive content key) ---------------------------


@query(
    "k13_fingerprint",
    oracle=f"""
    SELECT {TXT.fingerprint_sql('text')} AS fp,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def k13_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("fp", TXT.fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


# --- K14: SimHash (engine-specific hash → rows-only; pytest-verified) ---------------------


@query("k14_simhash")
def k14_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return simhash(d)


# --- K15: multimodal binary columns (real Arrow plumbing, stubbed codec) -------------------


@query(
    "k15_multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_sha256,
           CASE WHEN strlen(text) = 0 THEN -1
                ELSE CAST(('0x' || substring(hex(encode(text)), 1, 2)) AS INT)
           END AS head_byte
    FROM documents
    """,
)
def k15_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    media = with_binary_payload(d)
    return extract_features(media)


# --- K15b: frame sampling over media payloads (one-to-many mapInPandas) --------
# The video-shaped half of the multimodal surface: each payload yields up
# to 8 fixed-stride 256-byte "frames" (a real decoder would seek
# keyframes; the deterministic chunking keeps the fan-out plumbing
# oracle-checkable — fixtures are ASCII so char offsets == byte offsets).


@query(
    "k15b_multimodal_frames",
    oracle="""
    WITH f AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             unnest(generate_series(
               0,
               CAST(least(8, greatest(1, ceil(strlen(text) / 256.0))) AS INT) - 1
             )) AS frame_index
      FROM documents
      WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(frame_index AS INT) AS frame_index,
           CAST(frame_index * 256 AS BIGINT) AS byte_offset,
           sha256(substring(hx, CAST(frame_index * 512 + 1 AS INT), 512))
             AS frame_sha256
    FROM f
    """,
)
def k15b_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return sample_frames(with_binary_payload(d), frame_bytes=256, max_frames=8)


# --- K17: embedding-cosine near-dup dedup (canonical-keeper semantics) ---------------------


# Shared by k17 (auto→broadcast) and k17b (forced blocked strategy).
K17_ORACLE = f"""
    WITH fe AS (
      SELECT * FROM embeddings WHERE {V.finite_vec_sql('embedding')}
    ),
    dup AS (
      SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS dup_of
      FROM fe a
      JOIN fe b
        ON b.vec_id < a.vec_id
       AND ROUND({V.cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.35
      GROUP BY a.vec_id
    )
    SELECT e.vec_id,
           d.dup_of,
           d.dup_of IS NULL AS is_keeper
    FROM fe e LEFT JOIN dup d USING (vec_id)
    """


@query("k17_dedup_embedding", oracle=K17_ORACLE)
def k17_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_embedding(spark, sf_dir, tau=0.35)


# --- K16: IVF-style approximate nearest neighbors (rows-only; recall vs the
#     exact K4 path is property-tested in tests/test_similarity.py) -------------------------


@query("k16_ann_ivf")
def k16_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_ivf(
        spark, sf_dir, n_centroids=16, n_probe=2, k=3, query_filter="vec_id % 20 = 0"
    )


# --- K4b/K17b: the beyond-broadcast BLOCKED strategy, hash-checked -------------
# Same logical operators as K4/K17, but forcing strategy="blocked" so the
# scale path (cogroup per-block matmul + global re-rank, zero driver-side
# collect — operators/similarity.py) is itself verified against the DuckDB
# oracle, not just pytest-compared to the broadcast kernel.


@query("k4b_knn_join_blocked", oracle=K4_ORACLE)
def k4b_knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_join(
        spark, sf_dir, k=3, query_filter="vec_id % 20 = 0", strategy="blocked"
    )


@query("k17b_dedup_embedding_blocked", oracle=K17_ORACLE)
def k17b_dedup_embedding_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_embedding(spark, sf_dir, tau=0.35, strategy="blocked")


# --- K18: character-n-gram Jaccard near-dup pairs ------------------------------

# Completes the dedup ladder (exact K1 → MinHash-LSH K2 → SimHash K14 →
# token-Jaccard K9 → embedding K17) with the char-granularity tier that
# catches near-dups token splitting misses (whitespace/punct edits).
# Contract = pairs passing BOTH the length-ratio prune and 5-gram
# Jaccard ≥ 0.7; the prune is part of the operator on both sides.
# Plan: PREFIX-FILTERED set-similarity join (PPJoin-family, public
# algorithm — Xiao et al., "Efficient Similarity Joins for Near
# Duplicate Detection").  A naive inverted-index join explodes on
# frequent grams (a gram in d docs costs d² pairs, and common English
# 5-grams hit most docs).  Prefix theorem: under any global token
# order, J(A,B) ≥ t ⇒ the first |X| - ceil(t·|X|) + 1 tokens of each
# side share ≥ 1 token.  Ordering by ascending document frequency makes
# those prefixes the RAREST ~30% of each doc's grams, so candidate
# generation joins only short posting lists; candidates are then
# exact-verified with a full array_intersect.  Keyed shuffles only, and
# the frequent-gram skew never reaches a join.


@query(
    "k18_ngram_jaccard",
    oracle="""
    WITH s0 AS (
      -- per-codepoint split ONCE, grams as a 10-way shifted zip:
      -- substring(text, i, 10) is O(i) on multibyte-aware VARCHAR, so
      -- the per-offset lambda was O(n^2) — >240 s on a 2 MiB document
      -- (r10 --megadoc sweep); the zip shape is linear (2M chars
      -- 1.55 s).  Short texts (< 10 cp) keep the original substring
      -- form: the zip's negative slice bounds would wrap from the end.
      SELECT doc_id, n_chars, text, length(text) AS n,
             string_split(text, '') AS c
      FROM documents
      WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, n_chars,
             CASE WHEN n >= 10 THEN list_distinct(list_transform(
               list_zip(c[1:n-9], c[2:n-8], c[3:n-7], c[4:n-6], c[5:n-5],
                        c[6:n-4], c[7:n-3], c[8:n-2], c[9:n-1], c[10:n]),
               s -> concat(s[1], s[2], s[3], s[4], s[5],
                           s[6], s[7], s[8], s[9], s[10])))
             ELSE [substring(text, 1, 10)] END AS grams
      FROM s0
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams)
                    - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
    FROM g a JOIN g b
      ON a.doc_id < b.doc_id
     AND b.n_chars BETWEEN CAST(TRUNC(a.n_chars * 0.7) AS BIGINT)
                       AND CAST(TRUNC(a.n_chars / 0.7) AS BIGINT)
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / (len(a.grams) + len(b.grams)
             - len(list_intersect(a.grams, b.grams))) >= 0.7
    """,
)
@holding
def k18_ngram_jaccard(spark: SparkSession, sf_dir: str, held: Held) -> DataFrame:
    """Char-10-gram set-similarity self-join (threshold 0.7) via the
    prefix-filter + positional-filter family (PPJoin, Xiao et al. 2008
    — public algorithm), exact-verified on the survivors.

    Scale design, in candidate-shrink order:
    0. exact-duplicate clustering — both contract predicates (length
       ratio on n_chars, jaccard on the distinct-gram SET) depend only
       on (grams, n_chars), so docs identical on that key are
       interchangeable: PPJoin runs on one representative per cluster
       and pairs expand algebraically afterwards (within-cluster pairs
       are jaccard 1.0 by identity; cross-cluster pairs inherit the rep
       pair's JACCARD, while the directional length filter is
       re-applied per expanded pair — it depends on doc_id order, which
       expansion can flip).  At adversarial dup density — the 10× replica
       carries ~10 exact copies per doc — this collapses the candidate
       join quadratically (151M match rows → ~1.5M measured); at real
       density every cluster is a singleton and the only cost is one
       keyed window.  Clustering keys on the exact (grams, n_chars)
       value, introducing NO new hash-collision class; a 100 TB
       deployment would key on xxhash64(grams, n_chars) instead to
       shuffle 8-byte keys;
    1. prefix filter — only the |X|-⌈t·|X|⌉+1 globally-rarest grams of
       each doc can open a candidate pair, so the self-join runs on a
       sliver of the inverted index, keyed by gram hash (document
       frequency is computed over representatives, which is still one
       consistent global order — the only property the prefix theorem
       needs);
    2. length filter INSIDE the join (symmetrized, both directions
       OR-ed) — a pair outside the length window in BOTH directions can
       never pass the oracle's directional filter for any member
       ordering, pruned before the shuffle materializes the pair;
    3. positional filter INSIDE the join — for a shared prefix gram at
       ranks (px, py) of docs sorted by one global gram order, overlap
       is provably ≤ min(px,py)-1 + 1 + min(|A|-px, |B|-py); a match
       row whose bound misses the required overlap t·(|A|+|B|)/(1+t)
       is proof the pair fails, so it drops at generation (the min
       aggregate over surviving witnesses then prunes the verify set
       further — both are true upper bounds on |A∩B|, no false
       negatives).
    Shingle width 10 keeps the gram space selective; at width 5 this
    corpus has ~2k distinct grams and EVERY prefix collides — the
    filters degrade to all-pairs (measured: 9.6M candidates at sf0.1
    vs 12.5M possible).  Near-dup pairs share long runs, so the pair
    set at t=0.7 is shingle-width-stable (25 pairs at sf0.01 for both
    5 and 10).

    The plan persists two relations (the clustered docs and the prefix
    index) through ``held``: they live as long as the returned
    DataFrame, and a failed build frees them at once (session.holding).
    """
    # NULL-text docs form no grams and join no pairs (operators/dedup.py
    # convention; fuzz sweep: transform-over-NULL otherwise clusters
    # every contentless doc into one jaccard-1.0 clique)
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n, t = 10, 0.7

    # Gram extraction + hashing in ONE Arrow-batched pandas UDF: the
    # previous JVM form — transform(sequence(...), i -> substr(text, i,
    # 10)) then transform(grams, xxhash64) — is quadratic on megabyte
    # documents (substr's UTF8 codepoint seek is O(i) per gram, and a
    # higher-order-function lambda over a millions-element array pays
    # interpreted per-element overhead that measured >400 s/doc on the
    # r10 --megadoc sweep vs ~3 s here).
    #
    # r11: the per-gram Python loop (slice + blake2b per gram — ~1.5M
    # interpreted hash calls at sf0.1, the query's single most
    # expensive map at 2.3 s) is replaced by a fully vectorized numpy
    # rolling hash: decode the text to a codepoint array ONCE
    # (utf-32-le — C-speed, per-codepoint exactly like the oracle's
    # split), n shifted multiply-adds build every gram's 64-bit
    # polynomial hash in n vector passes, a splitmix64 finisher mixes,
    # and np.unique(return_index) + index sort reproduces
    # dict.fromkeys' FIRST-OCCURRENCE dedup order — so the tier-0
    # exact-cluster key keeps its structure (measured at sf0.1: zero
    # collisions, per-doc gram counts and the cluster partition
    # identical to the blake2b form; UDF noop 2.30 → 1.08 s median).
    # Hashes are engine-internal (the oracle compares raw grams); the
    # mixed 64-bit poly family replaces blake2b-64 with the same
    # negligible collision class, and a collision only merges grams
    # for candidate/cluster purposes.  At 100 TB, cap Arrow batch
    # bytes (spark.sql.execution.arrow.maxRecordsPerBatch) so a batch
    # of megabyte documents stays executor-resident.
    @F.pandas_udf("array<long>")
    def _gram_hashes(texts: pd.Series) -> pd.Series:
        import numpy as np

        K = np.uint64(1099511628211)  # FNV prime as poly multiplier
        SEED = np.uint64(1469598103934665603)
        M1 = np.uint64(0xBF58476D1CE4E5B9)
        M2 = np.uint64(0x94D049BB133111EB)
        C30, C27, C31 = np.uint64(30), np.uint64(27), np.uint64(31)

        def _mix(z):  # splitmix64 finisher (uint64 wraparound intended)
            z = (z ^ (z >> C30)) * M1
            z = (z ^ (z >> C27)) * M2
            return z ^ (z >> C31)

        def g(text):
            if text is None:
                return None
            cp = np.frombuffer(
                text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
            ).astype(np.uint64)
            if len(text) < n:  # substr(1, n) of a short text is the text
                h = np.full(1, SEED, dtype=np.uint64)  # array ops wrap silently
                for c in cp.tolist():
                    h = h * K + np.uint64(c)
                return _mix(h).view(np.int64)
            m = len(cp) - n + 1
            hs = np.full(m, SEED, dtype=np.uint64)
            for j in range(n):
                hs = hs * K + cp[j : j + m]
            hs = _mix(hs)
            _, idx = np.unique(hs, return_index=True)
            return hs[np.sort(idx)].view(np.int64)

        return texts.map(g)

    docs = d.select("doc_id", "n_chars", _gram_hashes("text").alias("grams"))
    # tier 0: cluster exact (grams, n_chars) duplicates; rep = min doc_id.
    # persist(): the clustered relation fans out to six DAG branches
    # (inverted index, df stats, both join sides, both verify sides) and
    # the char-gram extraction is the single most expensive map — without
    # it Spark re-extracts per branch (measured ~50 s/pass at 10×)
    docs = held.persist(
        docs.withColumn(
            "rep", F.min("doc_id").over(Window.partitionBy("grams", "n_chars"))
        )
    )
    # n_chars rides along so the oracle's DIRECTIONAL length filter can be
    # re-applied per expanded pair (members of one cluster all share the
    # rep's exact n_chars — it is part of the cluster key)
    members = docs.select("rep", "doc_id", "n_chars")
    g = docs.filter(F.col("doc_id") == F.col("rep")).select(
        "doc_id", "n_chars", "grams"
    )
    ex = g.select(
        "doc_id",
        "n_chars",
        F.size("grams").alias("sz"),
        F.explode("grams").alias("gr"),
    )
    # global order = (document frequency ASC, gram) → rarest first
    dfreq = ex.groupBy("gr").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "gr")
    ranked = ex.join(dfreq, "gr").withColumn("pos", F.row_number().over(w))
    # prefix theorem: J(A,B) ≥ t ⇒ prefixes of length |X|-ceil(t·|X|)+1
    # overlap.  persist(): both sides of the self-join read this relation
    # and AQE does not reliably reuse the exchange under the window +
    # join mix (0 ReusedExchange observed) — without it the df-ranking
    # window runs twice.  ~175 MB at the 10× replica.
    prefix = held.persist(
        ranked.filter(
            F.col("pos") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
        ).select("doc_id", "n_chars", "sz", "df", "gr", "pos")
    )
    x, y = prefix.alias("x"), prefix.alias("y")
    # length filter inside the join, SYMMETRIZED (OR of both directions):
    # the oracle's TRUNC filter is directional (evaluated with a = the
    # smaller doc_id), and truncation makes it asymmetric at boundaries —
    # e.g. n=(100,70): 70 ∈ [trunc(70), trunc(142.8)] passes but reversed
    # 100 > trunc(70/0.7)=99 fails.  Rep doc_id order need not match the
    # expanded member pairs' order (a member of the low-rep cluster can
    # out-number a member of the high-rep cluster), so candidate
    # generation must admit EITHER direction; the oracle's directional
    # filter is re-applied per expanded pair after least/greatest
    # ordering below.  Truncation must match the oracle's TRUNC (DuckDB
    # CAST rounds-to-nearest, Spark cast truncates — b2 rule).
    def _len_ok(na, nb):
        return nb.between((na * t).cast("bigint"), (na / t).cast("bigint"))

    # positional bound witnessed by this shared gram; pushed INTO the
    # join: one failing witness proves the pair fails, so it never
    # reaches the pair-count shuffle
    pos_ubound = (
        F.least(F.col("x.pos"), F.col("y.pos"))
        - 1
        + 1
        + F.least(F.col("x.sz") - F.col("x.pos"), F.col("y.sz") - F.col("y.pos"))
    )
    matches = x.join(
        y,
        (F.col("x.gr") == F.col("y.gr"))
        & (F.col("x.doc_id") < F.col("y.doc_id"))
        & (
            _len_ok(F.col("x.n_chars"), F.col("y.n_chars"))
            | _len_ok(F.col("y.n_chars"), F.col("x.n_chars"))
        )
        & (
            pos_ubound
            >= F.lit(t) * (F.col("x.sz") + F.col("y.sz")) / F.lit(1 + t)
        ),
    ).select(
        F.col("x.doc_id").alias("a"),
        F.col("y.doc_id").alias("b"),
    )
    # per-witness positional pruning makes the min-ubound aggregate
    # redundant (every surviving witness already satisfies the bound, so
    # the min does too — measured at 10×: 67.90M distinct pairs vs
    # 67.84M under the strictly-stronger all-witness min, a 0.1% gap
    # not worth pushing 151M unfiltered rows through the aggregate).
    # NO .distinct() here: the verify kernel dedups consecutive pairs
    # after its own (a)-keyed repartition + sort, saving a full
    # 67.9M-row shuffle; the SQL fallback path dedups explicitly.
    cands = matches.select("a", "b")
    # exact verify on the surviving representative candidates.  Two
    # strategies, k17's broadcast→blocked auto-switch idiom:
    #
    # CSR within the gate: the candidate stream at adversarial dup density
    # (67.9M pairs at the 10× replica) must not drag a ~2.3 KB gram
    # array through pair-keyed joins — per-pair array_intersect alone
    # measured ~200 s there (it allocates the intersection array when
    # only its SIZE is needed).  Instead the rep gram sets are packed
    # once into a dense-id CSR and broadcast (~60 MB at 50k reps); the
    # shared kernel (operators/dedup._pair_intersect_counts) streams the
    # 16-byte pairs sorted by `a`, builds a boolean vocab LUT per
    # `a`-group, and counts hits for all its `b` rows in one ragged
    # gather + bincount (no per-row Python work — the k3 lesson).  Only
    # integer intersect sizes come back; the jaccard division, the ≥t
    # filter and the 6-dp round stay in Spark SQL so the arithmetic is
    # bit-identical to the pure-SQL path below.
    #
    # CSR too big (the kernel returns None): plain keyed joins +
    # array_intersect (correct at any scale, just not the fast path).
    #
    # The kernel's gate sizes what is actually collected — the
    # representatives and their gram occurrences, NOT the raw doc
    # count: at adversarial dup density reps << docs and the kernel
    # stays cheap, while a long-document corpus can blow the broadcast
    # well under any row cap.  Both strategies reuse the persisted
    # clustered relation so nothing is computed twice.
    stats = _pair_intersect_counts(
        spark, cands, g.select("doc_id", F.col("grams").alias("hs"))
    )
    if stats is not None:
        inter = F.col("inter").cast("double")
        union = (F.col("sza") + F.col("szb")).cast("double") - inter
        jac = inter / union
        rep_pairs = stats.filter(jac >= t).select(
            "a", "b", F.round(jac, 6).alias("jaccard")
        )
    else:
        ga = g.select(F.col("doc_id").alias("a"), F.col("grams").alias("gra"))
        gb = g.select(F.col("doc_id").alias("b"), F.col("grams").alias("grb"))
        inter = F.size(F.array_intersect("gra", "grb")).cast("double")
        union = (F.size("gra") + F.size("grb")).cast("double") - inter
        jac = inter / union
        rep_pairs = (
            cands.distinct()
            .join(ga, "a")
            .join(gb, "b")
            .filter(jac >= t)
            .select("a", "b", F.round(jac, 6).alias("jaccard"))
        )
    # tier-0 expansion: every member pair of a rep pair's two clusters
    # shares the rep value (same gram sets, same n_chars — the jaccard is
    # identical); within-cluster pairs are 1.0 by identity.  The oracle's
    # DIRECTIONAL length filter is re-applied per expanded pair on its
    # least/greatest doc_id order — the rep pair's direction may be the
    # reverse of a member pair's, and truncation makes the filter
    # asymmetric at boundaries, so inheriting the rep pair's filter
    # verdict would both emit pairs the oracle excludes and miss pairs it
    # includes (candidate generation above is symmetrized to cover the
    # miss side).
    m1 = members.select(
        F.col("rep").alias("a"), F.col("doc_id").alias("ma"),
        F.col("n_chars").alias("na"),
    )
    m2 = members.select(
        F.col("rep").alias("b"), F.col("doc_id").alias("mb"),
        F.col("n_chars").alias("nb"),
    )
    lo_n = F.when(F.col("ma") < F.col("mb"), F.col("na")).otherwise(F.col("nb"))
    hi_n = F.when(F.col("ma") < F.col("mb"), F.col("nb")).otherwise(F.col("na"))
    cross = (
        rep_pairs.join(m1, "a")
        .join(m2, "b")
        .filter(_len_ok(lo_n, hi_n))
        .select(
            F.least("ma", "mb").alias("a"),
            F.greatest("ma", "mb").alias("b"),
            "jaccard",
        )
    )
    u, v = members.alias("u"), members.alias("v")
    # within-cluster: identical n_chars always passes the length filter
    # (trunc(n·t) ≤ n ≤ trunc(n/t) for every n ≥ 1 at t = 0.7)
    within = u.join(
        v,
        (F.col("u.rep") == F.col("v.rep")) & (F.col("u.doc_id") < F.col("v.doc_id")),
    ).select(
        F.col("u.doc_id").alias("a"),
        F.col("v.doc_id").alias("b"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionByName(within)


# --- K19: end-to-end curation pipeline ------------------------------------------
# The composition a training-data pipeline actually runs, as ONE declarative
# plan Catalyst optimizes end to end: quality gate → exact dedup (keep
# lowest doc_id) → per-language corpus stats.  Spark dedups on sha2(text)
# (shuffles a 32-byte key, not document bodies — the 100 TB-safe key);
# the oracle groups raw text, which is value-identical absent SHA-256
# collisions.


@query(
    "k19_curation_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, text, n_chars,
             string_split(text, ' ') AS toks
      FROM documents
    ),
    gated AS (
      SELECT doc_id, lang, text, n_chars,
             len(toks) AS n_tokens,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS unique_ratio
      FROM scored
      WHERE len(toks) >= 10
        AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3
    ),
    deduped AS (
      SELECT MIN(doc_id) AS doc_id,
             MIN(lang) AS lang,
             MIN(n_tokens) AS n_tokens,
             MIN(unique_ratio) AS unique_ratio
      FROM gated
      GROUP BY text
    )
    SELECT lang,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
           ROUND(AVG(unique_ratio), 6) AS avg_unique_ratio
    FROM deduped
    GROUP BY lang
    """,
)
def k19_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    scored = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "unique_ratio"
        ),
    )
    gated = scored.filter(
        (F.col("n_tokens") >= 10) & (F.col("unique_ratio") >= 0.3)
    )
    deduped = (
        gated.withColumn("content_key", F.sha2("text", 256))
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang").alias("lang"),
            F.min("n_tokens").alias("n_tokens"),
            F.min("unique_ratio").alias("unique_ratio"),
        )
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("n_tokens_total"),
        F.round(F.avg("unique_ratio"), 6).alias("avg_unique_ratio"),
    )


# --- K20: near-dup cluster resolution (connected components) -------------------
# The step after K2: pair (a,b) + pair (b,c) must collapse to ONE cluster
# {a,b,c} with keeper = min id, even though (a,c) was never compared.
# Spark side: iterative min-label propagation over the pair graph
# (operators/dedup.py:dedup_clusters — O(diameter) keyed-shuffle rounds).
# Oracle: the same pair set (K2's exact-Jaccard CTE; LSH recall is 1.0 on
# this corpus) closed transitively with a recursive CTE.  An iterative
# Spark algorithm hash-matched against a recursive-SQL fixpoint.


@query(
    "k20_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {K2_ORACLE}
    ),
    edges AS (
      SELECT a AS u, b AS v FROM pairs
      UNION ALL
      SELECT b, a FROM pairs
    ),
    reach AS (
      SELECT u AS id, v AS r FROM edges
      UNION
      SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
    )
    SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster_keeper
    FROM reach
    GROUP BY id
    """,
)
@holding
def k20_dedup_clusters(spark: SparkSession, sf_dir: str, held: Held) -> DataFrame:
    # cap disabled for the same oracle-contract reason as k2;
    # exact-recall union (k2 note): boundary pairs escape banding.
    # r10: same persisted-candidate pipeline as k2.  The shingle base
    # and dedup_clusters' final label round stay held until the result
    # is dropped (the distributed path's result reads that round).
    d = load(spark, sf_dir, "documents")
    pairs = verified_near_dup_pairs(d, held, shingle_k=3, threshold=0.5)
    return dedup_clusters(pairs, held)


# --- K21/K22: reproducible splitting & sampling --------------------------------
# Training-data pipelines need splits and samples that are (a) uniform-ish,
# (b) stable under reruns and engine swaps, (c) free of coordination.
# Portable trick: md5 produces identical hex in Spark and DuckDB (unlike
# xxhash64), so hex(md5(key)) % 100 is an engine-independent pseudo-random
# bucket — content-addressed, no RNG state, no shuffle beyond the final agg.


def _md5_bucket(col):
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % 100


@query(
    "k21_train_split",
    oracle="""
    WITH b AS (
      SELECT lang, n_chars,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
               % 100 AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars_total
    FROM b
    GROUP BY 1, 2
    """,
)
def k21_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = _md5_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("n_chars_total"),
        )
    )


@query(
    "k22_stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    )
    SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank
    FROM ranked
    WHERE sample_rank <= 5
    """,
)
def k22_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample: rank docs inside each stratum by
    md5(key) — a stable pseudo-random order both engines agree on — and
    keep the first 5.  One keyed window; rerun-identical anywhere."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 5)
    )


# --- K14b: SimHash over md5 token hashes (fully oracle-checkable) -------------


@query(
    "k14b_simhash_md5",
    oracle="""
    WITH tok AS (
      SELECT doc_id, w, COUNT(*) AS cnt FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
      ) GROUP BY doc_id, w
    ),
    h AS (
      SELECT doc_id, cnt,
             CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS hv
      FROM tok
    ),
    votes AS (
      SELECT doc_id, i,
             SUM(cnt * (2 * ((hv // (CAST(1 AS BIGINT) << i)) % 2) - 1))
               AS vote
      FROM h, UNNEST(generate_series(0, 31)) AS s(i)
      GROUP BY doc_id, i
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0
                         THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT)
             AS simhash32,
           CAST(SUM(CASE WHEN vote > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_set_bits
    FROM votes GROUP BY doc_id
    """,
)
def k14b_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures with an md5-derived 32-bit token hash — the
    engine-independent twin of k14 (whose xxhash64 bit votes are Spark-
    specific and therefore rows-only).  md5 hex is identical in Spark
    and DuckDB, so the full signature is value-hash-checked here:
    per-token hash = first 8 md5 hex digits as int, per-bit vote =
    ±token_count, bit set iff the vote sum is positive.

    Shape: one shuffle on (doc, token) for counts, a 32-way map-side
    bit explode, one shuffle on (doc, bit), one on doc — every stage
    doc-keyed with map-side partial aggregation, so the explode fan-out
    (32× distinct tokens) never crosses the wire unaggregated."""
    tok = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "doc_id",
            "cnt",
            F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10)
            .cast("bigint")
            .alias("hv"),
        )
    )
    votes = (
        tok.select(
            "doc_id",
            "cnt",
            "hv",
            F.explode(F.expr("sequence(0, 31)")).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            (
                F.col("cnt")
                * (
                    2
                    * F.expr("(hv div shiftleft(CAST(1 AS BIGINT), i)) % 2")
                    - 1
                )
            ).alias("vote"),
        )
        .groupBy("doc_id", "i")
        .agg(F.sum("vote").alias("vote"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("vote") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), i)"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("simhash32"),
        F.sum(F.when(F.col("vote") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_set_bits"),
    )


# --- K16b: seeded IVF-flat ANN (deterministic, fully oracle-checkable) --------

_IVF_K = 8  # coarse lists
_IVF_NPROBE = 2
_IVF_NQ = 10  # query vectors (first by vec_id)
_IVF_TOPK = 3


@query(
    "k16b_ann_ivf_seeded",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE {V.finite_vec_sql('embedding')}
    ),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id, v
      FROM e ORDER BY vec_id LIMIT {_IVF_K}
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({V.cosine_sql('e.v', 's.v')}, 6) DESC,
                          s.cid) AS rn
        FROM e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS q_vec_id, v AS qv FROM e ORDER BY vec_id LIMIT {_IVF_NQ}),
    qprobe AS (
      SELECT q_vec_id, qv, cid, pr FROM (
        SELECT q.q_vec_id, q.qv, s.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_vec_id
                 ORDER BY ROUND({V.cosine_sql('q.qv', 's.v')}, 6) DESC,
                          s.cid) AS pr
        FROM qs q CROSS JOIN seeds s
      ) WHERE pr <= {_IVF_NPROBE}
    ),
    cand AS (
      SELECT p.q_vec_id, p.qv, a.vec_id, e.v
      FROM qprobe p
      JOIN assign a ON a.cid = p.cid
      JOIN e ON e.vec_id = a.vec_id
      WHERE a.vec_id != p.q_vec_id
    )
    SELECT q_vec_id, rank, n_vec_id, cos_r FROM (
      SELECT q_vec_id, vec_id AS n_vec_id,
             ROUND({V.cosine_sql('qv', 'v')}, 6) AS cos_r,
             ROW_NUMBER() OVER (
               PARTITION BY q_vec_id
               ORDER BY ROUND({V.cosine_sql('qv', 'v')}, 6) DESC,
                        vec_id) AS rank
      FROM cand
    ) WHERE rank <= {_IVF_TOPK}
    """,
)
def k16b_ann_ivf_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with DETERMINISTIC coarse lists — the hash-checkable
    twin of k16 (whose trained centroids are engine-specific, hence
    rows-only): the first 8 vectors by vec_id are the coarse seeds,
    every vector joins the list of its max-cosine seed, each query
    probes its 2 nearest lists, and candidates are exactly
    reranked by cosine (rounded 6 dp before every ranking decision).

    Scale shape: seed collect is bounded (k×d, as k42); list assignment
    is a map-only literal-seed argmax; the probe→candidate join is one
    shuffle on the LIST id (candidate lists are ~n/k of the corpus —
    the IVF speedup); rerank is a per-query window over candidates
    only.  Recall-vs-exact for the trained variant is pytest-pinned on
    k16; this variant pins the VALUE semantics cross-engine."""
    # r10 rewrite (guide §4.2, the k41 swap): the JVM form paid an
    # interpreted zip_with cosine fold PER (row, seed) for assignment
    # (n×K folds) and PER candidate for the rerank (~NQ·NPROBE·n/K
    # folds) — 4.2 s noop at sf0.1.  Both stages now run in the numpy
    # float64 kernel family at the same 6-dp rounding contract that
    # k3/k4/k17/k41 have held bit-exact against the DuckDB oracles
    # through every parity/fuzz sweep since r6.  Seeds AND queries are
    # bounded collects (K×d, NQ×d — the k42 class); per-query probe
    # lists are derived driver-side from those K·NQ cosines; list
    # assignment is ONE map-side mapInPandas argmax; the rerank is one
    # Exchange on the list id into an applyInPandas block matmul
    # against the ≤NQ probing queries.  Tie-breaks unchanged: argmax
    # first-occurrence over cid-ascending columns ≡ the old
    # (negc, cid) struct-min; probe order (cos desc, cid asc) ≡ the
    # old array_sort slice.
    from typing import Iterator

    import numpy as np

    from ..operators.similarity import _finite_rows, _normalized

    e = (
        load(spark, sf_dir, "embeddings")
        .filter(V.finite_vec("embedding"))  # finite-vector convention
        .select("vec_id", V.as_double(F.col("embedding")).alias("v"))
    )
    seed_rows = e.orderBy("vec_id").limit(_IVF_K).collect()
    if not seed_rows:  # empty table: a zero-element literal array is VOID
        return spark.createDataFrame(
            [], "q_vec_id bigint, rank int, n_vec_id bigint, cos_r double"
        )
    q_rows = e.orderBy("vec_id").limit(_IVF_NQ).collect()
    smat = _normalized(np.array([r["v"] for r in seed_rows], dtype=np.float64))
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qn = _normalized(np.array([r["v"] for r in q_rows], dtype=np.float64))
    qcos = np.round(qn @ smat.T, 6)  # NQ × K
    # per-query probe lists → per-cid probing-query index lists
    probes: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        order = sorted(range(len(seed_rows)), key=lambda c: (-qcos[qi, c], c))
        for c in order[:_IVF_NPROBE]:
            probes.setdefault(c, []).append(qi)

    def assign_fn(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, mat = _finite_rows(pdf)
            if len(ids) == 0:
                continue
            sims = np.round(_normalized(mat) @ smat.T, 6)
            best = np.argmax(sims, axis=1)  # ties → lowest cid
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cid": best.astype(np.int32),
                    "v": [row.tolist() for row in mat],
                }
            )

    assigned = e.select(
        F.col("vec_id"), F.col("v").alias("embedding")
    ).mapInPandas(assign_fn, "vec_id long, cid int, v array<double>")

    def cand_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        empty = pd.DataFrame(
            {
                "q_vec_id": pd.Series([], dtype=np.int64),
                "n_vec_id": pd.Series([], dtype=np.int64),
                "cos_r": pd.Series([], dtype=np.float64),
            }
        )
        if not len(pdf):
            return empty
        qs_idx = probes.get(int(pdf["cid"].iloc[0]), [])
        if not qs_idx:
            return empty
        ids = pdf["vec_id"].to_numpy(np.int64)
        mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
        cos = np.round(_normalized(mat) @ qn[qs_idx].T, 6)  # members × q
        q_sel = qids[qs_idx]
        n_m, n_q = cos.shape
        out_q = np.repeat(q_sel, n_m)
        out_n = np.tile(ids, n_q)
        out_c = cos.T.ravel()
        keep = out_n != out_q  # a vector is not its own neighbor
        return pd.DataFrame(
            {"q_vec_id": out_q[keep], "n_vec_id": out_n[keep], "cos_r": out_c[keep]}
        )

    cand = assigned.groupBy("cid").applyInPandas(
        cand_fn, "q_vec_id long, n_vec_id long, cos_r double"
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.desc("cos_r"), F.asc("n_vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("q_vec_id", "rank", "n_vec_id", "cos_r")
    )


# --- K15c: multimodal resize (stubbed codec, real Arrow plumbing) -------------


@query(
    "k15c_multimodal_resize",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             64 + doc_id % 193 AS w,
             64 + doc_id % 151 AS h,
             sha256(text) AS digest
      FROM documents
    ),
    r AS (
      SELECT doc_id, w, h,
             CASE WHEN GREATEST(w, h) <= 224 THEN w
                  ELSE (w * 224) // GREATEST(w, h) END AS new_w,
             CASE WHEN GREATEST(w, h) <= 224 THEN h
                  ELSE (h * 224) // GREATEST(w, h) END AS new_h,
             digest
      FROM m
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(new_w AS INT) AS new_width,
           CAST(new_h AS INT) AS new_height,
           md5(digest || '-' || CAST(new_w AS VARCHAR) || 'x'
               || CAST(new_h AS VARCHAR)) AS resized_fingerprint
    FROM r
    """,
)
def k15c_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage with the codec honestly stubbed (container has
    no image library — functions/multimodal.py:decode_image) but the
    Spark-side plumbing REAL: binary payloads + typed (width, height)
    metadata flow through an Arrow-batched ``mapInPandas`` whose worker
    computes the fit-within-224 target dimensions in pure integer
    arithmetic and a deterministic content fingerprint standing in for
    the resized bytes.  Swap the fingerprint lines for PIL decode +
    resize and the plan, schema, and batch shape are unchanged.

    Dimensions are synthesized from doc_id (identically in the SQL
    twin); the fingerprint is md5(sha256(payload) ± dims), computable
    on both engines because the fixture payload is the document's UTF-8
    bytes.  Map-only — no shuffle anywhere."""
    import hashlib

    from ..functions.multimodal import with_binary_payload

    media = with_binary_payload(
        load(spark, sf_dir, "documents")
    ).select("doc_id", "payload")

    schema = (
        "doc_id bigint, width int, height int, new_width int, "
        "new_height int, resized_fingerprint string"
    )

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            out = {
                "doc_id": [],
                "width": [],
                "height": [],
                "new_width": [],
                "new_height": [],
                "resized_fingerprint": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                doc_id = int(doc_id)
                w = 64 + doc_id % 193
                h = 64 + doc_id % 151
                m = max(w, h)
                if m <= 224:
                    nw, nh = w, h
                else:
                    nw, nh = (w * 224) // m, (h * 224) // m
                if payload is None:
                    # NULL payload → NULL fingerprint; dims stay (the
                    # oracle's sha256(NULL) || … is NULL too) (--nulls)
                    fp = None
                else:
                    digest = hashlib.sha256(bytes(payload)).hexdigest()
                    fp = hashlib.md5(
                        f"{digest}-{nw}x{nh}".encode()
                    ).hexdigest()
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["new_width"].append(nw)
                out["new_height"].append(nh)
                out["resized_fingerprint"].append(fp)
            yield pd.DataFrame(out)

    return media.mapInPandas(compute, schema)


# --- K51: PMI collocation mining (pointwise mutual information) ---------------

_PMI_MIN_COUNT = 20


@query(
    "k51_pmi_collocations",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    -- zipped UNNESTs of two shifted slices (each O(n) once per doc):
    -- the lateral t[i]/t[i+1] form replicates the token list per row,
    -- O(n^2) bytes on megabyte docs (--megadoc sweep finding, r10)
    bg AS (
      SELECT UNNEST(t[1:n-1]) AS w1, UNNEST(t[2:n]) AS w2
      FROM d WHERE n >= 2
    ),
    big AS (
      SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY w1, w2
    ),
    tot AS (SELECT SUM(c_xy) AS n_big FROM big),
    uni AS (
      SELECT word, SUM(c) AS c_w FROM (
        SELECT w1 AS word, COUNT(*) AS c FROM bg GROUP BY w1
        UNION ALL
        SELECT w2 AS word, COUNT(*) AS c FROM bg GROUP BY w2
      ) GROUP BY word
    )
    SELECT b.w1, b.w2, b.c_xy,
           ROUND(LN(b.c_xy * 2.0 * t.n_big / (u1.c_w * u2.c_w)), 6) AS pmi
    FROM big b
    JOIN uni u1 ON u1.word = b.w1
    JOIN uni u2 ON u2.word = b.w2
    CROSS JOIN tot t
    WHERE b.c_xy >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT 100
    """,
)
def k51_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information
    (Church & Hanks 1990): PMI(x,y) = ln(P(xy) / (P(x)P(y))) over
    adjacent-token bigrams, with unigram marginals counted over bigram
    slots (each word's occurrences as-left plus as-right, so the
    marginals sum to 2·N_bigrams and PMI uses c_xy·2N/(c_x·c_y)).

    Shape: one tokenize, one map-only adjacent-zip explode, keyed aggs
    for bigram and marginal counts; marginals and the bigram total are
    vocabulary-scale → broadcast joins.  The min-count floor prunes the
    long tail before the join (Zipf skew guard), and the top-100 is
    TakeOrderedAndProject on the ROUNDED pmi with a (w1, w2) tie-break.
    At 100 TB the only data-scale shuffle is the bigram count, keyed by
    the gram itself; salting d13-style would absorb stopword-pair skew.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("n", F.size("t"))
    )
    bg = (
        d.filter(F.col("n") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, F.col("n") - 1),
                    F.slice(F.col("t"), 2, F.col("n") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    tot = big.agg(F.sum("c_xy").alias("n_big"))
    uni = (
        big.select(F.col("w1").alias("word"), F.col("c_xy").alias("c"))
        .unionByName(big.select(F.col("w2").alias("word"), F.col("c_xy").alias("c")))
        .groupBy("word")
        .agg(F.sum("c").alias("c_w"))
    )
    return (
        big.filter(F.col("c_xy") >= _PMI_MIN_COUNT)
        .join(F.broadcast(uni.withColumnRenamed("word", "w1")
                          .withColumnRenamed("c_w", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("word", "w2")
                          .withColumnRenamed("c_w", "c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    F.col("c_xy") * 2.0 * F.col("n_big")
                    / (F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(100)
    )


# --- K52: per-document token entropy + type-token ratio -----------------------


@query(
    "k52_token_entropy",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, term, COUNT(*) AS c, ANY_VALUE(n) AS n
      FROM (SELECT doc_id, unnest(t) AS term, n FROM d)
      GROUP BY doc_id, term
    )
    SELECT doc_id,
           ANY_VALUE(n) AS n_tokens,
           COUNT(*) AS n_types,
           CAST((COUNT(*) * 2000000 + ANY_VALUE(n)) // (2 * ANY_VALUE(n))
                AS BIGINT) AS ttr_micro,
           ROUND(-SUM((c * 1.0 / n) * LN(c * 1.0 / n)), 6) + 0 AS entropy
    FROM cnt
    GROUP BY doc_id
    """,
)
def k52_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals: Shannon entropy of each
    document's unigram distribution (nats) and type-token ratio —
    low-entropy documents are the template/boilerplate tail that
    quality-filter pipelines drop alongside k24/k44 repetition scores.

    Shape: tokenize, one shuffle keyed (doc, term) with map-side
    partial counts, then a per-doc agg — both stages partition by
    doc_id at scale.  TTR is emitted as integer half-up micro-units
    (float-canonicalization-immune); entropy sums (c/n)·ln(c/n) terms
    whose inputs are integer ratios (IEEE-identical cross-engine) and
    rounds once at the end (6 dp).
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("n", F.size("t"))
    )
    cnt = (
        d.select("doc_id", "n", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"), F.first("n").alias("n"))
    )
    p = F.col("c") * 1.0 / F.col("n")
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.first("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.expr(
                "(n_types * CAST(2000000 AS BIGINT) + n_tokens)"
                " div (2 * n_tokens)"
            ).alias("ttr_micro"),
            "entropy",
        )
    )


# --- K54: containment near-dup (asymmetric — quote/subset detection) ----------

_CONT_N = 8  # word-gram width
_CONT_NUM, _CONT_DEN = 4, 5  # containment threshold 4/5 (integer compare)
_CONT_DF_CAP = 64  # drop boilerplate grams appearing in > this many docs


@query(
    "k54_containment_pairs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    -- one-pass 8-gram list via 8-way zip of shifted slices: the
    -- lateral list_slice form is O(n^2) on megabyte docs (r10 sweep)
    g AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               list_zip(t[1:n-7], t[2:n-6], t[3:n-5], t[4:n-4],
                        t[5:n-3], t[6:n-2], t[7:n-1], t[8:n]),
               s -> concat(s[1], ' ', s[2], ' ', s[3], ' ', s[4], ' ',
                           s[5], ' ', s[6], ' ', s[7], ' ', s[8])))) AS gram
      FROM d WHERE n >= {_CONT_N}
    ),
    keep AS (
      SELECT gram FROM g GROUP BY gram
      HAVING COUNT(*) <= {_CONT_DF_CAP}
    ),
    gk AS (SELECT g.* FROM g JOIN keep USING (gram)),
    sz AS (SELECT doc_id, COUNT(*) AS n_grams FROM gk GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
             COUNT(*) AS shared
      FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.contained_id, s.container_id, s.shared,
           sa.n_grams AS n_contained,
           CAST((s.shared * 2000000 + sa.n_grams) // (2 * sa.n_grams)
                AS BIGINT) AS containment_micro
    FROM shared s JOIN sz sa ON sa.doc_id = s.contained_id
    WHERE s.shared * {_CONT_DEN} >= {_CONT_NUM} * sa.n_grams
    """,
)
def k54_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (Broder's containment coefficient
    C(A,B) = |A∩B| / |A| over word 8-gram sets): finds documents whose
    gram set is ≥ 80% inside ANOTHER document — quotes, excerpts, and
    subset pages that symmetric-Jaccard dedup (k2/k18) misses because
    the size mismatch caps the Jaccard score.

    Shape: distinct (doc, gram) relation, a df-cap filter that drops
    boilerplate grams BEFORE the index join (the documented skew guard —
    same role as k18's rarest-gram prefix), then the inverted-index
    equi-join on gram and a keyed pair count — never all-pairs; every
    stage is keyed by gram or by the (contained, container) pair.  The
    threshold compare is pure-integer (shared·den ≥ num·|A|) and the
    reported fraction is half-up micro-units — no floats anywhere.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("n", F.size("t"))
    )
    g = (
        d.filter(F.col("n") >= _CONT_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n") - _CONT_N),
                    lambda i: F.array_join(
                        F.slice(F.col("t"), i + 1, _CONT_N), " "
                    ),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    keep = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _CONT_DF_CAP
    )
    gk = g.join(keep.select("gram"), "gram")
    sz = gk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = gk.select(F.col("doc_id").alias("contained_id"), "gram")
    b = gk.select(F.col("doc_id").alias("container_id"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sz.select(
                F.col("doc_id").alias("contained_id"),
                F.col("n_grams").alias("n_contained"),
            ),
            "contained_id",
        )
        .filter(
            F.col("shared") * _CONT_DEN >= _CONT_NUM * F.col("n_contained")
        )
        .select(
            "contained_id",
            "container_id",
            "shared",
            "n_contained",
            F.expr(
                "(shared * CAST(2000000 AS BIGINT) + n_contained)"
                " div (2 * n_contained)"
            ).alias("containment_micro"),
        )
    )


# --- K15d: multimodal audio-style overlapping segmentation --------------------


@query(
    "k15d_multimodal_segments",
    oracle="""
    WITH s AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             strlen(text) AS n_bytes,
             unnest(generate_series(
               0,
               CAST(least(10, greatest(1, ceil(strlen(text) / 120.0))) AS INT) - 1
             )) AS seg_index
      FROM documents
      WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(seg_index AS INT) AS seg_index,
           CAST(seg_index * 120 AS BIGINT) AS byte_offset,
           CAST(least(200, n_bytes - seg_index * 120) AS INT) AS seg_len,
           sha256(substring(hx, CAST(seg_index * 240 + 1 AS INT), 400))
             AS seg_sha256
    FROM s
    """,
)
def k15d_multimodal_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style OVERLAPPING segmentation (window 200 B, hop 120 B —
    consecutive segments share 80 bytes, the STFT framing every audio
    featurizer needs), completing the multimodal family: k15 decode
    features, k15b disjoint frames, k15c resize, k15d overlap windows.
    Per-batch Arrow fan-out in the worker (≤10 rows per payload, no
    join); digests stand in for the codec (functions/multimodal.py:35
    documents the container limitation), so the Spark-side plumbing —
    schema, batching, one-to-many shape — is real and value-hashed.
    """
    d = load(spark, sf_dir, "documents")
    return windowed_segments(
        with_binary_payload(d), window_bytes=200, hop_bytes=120, max_segments=10
    )


# --- K73: incremental dedup — new batch vs existing corpus --------------------


@query(
    "k73_incremental_dedup",
    oracle="""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
    exact AS (
      SELECT n.doc_id, COUNT(*) AS n_exact
      FROM newb n JOIN corpus c ON md5(n.text) = md5(c.text)
      GROUP BY n.doc_id
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      -- 3-way shifted zip, linear in len(t): the per-index t[i:i+2]
      -- slice re-sliced the token list per shingle -- O(n^2), hung the
      -- oracle on a 290k-token megadoc (r10 --megadoc sweep).  Short
      -- docs (len < 3) keep the original one-shingle whole-list form.
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
               list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
               x -> concat(x[1], ' ', x[2], ' ', x[3])
             ))
             ELSE [array_to_string(t, ' ')] END AS s
      FROM toks
    ),
    near AS (
      SELECT n.doc_id,
             COUNT(*) AS n_near,
             MAX(ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6))
               AS max_jaccard
      FROM newb n
      JOIN sh a ON a.doc_id = n.doc_id
      JOIN corpus c ON TRUE
      JOIN sh b ON b.doc_id = c.doc_id
      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
      GROUP BY n.doc_id
    )
    SELECT n.doc_id,
           CASE WHEN e.n_exact IS NOT NULL THEN 'exact_dup'
                WHEN nr.n_near IS NOT NULL THEN 'near_dup'
                ELSE 'keep' END AS decision,
           COALESCE(e.n_exact, 0) AS n_exact,
           COALESCE(nr.n_near, 0) AS n_near,
           nr.max_jaccard
    FROM newb n
    LEFT JOIN exact e ON e.doc_id = n.doc_id
    LEFT JOIN near nr ON nr.doc_id = n.doc_id
    """,
)
@holding
def k73_incremental_dedup(spark: SparkSession, sf_dir: str, held: Held) -> DataFrame:
    """Incremental (cross-corpus) dedup: the production shape where a
    NEW crawl batch is deduplicated AGAINST the already-accepted corpus
    rather than within itself — every incremental pretraining refresh
    runs this before admission.  Exact layer: content-hash equi-join
    (sha-class digest on the new side joined to the corpus digest
    table).  Near layer: the SAME MinHash-LSH banding as k2, with
    candidate pairs restricted to (new × corpus) and exact-verified at
    the k2 threshold; per new doc the decision ladder is
    exact_dup → near_dup → keep.

    Scale: at 100 TB the corpus digest/signature tables are incremental
    state (append-only parquet keyed by band bucket); a new batch only
    shuffles ITS OWN band keys against the bucket index — never
    re-pairing the corpus with itself (the within-corpus pair
    explosion k2 already handled is absent here by construction).
    Fixture split: even doc_ids = corpus, odd = new batch.
    """
    d = load(spark, sf_dir, "documents")
    newb = d.filter(F.col("doc_id") % 2 == 1)
    # r11 single-pass shape (guide §2.4/§5, r10 verdict item 2): the
    # exact-hash layer rides the SAME shingle_base scan as the near
    # layer (extra md5 column) instead of two more full-text scans.
    # The md5 pair join collapses to corpus-side hash counts joined to
    # the new side: COUNT(*) per new doc over matching corpus rows IS
    # the count of corpus docs sharing its hash (doc_id is unique), and
    # md5(NULL)=NULL never equi-joins, which the base's NULL-text
    # filter reproduces.  Hash family stays md5 — n_exact is OUTPUT
    # (the oracle counts md5 matches), unlike the engine-internal
    # candidate hashes.
    base = shingle_base(
        d, held, shingle_k=3, extra={"hx": F.md5(F.col("text"))}
    )
    corpus_counts = (
        base.filter(F.col("doc_id") % 2 == 0)
        .groupBy("hx")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    exact = (
        base.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "hx")
        .join(corpus_counts, "hx")
        .select("doc_id", "n_exact")
    )
    # exact-recall union (k2 note): boundary pairs escape banding;
    # r10: persisted-candidate pipeline shared with k2/k20/k62
    verified = verified_near_dup_pairs(
        d, held, shingle_k=3, threshold=0.5, base=base
    )
    cross = verified.filter((F.col("a") % 2) != (F.col("b") % 2)).select(
        F.when(F.col("a") % 2 == 1, F.col("a")).otherwise(F.col("b")).alias("doc_id"),
        "jaccard",
    )
    near = cross.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_near"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        newb.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("n_exact").isNotNull(), "exact_dup")
            .when(F.col("n_near").isNotNull(), "near_dup")
            .otherwise("keep")
            .alias("decision"),
            F.coalesce("n_exact", F.lit(0).cast("long")).alias("n_exact"),
            F.coalesce("n_near", F.lit(0).cast("long")).alias("n_near"),
            "max_jaccard",
        )
    )


# --- K80: Zipf-law fit of the corpus term-frequency distribution --------------


@query(
    "k80_zipf_fit",
    oracle="""
    WITH tf AS (
      SELECT t.term, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS term
            FROM documents) t
      WHERE t.term <> ''
      GROUP BY t.term
    ),
    ranked AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk
      FROM tf
    )
    SELECT COUNT(*) AS n_terms,
           CAST(ROUND(regr_slope(LN(CAST(freq AS DOUBLE)),
                                 LN(CAST(rnk AS DOUBLE))) * 1000)
                AS BIGINT) AS zipf_slope_milli,
           CAST(ROUND(regr_r2(LN(CAST(freq AS DOUBLE)),
                              LN(CAST(rnk AS DOUBLE))) * 1000000)
                AS BIGINT) AS r2_micro,
           MAX(freq) AS max_freq
    FROM ranked
    """,
)
def k80_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law conformance of the corpus: OLS slope of ln(term freq)
    on ln(rank) — natural text sits near slope −1; synthetic, spammy,
    or template-generated corpora bend away from it, which makes this
    single-row statistic a cheap whole-corpus quality gate (the
    Gopher/CCNet audits eyeball exactly this curve).

    Plan: token explode → term-frequency agg (the k7 shape, map-side
    partials), a global rank window ordered by (freq DESC, term) —
    deterministic ties — then one regression agg over (ln rank,
    ln freq).  The rank window is the one global-sort stage; at 100 TB
    the vocabulary (post-Zipf, ~millions of terms) is orders of
    magnitude smaller than the corpus, so the sort is on the SMALL
    derived table, not the data.  ln() cross-engine drift (≤1 ulp) is
    crushed by milli/micro integer rounding.
    """
    from pyspark.sql import Window

    tf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = tf.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), "term"))
        .alias("rnk"),
    )
    ln_f = F.log(F.col("freq").cast("double"))
    ln_r = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(ln_f, ln_r) * 1000)
        .cast("bigint")
        .alias("zipf_slope_milli"),
        F.round(F.regr_r2(ln_f, ln_r) * 1e6).cast("bigint").alias("r2_micro"),
        F.max("freq").alias("max_freq"),
    )


# --- K81: tokenizer fertility by language -------------------------------------


@query(
    "k81_tokenizer_fertility",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{TXT.TOKEN_REGEX}')))
                  AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(ROUND(CAST(SUM(len(regexp_extract_all(text,
                  '{TXT.TOKEN_REGEX}'))) AS DOUBLE)
                 / SUM(len(string_split(text, ' '))) * 1000000) AS BIGINT)
             AS fertility_micro
    FROM documents
    GROUP BY lang
    """,
)
def k81_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (tokens emitted per whitespace word) by
    language — the multilingual-tokenizer efficiency metric (fertility
    ≫ 1 for a language means its text costs proportionally more
    context window, the standard argument for rebalancing BPE merges).
    Reuses k12's BPE-ish token regex; per-language exact-integer sums
    and one identical IEEE division, micro-unit emitted.  Plan: one
    map-only token count + one 5-group agg with map-side partials —
    scale-free.
    """
    d = load(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(TXT.TOKEN_REGEX), 0))
    n_words = F.size(TXT.tokens("text"))
    return (
        d.select("lang", n_bpe.alias("nb"), n_words.alias("nw"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nb").alias("n_bpe_tokens"),
            F.sum("nw").alias("n_words"),
            F.round(
                F.sum("nb").cast("double") / F.sum("nw") * 1e6
            )
            .cast("bigint")
            .alias("fertility_micro"),
        )
    )


# --- K83: language-ID classifier metrics (precision / recall / F1) ------------


@query(
    "k83_langid_metrics",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    pred AS (
      SELECT lang AS actual_lang, {{argmax}} AS pred_lang FROM t
    ),
    cm AS (
      SELECT actual_lang, pred_lang, COUNT(*) AS n
      FROM pred GROUP BY actual_lang, pred_lang
    ),
    per AS (
      SELECT l.lang,
             COALESCE((SELECT n FROM cm
                       WHERE actual_lang = l.lang AND pred_lang = l.lang),
                      0) AS tp,
             CAST(COALESCE((SELECT SUM(n) FROM cm WHERE pred_lang = l.lang), 0) AS BIGINT)
               AS pred_n,
             CAST(COALESCE((SELECT SUM(n) FROM cm WHERE actual_lang = l.lang), 0) AS BIGINT)
               AS actual_n
      FROM (SELECT DISTINCT lang FROM documents) l
    )
    SELECT lang, tp, pred_n, actual_n,
           CAST(ROUND(CASE WHEN pred_n > 0
                           THEN CAST(tp AS DOUBLE) / pred_n ELSE 0 END
                      * 1000000) AS BIGINT) AS precision_micro,
           CAST(ROUND(CASE WHEN actual_n > 0
                           THEN CAST(tp AS DOUBLE) / actual_n ELSE 0 END
                      * 1000000) AS BIGINT) AS recall_micro,
           CAST(ROUND(CASE WHEN tp > 0
                           THEN 2.0 * tp / (pred_n + actual_n) ELSE 0 END
                      * 1000000) AS BIGINT) AS f1_micro
    FROM per
    """.replace("{argmax}", _argmax_lang_sql("toks")),
)
def k83_langid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the k10 language
    identifier against the labeled corpus — the classifier-evaluation
    readout every curation pipeline publishes next to its filters
    (F1 = 2·tp / (pred_n + actual_n), the harmonic form that avoids
    the 0/0 edge).  All metrics are exact-integer ratios divided once
    (identical doubles both engines), micro-unit emitted.  Plan: one
    map-only prediction pass, a |langs|² confusion agg, then marginal
    sums over the TINY matrix (broadcast-scale) — the fact stream is
    touched exactly once.
    """
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        TXT.tokens("text").alias("toks"),
    )
    scores = {
        lang: TXT.lexicon_score(F.col("toks"), TXT.LANG_LEXICONS[lang])
        for lang in _LANGS
    }
    greatest = F.greatest(*scores.values())
    pred = F.when(scores[_LANGS[0]] == greatest, _LANGS[0])
    for lang in _LANGS[1:]:
        pred = pred.when(scores[lang] == greatest, lang)
    cm = (
        t.select("actual_lang", pred.alias("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    langs = d.select(F.col("lang")).distinct()
    tp = cm.filter(F.col("actual_lang") == F.col("pred_lang")).select(
        F.col("actual_lang").alias("lang"), F.col("n").alias("tp")
    )
    pred_m = cm.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n").alias("pred_n")
    )
    act_m = cm.groupBy(F.col("actual_lang").alias("lang")).agg(
        F.sum("n").alias("actual_n")
    )
    per = (
        langs.join(tp, "lang", "left")
        .join(pred_m, "lang", "left")
        .join(act_m, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("pred_n", F.lit(0)).alias("pred_n"),
            F.coalesce("actual_n", F.lit(0)).alias("actual_n"),
        )
    )
    prec = F.when(
        F.col("pred_n") > 0, F.col("tp").cast("double") / F.col("pred_n")
    ).otherwise(0.0)
    rec = F.when(
        F.col("actual_n") > 0, F.col("tp").cast("double") / F.col("actual_n")
    ).otherwise(0.0)
    f1 = F.when(
        F.col("tp") > 0,
        2.0 * F.col("tp") / (F.col("pred_n") + F.col("actual_n")),
    ).otherwise(0.0)
    return per.select(
        "lang",
        "tp",
        "pred_n",
        "actual_n",
        F.round(prec * 1e6).cast("bigint").alias("precision_micro"),
        F.round(rec * 1e6).cast("bigint").alias("recall_micro"),
        F.round(f1 * 1e6).cast("bigint").alias("f1_micro"),
    )


# --- K85: out-of-vocabulary rate against a top-V vocabulary --------------------

_K85_V = 1000  # vocabulary budget


@query(
    "k85_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, COUNT(*) AS freq,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rk
        FROM toks GROUP BY term
      ) WHERE rk <= {_K85_V}
    ),
    per_doc AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             COUNT(*) FILTER (WHERE v.term IS NULL) AS n_oov
      FROM toks t LEFT JOIN vocab v ON v.term = t.term
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, n_oov,
           CAST(ROUND(CAST(n_oov AS DOUBLE) / n_tokens * 1000000)
                AS BIGINT) AS oov_micro
    FROM per_doc
    """,
)
def k85_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-{_K85_V} vocabulary — the tokenizer-coverage audit that pairs
    with k81's fertility: docs with high OOV under the production
    vocab will fragment into byte-fallback tokens and waste context
    window, so curation pipelines gate or re-route them.

    Vocabulary selection is deterministic (freq DESC, term ties) and
    the rate is an exact integer ratio.  Plan: one token explode
    feeding BOTH the vocab build (vocabulary-sized agg + top-V rank)
    and the per-doc membership LEFT JOIN against the BROADCAST vocab
    — at 100 TB the vocab side stays tiny post-Zipf while the token
    stream is touched twice (or once with a cached explode).
    """
    from pyspark.sql import Window

    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "term",
            F.row_number()
            .over(Window.orderBy(F.col("freq").desc(), "term"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= _K85_V)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov").cast("double") / F.col("n_tokens") * 1e6)
        .cast("bigint")
        .alias("oov_micro"),
    )
