"""Data-selection tier: quality-aware cluster representatives, DSIR
importance resampling, and span-corruption example building.

These close the gap between *detecting* redundancy/quality (k2/k18/k56)
and *deciding what the training set actually contains* — the selection
policies production pretraining pipelines run after the detectors
(reference file:line n/a — the reference tree is empty, SURVEY §0.1;
the contract is SURVEY §2.K):

- k62 best-of-cluster representative: near-dup clusters keep the
  HIGHEST-QUALITY member, not the lowest id.  Every dedup paper's
  "keep one per cluster" step has a policy knob; min-id is an
  arbitrary tiebreak, while production filters keep the copy with the
  best quality signal (here: type-token ratio in integer micro-units).
- k63 DSIR importance weights (Xie et al. 2023, "Data Selection for
  Language Models via Importance Resampling", arXiv:2302.03169):
  hashed unigram features, target-vs-raw bucket distributions with
  add-one smoothing, per-doc log importance weight
  Σ_b c_b · ln(p_target[b]/p_raw[b]), top-k selection.  The public
  recipe for "make the crawl look like the target domain".
- k67 T5-style span corruption (Raffel et al. 2020, arXiv:1910.10683
  §3.1.4): deterministic sentinel-masked (input, target) pair per
  document — the seq2seq denoising objective's data layout, built
  engine-reproducibly (md5-derived span start, no RNG).

Scale notes: every step is either map-only or a single keyed shuffle;
cluster resolution reuses the pointer-doubling connected-components
kernel (operators/dedup.py); DSIR's bucket tables are fixed-width (128
rows) and broadcast — at 100 TB the only data-scale shuffles are the
per-(doc, bucket) count and the final top-k (TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..operators.dedup import dedup_clusters, verified_near_dup_pairs
from ..registry import query
from ..session import Held, holding
from .llm import K2_ORACLE

# Integer type-token ratio: micro-units via integer division, so both
# engines agree bit-for-bit (Spark `div` and DuckDB `//` both truncate).
_TTR_MICRO_SQL = (
    "(1000000 * len(list_distinct(string_split(text, ' '))))"
    " // len(string_split(text, ' '))"
)


# --- K62: quality-aware cluster representative selection ----------------------


@query(
    "k62_cluster_best_keeper",
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
    ),
    clus AS (
      SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster_id
      FROM reach
      GROUP BY id
    ),
    q AS (
      SELECT doc_id, {_TTR_MICRO_SQL} AS ttr_micro FROM documents
    ),
    m AS (
      SELECT c.doc_id, c.cluster_id, q.ttr_micro
      FROM clus c JOIN q USING (doc_id)
    )
    SELECT doc_id, cluster_id, ttr_micro,
           FIRST_VALUE(doc_id) OVER (
             PARTITION BY cluster_id
             ORDER BY ttr_micro DESC, doc_id
           ) AS rep_doc_id,
           doc_id = FIRST_VALUE(doc_id) OVER (
             PARTITION BY cluster_id
             ORDER BY ttr_micro DESC, doc_id
           ) AS is_rep
    FROM m
    """,
)
@holding
def k62_cluster_best_keeper(spark: SparkSession, sf_dir: str, held: Held) -> DataFrame:
    """Near-dup cluster resolution with a QUALITY keeper policy: each
    connected component of the verified near-dup graph (k2's
    MinHash-LSH pipeline, t=0.5) elects the member with the highest
    type-token ratio (ties → lowest doc_id) as its representative.

    This is k20 with the policy knob production pipelines actually use:
    "keep one per cluster" should keep the *best* copy (least
    boilerplate-damaged, least truncated), not an arbitrary min-id.

    Plan: LSH banding (keyed shuffles on band signatures) → exact
    verify → pointer-doubling CC (O(log diameter) keyed rounds,
    operators/dedup.py:153) → one window per cluster for the argmax.
    Quality is integer micro-units (`div`), so the argmax order is
    engine-exact with no float tie hazards.  Clusters are near-dup-
    sized (small by construction), so the per-cluster window never
    sees a skewed partition at any corpus size.
    """
    d = load(spark, sf_dir, "documents")
    # exact-recall union (llm.py k2 note): boundary pairs escape
    # banding; r10: persisted-candidate pipeline shared with k2/k20/k73.
    # Its shingle base and dedup_clusters' final label round stay held
    # until the result is dropped (the distributed path reads that round).
    pairs = verified_near_dup_pairs(d, held, shingle_k=3, threshold=0.5)
    clusters = dedup_clusters(pairs, held).withColumnRenamed(
        "cluster_keeper", "cluster_id"
    )
    quality = d.select(
        "doc_id",
        # 1000000L: size() is INT and a megadoc's distinct-token count
        # overflows the int32 multiply under ANSI (r10 --megadoc); the
        # long literal widens the arithmetic without changing the
        # (already-BIGINT) div output type or any in-range value.
        F.expr(
            "(1000000L * size(array_distinct(split(text, ' '))))"
            " div size(split(text, ' '))"
        ).alias("ttr_micro"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("ttr_micro"), F.asc("doc_id")
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rep_doc_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "cluster_id",
            "ttr_micro",
            "rep_doc_id",
            (F.col("doc_id") == F.col("rep_doc_id")).alias("is_rep"),
        )
    )


# --- K63: DSIR hashed-ngram importance weights --------------------------------

_DSIR_BUCKETS = 128
_DSIR_TOPK = 100


@query(
    "k63_dsir_importance",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(tok), 1, 4)) AS INT) % {_DSIR_BUCKETS}
               AS b
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ),
    db AS (
      SELECT doc_id, lang, b, COUNT(*) AS c
      FROM feat GROUP BY doc_id, lang, b
    ),
    tgt AS (
      SELECT b, COUNT(*) AS ct FROM feat WHERE lang = 'en' GROUP BY b
    ),
    raw AS (SELECT b, COUNT(*) AS cr FROM feat GROUP BY b),
    tot AS (
      SELECT (SELECT COUNT(*) FROM feat WHERE lang = 'en') AS nt,
             (SELECT COUNT(*) FROM feat) AS nr
    ),
    lr AS (
      SELECT raw.b,
             ROUND(LN(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
                      * (tot.nr + {_DSIR_BUCKETS})
                      / ((raw.cr + 1)
                         * (tot.nt + {_DSIR_BUCKETS}))), 6) AS logratio
      FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot
    ),
    sc AS (
      SELECT db.doc_id, db.lang,
             SUM(db.c) AS n_tokens,
             ROUND(CAST(SUM(CAST(db.c AS DECIMAL(12,0))
                            * CAST(lr.logratio AS DECIMAL(20,6)))
                        AS DOUBLE), 4) AS logw
      FROM db JOIN lr USING (b)
      WHERE db.lang <> 'en'
      GROUP BY db.doc_id, db.lang
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, logw, rk
    FROM (
      SELECT sc.*,
             ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id) AS rk
      FROM sc
    )
    WHERE rk <= {_DSIR_TOPK}
    """,
)
def k63_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (Xie et al. 2023,
    arXiv:2302.03169): score every non-target document by how much its
    hashed-unigram feature distribution looks like the TARGET domain
    (here lang='en') relative to the RAW pool, and keep the top 100.

    log w(doc) = Σ_b c_doc[b] · ln(p_target[b] / p_raw[b]) with
    add-one smoothing over 128 hash buckets; md5-derived bucketing so
    both engines hash tokens identically.

    Plan: tokenize + bucket map-only → ONE data-scale keyed shuffle
    (per-(doc, bucket) counts with map-side partials) → bucket tables
    are fixed 128 rows (broadcast joined back, never a shuffle) → one
    per-doc agg → TakeOrderedAndProject top-k.  Float discipline:
    ln-ratio rounded 6 dp per bucket (integer-rational argument, same
    on both engines), exact decimal dot-product, final round 4 dp —
    the k55 recipe.  At 100 TB nothing here scales past the corpus's
    (doc, bucket) relation, which is ≤128× doc count.
    """
    d = load(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.col("tok").cast("binary")), 1, 4), 16, 10
            ).cast("int")
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    db = feat.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("c"))
    tgt = (
        feat.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    raw = feat.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tot = feat.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
        F.count(F.lit(1)).alias("nr"),
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    * (F.col("nr") + _DSIR_BUCKETS)
                    / (
                        (F.col("cr") + 1)
                        * (F.col("nt") + _DSIR_BUCKETS)
                    )
                ),
                6,
            ).alias("logratio"),
        )
    )
    sc = (
        db.filter(F.col("lang") != "en")
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("c").cast("decimal(12,0)")
                    * F.col("logratio").cast("decimal(20,6)")
                ).cast("double"),
                4,
            ).alias("logw"),
        )
    )
    # TakeOrderedAndProject first (distributed top-k), THEN rank the 100
    # survivors — a global row_number window would sort all docs in ONE
    # partition, which dies at corpus scale.
    top = sc.orderBy(F.desc("logw"), F.asc("doc_id")).limit(_DSIR_TOPK)
    w = Window.orderBy(F.desc("logw"), F.asc("doc_id"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "lang", "n_tokens", "logw", "rk"
    )


# --- K67: T5-style span corruption ---------------------------------------------

_SPAN_LEN = 3


@query(
    "k67_span_corruption",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    e AS (
      SELECT doc_id, t, n,
             1 + (CAST(('0x' || substr(md5('span:' || CAST(doc_id AS VARCHAR)),
                                       1, 4)) AS INT)
                  % (n - {_SPAN_LEN})) AS s
      FROM d
      WHERE n >= 8
    )
    SELECT doc_id, n AS n_tokens, s AS span_start,
           array_to_string(
             list_concat(list_concat(t[1:s - 1], ['<X>']), t[s + {_SPAN_LEN}:n]),
             ' ') AS input_text,
           '<X> ' || array_to_string(t[s:s + {_SPAN_LEN} - 1], ' ')
             AS target_text
    FROM e
    """,
)
def k67_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption example builder (Raffel et al. 2020,
    arXiv:1910.10683 §3.1.4): mask one 3-token span per document with a
    sentinel, emitting the (input_text, target_text) pair the seq2seq
    denoising objective trains on.

    The span start is md5-derived from doc_id (uniform over valid
    offsets, identical on both engines) — the RNG-free discipline every
    sampling operator in this repo uses (k21/k28/k53).  Docs under 8
    tokens are skipped (too short to corrupt meaningfully).

    Plan: pure map-only column expressions — split, integer-hash
    offset, array slices, concat.  Zero shuffles; at 100 TB this is a
    scan-speed transform that pipelines into the tokenizer stage.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= 8)
    )
    s = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("span:"), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % (F.col("n") - _SPAN_LEN)
        + 1
    )
    e = d.withColumn("s", s)
    head = F.slice(F.col("t"), 1, F.col("s") - 1)
    tail = F.slice(
        F.col("t"), F.col("s") + _SPAN_LEN, F.col("n") - F.col("s") - (_SPAN_LEN - 1)
    )
    span = F.slice(F.col("t"), F.col("s"), _SPAN_LEN)
    return e.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("s").alias("span_start"),
        F.array_join(
            F.concat(head, F.array(F.lit("<X>")), tail), " "
        ).alias("input_text"),
        F.concat(F.lit("<X> "), F.array_join(span, " ")).alias("target_text"),
    )


# --- K64: CCNet-style perplexity bucketing ------------------------------------

_CCNET_Q = (0.3333333333333333, 0.6666666666666666)


@query(
    "k64_ccnet_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
    scored AS (
      SELECT t.doc_id, t.lang,
             ROUND(LN(CAST(f.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)), 6)
               AS logp
      FROM tok t JOIN freq f ON f.w = t.w, tot
    ),
    per_doc AS (
      SELECT doc_id, lang,
             ROUND(CAST(SUM(CAST(logp AS DECIMAL(30,6))) AS DOUBLE)
                   / COUNT(*), 4) AS logprob
      FROM scored GROUP BY doc_id, lang
    ),
    cuts AS (
      SELECT lang,
             ROUND(quantile_cont(logprob, {_CCNET_Q[0]}), 6) AS cut_lo,
             ROUND(quantile_cont(logprob, {_CCNET_Q[1]}), 6) AS cut_hi
      FROM per_doc GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.logprob,
           CASE WHEN d.logprob <= c.cut_lo THEN 'tail'
                WHEN d.logprob <= c.cut_hi THEN 'middle'
                ELSE 'head' END AS bucket
    FROM per_doc d JOIN cuts c USING (lang)
    """,
)
def k64_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): score each document by LM log-probability
    (k35's unigram proxy) and split each language into head / middle /
    tail terciles — the exact artifact CCNet ships per CommonCrawl
    snapshot, and the standard coarse-to-fine curation knob (train on
    head+middle, drop tail).

    Per-lang cutpoints are EXACT percentiles (Spark `percentile` ≡
    DuckDB `quantile_cont`, the t3/t9 equivalence), rounded 6 dp
    before the bucket compare so both engines bucket the same rounded
    4-dp scores against the same rounded cuts — no float boundary
    hazard.

    Plan: explode → vocab agg broadcast back (Zipf-bounded) → per-doc
    agg → per-lang percentile agg (#langs rows, broadcast back) →
    map-only bucket CASE.  Two data-scale keyed shuffles total (token
    stream, per-doc); everything else is dimension-sized.
    """
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("long").alias("total"))
    scored = (
        tok.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "lang",
            F.round(
                F.log(
                    F.col("cnt").cast("double")
                    / F.col("total").cast("double")
                ),
                6,
            ).alias("logp"),
        )
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.round(
            F.sum(F.col("logp").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("logprob")
    )
    cuts = per_doc.groupBy("lang").agg(
        F.round(
            F.expr(f"percentile(logprob, {_CCNET_Q[0]})"), 6
        ).alias("cut_lo"),
        F.round(
            F.expr(f"percentile(logprob, {_CCNET_Q[1]})"), 6
        ).alias("cut_hi"),
    )
    return per_doc.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "logprob",
        F.when(F.col("logprob") <= F.col("cut_lo"), "tail")
        .when(F.col("logprob") <= F.col("cut_hi"), "middle")
        .otherwise("head")
        .alias("bucket"),
    )


# --- K70: contrastive (query, positive, negative) triplet mining --------------

_ICT_BUCKETS = 64


@query(
    "k70_contrastive_triplets",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    halves AS (
      SELECT doc_id, n,
             md5(array_to_string(t[1:n // 2], ' ')) AS query_md5,
             md5(array_to_string(t[n // 2 + 1:n], ' ')) AS pos_md5,
             CAST(('0x' || substr(md5('b:' || CAST(doc_id AS VARCHAR)),
                                  1, 4)) AS INT) % {_ICT_BUCKETS} AS b,
             1 + CAST(('0x' || substr(md5('o:' || CAST(doc_id AS VARCHAR)),
                                      1, 4)) AS INT)
                 % ({_ICT_BUCKETS} - 1) AS off
      FROM d WHERE n >= 4
    ),
    reps AS (
      SELECT b, MIN(doc_id) AS rep_id FROM halves GROUP BY b
    ),
    repctx AS (
      SELECT r.b, r.rep_id,
             md5(array_to_string(d.t[d.n // 2 + 1:d.n], ' ')) AS rep_md5
      FROM reps r JOIN d ON d.doc_id = r.rep_id
    )
    SELECT h.doc_id, h.n AS n_tokens, h.query_md5, h.pos_md5,
           rc.rep_id AS neg_doc_id, rc.rep_md5 AS neg_md5
    FROM halves h
    JOIN repctx rc ON rc.b = (h.b + h.off) % {_ICT_BUCKETS}
    """,
)
def k70_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse Cloze Task triplet mining (Lee et al. 2019,
    arXiv:1906.00300): for each document, the first half is the QUERY,
    the second half the POSITIVE context, and a deterministically
    drawn other document's context the NEGATIVE — the (q, d+, d-)
    layout retrieval/embedding training consumes.

    Negatives avoid any global numbering (a row_number over the corpus
    would single-partition-sort at scale): docs hash into 64 md5
    buckets, each bucket elects a min-id representative (a 64-row
    broadcast table), and each anchor pairs with the representative of
    a DIFFERENT md5-offset bucket (offset ∈ [1, 63] can never be 0, so
    the negative is never the anchor's own bucket).  Texts travel as
    md5 digests, not bodies — the shuffle carries 32-byte keys.

    Plan: map-only halves/digests → one 64-row agg + broadcast join.
    RNG-free throughout (md5-derived bucket and offset).
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= 4)
    )

    def _h(prefix: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")

    halves = d.select(
        "doc_id",
        "n",
        F.md5(
            F.array_join(
                F.slice(F.col("t"), 1, F.expr("n div 2")), " "
            ).cast("binary")
        ).alias("query_md5"),
        F.md5(
            F.array_join(
                F.expr("slice(t, n div 2 + 1, n - n div 2)"), " "
            ).cast("binary")
        ).alias("pos_md5"),
        (_h("b:") % _ICT_BUCKETS).alias("b"),
        (1 + _h("o:") % (_ICT_BUCKETS - 1)).alias("off"),
    )
    reps = (
        halves.groupBy("b")
        .agg(F.min("doc_id").alias("rep_id"))
        .withColumnRenamed("b", "nb")
    )
    repctx = reps.join(
        d.select(
            F.col("doc_id").alias("rep_id"),
            F.md5(
                F.array_join(
                    F.expr("slice(t, n div 2 + 1, n - n div 2)"), " "
                ).cast("binary")
            ).alias("rep_md5"),
        ),
        "rep_id",
    )
    return (
        halves.join(
            F.broadcast(repctx),
            F.col("nb") == (F.col("b") + F.col("off")) % _ICT_BUCKETS,
        )
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            "query_md5",
            "pos_md5",
            F.col("rep_id").alias("neg_doc_id"),
            F.col("rep_md5").alias("neg_md5"),
        )
    )
