"""Time-series / data-cleaning operators over the events stream table:
gap-filling resample, z-score outlier flagging, winsorization.

Classic observability/feature-engineering shapes (reference file:line
n/a — empty tree §0.1) that a production events pipeline runs between
raw ingestion and modeling:

- t1 resample + gap-fill: regularize an irregular event stream onto a
  daily grid per user, zero-filling silent days — `sequence()` +
  explode + left join, the dense-grid prerequisite for rolling
  features (E6/E7) and forecasting.
- t2 z-score outliers: per-type standardization with outlier counts —
  one grouped aggregation broadcast back onto the stream.
- t3 winsorization: clip to the exact [p05, p95] per-type band before
  aggregating — robust statistics without dropping rows.

Scale notes: every op is one or two keyed aggregations plus a
broadcastable stats side; the dense grid in t1 fans out rows but is
generated executor-side (no driver materialization).  At 100 TB the
per-user grid join stays partition-local after one shuffle on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exprs import fsum, fsum_over_sql, fsum_sql
from ..registry import query

# --- T1: resample to a daily grid with gap-fill -------------------------------


@query(
    "t1_resample_gapfill",
    oracle="""
    WITH p AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n_events,
             """ + fsum_sql("value", "day_value") + """
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id, day
    ),
    spans AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM p GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM spans
    )
    SELECT g.user_id, g.day,
           COALESCE(p.n_events, 0) AS n_events,
           COALESCE(p.day_value, 0.0) AS day_value,
           p.n_events IS NULL AS is_gap
    FROM grid g LEFT JOIN p ON p.user_id = g.user_id AND p.day = g.day
    """,
)
def t1_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each user's purchase history onto a contiguous daily
    grid from their first to last purchase, zero-filling silent days.
    The grid is `explode(sequence(d0, d1, interval 1 day))` — generated
    per user on executors, joined back on (user_id, day).  Downstream
    rolling windows (E6/E7) require exactly this densification."""
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fsum("value", "day_value"),
        )
    )
    grid = (
        p.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    return grid.join(p, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
        F.col("n_events").isNull().alias("is_gap"),
    )


# --- T2: z-score outlier flagging ---------------------------------------------


@query(
    "t2_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type, AVG(value) AS mu,
             CASE WHEN COUNT(CASE WHEN isnan(value) OR isinf(value)
                                  THEN 1 END) > 0
                  THEN CAST('nan' AS DOUBLE)
                  ELSE STDDEV_SAMP(CASE WHEN isfinite(value)
                                        THEN value END)
             END AS sigma,
             COUNT(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT s.event_type, s.n,
           ROUND(s.mu, 4) AS mu,
           ROUND(s.sigma, 4) AS sigma,
           CAST(SUM(CASE WHEN ABS((e.value - s.mu) / s.sigma) > 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MAX(ABS((e.value - s.mu) / s.sigma)), 4) AS max_abs_z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    GROUP BY s.event_type, s.n, s.mu, s.sigma
    """,
)
def t2_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type standardization: z = (value − μ)/σ with |z| > 3 flagged.
    Stats are one grouped agg over 5 groups — broadcast back onto the
    stream, so the outlier pass is map-only after one shuffle.  μ/σ/z
    are order-sensitive doubles → rounded on both sides (registry float
    discipline)."""
    e = load(spark, sf_dir, "events")
    # σ convention, pinned on both engines (--extreme sweep): a group
    # containing any NaN/±Inf has σ = NaN (DuckDB's STDDEV kernel throws
    # "out of range" on Inf; Spark's returns NaN — neither is portable,
    # so the non-finite case is made explicit and identical)
    v = F.col("value")
    nonfinite = F.isnan(v) | (v == F.lit(float("inf"))) | (v == F.lit(float("-inf")))
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.when(F.count(F.when(nonfinite, 1)) > 0, F.lit(float("nan")))
        .otherwise(F.stddev_samp(F.when(~nonfinite, v)))
        .alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    # try_divide: a constant-valued type has σ = 0 — its z-scores are
    # NULL (DuckDB x/0 → NULL), not an ANSI DIVIDE_BY_ZERO crash; the
    # NULL z then counts 0 outliers and a NULL max on both engines
    z = F.abs(F.try_divide(F.col("value") - F.col("mu"), F.col("sigma")))
    return (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n", "mu", "sigma")
        .agg(
            F.sum(F.when(z > 3, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.round(F.max(z), 4).alias("max_abs_z"),
        )
        .select(
            "event_type",
            "n",
            F.round("mu", 4).alias("mu"),
            F.round("sigma", 4).alias("sigma"),
            "n_outliers",
            "max_abs_z",
        )
    )


# --- T3: winsorization (clip to exact per-group percentile band) --------------


@query(
    "t3_winsorize",
    oracle="""
    WITH bands AS (
      SELECT event_type,
             quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.05) AS p05,
             quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(b.p05, 6) AS p05,
           ROUND(b.p95, 6) AS p95,
           CAST(SUM(CASE WHEN e.value < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN e.value > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           """ + fsum_sql("CASE WHEN NOT isfinite(e.value) THEN e.value "
                          "ELSE GREATEST(b.p05, LEAST(b.p95, e.value)) END",
                          "winsorized_sum") + """
    FROM events e JOIN bands b ON b.event_type = e.event_type
    GROUP BY e.event_type, b.p05, b.p95
    """,
)
def t3_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize: clamp values into the exact per-type [p05, p95] band
    (Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition, so the band edges agree bit-for-bit —
    same pairing d10 relies on).  The robust-statistics alternative to
    dropping outlier rows; clipped sum uses the exact-decimal
    discipline."""
    e = load(spark, sf_dir, "events")
    # band convention, pinned on both engines (--extreme sweep): the
    # [p05, p95] band is computed over FINITE values only (Spark sorts
    # NaN greatest, DuckDB's quantile places it differently — excluding
    # non-finites is the only portable definition), and a non-finite
    # value passes through unclipped into the non-finite-faithful sum
    finite_v = F.expr(
        "CASE WHEN isnan(value) OR value = CAST('Infinity' AS DOUBLE)"
        " OR value = CAST('-Infinity' AS DOUBLE) THEN NULL ELSE value END"
    )
    bands = e.groupBy("event_type").agg(
        F.percentile(finite_v, F.lit(0.05)).alias("p05"),
        F.percentile(finite_v, F.lit(0.95)).alias("p95"),
    )
    v = F.col("value")
    nonfinite = F.isnan(v) | (v == F.lit(float("inf"))) | (v == F.lit(float("-inf")))
    clipped = F.when(nonfinite, v).otherwise(
        F.greatest(F.col("p05"), F.least(F.col("p95"), v))
    )
    return (
        e.join(F.broadcast(bands), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_high"),
            fsum(clipped, "winsorized_sum"),
        )
        .select(
            "event_type",
            F.round("p05", 6).alias("p05"),
            F.round("p95", 6).alias("p95"),
            "n_clipped_low",
            "n_clipped_high",
            "winsorized_sum",
        )
    )


# --- T4: OHLC downsampling (open/high/low/close per day) ----------------------


@query(
    "t4_ohlc_downsample",
    oracle="""
    WITH e AS (
      -- an undated tick belongs to no bar (fuzz sweep, seed 99)
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, ts, event_id, value
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    ),
    r AS (
      SELECT day, value,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY ts ASC,  event_id ASC)  AS rna,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY ts DESC, event_id DESC) AS rnd
      FROM e
    )
    SELECT day,
           MAX(CASE WHEN rna = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rnd = 1 THEN value END) AS close,
           COUNT(*) AS n_events,
           """ + fsum_sql("value", "volume") + """
    FROM r
    GROUP BY day
    """,
)
def t4_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling: first/max/min/last value per day with a
    deterministic (ts, event_id) tiebreak.  Spark side uses
    `min_by`/`max_by` over a struct key — ONE hash aggregation, no
    window pass at all (the oracle needs ROW_NUMBER CTEs only because
    DuckDB's arg_min lacks composite keys).  The canonical time-series
    compaction: at 100 TB it is a single keyed shuffle."""
    e = (
        load(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.struct("ts", "event_id").alias("k"),
            "value",
        )
    )
    return e.groupBy("day").agg(
        F.min_by("value", F.col("k")).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", F.col("k")).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        fsum("value", "volume"),
    )


# --- T5: batch sessionization (gap-based session ids via windows) -------------

_GAP_S = 1800  # 30-minute inactivity gap


@query(
    "t5_sessionize_batch",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > {_GAP_S}
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           MAX(n_events) AS longest_session
    FROM per_session
    GROUP BY user_id
    """,
)
def t5_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch: a session break is >{_GAP_S}s
    of inactivity; session ids are a running sum of break flags — the
    lag + cumulative-sum window idiom (the batch twin of the stateful
    streaming sessionizer i6/i6b, which must agree with this on replay).
    Two window passes over one user_id shuffle, then two small aggs."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NULL-timestamp convention (events_streams.py SESSION_SQL note):
    # a timeless event belongs to no session on either engine
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id")
    )
    flagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > _GAP_S
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.max("n_events").alias("longest_session"),
    )


# --- T6: linear interpolation of gap days -------------------------------------


@query(
    "t6_interpolate",
    oracle="""
    WITH p AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             """ + fsum_sql("value", "day_value") + """
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id, day
    ),
    spans AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM p GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM spans
    ),
    g AS (
      SELECT grid.user_id, grid.day, p.day_value,
             p.day_value IS NOT NULL AS observed
      FROM grid LEFT JOIN p ON p.user_id = grid.user_id AND p.day = grid.day
    ),
    ctx AS (
      SELECT user_id, day, day_value, observed,
             LAST_VALUE(day_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS pv,
             LAST_VALUE(CASE WHEN observed THEN day END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS pd,
             FIRST_VALUE(day_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN observed THEN day END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM g
    )
    SELECT user_id, day,
           CASE WHEN observed THEN ROUND(day_value, 6)
                ELSE ROUND(pv + (nv - pv) * (day - pd) * 1.0 / (nd - pd), 6)
           END AS value_interp,
           CAST(NOT observed AS INT) AS was_gap
    FROM ctx
    """,
)
def t6_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of silent days on the per-user daily grid:
    where t1 zero-fills, t6 draws the line between the previous and
    next OBSERVED day (pandas `interpolate(method='time')` semantics,
    distributed).  Forward/backward context comes from two running
    windows (`last ignorenulls` ascending, `first ignorenulls` over the
    following frame) — one shuffle on user_id, each user's timeline
    sorted once within its partition; no self-join against observed
    rows.  Grid edges are always observed (the span runs first→last
    purchase), so the divisor (nd - pd) is never NULL on gap rows.
    Interpolated doubles round to 6 dp on both engines (division order
    differs across libms)."""
    from pyspark.sql import Window

    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(fsum("value", "day_value"))
    )
    grid = (
        p.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    g = grid.join(p, ["user_id", "day"], "left").withColumn(
        "observed", F.col("day_value").isNotNull()
    )
    wb = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("observed"), F.col("day"))
    ctx = g.select(
        "user_id",
        "day",
        "day_value",
        "observed",
        F.last("day_value", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("day_value", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        F.col("day"), F.col("pd")
    ) / F.datediff(F.col("nd"), F.col("pd"))
    return ctx.select(
        "user_id",
        "day",
        F.when(F.col("observed"), F.round(F.col("day_value"), 6))
        .otherwise(F.round(interp, 6))
        .alias("value_interp"),
        (~F.col("observed")).cast("int").alias("was_gap"),
    )


# --- T7: interpolated as-of join (ticks × quotes, union-merge) ----------------


@query(
    "t7_asof_interpolated",
    oracle="""
    WITH ev AS (
      -- NULL-timestamp convention: timeless quotes and ticks are off
      -- the timeline on both engines (--nulls sweep)
      SELECT user_id, event_type, value, epoch_us(ts) AS tus FROM events
      WHERE ts IS NOT NULL
    ),
    quotes AS (
      SELECT user_id, tus,
             """ + fsum_sql("value", "qv") + """
      FROM ev WHERE event_type = 'purchase'
      GROUP BY user_id, tus
    ),
    u AS (
      SELECT user_id, tus, 0 AS side, qv FROM quotes
      UNION ALL
      SELECT user_id, tus, 1 AS side, NULL AS qv
      FROM ev WHERE event_type = 'click'
    ),
    ctx AS (
      SELECT user_id, tus, side,
             LAST_VALUE(qv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, side
               ROWS UNBOUNDED PRECEDING) AS pv,
             LAST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, side
               ROWS UNBOUNDED PRECEDING) AS pt,
             FIRST_VALUE(qv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, side
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, side
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM u
    )
    SELECT user_id,
           make_timestamp(tus) AS ts,
           pv AS prev_q,
           nv AS next_q,
           ROUND(pv + (nv - pv) * (tus - pt) * 1.0 / (nt - pt), 6)
             AS quote_interp
    FROM ctx
    WHERE side = 1 AND pv IS NOT NULL AND nv IS NOT NULL
    """,
)
def t7_asof_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated as-of join — the kdb/QuestDB `aj` + linear-fill
    composite: for every click ("tick") take the purchase stream
    ("quotes") of the same user and evaluate the quote value AT the
    tick's timestamp by interpolating between the previous
    (at-or-before) and next (strictly-after) quote.

    Same union-merge shape as c8's as-of join (operators/asof.py): tag
    both sides, ONE shuffle on user_id, one in-partition sort, then
    last/first ignore-nulls running windows carry both quote contexts —
    no self-join, no per-key explode, no Python.  Quotes are
    pre-aggregated per (user, ts) with an exact decimal sum so the
    window order (ts, side) is total and both engines see identical
    neighbor values.  Time arithmetic is integer microseconds
    (`ts_ns div 1000` ≡ DuckDB `epoch_us`); only the final interpolated
    double is rounded (6 dp)."""
    from pyspark.sql import Window

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            "value",
            F.expr("ts_ns div 1000").alias("tus"),
        )
    )
    quotes = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "tus")
        .agg(fsum("value", "qv"))
        .withColumn("side", F.lit(0))
    )
    ticks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "tus")
        .withColumn("side", F.lit(1))
        .withColumn("qv", F.lit(None).cast("double"))
    )
    u = quotes.select("user_id", "tus", "side", "qv").unionByName(
        ticks.select("user_id", "tus", "side", "qv")
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("tus", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("tus", "side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    quote_tus = F.when(F.col("side") == 0, F.col("tus"))
    ctx = u.select(
        "user_id",
        "tus",
        "side",
        F.last("qv", ignorenulls=True).over(wb).alias("pv"),
        F.last(quote_tus, ignorenulls=True).over(wb).alias("pt"),
        F.first("qv", ignorenulls=True).over(wf).alias("nv"),
        F.first(quote_tus, ignorenulls=True).over(wf).alias("nt"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("tus") - F.col("pt")
    ) / (F.col("nt") - F.col("pt"))
    return (
        ctx.filter(
            (F.col("side") == 1)
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
        )
        .select(
            "user_id",
            F.expr("cast(timestamp_micros(tus) as timestamp_ntz)").alias("ts"),
            F.col("pv").alias("prev_q"),
            F.col("nv").alias("next_q"),
            F.round(interp, 6).alias("quote_interp"),
        )
    )


# --- T8: exponentially weighted moving average (finite 10-lag kernel) ---------

_EWMA_ALPHA = 0.8  # weight decay per step back
_EWMA_LAGS = 10

# Exact per-lag weights, embedded as identical double literals in BOTH
# engines (repr round-trips exactly; no cross-engine pow()).
_EWMA_W = [repr(_EWMA_ALPHA**j) for j in range(_EWMA_LAGS)]


def _ewma_sql() -> str:
    num = " + ".join(
        f"COALESCE({_EWMA_W[j]} * lag(value, {j}) OVER w, 0.0)"
        for j in range(_EWMA_LAGS)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {j}) OVER w IS NOT NULL"
        f" THEN {_EWMA_W[j]} ELSE 0.0 END"
        for j in range(_EWMA_LAGS)
    )
    return f"""
    WITH p AS (
      -- NULL-timestamp convention: a timeless purchase has no place in
      -- the lag kernel's ordering on either engine (--nulls sweep)
      SELECT user_id, ts, event_id, value
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    )
    SELECT user_id, ts, event_id, value,
           ROUND(({num}) / ({den}), 6) AS ewma10
    FROM p
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@query("t8_ewma", oracle=_ewma_sql())
def t8_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over each user's purchase
    stream — the kdb/QuestDB `ema` analytic, truncated to a finite
    10-lag kernel so it is a pure window expression (the infinite-
    history recurrence is not order-independently exact; a 10-term
    kernel at α=0.8 keeps >89% of the mass and makes the result an
    explicit weighted sum both engines evaluate identically, left to
    right).

    Shape: ONE shuffle on user_id, one in-partition sort, ten lag()
    reads over the same window frame — Catalyst collapses them into a
    single WindowExec pass.  At 100 TB this partitions by user exactly
    like t2/t6; no state beyond the 10-row frame.  Weights are shared
    double literals; the final ratio is rounded once (6 dp).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = sum(
        (
            F.coalesce(
                F.lit(float(_EWMA_W[j])) * F.lag("value", j).over(w),
                F.lit(0.0),
            )
            for j in range(_EWMA_LAGS)
        ),
        start=F.lit(0.0),
    )
    den = sum(
        (
            F.when(
                F.lag("value", j).over(w).isNotNull(),
                F.lit(float(_EWMA_W[j])),
            ).otherwise(F.lit(0.0))
            for j in range(_EWMA_LAGS)
        ),
        start=F.lit(0.0),
    )
    return (
        load(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "value")
        # try_divide: a row whose value AND whole lag kernel are NULL has
        # den = 0 (fuzz sweep) — NULL on both engines, not an ANSI crash
        .withColumn("ewma10", F.round(F.try_divide(num, den), 6))
    )


# --- T9: robust outlier flagging via median absolute deviation ----------------

_MAD_K = 1.4826  # consistency constant: MAD×k estimates σ under normality
_MAD_CUT = 3.5  # Iglewicz-Hoaglin modified-z-score threshold


@query(
    "t9_mad_outliers",
    oracle=f"""
    WITH p AS (
      SELECT user_id, ts, event_id, value
      FROM events WHERE event_type = 'purchase'
    ),
    med AS (
      SELECT user_id, quantile_cont(value, 0.5) AS med
      FROM p GROUP BY user_id
    ),
    mad AS (
      SELECT p.user_id, ANY_VALUE(med.med) AS med,
             quantile_cont(ABS(p.value - med.med), 0.5) AS mad
      FROM p JOIN med ON p.user_id = med.user_id
      GROUP BY p.user_id
    )
    SELECT p.user_id, p.ts, p.event_id, p.value,
           ROUND(mad.med, 6) AS med,
           ROUND(mad.mad, 6) AS mad,
           CASE WHEN mad.mad > 0
                THEN ABS(p.value - mad.med) / ({_MAD_K} * mad.mad) > {_MAD_CUT}
                ELSE FALSE END AS is_outlier
    FROM p JOIN mad ON p.user_id = mad.user_id
    """,
)
def t9_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier flagging: modified z-score against the
    median absolute deviation (Iglewicz & Hoaglin 1993) — survives the
    exact contamination that wrecks t2's mean/stddev z-score, the
    standard robust cleaner for heavy-tailed purchase values.

    Shape: two grouped EXACT percentile aggs (Spark `percentile` ≡
    DuckDB `quantile_cont` linear interpolation, the t3 equivalence),
    each one keyed shuffle on user_id; per-user stats join back
    broadcast-style (user-cardinality relation).  The outlier BOOLEAN
    compares |x−med| against (k·MAD·cut) — both sides computed from the
    same rounded stats, and the flag itself is integer-robust (no float
    in the output except the 6-dp-rounded stats).
    """
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
    )
    med = p.groupBy("user_id").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        p.join(med, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    return (
        p.join(mad, "user_id")
        .select(
            "user_id",
            "ts",
            "event_id",
            "value",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.when(
                F.col("mad") > 0,
                F.abs(F.col("value") - F.col("med"))
                / (_MAD_K * F.col("mad"))
                > _MAD_CUT,
            )
            .otherwise(F.lit(False))
            .alias("is_outlier"),
        )
    )


# --- T10: CUSUM change-point detection ----------------------------------------
# One-sided CUSUM (Page 1954) over each event_type's time-ordered value
# stream, in PURE INTEGER algebra so both engines agree bit-for-bit.
# The recurrence S_i = max(0, S_{i-1} + x_i - mu) is not window-
# expressible directly, but has the classic prefix identity
#   S_i = R_i - min_{j<=i} R_j,   R = prefix sum of (x_i - mu),
# which IS two window passes.  To avoid float mu entirely, work in
# n-scaled micro-units: dev_i = n*xm_i - T (xm = round(value*1e6),
# T = sum xm) — integer, mean-free.  The classic slack k keeps a
# driftless random walk from accumulating (without it, S grows ~σ·√i
# and a fixed threshold eventually fires on EVERY stream): k = MAD/2
# per step, alarm when S_i > H = 8·MAD, both in n-scaled integers
# (MAD_n = sum|dev| `div` n).


@query(
    "t10_cusum_changepoint",
    oracle="""
    WITH x AS (
      SELECT event_type, event_id, ts,
             CAST(ROUND(value * 1000000) AS BIGINT) AS xm
      FROM events
      WHERE isfinite(value)
    ),
    st AS (
      SELECT event_type, COUNT(*) AS n, SUM(xm) AS tot
      FROM x GROUP BY event_type
    ),
    d AS (
      SELECT x.event_type, x.event_id, x.ts, st.n,
             CAST(st.n AS HUGEINT) * x.xm - st.tot AS dev
      FROM x JOIN st USING (event_type)
    ),
    h AS (
      SELECT event_type,
             SUM(ABS(dev)) // ANY_VALUE(n) AS mad_n
      FROM d GROUP BY event_type
    ),
    w AS (
      SELECT d.event_type, d.event_id, d.ts, d.n, h.mad_n,
             SUM(d.dev - h.mad_n // 2)
               OVER (PARTITION BY d.event_type ORDER BY d.ts, d.event_id
                     ROWS UNBOUNDED PRECEDING) AS r
      FROM d JOIN h USING (event_type)
    ),
    s AS (
      SELECT event_type, event_id, ts, n, mad_n,
             r - LEAST(0, MIN(r) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)) AS cusum
      FROM w
    )
    SELECT event_type, event_id, ts,
           CAST(cusum // n AS BIGINT) AS cusum_over_n,
           CAST(8 * mad_n // n AS BIGINT) AS thr_over_n
    FROM s
    WHERE cusum > 8 * mad_n
    """,
)
def t10_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point alarms (Page 1954) per event_type: emit the
    events where the one-sided cumulative deviation from the stream
    mean — less the per-step slack k = MAD/2 that absorbs driftless
    random-walk wander — exceeds 8x the mean absolute deviation; the
    classic sequential drift detector in its batch prefix-sum form.

    Engine-exactness: everything is integer.  Values go to micro-units
    (round half-up ties agree: DuckDB ROUND and Spark's bround differ
    only at exact .5 on NEGATIVE values, and value >= 0 in the fixture
    contract; measured identical).  Deviations are n-scaled
    (dev = n*xm - T) so no mean division happens before the final
    bounded `div`; Spark `div` and DuckDB `//` both truncate toward
    zero and every divided quantity is non-negative.

    Plan shape: one keyed agg for (n, T) broadcast back; TWO window
    passes over the same (event_type | ts, event_id) sort — Catalyst
    runs both in a single WindowExec after one shuffle; the prefix
    sums ride decimal(38,0) (DuckDB HUGEINT twin) so a 100 TB stream
    cannot overflow.  No global sort, no collect.
    """
    # non-finite observations are sensor garbage to a change-point
    # detector: excluded on BOTH engines (--extreme sweep convention;
    # the micro-unit cast throws on NaN/Inf under ANSI and DuckDB alike)
    x = (
        load(spark, sf_dir, "events")
        .filter(
            "NOT (isnan(value) OR value = CAST('Infinity' AS DOUBLE)"
            " OR value = CAST('-Infinity' AS DOUBLE))"
        )
        .select(
            "event_type",
            "event_id",
            "ts",
            F.expr("CAST(ROUND(value * 1000000) AS BIGINT)").alias("xm"),
        )
    )
    st = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xm").alias("tot"),
    )
    d = x.join(F.broadcast(st), "event_type").withColumn(
        "dev",
        (F.col("n").cast("decimal(38,0)") * F.col("xm") - F.col("tot")).cast(
            "decimal(38,0)"
        ),
    )
    h = d.groupBy("event_type").agg(
        F.expr("SUM(ABS(dev)) div ANY_VALUE(n)").alias("mad_n")
    )
    from pyspark.sql.window import Window as _W

    ow = (
        _W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    # S_0 = 0 in the classic recurrence, so the prefix min is clamped at
    # the virtual R_0 = 0 (a plain window MIN sees only j >= 1 and would
    # understate S wherever every prefix sum is positive).
    s = (
        d.join(F.broadcast(h), "event_type")
        .withColumn(
            "r",
            F.sum(
                (F.col("dev") - F.expr("mad_n div 2")).cast("decimal(38,0)")
            ).over(ow),
        )
        .withColumn(
            "cusum",
            F.col("r")
            - F.least(F.lit(0).cast("decimal(38,0)"), F.min("r").over(ow)),
        )
    )
    return s.filter(F.col("cusum") > 8 * F.col("mad_n")).select(
        "event_type",
        "event_id",
        "ts",
        F.expr("CAST(cusum div n AS BIGINT)").alias("cusum_over_n"),
        F.expr("CAST(8 * mad_n div n AS BIGINT)").alias("thr_over_n"),
    )


# --- T11: Holt linear-trend exponential smoothing -----------------------------

# Shared coefficient literals: both engines parse the identical decimal
# text to the identical nearest double, and the recurrences below apply
# the identical operation tree, so level/trend match bit-for-bit before
# the single terminal rounding.
_HOLT_ALPHA = "0.5"  # level smoothing (exact double)
_HOLT_BETA = "0.3"  # trend smoothing
_HOLT_1MB = "0.7"  # 1 - beta, as its own literal (never computed)


@query(
    "t11_holt_trend",
    oracle=f"""
    WITH RECURSIVE p AS (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      -- anonymous (NULL-user) rows have no per-user series, and a
      -- timeless row has no position in one (fuzz sweep, seed 7)
      FROM events WHERE event_type = 'purchase' AND isfinite(value)
        AND user_id IS NOT NULL AND ts IS NOT NULL
    ),
    holt AS (
      SELECT user_id, rn, ts, event_id, value,
             value AS l, CAST(0.0 AS DOUBLE) AS b
      FROM p WHERE rn = 1
      UNION ALL
      SELECT p.user_id, p.rn, p.ts, p.event_id, p.value,
             {_HOLT_ALPHA} * p.value + {_HOLT_ALPHA} * (h.l + h.b),
             {_HOLT_BETA} * (({_HOLT_ALPHA} * p.value
                              + {_HOLT_ALPHA} * (h.l + h.b)) - h.l)
               + {_HOLT_1MB} * h.b
      FROM holt h JOIN p ON p.user_id = h.user_id AND p.rn = h.rn + 1
    )
    SELECT user_id, ts, event_id, rn, value,
           CAST(ROUND(l * 1000000) AS BIGINT) AS level_micro,
           CAST(ROUND(b * 1000000) AS BIGINT) AS trend_micro,
           CAST(ROUND((l + b) * 1000000) AS BIGINT) AS forecast_micro
    FROM holt
    """,
)
def t11_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per user purchase
    stream (Holt 1957; the `ETS(A,A,N)` state recursion): level
    l_t = α·y_t + (1-α)(l_{{t-1}} + b_{{t-1}}), trend
    b_t = β(l_t - l_{{t-1}}) + (1-β)b_{{t-1}}, initialized l_1 = y_1,
    b_1 = 0.

    The recurrence is inherently sequential per key — not a window
    function (each step feeds the next through TWO coupled states, so no
    finite-kernel rewrite exists, unlike t8's EWMA).  ONE shuffle on
    user_id, then a per-key in-memory scan.  The oracle runs the
    identical operation tree as a DuckDB recursive CTE; both engines do
    correctly-rounded IEEE double ops in the same order, so l/b agree
    bit-for-bit and the terminal micro-unit rounding (HALF_UP in both)
    is hash-exact.

    r10 rewrite (guide §4.2): the original shape was
    ``groupBy(user_id).applyInPandas`` with an interpreted Python
    row-loop per series — per-GROUP pandas construction overhead times
    thousands of small groups, plus one interpreted float op per row
    (7.6 s noop at sf0.1).  The recurrence is sequential per SERIES but
    independent ACROSS series, so the r10 form repartitions by user_id
    (the same single Exchange), sorts the whole partition once, and
    advances ALL series in lockstep: step t updates every series of
    length > t with vectorized elementwise numpy ops.  Per series the
    op SEQUENCE is unchanged — numpy elementwise float64 ops are the
    same correctly-rounded IEEE scalar ops — so l/b stay bit-identical
    to the scalar loop and the recursive CTE (parity + fuzz re-checked
    r10).  Wall cost drops from O(rows) interpreted steps to
    O(max series length) vector steps.

    Scale: at 100 TB this partitions by user exactly like t5/t8; state
    per key is two doubles (a U-vector per partition).  The kernel
    concatenates its partition's Arrow batches once — bounded by the
    shuffle partition size, the same bound applyInPandas' whole-group
    materialization already imposed."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    alpha, beta, one_m_beta = 0.5, 0.3, 0.7

    def _holt_partition(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(
            ["user_id", "ts", "event_id"], ignore_index=True
        )
        vals = pdf["value"].to_numpy(dtype=np.float64)
        users = pdf["user_id"].to_numpy()
        n = len(pdf)
        starts = np.flatnonzero(np.r_[True, users[1:] != users[:-1]])
        lens = np.diff(np.r_[starts, n])
        u_count = len(starts)
        lvl = np.zeros(u_count)
        trd = np.zeros(u_count)
        out_l = np.empty(n)
        out_b = np.empty(n)
        for t in range(int(lens.max())):
            active = lens > t  # series still running at step t
            rows = starts[active] + t
            y = vals[rows]
            if t == 0:
                lvl[active] = y
                trd[active] = 0.0
            else:
                la = lvl[active]
                ba = trd[active]
                l_new = alpha * y + alpha * (la + ba)
                trd[active] = beta * (l_new - la) + one_m_beta * ba
                lvl[active] = l_new
            out_l[rows] = lvl[active]
            out_b[rows] = trd[active]
        pdf["rn"] = np.arange(n) - np.repeat(starts, lens) + 1
        pdf["l"] = out_l
        pdf["b"] = out_b
        yield pdf

    # a non-finite observation would poison the coupled (l, b) state
    # for the rest of the stream; excluded on BOTH engines (--extreme
    # sweep convention, same as t10)
    purchases = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .filter(
            "NOT (isnan(value) OR value = CAST('Infinity' AS DOUBLE)"
            " OR value = CAST('-Infinity' AS DOUBLE))"
        )
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    smoothed = purchases.repartition("user_id").mapInPandas(
        _holt_partition,
        schema=(
            "user_id bigint, ts timestamp_ntz, event_id bigint, "
            "value double, rn bigint, l double, b double"
        ),
    )
    return smoothed.select(
        "user_id",
        "ts",
        "event_id",
        "rn",
        "value",
        F.expr("CAST(ROUND(l * 1000000) AS BIGINT)").alias("level_micro"),
        F.expr("CAST(ROUND(b * 1000000) AS BIGINT)").alias("trend_micro"),
        F.expr("CAST(ROUND((l + b) * 1000000) AS BIGINT)").alias("forecast_micro"),
    )


# --- T12: naive-forecast backtest (per-entity MAE scorecard) ------------------


@query(
    "t12_naive_backtest",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS yhat
      -- a timeless purchase has no position in the lag series (fuzz)
      FROM events WHERE event_type = 'purchase' AND isfinite(value)
        AND ts IS NOT NULL
    ),
    e AS (
      SELECT user_id, ABS(value - yhat) AS abs_err
      FROM p WHERE yhat IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_evals,
           CAST(SUM(CAST(abs_err AS DECIMAL(30,6))) AS DOUBLE) AS sum_abs_err,
           CAST(ROUND(1000000 * SUM(CAST(abs_err AS DECIMAL(30,6)))
                      / COUNT(*), 0) AS BIGINT) AS mae_micro
    FROM e GROUP BY user_id
    """,
)
def t12_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting scorecard: score the naive persistence
    forecast (ŷ_t = y_{t-1}) per user over the purchase stream — the
    baseline every forecasting deployment must beat, and the same
    lag/score/aggregate harness backtests any model whose predictions
    land as a column.  MAE is emitted both as an exact decimal-summed
    double and in integer micro-units.

    Shape: one window (shuffle on user_id) for the lag, one keyed
    aggregation for the scorecard — at 100 TB both stages key on the
    entity, and the decimal sum keeps the error aggregation
    order-independent (bit-exact under any partitioning)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # non-finite observations are excluded from the backtest on BOTH
    # engines (--extreme convention): |y - yhat| is meaningless against
    # NaN/Inf and the micro-unit MAE cast would throw
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .filter(
            "NOT (isnan(value) OR value = CAST('Infinity' AS DOUBLE)"
            " OR value = CAST('-Infinity' AS DOUBLE))"
        )
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "value")
        .withColumn("yhat", F.lag("value").over(w))
        .filter(F.col("yhat").isNotNull())
        .withColumn("abs_err", F.abs(F.col("value") - F.col("yhat")))
    )
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_evals"),
        F.sum(F.col("abs_err").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_abs_err"),
        F.expr(
            "CAST(ROUND(1000000 * SUM(CAST(abs_err AS DECIMAL(30,6)))"
            " / COUNT(*), 0) AS BIGINT)"
        ).alias("mae_micro"),
    )


# --- T13: day-of-week seasonal adjustment -------------------------------------


@query(
    "t13_seasonal_adjust",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value,
             dayofweek(ts) + 1 AS dow  -- DuckDB: 0=Sun..6; Spark: 1=Sun..7
      FROM events WHERE event_type = 'purchase'
    ),
    seas AS (
      SELECT dow,
             COUNT(*) AS n,
             ROUND(""" + fsum_sql("value") + """
                   / COUNT(*), 6) AS dow_mean
      FROM p GROUP BY dow
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           CAST(p.dow AS INT) AS dow,
           s.dow_mean,
           ROUND(p.value - s.dow_mean, 6) AS value_deseasonalized
    FROM p JOIN seas s ON s.dow = p.dow
    """,
)
def t13_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal adjustment by day-of-week profile: the purchase stream's
    per-weekday mean is the (additive) seasonal component; subtracting
    it deseasonalizes the series — the first step of every
    anomaly-detection / forecasting pipeline over business metrics
    (trend models like t11 then run on the adjusted series).

    Shape: ONE tiny keyed aggregation (7 rows) broadcast back onto the
    stream — map-only after the broadcast, no second fact shuffle.  At
    100 TB the seasonal profile stays 7 rows regardless of SF; only the
    profile build scans the data (decimal-summed, order-independent,
    one terminal round)."""
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.dayofweek("ts").alias("dow"),
        )
    )
    seas = p.groupBy("dow").agg(
        F.round(fsum("value") / F.count(F.lit(1)), 6).alias("dow_mean")
    )
    return p.join(F.broadcast(seas), "dow").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("dow").cast("int").alias("dow"),
        "dow_mean",
        F.round(F.col("value") - F.col("dow_mean"), 6).alias(
            "value_deseasonalized"
        ),
    )


# --- T14: autocorrelation function --------------------------------------------

_T14_LAGS = 7  # ACF at calendar-day lags 1..7 (captures the weekly cycle)


@query(
    "t14_acf",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
      FROM events WHERE event_type = 'purchase' AND isfinite(value)
      GROUP BY 1
    ),
    idx AS (
      SELECT date_diff('day', (SELECT MIN(d) FROM daily), d) AS t, v
      FROM daily
    ),
    mu AS (
      SELECT CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS m
      FROM idx
    ),
    den AS (
      SELECT CAST(SUM(CAST((v - m) * (v - m) AS DECIMAL(38,12))) AS DOUBLE)
               AS ss
      FROM idx, mu
    ),
    lags AS (SELECT unnest(generate_series(1, {_T14_LAGS})) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(SUM(CAST((a.v - m) * (b.v - m) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sc,
             COUNT(*) AS n_pairs
      FROM idx a
      CROSS JOIN lags l
      JOIN idx b ON b.t = a.t + l.lag
      CROSS JOIN mu
      GROUP BY l.lag
    )
    SELECT lag,
           n_pairs,
           CAST(ROUND(sc / ss * 1e6) AS BIGINT) AS acf_micro
    FROM pairs, den
    """,
)
def t14_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily purchase-revenue series at
    lags 1..{_T14_LAGS}: r_k = Σ(x_t−x̄)(x_t+k−x̄) / Σ(x_t−x̄)² — the
    first diagnostic any forecasting pipeline runs (weekly cycle shows
    as a lag-7 peak).  Pairs join on CALENDAR-day offset; silent days
    contribute no pair (identical convention both engines).

    Float discipline: the daily series, the mean, and both
    sums-of-products are decimal-exact (order-independent), so the
    only engine difference is the terminal division — absorbed by the
    micro-unit round.

    Shape: one keyed daily agg (map-side partials), two 1-row global
    aggs (broadcast back), a {_T14_LAGS}-row lag grid (broadcast cross
    join), and one equi-join on day index.  The series after daily
    aggregation is ~days-long — tiny regardless of raw scale; at 100 TB
    only the first agg touches data-sized input."""
    # ACF over a series with NaN/Inf observations is undefined — the
    # non-finite raw values are treated as missing on BOTH engines
    # (--extreme convention), keeping the daily series decimal-exact
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .filter(
            "NOT (isnan(value) OR value = CAST('Infinity' AS DOUBLE)"
            " OR value = CAST('-Infinity' AS DOUBLE))"
        )
        .select(F.col("ts").cast("date").alias("d"), "value")
    )
    daily = ev.groupBy("d").agg(
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("v")
    )
    mind = daily.agg(F.min("d").alias("mind"))
    idx = daily.crossJoin(F.broadcast(mind)).select(
        F.datediff("d", "mind").cast("bigint").alias("t"), "v"
    )
    mu = idx.agg(
        (
            F.sum(F.col("v").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    centered = idx.crossJoin(F.broadcast(mu))
    den = centered.agg(
        F.sum(((F.col("v") - F.col("m")) * (F.col("v") - F.col("m"))).cast("decimal(38,12)"))
        .cast("double")
        .alias("ss")
    )
    lags = spark.range(1, _T14_LAGS + 1).select(F.col("id").alias("lag"))
    a = centered.select("t", "v", "m").crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("t") + F.col("lag")).alias("t_join"), F.col("v").alias("va"), "m"
    )
    b = centered.select(F.col("t").alias("t_join"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, "t_join")
        .groupBy("lag")
        .agg(
            F.sum(((F.col("va") - F.col("m")) * (F.col("vb") - F.col("m"))).cast("decimal(38,12)"))
            .cast("double")
            .alias("sc"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    return pairs.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        F.round(F.col("sc") / F.col("ss") * 1e6).cast("bigint").alias("acf_micro"),
    )


# --- T15: exact rolling median (robust trend) ---------------------------------


@query(
    "t15_rolling_median",
    oracle="""
    WITH p AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             """ + fsum_sql("value", "day_value") + """
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
      GROUP BY user_id, day
    )
    SELECT user_id, day,
           -- COUNT(day_value): the window counts PRESENT daily values
           -- (an all-NULL day cell is not an observation), matching the
           -- Spark side's collect_list, which skips NULLs (fuzz sweep)
           COUNT(day_value) OVER w AS n_win,
           ROUND(median(day_value) OVER w, 6) AS roll_med
    FROM p
    WINDOW w AS (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def t15_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-row MEDIAN of each user's daily purchase revenue
    — the robust-trend smoother (median filters shrug off the spikes
    that wreck t8's EWMA), run as an ordered-set aggregate over a
    sliding frame.

    The daily series is built with the exact decimal-sum discipline
    (identical doubles on both engines), so the two engines' medians
    select/average the *same* doubles — the ROUND(…,6) guard is belt
    and braces, not load-bearing.  Spark rejects ordered-set
    aggregates over an explicit frame (INVALID_WINDOW_SPEC_FOR_
    AGGREGATION_FUNC), so the frame's ≤7 values are gathered with
    ``collect_list`` + ``array_sort`` and the middle element(s)
    selected — O(frame log frame) per row on a constant-bound frame.
    Plan: one keyed agg, then a single window over the (user_id, day)
    sort — one shuffle total, frames evaluated streamingly within each
    partition.  At 100 TB per-user partitions are small; skew would
    sit in the daily agg, not the 7-row frame.
    """
    from pyspark.sql import Window

    p = (
        load(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(fsum("value", "day_value"))
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("day_value").over(w))
    n = F.size(arr)
    mid = ((n + 1) / 2).cast("int")
    lo, hi = (n / 2).cast("int"), (n / 2 + 1).cast("int")
    # n = 0 guard: a frame whose every daily value is NULL collects an
    # empty array and element_at(arr, 0) THROWS (fuzz sweep); the
    # median of no observations is NULL on both engines
    med = F.when(
        n == 0, F.lit(None).cast("double")
    ).when(n % 2 == 1, F.element_at(arr, mid)).otherwise(
        (F.element_at(arr, lo) + F.element_at(arr, hi)) / 2
    )
    return p.select(
        "user_id",
        "day",
        n.alias("n_win"),
        F.round(med, 6).alias("roll_med"),
    )


# --- T16: first-order Markov transition matrix --------------------------------


@query(
    "t16_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
      WHERE ts IS NOT NULL
    ),
    c AS (
      SELECT prev, event_type AS cur, COUNT(*) AS n
      FROM s WHERE prev IS NOT NULL
      GROUP BY prev, cur
    )
    SELECT prev, cur, n,
           CAST(ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev)
                      * 1000000) AS BIGINT) AS prob_micro
    FROM c
    """,
)
def t16_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event
    stream: P(next event type | current event type), estimated from
    LAG pairs — the behavioral model behind next-action prediction and
    anomaly scoring on clickstreams.

    Probabilities are exact-integer counts divided once (identical
    IEEE division both engines) and emitted as micro-units.  Plan: one
    shuffle on user_id for the LAG window, one keyed count agg (the
    matrix is |event types|² ≈ tiny), one broadcast-size window for
    row normalization.  At 100 TB the user-partitioned window is the
    only data-sized move; the matrix agg collapses map-side.
    """
    from pyspark.sql import Window

    # NULL-timestamp convention: a timeless event has no position in
    # the per-user sequence, so it forms no transition on either engine
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    c = s.groupBy("prev", F.col("event_type").alias("cur")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wn = Window.partitionBy("prev")
    return c.select(
        "prev",
        "cur",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wn) * 1e6)
        .cast("bigint")
        .alias("prob_micro"),
    )


# --- T17: Kaplan–Meier retention/survival curve --------------------------------

# Churn definition: a user whose last PURCHASE precedes the purchase
# stream's final observed day by more than 3 days has churned (the
# rarer purchase stream — unlike raw events, where every fixture user
# stays active to the cutoff — yields real churn);
# everyone else is right-CENSORED at the observation cutoff — the
# textbook KM setup.  Duration = days from the user's first event to
# their last (churned) or to the cutoff (censored).


@query(
    "t17_survival_km",
    oracle="""
    WITH p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    bounds AS (
      SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) AS cutoff FROM p
    ),
    users AS (
      SELECT user_id,
             CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0,
             CAST(date_trunc('day', MAX(ts)) AS DATE) AS d1
      FROM p GROUP BY user_id
    ),
    durations AS (
      SELECT u.user_id,
             CASE WHEN date_diff('day', u.d1, b.cutoff) > 3
                  THEN date_diff('day', u.d0, u.d1)
                  ELSE date_diff('day', u.d0, b.cutoff) END AS t,
             date_diff('day', u.d1, b.cutoff) > 3 AS churned
      FROM users u CROSS JOIN bounds b
    ),
    risk AS (
      SELECT t,
             COUNT(*) FILTER (WHERE churned) AS d,
             (SELECT COUNT(*) FROM durations d2 WHERE d2.t >= d1.t) AS n_at_risk
      FROM durations d1
      GROUP BY t
      HAVING COUNT(*) FILTER (WHERE churned) > 0
    ),
    km AS (
      SELECT t, d, n_at_risk,
             MAX(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead,
             CAST(SUM(CASE WHEN d = n_at_risk THEN NULL
                           ELSE CAST(ROUND(LN(1.0 - CAST(d AS DOUBLE)
                                               / n_at_risk), 6)
                                     AS DECIMAL(30,6)) END)
                  OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS log_s
      FROM risk
    )
    SELECT t AS duration_days, d AS n_churned, n_at_risk,
           CASE WHEN dead = 1 THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND(EXP(log_s) * 1000000) AS BIGINT) END
             AS survival_micro
    FROM km
    """,
)
def t17_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of PURCHASE retention: S(t) =
    Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over churn-event times, with users still
    active near the observation cutoff right-censored — the estimator
    behind every retention curve and churn model readout.

    Exactness: dᵢ/nᵢ are exact integer ratios (identical doubles both
    engines); each factor enters log-space rounded to 6 dp, the
    cumulative product becomes an EXACT decimal running sum of logs
    (the d28 trick, order pinned by duration), and one exp + micro
    rounding closes it.  Plan: per-user bounds agg (one shuffle), a
    1-row cutoff broadcast, the at-risk counts via a descending
    cumulative sum over the DURATION-sized table, and a tiny ordered
    window — no data-sized sort.  (The oracle's correlated n_at_risk
    subquery is the readable form; the Spark side uses the equivalent
    suffix-sum window.)
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    users = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("d0"),
        F.date_trunc("day", F.max("ts")).cast("date").alias("d1"),
    )
    cutoff = e.agg(
        F.date_trunc("day", F.max("ts")).cast("date").alias("cutoff")
    )
    dur = users.crossJoin(F.broadcast(cutoff)).select(
        F.when(
            F.datediff("cutoff", "d1") > 3, F.datediff("d1", "d0")
        )
        .otherwise(F.datediff("cutoff", "d0"))
        .alias("t"),
        (F.datediff("cutoff", "d1") > 3).alias("churned"),
    )
    per_t = dur.groupBy("t").agg(
        F.count(F.when(F.col("churned"), 1)).alias("d"),
        F.count(F.lit(1)).alias("n_t"),
    )
    # n_at_risk(t) = Σ_{t' >= t} n_t'  — suffix sum over the tiny per-t table
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = (
        per_t.withColumn("n_at_risk", F.sum("n_t").over(w_desc))
        .filter(F.col("d") > 0)
        .drop("n_t")
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # d == n_at_risk is a LEGITIMATE KM state (the whole remaining risk
    # set churns at t: S = 0 there and beyond), but its factor is ln(0):
    # Spark log() NULLs it (and SUM would silently skip it, leaving a
    # wrong nonzero survival) while DuckDB LN(0) throws.  Guard both
    # sides identically: the factor stays out of the log sum and a
    # cumulative `dead` flag pins survival to exactly 0 from that
    # duration on.
    log_factor = F.when(
        F.col("d") < F.col("n_at_risk"),
        F.round(
            F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk")), 6
        ),
    )
    km = risk.withColumn(
        "log_s",
        F.sum(log_factor.cast("decimal(30,6)")).over(w_asc).cast("double"),
    ).withColumn(
        "dead",
        F.max((F.col("d") == F.col("n_at_risk")).cast("int")).over(w_asc),
    )
    return km.select(
        F.col("t").alias("duration_days"),
        F.col("d").alias("n_churned"),
        "n_at_risk",
        F.when(F.col("dead") == 1, F.lit(0).cast("bigint"))
        .otherwise(F.round(F.exp("log_s") * 1e6).cast("bigint"))
        .alias("survival_micro"),
    )


# --- T18: local-maximum peak detection -----------------------------------------


@query(
    "t18_peak_detection",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS rev
      FROM events
      WHERE event_type = 'purchase' AND isfinite(value)
        AND ts IS NOT NULL
      GROUP BY day
    ),
    neigh AS (
      SELECT day, rev,
             lag(rev)  OVER (ORDER BY day) AS prev_rev,
             lead(rev) OVER (ORDER BY day) AS next_rev
      FROM daily
    )
    SELECT day, rev,
           CAST(ROUND((rev - GREATEST(prev_rev, next_rev)) * 1000)
                AS BIGINT) AS prominence_milli
    FROM neigh
    WHERE prev_rev IS NOT NULL AND next_rev IS NOT NULL
      AND rev > prev_rev AND rev > next_rev
    """,
)
def t18_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local-maximum peak detection on the daily purchase-
    revenue series — the alerting primitive behind 'what spiked?'
    dashboards: a day is a peak when its revenue exceeds BOTH
    neighbors (endpoints excluded — one-sided evidence is not a
    peak), reported with its prominence over the taller neighbor.
    Daily sums are exact decimals (identical doubles both engines), so
    the strict comparisons and the subtraction agree bit-for-bit;
    milli-unit emission guards nothing but is kept for schema
    consistency.  Plan: one keyed day-agg, one window over the
    DAY-count-sized series — the t4/q31 aggregated-window shape.
    """
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        # non-finite observations are missing data to a peak/trend
        # detector: excluded on BOTH engines (--extreme convention).
        # An undated observation is equally not part of the daily
        # series (the d65a70b event/time NULL-ts convention) — and the
        # engines disagree on where a NULL day sorts in the window
        # (Spark NULLS FIRST vs DuckDB NULLS LAST), which silently
        # shifts the series' endpoints (caught by fuzz seed 404).
        .filter(F.col("ts").isNotNull())
        .filter(
            "NOT (isnan(value) OR value = CAST('Infinity' AS DOUBLE)"
            " OR value = CAST('-Infinity' AS DOUBLE))"
        )
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("rev")
        )
    )
    w = Window.orderBy("day")
    neigh = daily.select(
        "day",
        "rev",
        F.lag("rev").over(w).alias("prev_rev"),
        F.lead("rev").over(w).alias("next_rev"),
    )
    return (
        neigh.filter(
            F.col("prev_rev").isNotNull()
            & F.col("next_rev").isNotNull()
            & (F.col("rev") > F.col("prev_rev"))
            & (F.col("rev") > F.col("next_rev"))
        )
        .select(
            "day",
            "rev",
            F.round(
                (F.col("rev") - F.greatest("prev_rev", "next_rev")) * 1000
            )
            .cast("bigint")
            .alias("prominence_milli"),
        )
    )


# --- T19: burstiness (Fano factor) of daily event counts -----------------------


@query(
    "t19_fano_burstiness",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS c
      FROM events GROUP BY event_type, day
    ),
    m AS (
      SELECT event_type,
             COUNT(*) AS n_days,
             SUM(c) AS s1,
             SUM(c * c) AS s2
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, CAST(s1 AS BIGINT) AS n_events,
           CAST(ROUND(
             ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_days)
              / (n_days - 1))
             / (CAST(s1 AS DOUBLE) / n_days) * 1000000) AS BIGINT)
             AS fano_micro
    FROM m
    """,
)
def t19_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event stream: the Fano factor (sample
    variance / mean of DAILY counts).  A Poisson-like stream sits at
    1; ≫1 flags bursty bot traffic or batching artifacts, ≪1 flags
    rate-limited/throttled feeds — a one-number stream-health gate.
    Counts are exact integers, so s1/s2 are exact bigint sums and both
    engines divide identical doubles; micro emission is formality.
    Plan: (type, day) count agg then a 5-group moment agg — two
    map-side-partial shuffles, scale-free.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    n, s1, s2 = F.col("n_days"), F.col("s1"), F.col("s2")
    # try_divide: a single-day stream has no sample variance (n-1 = 0) —
    # NULL Fano on both engines (DuckDB x/0 → NULL), not an ANSI crash
    var = F.try_divide(s2.cast("double") - s1.cast("double") * s1 / n, n - 1)
    mean = s1.cast("double") / n
    return m.select(
        "event_type",
        "n_days",
        F.col("s1").alias("n_events"),
        F.round(var / mean * 1e6).cast("bigint").alias("fano_micro"),
    )


# --- T20: Theil–Sen robust trend estimator -------------------------------------


@query(
    "t20_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS rev
      FROM events
      WHERE event_type = 'purchase' AND isfinite(value)
        AND ts IS NOT NULL
      GROUP BY day
    ),
    o AS (SELECT MIN(day) AS d0 FROM daily),
    idx AS (
      SELECT date_diff('day', o.d0, d.day) AS i, d.rev
      FROM daily d CROSS JOIN o
    ),
    slopes AS (
      SELECT (b.rev - a.rev) / (b.i - a.i) AS m
      FROM idx a JOIN idx b ON a.i < b.i
    ),
    fit AS (SELECT median(m) AS slope FROM slopes),
    icept AS (
      SELECT median(rev - f.slope * i) AS intercept
      FROM idx CROSS JOIN fit f
    )
    SELECT (SELECT COUNT(*) FROM idx) AS n_days,
           (SELECT COUNT(*) FROM slopes) AS n_pairs,
           CAST(ROUND((SELECT slope FROM fit) * 1000000) AS BIGINT)
             AS slope_micro,
           CAST(ROUND((SELECT intercept FROM icept) * 1000) AS BIGINT)
             AS intercept_milli
    """,
)
def t20_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily purchase revenue: the MEDIAN of
    all pairwise slopes (and the matching median intercept) — the
    estimator that shrugs off the outlier days that wreck OLS (d26's
    kernel), standard in monitoring pipelines for exactly that reason.

    The O(n²) pair set is over the DAY-count-sized series (n days →
    n(n−1)/2 pairs; 365 days ≈ 66 k pairs), never the event stream —
    the same aggregated-domain discipline as q32/q33/k80; day sums are
    exact decimals so both engines take medians of identical doubles.
    Plan: day agg, 1-row min-day + fitted-slope broadcasts, one
    day-keyed self-join, two tiny median aggs.
    """
    daily = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        # non-finite observations are missing data to a peak/trend
        # detector: excluded on BOTH engines (--extreme convention);
        # undated ones likewise (d65a70b NULL-ts convention — a NULL
        # day would silently inflate n_days on both engines).
        .filter(F.col("ts").isNotNull())
        .filter(
            "NOT (isnan(value) OR value = CAST('Infinity' AS DOUBLE)"
            " OR value = CAST('-Infinity' AS DOUBLE))"
        )
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("rev")
        )
    )
    o = daily.agg(F.min("day").alias("d0"))
    idx = daily.crossJoin(F.broadcast(o)).select(
        F.datediff("day", "d0").alias("i"), "rev"
    )
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(b, F.col("a.i") < F.col("b.i")).select(
        ((F.col("b.rev") - F.col("a.rev")) / (F.col("b.i") - F.col("a.i"))).alias("m")
    )
    fit = slopes.agg(
        F.median("m").alias("slope"), F.count(F.lit(1)).alias("n_pairs")
    )
    # slope/n_pairs ride on a second 1-row crossJoin AFTER the global
    # agg, not on first() inside it: on an empty series the
    # idx×fit join is empty and first() would NULL n_pairs where the
    # oracle's COUNT gives 0 (empty-corpus sweep finding, r8)
    part = idx.crossJoin(F.broadcast(fit)).agg(
        F.median(F.col("rev") - F.col("slope") * F.col("i")).alias(
            "intercept"
        ),
        F.count(F.lit(1)).alias("n_days"),
    )
    icept = part.crossJoin(F.broadcast(fit))
    return icept.select(
        "n_days",
        "n_pairs",
        F.round(F.col("slope") * 1e6).cast("bigint").alias("slope_micro"),
        F.round(F.col("intercept") * 1000).cast("bigint").alias("intercept_milli"),
    )
