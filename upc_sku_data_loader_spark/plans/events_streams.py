"""§2.I Streaming operators, batch-equivalent first (SURVEY.md §2.I;
reference file:line n/a — empty tree §0.1; the reference is batch-only —
streaming is the mandated [X] extension of its load loop).

Strategy per SURVEY §2.I: the DuckDB oracle is batch-only, so each
streaming op ships as (1) an oracle-checkable batch/complete-mode query
here and (2) a true ``readStream`` twin exercised by the pytest
equivalence suite (tests/test_streaming.py).  ``i4`` is special: it IS
a real Structured Streaming run (availableNow trigger → memory sink,
complete mode) whose final state is still hash-checked against DuckDB.

Scale notes: tumbling/sliding windows and session windows are
incrementalized by Spark's IncrementalExecution with executor-local
state stores; watermarks bound that state.  The batch plans below have
the same shuffle shape (one exchange on the grouping key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exprs import dsum, fsum, fsum_sql
from ..registry import query
from ..streaming.sources import read_events_stream, run_available_now

# Shared DuckDB gaps-and-islands sessionization (twin for I3 and I6).
# Gap-boundary convention (fuzz sweep, seed 7): an event EXACTLY `gap`
# after its predecessor CONTINUES the session — Spark's native
# session_window merges touching windows, so the split predicate is
# strictly-greater (>) on both engines and in the pandas state machines.
# NULL-timestamp convention (--nulls sweep): an event with no timestamp
# belongs to no window or session on EITHER engine — Spark's window()/
# session_window() already drop NULL event times, the oracles filter
# them, and the pandas sessionizers drop NaT at ingestion.
SESSION_SQL = """
WITH ordered AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM sess
GROUP BY user_id, sid
"""

# Pandas-UDF twin of SESSION_SQL: Arrow renders float NaN as NULL on
# the applyInPandas OUTPUT path (pandas uses NaN as its missing-value
# marker), and symmetrically a NULL `value` arrives INSIDE the pandas
# batch as NaN — the two are indistinguishable to a pandas kernel.  The
# pinned contract for i6/i6b is therefore "total_value is NULL when the
# session contains any NULL or NaN value (or +Inf and -Inf together)",
# while the JVM-native i3 keeps NaN and skips NULLs like SQL SUM.
# Identical rows otherwise.
SESSION_SQL_PANDAS = SESSION_SQL.replace(
    "ROUND(SUM(value), 4) AS total_value",
    "CASE WHEN COUNT(value) != COUNT(*) OR isnan(SUM(value)) THEN NULL"
    " ELSE ROUND(SUM(value), 4) END AS total_value",
)


# --- I1: tumbling window (hourly) ---------------------------------------------


@query(
    "i1_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           """ + fsum_sql("value", "total_value") + """
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def i1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), fsum("value", "total_value"))
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n_events", "total_value"
        )
    )


# --- I2: sliding window (1 h window, 15 min slide → each event in 4 windows) ---


@query(
    "i2_sliding_window",
    oracle="""
    SELECT make_timestamp(((epoch_us(ts) // 900000000) - k.k) * 900 * 1000000)
             AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def i2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


# --- I3: session window (30 min gap), native session_window -----------------------


@query("i3_session_window", oracle=SESSION_SQL)
def i3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


# --- I4: TRUE streaming run — watermark + tumbling window, availableNow,
#     complete mode → memory sink; final state hash-checked vs DuckDB ----------------


@query(
    "i4_watermark_late_data",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def i4_watermark_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir).withColumn(
        # event-time watermarks require TIMESTAMP (not NTZ); session tz is
        # pinned UTC so the round-trip through TIMESTAMP is value-exact
        "ts_event", F.col("ts").cast("timestamp")
    )
    agg = (
        stream.withWatermark("ts_event", "10 minutes")
        .groupBy(F.window("ts_event", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events")
    )
    out = run_available_now(agg, "i4_watermark_sink", "complete", sf_dir)
    return out.withColumn("hour_start", F.col("hour_start").cast("timestamp_ntz"))


# --- I5: stream dedup (batch twin: duplicate-injected corpus → exact dedup) --------


@query(
    "i5_stream_dedup",
    oracle="""
    SELECT DISTINCT event_id, event_type, user_id
    FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
    """,
)
def i5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    doubled = ev.unionByName(ev)
    return doubled.dropDuplicates(["event_id", "event_type", "user_id"])


# --- I6: batch sessionize — one-pass Arrow kernel per partition (batch
#     twin of i6b's stateful stream); the SQL oracle is the same
#     gaps-and-islands used for I3, so this checks the kernel against a
#     completely independent formulation. -------------------------------


@query("i6_stateful_sessionize", oracle=SESSION_SQL_PANDAS)
def i6_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-kernel sessionization (the §2.I batch twin of i6b's
    stateful stream; per-session NaN/NULL poisoning contract in
    SESSION_SQL_PANDAS).

    One Exchange on user_id, then the kernel sessionizes the WHOLE
    partition in one pass: sort by (user_id, ts, event_id), session
    breaks = user-change OR gap > 30 min (numpy compare), per-session
    bounds from the break positions.  A per-group ``applyInPandas``
    row loop pays pandas construction for each of thousands of small
    groups plus one interpreted float op per row (4.9 s noop at sf0.1
    against this kernel's single pass).  The kernel is ``mapInArrow``,
    NOT mapInPandas, because of an exactness trap the seed-7/11/23 fuzz
    fixtures caught in the pandas form: a nullable int64 user_id column converts to float64
    (NaN for NULL), and two distinct snowflake-regime ids above 2⁵³
    collapse to the SAME double — merging different users' sessions.
    Arrow keeps int64 + validity exactly; user boundaries come from
    ``dictionary_encode`` codes (NULL user_id = one code, matching the
    SQL PARTITION BY / groupBy one-NULL-group convention), and the
    emitted user_id/timestamps are ``take``-n from the sorted arrays —
    no lossy round-trip anywhere.  Per-session totals stay a plain
    sequential left-to-right Python add + ``round(total, 4)`` over the
    segment — BIT-identical to i6b's per-row state machine
    (``np.add.reduceat`` is pairwise above short segments, and
    np.round's scale-multiply differs from correctly-rounded round() at
    rare boundaries; the float adds were never the cost, per-group
    pandas construction was).  NULL-ts events belong to no session and
    drop before sorting (the module's NULL-timestamp convention)."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    gap_us = 30 * 60 * 1_000_000

    def _sessionize_partition(
        batches: Iterator["pa.RecordBatch"],
    ) -> Iterator["pa.RecordBatch"]:
        got = list(batches)
        if not got:
            return
        tbl = pa.Table.from_batches(got)
        tbl = tbl.filter(pc.is_valid(tbl["ts"]))
        if tbl.num_rows == 0:
            return
        order = pc.sort_indices(
            tbl,
            sort_keys=[
                ("user_id", "ascending"),
                ("ts", "ascending"),
                ("event_id", "ascending"),
            ],
            null_placement="at_end",
        )
        tbl = tbl.take(order)
        uid = tbl["user_id"].combine_chunks()
        # exact user boundaries: dictionary codes are int32, NULL → -1
        ucodes = (
            pc.dictionary_encode(uid).indices.fill_null(-1).to_numpy()
        )
        ts = tbl["ts"].combine_chunks()
        ts_us = ts.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
        vals = tbl["value"].to_numpy(zero_copy_only=False)  # NULL → NaN
        is_new = np.r_[
            True,
            (ucodes[1:] != ucodes[:-1]) | (ts_us[1:] - ts_us[:-1] > gap_us),
        ]
        starts = np.flatnonzero(is_new)
        n_ev = np.diff(np.r_[starts, len(ucodes)])
        ends = starts + n_ev - 1
        vlist = vals.tolist()
        bounds = np.r_[starts, len(vlist)]
        totals = np.empty(len(starts), dtype=np.float64)
        for i in range(len(starts)):
            # first element ASSIGNS (old loop's init): lone -0.0 stays -0.0
            acc = vlist[bounds[i]]
            for v in vlist[bounds[i] + 1 : bounds[i + 1]]:
                acc = acc + v
            totals[i] = round(acc, 4)
        ts_ntz = ts.cast(pa.timestamp("us"))
        yield pa.RecordBatch.from_arrays(
            [
                uid.take(pa.array(starts)),
                ts_ntz.take(pa.array(starts)),
                ts_ntz.take(pa.array(ends)),
                pa.array(n_ev, pa.int64()),
                # from_pandas=True: NaN → NULL, reproducing the pandas
                # output path's NaN↔NULL contract (SESSION_SQL_PANDAS)
                pa.array(totals, pa.float64(), from_pandas=True),
            ],
            names=[
                "user_id",
                "session_start",
                "session_end",
                "n_events",
                "total_value",
            ],
        )

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    schema = (
        "user_id bigint, session_start timestamp_ntz, session_end timestamp_ntz, "
        "n_events bigint, total_value double"
    )
    return ev.repartition("user_id").mapInArrow(_sessionize_partition, schema)


# --- I6b: TRUE streaming stateful sessionize (applyInPandasWithState) -----------------
#
# Emission contract: a session is emitted ONLY when a later event closes
# it (gap ≥ 30 min); each user's final session is still open when the
# availableNow stream ends and stays in the state store unemitted.  That
# makes the result exactly "all sessions but each user's last" — fully
# SQL-expressible, so a true stateful streaming run is value-hash-checked.
# Cross-micro-batch state carry-over is exercised in tests/test_streaming.


CLOSED_SESSION_SQL = """
WITH ordered AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
),
agg AS (
  SELECT user_id, sid,
         CAST(MIN(ts) AS TIMESTAMP) AS session_start,
         CAST(MAX(ts) AS TIMESTAMP) AS session_end,
         COUNT(*) AS n_events,
         ROUND(SUM(value), 4) AS total_value
  FROM sess
  GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM agg
QUALIFY sid < MAX(sid) OVER (PARTITION BY user_id)
"""

# Same Arrow NaN<->NULL contract as SESSION_SQL_PANDAS (see there).
CLOSED_SESSION_SQL_PANDAS = CLOSED_SESSION_SQL.replace(
    "ROUND(SUM(value), 4) AS total_value",
    "CASE WHEN COUNT(value) != COUNT(*) OR isnan(SUM(value)) THEN NULL"
    " ELSE ROUND(SUM(value), 4) END AS total_value",
)


def _sessionize_with_state(key, pdfs, state):
    """Per-key state machine: (start_us, end_us, n, total) carried in the
    state store across micro-batches; closed sessions stream out."""
    import pandas as pd  # executor-side

    gap_us = 30 * 60 * 1_000_000
    if state.exists:
        start_us, end_us, n, total = state.get
    else:
        start_us = None
        end_us, n, total = 0, 0, 0.0
    out = []
    for pdf in pdfs:
        # NULL-timestamp convention (module comment): NaT events belong
        # to no session.  Unfiltered, pandas sorts NaT LAST and
        # `NaT - end > gap` (always False) merges the timeless event
        # into the last session; astype(int64) of NaT would also
        # fabricate a sentinel time
        pdf = pdf[pdf["ts"].notna()].sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].astype("int64") // 1000
        for t, val in zip(ts_us, pdf["value"]):
            t = int(t)
            if start_us is None:
                start_us, end_us, n, total = t, t, 1, float(val)
            elif t - end_us > gap_us:
                out.append((key[0], start_us, end_us, n, round(total, 4)))
                start_us, end_us, n, total = t, t, 1, float(val)
            else:
                end_us, n, total = t, n + 1, total + float(val)
    state.update((start_us, end_us, n, total))
    if out:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "session_start": pd.to_datetime([r[1] for r in out], unit="us"),
                "session_end": pd.to_datetime([r[2] for r in out], unit="us"),
                "n_events": [r[3] for r in out],
                "total_value": [r[4] for r in out],
            }
        )


@query("i6b_stateful_streaming", oracle=CLOSED_SESSION_SQL_PANDAS)
def i6b_stateful_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "value", "event_id"
    )
    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, total_value double"
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_with_state,
        outputStructType=out_schema,
        stateStructType="start_us bigint, end_us bigint, n bigint, total double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # No sf_dir, so no state gate: i6b's cost is the per-row Python
    # state machine, not state-store commits, and each state partition
    # is one Python worker, so its width follows the cores (the session
    # width).  Narrowed from a session width of 32 to 4, it ran 1.8x
    # slower (1.9 s → 3.4 s).
    return (
        run_available_now(sessions, "i6b_sessions", "append")
        .withColumn("session_start", F.col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))
    )


# --- I6c (not registered): transformWithStateInPandas — Spark 4's
#     successor API — was attempted and is ENVIRONMENT-BLOCKED here: its
#     Python driver worker imports google.protobuf, which this container
#     lacks (measured: worker crash on `from google.protobuf import
#     descriptor`).  i6b's applyInPandasWithState covers the stateful
#     operator contract; swap to transformWithState where protobuf and
#     the RocksDB state store are available. ------------------------------------------


# --- I7: stream-static join (enrich events with a broadcast dim) ---------------------


@query(
    "i7_stream_static_join",
    oracle="""
    SELECT user_id % 100 AS user_bucket,
           """ + fsum_sql("value * w.weight", "weighted_value") + """,
           COUNT(*) AS n_events
    FROM events
    JOIN (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
                 ('signup', 5.0), ('error', 0.0)) AS w(event_type, weight)
      USING (event_type)
    GROUP BY 1
    """,
)
def i7_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    return (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy((F.col("user_id") % 100).alias("user_bucket"))
        .agg(
            fsum(F.col("value") * F.col("weight"), "weighted_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- I8: stream-stream join (time-range condition: clicks within 30 min
#     before each purchase, same user) -------------------------------------------------


@query(
    "i8_stream_stream_join",
    oracle="""
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
         clicks    AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id,
           p.user_id,
           COUNT(c.event_id) AS n_recent_clicks
    FROM purchases p
    LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND c.ts > p.ts - INTERVAL 30 MINUTE
     AND c.ts <= p.ts
    GROUP BY p.event_id, p.user_id
    """,
)
def i8_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts > p.p_ts - F.expr("INTERVAL 30 MINUTES"))
        & (c.c_ts <= p.p_ts),
        "left",
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("c_id").alias("n_recent_clicks")
    )


# --- I13: TRUE streaming sliding window (1 h window, 15 min slide) ------------


@query(
    "i13_stream_sliding_window",
    # Same semantics as the batch twin i2: each event lands in 4
    # overlapping hour windows; the streaming run must converge to the
    # identical final state.
    oracle="""
    SELECT make_timestamp(((epoch_us(ts) // 900000000) - k.k) * 900 * 1000000)
             AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def i13_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming sliding-window aggregation: watermarked event
    time, `window(ts, '1 hour', '15 minutes')` (each event fans out to
    4 open windows — state is 4× tumbling, the capacity planning
    consequence of sliding windows), availableNow trigger, complete
    mode so every window reaches the sink regardless of the final
    watermark.  Hash-checked against the batch/SQL formulation — the
    streaming and batch planners must agree exactly."""
    stream = read_events_stream(spark, sf_dir).withColumn(
        "ts_event", F.col("ts").cast("timestamp")
    )
    agg = (
        stream.withWatermark("ts_event", "10 minutes")
        .groupBy(
            F.window("ts_event", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    out = run_available_now(agg, "i13_sliding_sink", "complete", sf_dir)
    return out.withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))


# --- I15: true streaming dedup bounded by watermark ---------------------------


@query(
    "i15_stream_dedup_watermarked",
    oracle="""
    SELECT event_id, event_type, user_id
    FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
    GROUP BY event_id, event_type, user_id
    """,
)
def i15_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming dedup with BOUNDED state:
    `dropDuplicatesWithinWatermark` (Spark 3.5+) keeps a key's dedup
    state only until the watermark passes its event time, then evicts —
    the production form of i5's unbounded `dropDuplicates`, whose state
    grows forever on an infinite stream.  The duplicate source is the
    stream unioned with itself (same micro-batch replay, duplicates
    land within any watermark delay); append mode emits each surviving
    row once.  At 100 TB/day the eviction bound is what makes exactly-
    once dedup feasible: state ∝ keys-per-watermark-window, not
    keys-ever-seen."""
    stream = read_events_stream(spark, sf_dir).withColumn(
        "ts_event", F.col("ts").cast("timestamp")
    )
    doubled = stream.unionByName(stream).select(
        "event_id", "event_type", "user_id", "ts_event"
    )
    deduped = doubled.withWatermark("ts_event", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id", "event_type", "user_id"]
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    out = run_available_now(deduped, f"i15_dedup_{tag}", "append", sf_dir)
    return out.select("event_id", "event_type", "user_id")


# --- I16: TRUE streaming stream-stream LEFT OUTER join ------------------------
#
# Emission contract (this is what makes a streaming outer join
# value-hash-checkable): matched pairs emit immediately; an UNMATCHED
# left row emits its null-joined result only when the global watermark
# passes its state-retention bound (here: the purchase's own event
# time, since the time condition caps matching clicks at c_ts <= p_ts).
# Spark tracks watermarks in MILLISECONDS (floor of the µs event time)
# and takes the min across both inputs, and eviction is strict
# (p_ts < watermark), so with delay 0 the emitted set is exactly:
#   matched ∪ { unmatched p : µs(p_ts) < 1000·⌊min(max_p, max_c)/1000⌋ }
# — fully SQL-expressible, mirrored in the oracle below.  The fixture
# is one parquet file → one micro-batch + one eviction batch, so the
# batching (and therefore the watermark trajectory) is deterministic.


@query(
    "i16_stream_outer_join",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    wm AS (
      SELECT 1000 * (epoch_us(LEAST((SELECT MAX(p_ts) FROM p),
                                     (SELECT MAX(c_ts) FROM c))) // 1000)
               AS wm_us
    ),
    joined AS (
      SELECT p.purchase_id, p.user_id, p.p_ts, c.click_id, c.c_ts
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.c_ts > p.p_ts - INTERVAL 30 MINUTE
       AND c.c_ts <= p.p_ts
    )
    SELECT purchase_id, user_id, p_ts, click_id, c_ts
    FROM joined, wm
    WHERE click_id IS NOT NULL OR epoch_us(p_ts) < wm.wm_us
    """,
)
def i16_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming stream-stream LEFT OUTER join with per-side
    watermarks (Spark's interval-join + state-eviction machinery): each
    purchase looks back 30 minutes for clicks by the same user; matches
    stream out immediately, and the null-joined rows for unmatched
    purchases are emitted by watermark-driven state eviction — the
    mechanism that BOUNDS join state on an infinite stream (without it,
    the left side's state grows forever).

    At 100 TB/day this is the production funnel-join shape: state per
    side ∝ rows inside the watermark horizon only; the time-range
    predicate lets Spark evict both sides continuously.  The oracle
    replays the emission contract declaratively (see block comment) —
    matched pairs plus unmatched-and-evicted purchases."""
    ev = read_events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "0 seconds")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").cast("timestamp").alias("c_ts"),
        )
        .withWatermark("c_ts", "0 seconds")
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts > p.p_ts - F.expr("INTERVAL 30 MINUTES"))
        & (c.c_ts <= p.p_ts),
        "leftOuter",
    )
    return run_available_now(joined, "i16_outer", "append", sf_dir).select(
        "purchase_id",
        "user_id",
        F.col("p_ts").cast("timestamp_ntz").alias("p_ts"),
        "click_id",
        F.col("c_ts").cast("timestamp_ntz").alias("c_ts"),
    )


# --- I17: TRUE streaming native session windows (watermark-evicted) -----------
#
# Emission contract (mirrors i16's discipline): append mode emits a
# session only once the watermark guarantees no event can extend it —
# i.e. session_end + gap has passed the final watermark (milliseconds,
# strict <).  The withheld tail is exactly the sessions still inside
# the horizon, so the emitted set is SQL-expressible and hash-checked.


@query(
    "i17_stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    agg AS (
      SELECT user_id,
             CAST(MIN(ts) AS TIMESTAMP) AS session_start,
             CAST(MAX(ts) AS TIMESTAMP) AS session_end,
             COUNT(*) AS n_events,
             ROUND(SUM(value), 4) AS total_value
      FROM sess GROUP BY user_id, sid
    ),
    wm AS (SELECT 1000 * (epoch_us(MAX(ts)) // 1000) AS wm_us FROM events)
    SELECT user_id, session_start, session_end, n_events, total_value
    FROM agg, wm
    -- <= : Spark evicts a session when the watermark REACHES the
    -- window end (inclusive) — a session whose end+gap coincides with
    -- the final watermark IS emitted (fuzz sweep, seed 202's 15-min
    -- grid produced the exact coincidence)
    WHERE epoch_us(session_end + INTERVAL 30 MINUTE) <= wm.wm_us
    """,
)
def i17_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming NATIVE session windows: ``session_window`` inside
    a watermarked ``readStream`` aggregation — Spark's built-in dynamic-
    gap windowing with state that MERGES adjacent windows as bridging
    events arrive and is evicted (emitted) once the watermark passes
    ``session_end + gap``.  This is the engine-managed counterpart of
    i6b's hand-rolled applyInPandasWithState sessionizer: same logical
    sessions, zero custom state code.

    At 100 TB/day the state store holds only open sessions inside the
    watermark horizon per user — the eviction bound is what keeps
    unbounded-stream sessionization feasible.  The oracle replays the
    gap-SQL sessionization plus the emission contract (block comment);
    rounding discipline matches i6b (4-dp terminal round)."""
    ev = read_events_stream(spark, sf_dir).withColumn(
        "tse", F.col("ts").cast("timestamp")
    )
    agg = (
        ev.withWatermark("tse", "0 seconds")
        .groupBy("user_id", F.session_window("tse", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    return run_available_now(agg, "i17_sessions", "append", sf_dir).select(
        "user_id",
        F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
        # Spark's session window end = last event + gap; expose the
        # last-event time so the schema matches the gap-SQL twin
        (F.col("sw.end") - F.expr("INTERVAL 30 MINUTES"))
        .cast("timestamp_ntz")
        .alias("session_end"),
        "n_events",
        "total_value",
    )


# --- I18: TRUE streaming exact distinct count (dedup-then-count) --------------


@query(
    "i18_stream_distinct_users",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS ws,
           event_type,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY ws, event_type
    """,
)
def i18_stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming EXACT distinct count: `COUNT(DISTINCT)` is not
    supported inside a streaming aggregation (distinct state is
    unbounded per group), so the production recipe is the two-stage
    plan used here — `dropDuplicates` on (window-bucket, event_type,
    user_id) bounds the dedup state to one row per distinct key, then
    an ordinary streaming count per (window, type) over the surviving
    rows.  Complete-mode drain equals the batch COUNT(DISTINCT) twin
    exactly — the parity hash proves the two-stage rewrite is
    semantics-preserving.

    At 100 TB/day you'd add a watermark to both stages so dedup and
    count state evict together (i15 pins that variant); the sketch
    alternative (HLL, d19) trades exactness for O(1) state when the
    per-window key cardinality itself is too large."""
    stream = read_events_stream(spark, sf_dir).withColumn(
        "tse", F.col("ts").cast("timestamp")
    )
    bucketed = (
        stream
        # COUNT(DISTINCT user_id) skips NULL users; the dedup-then-count
        # rewrite would count the anonymous (NULL) key once per group,
        # so the equivalence claim requires dropping it here (--nulls)
        .filter(F.col("user_id").isNotNull())
        .select(F.window("tse", "1 hour").alias("w"), "event_type", "user_id")
        .dropDuplicates(["w", "event_type", "user_id"])
    )
    counted = bucketed.groupBy("w", "event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    out = run_available_now(counted, "i18_distinct_users", "complete", sf_dir)
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("ws"),
        "event_type",
        "n_users",
    )
