"""Streaming↔batch equivalence (SURVEY §5.3.4): the availableNow
streaming run of a windowed aggregation must equal its batch twin on
the same input, and late data must be dropped by the watermark."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from upc_sku_data_loader_spark.catalog import load
from upc_sku_data_loader_spark.streaming.sources import (
    read_events_stream,
    run_available_now,
)


def test_stream_tumbling_equals_batch(spark, sf_dir):
    agg_cols = [
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ]
    stream = read_events_stream(spark, sf_dir)
    streamed = run_available_now(
        stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(*agg_cols),
        "t_stream_eq",
        "complete",
    ).select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value")

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(*agg_cols)
        .select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value")
    )
    key = lambda r: (r["ws"], r["event_type"])  # noqa: E731
    assert sorted(streamed.collect(), key=key) == sorted(batch.collect(), key=key)


def test_stateful_session_state_spans_micro_batches(spark, tmp_path):
    """applyInPandasWithState must carry per-key state across micro-batch
    boundaries: a session whose events straddle two files is emitted as
    ONE session once a later event closes it."""
    from upc_sku_data_loader_spark.plans.events_streams import (
        _sessionize_with_state,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "sess_src")
    schema = "user_id bigint, ts timestamp_ntz, value double, event_id bigint"
    f0 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0, 1), (1, "2024-01-01 10:10:00", 2.0, 2)],
        "user_id bigint, ts_s string, value double, event_id bigint",
    )
    f1 = spark.createDataFrame(
        [(1, "2024-01-01 10:20:00", 4.0, 3), (1, "2024-01-01 12:00:00", 8.0, 4)],
        f0.schema,
    )
    for df in [f0, f1]:
        df.select(
            "user_id", F.to_timestamp("ts_s").cast("timestamp_ntz").alias("ts"),
            "value", "event_id",
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_with_state,
        outputStructType=(
            "user_id bigint, session_start timestamp, session_end timestamp, "
            "n_events bigint, total_value double"
        ),
        stateStructType="start_us bigint, end_us bigint, n bigint, total double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = run_available_now(sessions, "t_sess_span", "append").collect()
    # one closed session spanning both files; the 12:00 session stays open
    assert len(rows) == 1
    r = rows[0]
    assert r["n_events"] == 3 and r["total_value"] == 7.0
    assert r["session_start"].strftime("%H:%M") == "10:00"
    assert r["session_end"].strftime("%H:%M") == "10:20"


def test_watermark_finalizes_windows_exactly_once(spark, tmp_path):
    """Append mode + watermark, two micro-batches.  Spark's watermark
    contract is one-sided: a finalized (emitted + state-evicted) window
    must never be re-emitted or updated, and windows still inside the
    watermark are withheld until it passes.  (Dropping arbitrary late
    rows whose window never had state is best-effort, NOT guaranteed —
    measured on 4.1: such rows may still aggregate.)"""
    src = str(tmp_path / "late_src")
    # batch 0 seeds windows 03/05/06/07 (wm → 07:20 at its end);
    # batch 1 advances wm to 08:20, which EMITS 03:00/05:00/06:00;
    # batch 2 carries a 03:30 row — ~5 h late, window already finalized.
    f0 = spark.createDataFrame(
        [(0, "2024-01-01 03:15:00"), (1, "2024-01-01 05:30:00"),
         (2, "2024-01-01 06:30:00"), (3, "2024-01-01 07:30:00")],
        "event_id bigint, ts_s string",
    )
    f1 = spark.createDataFrame([(4, "2024-01-01 08:30:00")], f0.schema)
    f2 = spark.createDataFrame(
        [(99, "2024-01-01 03:30:00"), (100, "2024-01-01 08:45:00")], f0.schema
    )
    # FileStreamSource orders micro-batches by file modification time —
    # a real gap makes the arrival order deterministic.
    for df in [f0, f1, f2]:
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.2)

    stream = (
        spark.readStream.schema("event_id bigint, ts_s string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.to_timestamp("ts_s"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    emitted = run_available_now(stream, "t_late", "append").collect()
    rows = {r["ws"].strftime("%H:%M"): r["n"] for r in emitted}
    # the late 03:30 row must not update or re-emit the finalized window
    assert rows.get("03:00") == 1
    assert len(emitted) == len(rows), "a finalized window was emitted twice"
    # 08:00 window end 09:00 > final watermark 08:35 → withheld by append
    assert "08:00" not in rows
    assert rows == {"03:00": 1, "05:00": 1, "06:00": 1, "07:00": 1}


def test_a16b_stream_source_is_streaming_and_tiles(spark, sf_dir):
    """The Python data source stream reader is a true streaming relation
    and its drained aggregate tiles the full range exactly."""
    from upc_sku_data_loader_spark import plans  # noqa: F401
    from upc_sku_data_loader_spark.registry import QUERIES
    from upc_sku_data_loader_spark.sources.python_ds import (
        UpcWorklistDataSource,
    )

    try:
        spark.dataSource.register(UpcWorklistDataSource)
    except Exception:
        pass
    stream = (
        spark.readStream.format("upc_worklist").option("n", 100).load()
    )
    assert stream.isStreaming
    out = QUERIES["a16b_python_stream_source"](spark, sf_dir).collect()
    assert sum(r["n"] for r in out) == 2000
    assert sum(r["sum_seq"] for r in out) == 2000 * 1999 // 2


# --- state width: the runner's gate scopes it to one run ----------------------


def test_state_gate_scopes_width_to_one_run(spark, sf_dir):
    """With ``sf_dir`` the runner narrows a stateful stream's partition
    count to the events-derived width (4 at fixture scale) even when the
    session is wider, and leaves the session width as it found it;
    without ``sf_dir`` the state takes the session width."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StateWidths(StreamingQueryListener):
        def __init__(self):
            self.seen: dict[str, set[int]] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            widths = self.seen.setdefault(p.name, set())
            widths.update(op.numShufflePartitions for op in p.stateOperators)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    listener = StateWidths()
    spark.streams.addListener(listener)
    try:
        spark.conf.set(key, "8")
        agg = (
            read_events_stream(spark, sf_dir)
            .withColumn("tse", F.col("ts").cast("timestamp"))
            .withWatermark("tse", "10 minutes")
            .groupBy(F.window("tse", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        run_available_now(agg, "t_state_gated", "append", sf_dir)
        assert spark.conf.get(key) == "8"
        run_available_now(agg, "t_state_session", "append")
        # progress events reach Python listeners asynchronously
        deadline = time.time() + 60
        names = ("t_state_gated", "t_state_session")
        while not all(listener.seen.get(n) for n in names) and time.time() < deadline:
            time.sleep(0.2)
        assert listener.seen == {"t_state_gated": {4}, "t_state_session": {8}}
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, old)


# --- i16 streaming left-outer join ---------------------------------------------


def test_i16_outer_join_emission_contract(spark, sf_dir):
    """Matched pairs + evicted unmatched rows; no purchase appears with
    both a null and a non-null click (append-mode no-dup invariant)."""
    from pyspark.sql import functions as F

    from upc_sku_data_loader_spark.registry import QUERIES

    out = QUERIES["i16_stream_outer_join"](spark, sf_dir)
    agg = (
        out.groupBy("purchase_id")
        .agg(
            F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0)).alias("nulls"),
            F.sum(F.when(F.col("click_id").isNotNull(), 1).otherwise(0)).alias("hits"),
        )
        .collect()
    )
    assert agg, "stream produced no rows"
    for r in agg:
        # a purchase emits EITHER its matches OR one null row, never both
        assert (r["nulls"] == 0) != (r["hits"] == 0) or r["nulls"] + r["hits"] == 1
        assert r["nulls"] <= 1


# --- checkpoint recovery: stop, add data, resume — no reprocessing -------------


def test_checkpoint_resume_processes_each_file_exactly_once(spark, tmp_path):
    """The file-source + checkpoint contract that production ingestion
    rests on: a restarted query resumes from the recorded offsets —
    rows from files already committed in the checkpoint are NOT
    re-emitted, rows from files added while the query was down are
    picked up, and the union is exactly-once."""
    src = str(tmp_path / "ckpt_src")
    sink = str(tmp_path / "ckpt_sink")
    ckpt = str(tmp_path / "ckpt_meta")
    schema = "event_id bigint, user_id bigint, value double"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_file([(1, 10, 1.0), (2, 10, 2.0)])
    run_once()  # run 1: commits the first file's offsets
    first = spark.read.parquet(sink).count()
    assert first == 2

    # "crash" window: new data lands while no query is running
    write_file([(3, 11, 3.0)])
    write_file([(4, 11, 4.0), (5, 12, 5.0)])
    run_once()  # run 2: resumes from the checkpoint

    out = spark.read.parquet(sink)
    assert out.count() == 5  # 2 old (not duplicated) + 3 new
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == [1, 2, 3, 4, 5]


def test_i17_native_session_window_matches_custom_sessionizer(spark, sf_dir):
    """The engine-managed session_window (i17) and the hand-rolled
    applyInPandasWithState sessionizer (i6b) must agree on every
    session BOTH emit (they differ only in emission horizon: watermark
    eviction vs closed-by-later-event)."""
    from upc_sku_data_loader_spark.registry import QUERIES

    native = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in QUERIES["i17_stream_session_window"](spark, sf_dir).collect()
    }
    custom = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in QUERIES["i6b_stateful_streaming"](spark, sf_dir).collect()
    }
    shared = native.keys() & custom.keys()
    assert shared, "expected overlapping emitted sessions"
    for k in shared:
        assert native[k] == custom[k]
