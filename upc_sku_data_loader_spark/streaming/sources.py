"""Structured Streaming sources over the fixture tables (SURVEY §2 A9/I).

``events`` as an unbounded stream: ``spark.readStream.schema(...)
.parquet(dir)`` — file-based micro-batches, the standard pattern for
replayable ingestion.  Unlike the batch reader, ``readStream`` *imposes*
the declared schema rather than inferring one, so the ``ts`` field type
must match the physical encoding; the fixtures have shipped as both
timestamp[ns] (lands as int64 under nanosAsLong) and timestamp[µs]
(lands as a timestamp).  We probe the parquet footer with pyarrow once
per source construction (driver-side, O(1)) and declare the matching
schema, then normalize identically to the batch catalog so streaming and
batch twins agree bit-for-bit.

Scale note: at production scale the same code points at an object-store
prefix; ``maxFilesPerTrigger`` bounds micro-batch size, and the
checkpoint directory gives exactly-once with idempotent sinks.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import normalize_events_ts
from ..session import ensure_runtime_configs

#: Streaming state sizing: rows of source input per state partition.
#: A streaming query's state-partition count is pinned from
#: ``spark.sql.shuffle.partitions`` at query START (and then frozen in
#: the checkpoint), and EVERY micro-batch pays a fixed per-partition
#: per-store commit cost (HDFS state store: delta file write + rename
#: per store per partition — a stream-stream outer join carries 4
#: stores).  Measured (r10, i16 at sf0.1 = 200k input rows): 32
#: partitions → 18.2 s wall with state commitTimeMs dominating; 8 →
#: 4.1 s; 4 → 2.8 s, identical output.  The right count follows the
#: DATA (state volume / throughput), not the local core count, so the
#: gate below derives it from the parquet-footer row count of the
#: source and caps it at the session's configured shuffle partitions
#: (the cluster-tuned authority at real scale — the gate only prevents
#: OVERsharding tiny state, it never overrides an operator that needs
#: more).
_STREAM_ROWS_PER_STATE_PART = 50_000


@contextmanager
def stream_state_partitions(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> Iterator[None]:
    """Scope ``spark.sql.shuffle.partitions`` to an input-derived state
    partition count for the duration of one streaming query run (set
    before ``start()``, restored after ``awaitTermination()``).  See
    the module note above for the measurement and the scale argument."""
    from ..catalog import parquet_rowcount

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = parquet_rowcount(spark, sf_dir, table)
        target = min(
            int(old), max(4, math.ceil(n / _STREAM_ROWS_PER_STATE_PART))
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _events_ts_field(sf_dir: str) -> T.DataType:
    """Probe the parquet footer to pick the declared ``ts`` field type.

    timestamp[ns] files land as int64 under nanosAsLong → LongType;
    timestamp[µs] files land as a timestamp → TimestampNTZType.  Footer
    read is driver-side and O(1) — no data scan.
    """
    import pyarrow.parquet as pq

    arrow_type = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    if str(arrow_type) in ("timestamp[ns]", "int64"):
        return T.LongType()
    return T.TimestampNTZType()


def events_raw_schema(sf_dir: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", _events_ts_field(sf_dir)),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    ensure_runtime_configs(spark)
    reader = spark.readStream.schema(events_raw_schema(sf_dir))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # Stream a glob that matches exactly the fixture file.  Listing the
    # whole sf_dir with a pathGlobFilter still runs partition DISCOVERY
    # over every sibling directory — which breaks with
    # CONFLICTING_DIRECTORY_STRUCTURES when sf_dir is a writable replica
    # dir that also holds partitioned fixture outputs (round-6 scale
    # sweep), and costs a full recursive listing at scale.  The trailing
    # '*' keeps the path a glob so the source's implicit basePath stays
    # the parent DIRECTORY (a bare file path fails "basePath must be a
    # directory"); nothing else under an sf dir starts with this name.
    df = reader.parquet(f"{sf_dir.rstrip('/')}/events.parquet*")
    return normalize_events_ts(df)


def run_available_now(
    stream_df: DataFrame, view_name: str, sf_dir: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink in *complete* output mode; return the result as a batch
    DataFrame.  Complete mode emits every window/group regardless of the
    final watermark, so the result equals the batch twin exactly.

    When ``sf_dir`` is given, the run is scoped by
    :func:`stream_state_partitions` so the state-partition count tracks
    the input size instead of the session shuffle default."""
    spark = stream_df.sparkSession

    def _run() -> DataFrame:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(view_name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(view_name)

    if sf_dir is None:
        return _run()
    with stream_state_partitions(spark, sf_dir):
        return _run()
