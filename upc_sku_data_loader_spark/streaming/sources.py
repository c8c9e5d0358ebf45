"""Structured Streaming sources over the fixture tables (SURVEY §2 A9/I).

``events`` as an unbounded stream: ``spark.readStream.schema(...)
.parquet(dir)`` — file-based micro-batches, the standard pattern for
replayable ingestion.  ``readStream`` needs a declared schema; it is
``catalog.read_schema`` of the fixture file, read from its parquet
footer on the driver exactly as the batch load reads it (no inference
job), so the ``ts`` type follows the physical encoding (ns lands as
int64 under nanosAsLong, µs as a timestamp).  The stream is then
normalized like the batch load, so streaming and batch twins agree
bit-for-bit.

``run_available_now`` is the one runner for memory-sink streams: every
registry query that drains a stream into a memory sink calls it with
its output mode (``"complete"`` or ``"append"``) and, where state
width matters, its ``sf_dir``.  The foreachBatch and parquet sinks
(i9, i12, i19) hold no memory-sink state and start their own writers.

Scale note: at production scale the same code points at an object-store
prefix, and the checkpoint directory gives exactly-once with idempotent
sinks.  Each fixture table is one file, so :func:`read_events_stream`
sets no ``maxFilesPerTrigger``; a stream over a multi-file source that
needs bounded micro-batches sets it on its own reader, as i10 does.
"""

from __future__ import annotations

import math
from contextlib import contextmanager, nullcontext
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..catalog import normalize_events_ts, parquet_rowcount, read_schema
from ..session import ensure_runtime_configs

#: Streaming state sizing: rows of source input per state partition.
#: A streaming query's state-partition count is pinned from
#: ``spark.sql.shuffle.partitions`` at query START (and then frozen in
#: the checkpoint), and EVERY micro-batch pays a fixed per-partition
#: per-store commit cost (HDFS state store: delta file write + rename
#: per store per partition — a stream-stream outer join carries 4
#: stores).  Measured (i16 at sf0.1 = 200k input rows): 32
#: partitions → 18.2 s wall with state commitTimeMs dominating; 8 →
#: 4.1 s; 4 → 2.8 s, identical output.  The right count follows the
#: DATA (state volume / throughput), not the core count, so the gate
#: below derives it from the parquet-footer row count of the source and
#: caps it at the session's shuffle width (``defaultParallelism`` from
#: ``get_spark``, or the cluster conf at real scale — the gate only
#: prevents OVERsharding tiny state, it never overrides an operator that
#: needs more).  A per-query ``repartition`` cannot do this: a stateful
#: operator's partition count is read from the session conf, so the
#: scope below is the one session-conf mutation outside session start.
_STREAM_ROWS_PER_STATE_PART = 50_000


@contextmanager
def _stream_state_partitions(spark: SparkSession, sf_dir: str) -> Iterator[None]:
    """Scope ``spark.sql.shuffle.partitions`` to an input-derived state
    partition count for the duration of one streaming query run (set
    before ``start()``, restored after ``awaitTermination()``).  See
    the module note above for the measurement and the scale argument."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = parquet_rowcount(sf_dir, "events")
        target = min(
            int(old), max(4, math.ceil(n / _STREAM_ROWS_PER_STATE_PART))
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_configs(spark)
    reader = spark.readStream.schema(read_schema(f"{sf_dir}/events.parquet"))
    # Stream a glob that matches exactly the fixture file.  Listing the
    # whole sf_dir with a pathGlobFilter still runs partition DISCOVERY
    # over every sibling directory — which breaks with
    # CONFLICTING_DIRECTORY_STRUCTURES when sf_dir is a writable replica
    # dir that also holds partitioned fixture outputs, and costs a full
    # recursive listing at scale.  The trailing '*' keeps the path a
    # glob so the source's implicit basePath stays the parent DIRECTORY
    # (a bare file path fails "basePath must be a directory"); nothing
    # else under an sf dir starts with this name.
    df = reader.parquet(f"{sf_dir.rstrip('/')}/events.parquet*")
    return normalize_events_ts(df)


def run_available_now(
    stream_df: DataFrame,
    view_name: str,
    output_mode: str,
    sf_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink named ``view_name``; return the sink as a batch
    DataFrame.  This is the one place a memory-sink stream starts.

    ``output_mode`` is part of the query's meaning, so every caller
    names it:

    - ``"complete"`` emits every window/group regardless of the final
      watermark, so the result equals the batch twin exactly;
    - ``"append"`` emits only rows the watermark has finalized (closed
      windows, evicted join/dedup/session state), so the result is the
      stream's emission contract, not its batch twin.

    When ``sf_dir`` is given, the run is scoped by the state gate (see
    ``_STREAM_ROWS_PER_STATE_PART``) so the state-partition count tracks
    the size of ``sf_dir``'s events instead of the session width."""
    spark = stream_df.sparkSession
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(view_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    scope = _stream_state_partitions(spark, sf_dir) if sf_dir else nullcontext()
    with scope:
        writer.start().awaitTermination()
    return spark.table(view_name)
