"""SparkSession factory and runtime-config enforcement.

The driver creates its own SparkSession and passes it to ``entry()`` /
``queries()`` callables, so anything we need MUST be runtime-settable
(verified: ``spark.sql.legacy.parquet.nanosAsLong`` and
``spark.sql.session.timeZone`` both are).  ``ensure_runtime_configs`` is
therefore called from every table load (catalog.py) — it is idempotent
and cheap.

Scale notes (100 TB design point):
- AQE stays on (default in Spark 3.2+): runtime shuffle-partition
  coalescing + skew-join splitting is the main defense at 1000-executor
  scale; we never hand-pick per-query partition counts.
- ``shuffle.partitions`` follows the session's cores: ``get_spark``
  sets it to ``defaultParallelism``, the width the explicit partition
  counts (etl, rest_api, dedup, similarity) already read, so it tracks
  ``SPARK_GRAFT_CPUS``.  Spark's default of 200 is pure scheduling
  overhead at fixture scale.  On a real cluster the cluster's conf sets
  it (or AQE's
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
"""

from __future__ import annotations

import functools
import os
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: Runtime (non-static) SQL configs every engine session needs.
RUNTIME_CONFIGS: dict[str, str] = {
    # events.parquet stores timestamp[ns]; Spark 4 hard-errors without this
    # ([PARQUET_TYPE_ILLEGAL], measured — SURVEY §1.3). Read as long, then
    # catalog.py reconstructs µs timestamps.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep naive-timestamp semantics aligned with DuckDB (timezone-free).
    "spark.sql.session.timeZone": "UTC",
    # Arrow everywhere Python touches data: toPandas, pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Adaptive execution: re-plan at shuffle boundaries (skew, coalesce).
    "spark.sql.adaptive.enabled": "true",
    # CSV corrupt-record routing (a19) must not depend on the query's
    # projection: with parser column pruning ON, a short-arity row is
    # flagged corrupt under a full parse but NOT under a pruned one
    # (measured — filter+count vs collect gave different is_corrupt).
    # Deterministic semantics beat the pruning win; CSV is an ingest
    # edge here, the analytic store is parquet (whose pruning this
    # does not touch).
    "spark.sql.csv.parser.columnPruning.enabled": "false",
}


def ensure_runtime_configs(spark: SparkSession) -> SparkSession:
    """Idempotently apply RUNTIME_CONFIGS to an externally-owned session."""
    for k, v in RUNTIME_CONFIGS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # static conf on some build — best effort
            pass
    return spark


def get_spark(
    app_name: str = "upc-sku-data-loader-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``); on a real cluster pass ``master=None`` with the conf
    coming from spark-submit.  The shuffle width is the session's
    ``defaultParallelism``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python-worker connect-back defaults to 15 s; a fork under a
        # heavily loaded host (concurrent pytest shards, loadavg ~30)
        # can exceed it and kill an otherwise-healthy streaming query
        # (observed once in tools/fast_pytest.py's 6-shard run). 60 s
        # costs nothing when idle and absorbs the spike.
        .config("spark.python.authenticate.socketTimeout", "60s")
    )
    # Static conf, so it only takes effect for the first session in a
    # process — exactly the concurrent-shard case it exists for
    # (tools/fast_pytest.py gives each pytest process its own warehouse
    # so a22's managed-table DDL can't race a sibling shard).
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if wh:
        builder = builder.config("spark.sql.warehouse.dir", wh)
    for k, v in RUNTIME_CONFIGS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return ensure_runtime_configs(spark)


class Held:
    """The one owner of every cache and checkpoint a query builds.

    ``persist`` and ``checkpoint`` materialize a relation and record how
    to free it; ``free`` releases relations nothing reads any more.
    Whatever is still held when a :func:`holding` query returns lives as
    long as the returned DataFrame.

    Contract: run the returned DataFrame, or keep it referenced while a
    plan derived from it runs; a freed checkpoint cannot be recomputed
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).  Operators take the caller's
    ``Held`` and never bind it: only the query knows what it returns.
    """

    def __init__(self) -> None:
        self._held: list[tuple[DataFrame, Callable[[], object]]] = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append((df, df.unpersist))
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        # df.unpersist() leaves a localCheckpoint's blocks resident: they
        # belong to the RDD under the plan's LogicalRDD leaf.
        df = df.localCheckpoint(eager=True)
        rdd = df._jdf.queryExecution().logical().rdd()
        self._held.append((df, lambda: rdd.unpersist(False)))
        return df

    def free(self, *dfs: DataFrame) -> None:
        keep = []
        for df, unpersist in self._held:
            if not any(df is d for d in dfs):
                keep.append((df, unpersist))
                continue
            try:
                unpersist()
            except Exception:
                pass  # session already stopped: nothing left to free
        self._held = keep

    def _free_all(self) -> None:
        self.free(*(df for df, _ in self._held))


def holding(
    fn: Callable[[SparkSession, str, Held], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Registry-query decorator: run ``fn(spark, sf_dir, held)`` and free
    everything still held once the caller drops the returned DataFrame
    (CPython refcounting fires the finalizer at once).  A build that
    raises frees everything before the error propagates."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        held = Held()
        try:
            result = fn(spark, sf_dir, held)
        except BaseException:
            held._free_all()
            raise
        weakref.finalize(result, held._free_all)
        return result

    return run
