"""Fixture-table catalog: schema-pinned loads of the driver's parquet.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet per table per
scale factor under ``/root/testdata/sf{0.001,0.01,0.1}``.

The one non-trivial load is ``events``: its ``ts`` column has shipped in
two physical encodings across fixture generations — parquet
timestamp[ns] (survey-era) and timestamp[µs] (current fixtures, measured
2026-08-13 via ``pyarrow.parquet.read_schema``).  The load dispatches on
the *landed* Spark type, so both encodings produce the same canonical
schema:

* timestamp[ns] + ``spark.sql.legacy.parquet.nanosAsLong=true`` lands as
  int64 nanoseconds → reconstruct µs ``timestamp_ntz`` with integer
  arithmetic (``ts div 1000`` — NOT float division, which loses
  precision above 2^53), matching DuckDB's own ns→µs truncation.
* timestamp[µs] lands as a timestamp already → keep it (cast to
  ``timestamp_ntz``; session tz is UTC so the instant is unchanged) and
  derive ``ts_ns = unix_micros(ts) * 1000``.

Either way the engine-facing schema is ``ts timestamp_ntz`` +
``ts_ns bigint``.  ``nanosAsLong`` stays set for backward compat — it is
a no-op on µs files.

Every load is schema-pinned: :func:`read_schema` reads the table's
parquet footer on the driver with pyarrow, and the load passes that
schema to ``spark.read.schema(...)``, so no Spark footer-inference job
runs.  The streaming source reads the same schema.

Scale note: loads are plain parquet scans — columnar scan, predicate
pushdown and column pruning all apply; at 100 TB the same call reads a
directory tree, whose first data file gives the schema.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow.parquet as pq
import pyarrow.types as pat
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from .session import ensure_runtime_configs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Canonicalize the events ``ts`` column regardless of how it landed.

    Dispatches on the landed Spark type (see module docstring): int64
    nanoseconds (ns parquet + nanosAsLong) vs a real timestamp (µs
    parquet).  Output schema is identical in both cases:
    ``ts timestamp_ntz`` (µs precision) + ``ts_ns bigint`` appended,
    both computed from the input ``ts`` in one projection.
    """
    if isinstance(df.schema["ts"].dataType, T.LongType):
        ts_ns, ts = "ts", "cast(timestamp_micros(ts div 1000) as timestamp_ntz)"
    else:
        ts_ns = "unix_micros(cast(ts as timestamp)) * CAST(1000 AS BIGINT)"
        ts = "cast(ts as timestamp_ntz)"
    return df.withColumns({"ts_ns": F.expr(ts_ns), "ts": F.expr(ts)})


def _data_files(path: str) -> list[Path]:
    """The parquet files at ``path``: the file itself, or every
    ``*.parquet`` under a Spark-written directory, in name order."""
    root = Path(path)
    return sorted(root.rglob("*.parquet")) if root.is_dir() else [root]


def read_schema(path: str) -> T.StructType:
    """The schema Spark reads for the parquet at ``path`` (a file or a
    Spark-written directory), taken from the first data file's footer on
    the driver — no Spark job.

    Types map as Spark's own footer inference does: naive timestamps as
    ``timestamp_ntz``, an ns timestamp as ``bigint`` (how it lands under
    ``nanosAsLong``), an INT96 column as ``timestamp``, every top-level
    column nullable.
    """
    footer = pq.ParquetFile(_data_files(path)[0])
    leaves = [footer.schema.column(i) for i in range(len(footer.schema))]
    int96 = {c.path for c in leaves if c.physical_type == "INT96"}
    fields = []
    for f in footer.schema_arrow:
        if f.name in int96:
            dt = T.TimestampType()
        elif pat.is_timestamp(f.type) and f.type.unit == "ns":
            dt = T.LongType()
        else:
            dt = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(T.StructField(f.name, dt))
    return T.StructType(fields)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; canonical engine-facing schema.

    ``events.ts`` is exposed as µs ``timestamp_ntz`` (matching the DuckDB
    oracle view's TIMESTAMP); an integer-nanosecond ``ts_ns`` is kept for
    operators that want integer time math.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_runtime_configs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(read_schema(path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def parquet_rowcount(sf_dir: str, name: str) -> int:
    """RAW row count of a fixture table from its parquet footers — a
    driver-side metadata read (~1 ms), no Spark job.  Used by plan-time
    strategy gates (e.g. the deliberate join build side in plans/joins.py
    and the broadcast-vs-blocked switch in operators/similarity.py) so
    the physical strategy adapts to the INPUT size rather than being
    pinned for either local mode or the cluster."""
    return sum(
        pq.read_metadata(p).num_rows for p in _data_files(f"{sf_dir}/{name}.parquet")
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views (for spark.sql paths)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
