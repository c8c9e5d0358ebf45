"""Relational DB source/sink (SURVEY §2 A5-A7; reference file:line n/a —
empty tree §0.1; [D] BASELINE.json:7 "DataFrame write to JDBC sink").

The reference's load step is "insert rows into MySQL, upsert by UPC".
Spark has no MERGE mode on ``df.write.jdbc``, so the idempotent upsert
is an Arrow writer kernel (``mapInArrow``) executing batched
``INSERT … ON CONFLICT/ON DUPLICATE KEY UPDATE`` through any DB-API
driver; it binds the same Python values a collected ``Row`` holds, and
uses only ``cursor()``, ``executemany``, ``commit()`` and ``close()``.
This machine has no MySQL server and no JDBC jar (SURVEY §7 Phase 4
risk), so:

- the **upsert writer** is dialect-pluggable and fully exercised against
  sqlite (stdlib) — same code path a mysql-connector would take;
- the **jdbc_* wrappers** ship the ``spark.read/write.jdbc`` call
  shape for real clusters but cannot run here (flagged, not hidden).

Scale notes: one connection per partition (NOT per row); batches of
``batch_size`` via ``executemany``; idempotent by primary key so Spark
task retries are safe (at-least-once execution → exactly-once state).
Partition count bounds DB connection fan-in — ``coalesce`` before
writing to stay under the server's connection budget.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

#: connection_factory() -> DB-API connection (e.g. functools.partial(sqlite3.connect, path))
ConnFactory = Callable[[], Any]

#: rows per ``executemany`` + commit
BATCH_SIZE = 1000


def upsert_sql(dialect: str, table: str, cols: list[str], key_cols: list[str]) -> str:
    """Dialect-specific idempotent upsert statement with ? / %s params."""
    collist = ", ".join(cols)
    non_key = [c for c in cols if c not in key_cols]
    if dialect == "sqlite":
        ph = ", ".join("?" for _ in cols)
        sets = ", ".join(f"{c}=excluded.{c}" for c in non_key)
        keys = ", ".join(key_cols)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
            f"ON CONFLICT({keys}) DO UPDATE SET {sets}"
        )
    if dialect == "mysql":
        ph = ", ".join("%s" for _ in cols)
        sets = ", ".join(f"{c}=VALUES({c})" for c in non_key)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )
    if dialect == "postgres":
        ph = ", ".join("%s" for _ in cols)
        sets = ", ".join(f"{c}=EXCLUDED.{c}" for c in non_key)
        keys = ", ".join(key_cols)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
            f"ON CONFLICT ({keys}) DO UPDATE SET {sets}"
        )
    raise ValueError(f"unknown dialect {dialect!r}")


def _py_rows(batch: pa.RecordBatch) -> list[tuple]:
    """The batch's rows as the Python values a collected ``Row`` holds:
    None for NULL, and zone-aware timestamps as naive local wall time."""
    cols = []
    for col in batch.columns:
        values = col.to_pylist()
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            values = [v if v is None else v.astimezone().replace(tzinfo=None) for v in values]
        cols.append(values)
    return list(zip(*cols))


def _writer(
    conn_factory: ConnFactory, sql: str, batch_size: int = BATCH_SIZE
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """Per-partition upsert kernel: executes ``sql`` over all the Arrow
    batches, ``batch_size`` rows per ``executemany`` + commit, on one
    connection; it emits no rows."""

    def write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending: list[tuple] = []
        conn = conn_factory()
        try:
            cur = conn.cursor()
            for batch in batches:
                pending.extend(_py_rows(batch))
                while len(pending) >= batch_size:
                    cur.executemany(sql, pending[:batch_size])
                    conn.commit()
                    del pending[:batch_size]
            if pending:
                cur.executemany(sql, pending)
                conn.commit()
        finally:
            conn.close()
        return iter(())

    return write


def db_sink_upsert(
    df: DataFrame,
    conn_factory: ConnFactory,
    table: str,
    key_cols: list[str],
    dialect: str = "sqlite",
    batch_size: int = BATCH_SIZE,
    max_connections: int = 8,
) -> None:
    """A7: idempotent upsert of ``df`` keyed by ``key_cols``.

    Safe under Spark task retries (re-running a partition rewrites the
    same final state).  ``max_connections`` caps DB fan-in.
    """
    write = _writer(conn_factory, upsert_sql(dialect, table, df.columns, key_cols), batch_size)
    df.coalesce(max_connections).mapInArrow(write, "rows long").collect()


def db_source(
    spark: SparkSession, conn_factory: ConnFactory, sql: str, schema: str
) -> DataFrame:
    """A5 (DB-API fallback): read a query result into a DataFrame.

    Driver-side fetch → an Arrow table typed by the DDL ``schema`` →
    ``createDataFrame`` (a local relation; no Python worker starts) —
    right for small worklists and existing-key snapshots.  For large
    tables on a cluster, use ``jdbc_source`` (partitioned parallel read)
    instead.
    """
    conn = conn_factory()
    try:
        cur = conn.cursor()
        cur.execute(sql)
        rows = cur.fetchall()
    finally:
        conn.close()
    arrow_schema = to_arrow_schema(DataType.fromDDL(schema))
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema))


def jdbc_source(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str],
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """A5: partitioned parallel JDBC read.  Locally exercised against
    the embedded Derby driver on Spark's own classpath (see
    plans/sources_sinks.py:a6_jdbc_sink_append); on a cluster, point
    the URL + driver at MySQL/Postgres."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in properties.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def jdbc_sink_append(
    df: DataFrame, url: str, table: str, properties: dict[str, str]
) -> None:
    """A6: bulk append via Spark's JDBC writer.  Exercised for real
    against embedded Derby (driver ships on Spark's classpath) by the
    a6_jdbc_sink_append registry entry; one connection per DataFrame
    partition, batched inserts."""
    df.write.mode("append").format("jdbc").option("url", url).option(
        "dbtable", table
    ).options(**properties).save()
