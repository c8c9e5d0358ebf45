"""File sources with explicit schemas (SURVEY §2 A1-A3, A8).

Production discipline: never ``inferSchema`` — a sampling pass over
100 TB is a full extra read, and inferred types drift between runs.
Every reader takes a pinned StructType/DDL string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import ensure_runtime_configs


def csv_source(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Comma-separated file with a header line and a pinned schema."""
    ensure_runtime_configs(spark)
    return spark.read.schema(schema).option("header", True).csv(path)


def json_source(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Line-delimited JSON (API payload dumps) with a pinned schema."""
    ensure_runtime_configs(spark)
    return spark.read.schema(schema).json(path)


def parquet_sink(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Partitioned parquet writer (replaces ``path``) — partition columns
    become directory keys, enabling static + dynamic partition pruning
    on re-read."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
