"""Regression test for the events ``ts`` encoding dispatch (catalog +
streaming source).

The driver's fixture generator has shipped ``events.ts`` as BOTH parquet
timestamp[ns] (survey-era) and timestamp[µs] (2026-08-13 regeneration).
Round 3 broke because the ns→long shim was applied unconditionally; this
test writes a tiny fixture in each physical encoding and asserts the
canonical engine-facing schema (``ts timestamp_ntz`` + ``ts_ns bigint``)
and identical VALUES come out of both, for the batch catalog load and
the streaming source.
"""

from __future__ import annotations

import datetime as dt
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROWS = [
    # (event_id, µs-precision instant, user_id, event_type, value, props)
    (1, dt.datetime(2024, 1, 1, 0, 9, 58, 778549), 10, "view", 1.5, "{}"),
    (2, dt.datetime(2024, 3, 5, 12, 0, 0, 1), 11, "click", 2.0, "{}"),
    (3, dt.datetime(2025, 12, 31, 23, 59, 59, 999999), 12, "buy", 3.25, "{}"),
]


def _write_events(tmpdir: str, unit: str) -> str:
    """Write <tmpdir>/events.parquet with ts as timestamp[unit]."""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in ROWS], pa.timestamp(unit)),
            "user_id": pa.array([r[2] for r in ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in ROWS], pa.string()),
            "value": pa.array([r[4] for r in ROWS], pa.float64()),
            "props": pa.array([r[5] for r in ROWS], pa.string()),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")
    return tmpdir


@pytest.fixture(scope="module")
def fixture_dirs(tmp_path_factory):
    dirs = {}
    for unit in ("ns", "us"):
        d = str(tmp_path_factory.mktemp(f"events_{unit}"))
        dirs[unit] = _write_events(d, unit)
    yield dirs
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_batch_load_canonical_schema(spark, fixture_dirs, unit):
    from upc_sku_data_loader_spark.catalog import load

    df = load(spark, fixture_dirs[unit], "events")
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["ts"] == "timestamp_ntz"
    assert schema["ts_ns"] == "bigint"
    rows = sorted(df.select("event_id", "ts", "ts_ns").collect())
    for (eid, ts_instant, *_), got in zip(ROWS, rows):
        assert got.event_id == eid
        assert got.ts == ts_instant
        epoch_us = int(
            (ts_instant - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1)
        )
        assert got.ts_ns == epoch_us * 1000


def test_batch_values_identical_across_encodings(spark, fixture_dirs):
    from upc_sku_data_loader_spark.catalog import load

    a = sorted(load(spark, fixture_dirs["ns"], "events").collect())
    b = sorted(load(spark, fixture_dirs["us"], "events").collect())
    assert a == b


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_stream_load_canonical_schema(spark, fixture_dirs, unit):
    from pyspark.sql import functions as F

    from upc_sku_data_loader_spark.streaming.sources import (
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, fixture_dirs[unit])
    schema = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    assert schema["ts"] == "timestamp_ntz"
    assert schema["ts_ns"] == "bigint"
    agg = stream.groupBy("event_type").agg(
        F.max("ts_ns").alias("max_ns"), F.count(F.lit(1)).alias("n")
    )
    out = run_available_now(agg, f"t_events_enc_{unit}", "complete")
    got = {r.event_type: (r.max_ns, r.n) for r in out.collect()}
    assert got == {
        "view": (1704067798778549000, 1),
        "click": (1709640000000001000, 1),
        "buy": (1767225599999999000, 1),
    }


# --- property: ns↔µs encodings are value-equivalent for ANY instant ----------


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=20, deadline=None)
@given(
    micros=st.lists(
        st.integers(min_value=0, max_value=4102444799_999_999),  # ≤ 2099-12-31
        min_size=1,
        max_size=8,
        unique=True,
    )
)
def test_ns_and_us_encodings_always_agree(spark, tmp_path_factory, micros):
    """For arbitrary µs-precision instants, loading the same data stored
    as timestamp[ns] and as timestamp[µs] yields identical canonical
    rows — the invariant the round-3 fixture flip violated."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from upc_sku_data_loader_spark.catalog import load

    rows = [
        (i, dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us), i, "e", 0.0, "{}")
        for i, us in enumerate(micros)
    ]
    frames = {}
    for unit in ("ns", "us"):
        d = str(tmp_path_factory.mktemp(f"prop_{unit}"))
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp(unit)),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        )
        pq.write_table(table, f"{d}/events.parquet")
        frames[unit] = sorted(load(spark, d, "events").collect())
    assert frames["ns"] == frames["us"]


# --- one schema path: the footer schema is the schema Spark infers -----------

TESTDATA = Path("/root/testdata")


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_read_schema_matches_inference_on_fixtures(spark, sf):
    from upc_sku_data_loader_spark.catalog import TABLES, read_schema

    for t in TABLES:
        p = str(TESTDATA / sf / f"{t}.parquet")
        assert read_schema(p) == spark.read.parquet(p).schema, p


def test_read_schema_matches_inference_on_other_writers(spark, sf_dir, tmp_path):
    """A pandas-written ``events`` (string ``user_id``, ns ``ts``) and a
    Spark-written directory (with an INT96 ``timestamp`` column) read
    through the footer schema exactly as through Spark's inference."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from upc_sku_data_loader_spark.catalog import load, read_schema

    pd.DataFrame(
        {
            "event_id": [r[0] for r in ROWS],
            "ts": pd.to_datetime([r[1] for r in ROWS]),
            "user_id": [f"u{r[2]}" for r in ROWS],
            "event_type": [r[3] for r in ROWS],
            "value": [r[4] for r in ROWS],
            "props": [r[5] for r in ROWS],
        }
    ).to_parquet(tmp_path / "events.parquet")
    load(spark, sf_dir, "orders").withColumn(
        "o_ts", F.col("o_orderdate").cast("timestamp")
    ).write.parquet(str(tmp_path / "orders.parquet"))

    assert read_schema(str(tmp_path / "orders.parquet"))["o_ts"].dataType == T.TimestampType()
    for t in ("events", "orders"):
        p = str(tmp_path / f"{t}.parquet")
        assert read_schema(p) == spark.read.parquet(p).schema, t
    got = sorted(load(spark, str(tmp_path), "orders").collect())
    assert got == sorted(spark.read.parquet(str(tmp_path / "orders.parquet")).collect())
    assert [r.user_id for r in sorted(load(spark, str(tmp_path), "events").collect())] == [
        "u10", "u11", "u12"
    ]


def test_catalog_loads_start_no_job(spark, sf_dir):
    """Loading every fixture table runs no Spark job: the schema comes
    from the footer on the driver, not from an inference job."""
    from upc_sku_data_loader_spark.catalog import TABLES, load

    sc = spark.sparkContext
    group = "test_catalog_loads_start_no_job"
    sc.setJobGroup(group, "catalog.load")
    try:
        for t in TABLES:
            load(spark, sf_dir, t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
