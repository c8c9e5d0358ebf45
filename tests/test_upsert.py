"""DB upsert sink (A7) semantics: idempotence and last-write-wins
(SURVEY §5.3.3 — apply batch twice ⇒ same table state)."""

from __future__ import annotations

import datetime as dt
import functools
import pickle
import sqlite3
from decimal import Decimal

import pytest

from upc_sku_data_loader_spark.sources.db import db_sink_upsert, db_source, upsert_sql


def _table_state(path: str) -> list[tuple]:
    conn = sqlite3.connect(path)
    try:
        return sorted(conn.execute("SELECT * FROM t").fetchall())
    finally:
        conn.close()


def test_upsert_idempotent_and_updates(spark, tmp_path):
    db = str(tmp_path / "t.sqlite")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT, x REAL)")
    conn.commit()
    conn.close()
    factory = functools.partial(sqlite3.connect, db, timeout=60.0)

    batch1 = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)], "k bigint, v string, x double"
    )
    sink = functools.partial(
        db_sink_upsert, conn_factory=factory, table="t", key_cols=["k"],
        dialect="sqlite", max_connections=2,
    )
    sink(batch1)
    state1 = _table_state(db)
    sink(batch1)  # replay the same batch (simulates a task retry)
    assert _table_state(db) == state1

    sink(spark.createDataFrame([(2, "B", 9.0), (4, "d", 4.5)], batch1.schema))
    assert _table_state(db) == [
        (1, "a", 1.5), (2, "B", 9.0), (3, "c", 3.5), (4, "d", 4.5)
    ]

    got = db_source(spark, factory, "SELECT k, v, x FROM t", "k bigint, v string, x double")
    assert got.count() == 4


def test_upsert_sql_dialects():
    sql = upsert_sql("mysql", "prod", ["upc", "sku", "price"], ["upc"])
    assert "ON DUPLICATE KEY UPDATE" in sql and "sku=VALUES(sku)" in sql
    sql = upsert_sql("postgres", "prod", ["upc", "sku"], ["upc"])
    assert "ON CONFLICT (upc) DO UPDATE" in sql
    sql = upsert_sql("sqlite", "prod", ["upc", "sku"], ["upc"])
    assert "ON CONFLICT(upc) DO UPDATE" in sql and "excluded.sku" in sql


def test_upsert_binds_the_values_a_row_holds(spark, tmp_path):
    """The Arrow writer hands executemany exactly the tuples a collected
    Row gives (None for NULL, no numpy scalars, naive timestamps), through
    cursor/executemany/commit/close only, and leaves the same table."""
    schema = (
        "k bigint, s string, x double, b boolean, d date, ts timestamp, m decimal(10,2)"
    )
    df = spark.createDataFrame(
        [
            (1, "a", 1.5, True, dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5, 6),
             Decimal("1.25")),
            (2, None, None, None, None, None, None),
            (3, "ü", -0.0, False, dt.date(1969, 12, 31), dt.datetime(1969, 12, 31, 23, 59, 59),
             Decimal("-99999999.99")),
        ],
        schema,
    )
    arrow_db, rows_db = str(tmp_path / "arrow.sqlite"), str(tmp_path / "rows.sqlite")
    for path in (arrow_db, rows_db):
        con = sqlite3.connect(path)
        con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, s, x, b, d, ts, m)")
        con.commit()
        con.close()
    log = tmp_path / "executemany.pickle"

    def connect(path):
        sqlite3.register_adapter(Decimal, str)  # sqlite3 binds no Decimal
        return sqlite3.connect(path, timeout=60.0)

    class Cursor:
        def __init__(self, cur):
            self._cur = cur

        def executemany(self, sql, rows):
            with open(log, "ab") as f:
                pickle.dump(list(rows), f)
            return self._cur.executemany(sql, rows)

    class Conn:
        def __init__(self):
            self._con = connect(arrow_db)

        def cursor(self):
            return Cursor(self._con.cursor())

        def commit(self):
            self._con.commit()

        def close(self):
            self._con.close()

    try:
        db_sink_upsert(df, conn_factory=Conn, table="t", key_cols=["k"], max_connections=2)
        expected = sorted(tuple(r) for r in df.collect())
        bound = []
        with open(log, "rb") as f:
            while True:
                try:
                    bound.extend(pickle.load(f))
                except EOFError:
                    break
        bound.sort(key=lambda r: r[0])
        assert bound == expected
        assert [[type(v) for v in r] for r in bound] == [[type(v) for v in r] for r in expected]
        assert all(r[5] is None or r[5].tzinfo is None for r in bound)

        ref = connect(rows_db)
        ref.executemany(upsert_sql("sqlite", "t", df.columns, ["k"]), expected)
        ref.commit()
        ref.close()
        assert _table_state(arrow_db) == _table_state(rows_db)
    finally:
        sqlite3.adapters.pop((Decimal, sqlite3.PrepareProtocol), None)


@pytest.mark.parametrize(
    "ddl, rows, schema",
    [
        ("CREATE TABLE t (k INTEGER, v TEXT)", [], "k bigint, v string"),
        (
            "CREATE TABLE t (k INTEGER, v TEXT, x REAL)",
            [(1, None, 2.5), (None, "b", None), (3, "c", None)],
            "k bigint, v string, x double",
        ),
        (
            "CREATE TABLE t (upc TEXT, in_stock INTEGER)",
            [("0000000000001", 1), ("0000000000002", 0), ("0000000000003", None)],
            "upc string, in_stock int",
        ),
    ],
    ids=["empty", "nulls", "int_flag"],
)
def test_db_source_matches_the_list_path(spark, tmp_path, ddl, rows, schema):
    db = str(tmp_path / "src.sqlite")
    con = sqlite3.connect(db)
    con.execute(ddl)
    if rows:
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})", rows)
    con.commit()
    con.close()
    factory = functools.partial(sqlite3.connect, db)

    got = db_source(spark, factory, "SELECT * FROM t", schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731 — NULL-safe sort
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
