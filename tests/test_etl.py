"""load_upcs (the reference's whole flow): exact audit counts, final
table state, and no persisted blocks left behind — on success and when
the transport raises; at most two Spark jobs per call; and no connection
or request when there is nothing to load."""

from __future__ import annotations

import functools
import json
import sqlite3
import urllib.parse

import pytest

from upc_sku_data_loader_spark.pipelines.etl import load_upcs
from upc_sku_data_loader_spark.sources.db import db_sink_upsert, db_source
from upc_sku_data_loader_spark.sources.rest_api import fake_transport

WORKLIST = [
    "0001-23456789",
    "000123456789",  # the same key once normalized
    "0001-23456789",  # a raw duplicate
    "12-34",  # too short: padded to 0000000001234, not dropped
    None,  # the length filter drops it
    "1111-22223333",
    "9999-88887777",  # the transport omits it
    "5555-66667777",
]
OMITTED = "0999988887777"
KEYS = ["0000000001234", "0000123456789", OMITTED, "0111122223333", "0555566667777"]
LOADED = ["0000000001234", "0000123456789", "0111122223333", "0555566667777"]


def _resident(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _products(path: str) -> list[tuple]:
    con = sqlite3.connect(path)
    try:
        return sorted(con.execute("SELECT * FROM products").fetchall())
    finally:
        con.close()


def _payload(upc: str) -> tuple:
    r = json.loads(fake_transport(f"http://x/p?upcs={upc}"))
    return (r["upc"], r["sku"], r["brand"], r["price"], int(r["in_stock"]))


@pytest.fixture
def target(tmp_path):
    path = str(tmp_path / "products.sqlite")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE products (upc TEXT PRIMARY KEY, sku TEXT, brand TEXT, "
        "price REAL, in_stock INTEGER)"
    )
    con.commit()
    con.close()
    return path


def test_load_upcs_audit_table_and_lifetime(spark, target):
    factory = functools.partial(sqlite3.connect, target, timeout=60.0)
    worklist = spark.createDataFrame([(u,) for u in WORKLIST], "upc_raw string")

    def omitting(url, headers=None):
        parts = urllib.parse.urlparse(url)
        upcs = urllib.parse.parse_qs(parts.query)["upcs"][0].split(",")
        kept = ",".join(u for u in upcs if u != OMITTED)
        return fake_transport(f"{parts.scheme}://{parts.netloc}{parts.path}?upcs={kept}")

    before = _resident(spark)
    cold = db_source(spark, factory, "SELECT upc FROM products", "upc string")
    audit = load_upcs(worklist, cold, factory, page_size=2, transport=omitting)
    assert audit == {"worklist_rows": 8, "delta_rows": 5, "skipped_existing": 0}
    assert _products(target) == [_payload(u) for u in LOADED]
    assert _resident(spark) <= before

    # a second load against duplicated existing keys (and one the worklist
    # lacks): only the omitted key is still new
    snapshot = db_source(spark, factory, "SELECT upc FROM products", "upc string")
    existing = snapshot.unionAll(snapshot).unionAll(
        spark.createDataFrame([("0777777777777",)], "upc string")
    )
    audit = load_upcs(worklist, existing, factory, page_size=2, transport=omitting)
    assert audit == {"worklist_rows": 8, "delta_rows": 1, "skipped_existing": 4}
    assert _products(target) == [_payload(u) for u in LOADED]
    assert _resident(spark) <= before


def test_load_upcs_unpersists_when_the_transport_raises(spark, target):
    factory = functools.partial(sqlite3.connect, target, timeout=60.0)
    worklist = spark.createDataFrame([(u,) for u in WORKLIST], "upc_raw string")
    existing = spark.createDataFrame([], "upc string")

    def failing(url, headers=None):
        raise RuntimeError("product API down")

    before = _resident(spark)
    with pytest.raises(Exception, match="product API down"):
        load_upcs(worklist, existing, factory, transport=failing)
    assert _resident(spark) <= before


def test_load_upcs_runs_at_most_two_jobs(spark, target):
    """One shuffle and one kernel: the shuffle's map stage and the
    kernel's collect are the only jobs a DataFrame worklist starts."""
    sc = spark.sparkContext
    factory = functools.partial(sqlite3.connect, target, timeout=60.0)
    worklist = spark.createDataFrame([(u,) for u in WORKLIST], "upc_raw string")
    existing = spark.createDataFrame([], "upc string")
    group = "test_load_upcs_runs_at_most_two_jobs"
    sc.setJobGroup(group, "load_upcs")
    try:
        audit = load_upcs(worklist, existing, factory, page_size=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert audit == {"worklist_rows": 8, "delta_rows": 5, "skipped_existing": 0}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


@pytest.mark.parametrize(
    "rows, existing, audit",
    [
        (WORKLIST, KEYS, {"worklist_rows": 8, "delta_rows": 0, "skipped_existing": 5}),
        ([], KEYS, {"worklist_rows": 0, "delta_rows": 0, "skipped_existing": 0}),
        ([], [], {"worklist_rows": 0, "delta_rows": 0, "skipped_existing": 0}),
        ([None] * 3, [], {"worklist_rows": 3, "delta_rows": 0, "skipped_existing": 0}),
    ],
    ids=["all-existing", "empty-worklist", "empty-shuffle", "null-upcs"],
)
def test_nothing_to_load_opens_no_connection(spark, target, rows, existing, audit):
    """An empty delta makes no request, and every partition's writer,
    having nothing to upsert, opens no connection."""
    sc = spark.sparkContext
    conns, requests = sc.accumulator(0), sc.accumulator(0)

    def factory():
        conns.add(1)
        return sqlite3.connect(target, timeout=60.0)

    def counting(url, headers=None):
        requests.add(1)
        return fake_transport(url, headers)

    con = sqlite3.connect(target)
    con.executemany(
        "INSERT INTO products VALUES (?, 'SEED', 'SEED', 0.0, 0)", [(k,) for k in existing]
    )
    con.commit()
    con.close()
    before = _products(target)
    worklist = spark.createDataFrame([(u,) for u in rows], "upc_raw string")
    keys = spark.createDataFrame([(k,) for k in existing], "upc string")
    assert load_upcs(worklist, keys, factory, page_size=2, transport=counting) == audit
    db_sink_upsert(spark.createDataFrame([], "upc string"), factory, "products", ["upc"])
    assert (conns.value, requests.value) == (0, 0)
    assert _products(target) == before
