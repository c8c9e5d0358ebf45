"""The reference's end-to-end flow, Spark-native (SURVEY §3.2; reference
file:line n/a — empty tree §0.1): worklist → UPC normalize/validate →
delta detection against the target table → paginated REST fetch →
latest-per-key dedup → idempotent upsert → audit counts.

Every stage is one of the engine's own operators (B9/B10, C5, A4, E1/G4,
A7, D2) — the pipeline is composition, not new machinery.  With the
deterministic fake transport the WHOLE flow is a pure function of the
worklist, so the registry exposes it as a hash-checked query: the oracle
reproduces normalize + delta + payload + upsert in plain SQL.

Jobs: (1) one aggregate builds and persists the keyed worklist (one row
per normalized key: its raw-row count and whether the target already
holds it) and returns the three audit counts; (2) the fetch + upsert
stage reads the delta from that table, pages it, and runs the fetch and
upsert kernels in one Python worker per page partition, capped at
``max_connections``.  AQE splits each action into a job per shuffle
stage.

Scale: each stage is shuffle-bounded — normalize is map-only, the
keyed worklist is one shuffle on the 13-digit key (worklist and existing
keys together, so duplicate existing keys cost nothing), the upsert
fan-in is capped by ``max_connections``.  Nothing collects to the driver
except the audit counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ..functions.upc import upc_normalize
from ..sources.db import ConnFactory, _writer, upsert_sql
from ..sources.rest_api import PRODUCT_SCHEMA, Transport, _fetcher, _pages, fake_transport


def load_upcs(
    worklist: DataFrame,
    existing_keys: DataFrame,
    conn_factory: ConnFactory,
    table: str = "products",
    upc_col: str = "upc_raw",
    page_size: int = 100,
    transport: Transport = fake_transport,
    base_url: str = "https://api.example.com/products",
    auth_token: str | None = None,
    dialect: str = "sqlite",
    max_connections: int = 4,
) -> dict[str, int]:
    """Run the full load; returns audit counts (the reference's load
    accounting — SURVEY §3.2 step 5)."""
    raw = worklist.select(
        upc_normalize(F.col(upc_col), width=13).alias("upc"),
        F.lit(1).alias("rows"),
        F.lit(False).alias("seen"),
    )
    target = existing_keys.select("upc", F.lit(0).alias("rows"), F.lit(True).alias("seen"))
    # one shuffle on the key: the target's keys ride along with rows=0, so
    # their duplicates collapse and keys the worklist lacks drop out;
    # keys-only, so even a 100 TB load's keyed worklist fits executor storage
    keyed = (
        raw.unionByName(target)
        .groupBy("upc")
        .agg(F.sum("rows").alias("rows"), F.max("seen").alias("seen"))
        .filter(F.col("rows") > 0)
        .persist()
    )
    try:
        valid = F.length("upc") == 13
        n_worklist, n_keys, n_seen = keyed.agg(
            F.sum("rows"), F.count_if(valid), F.count_if(valid & F.col("seen"))
        ).first()
        n_delta = n_keys - n_seen
        delta = keyed.filter(valid & ~F.col("seen"))

        fetch = _fetcher(base_url, transport, auth_token)
        cols = DataType.fromDDL(PRODUCT_SCHEMA).fieldNames()
        write = _writer(conn_factory, upsert_sql(dialect, table, cols, ["upc"]))
        _pages(delta, "upc", page_size, n_delta).coalesce(max_connections).mapInArrow(
            lambda pages: write(fetch(pages)), "rows long"
        ).collect()
    finally:
        keyed.unpersist()
    return {
        "worklist_rows": n_worklist or 0,
        "delta_rows": n_delta,
        "skipped_existing": n_seen,
    }
