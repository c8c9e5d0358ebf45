"""The reference's end-to-end flow, Spark-native (SURVEY §3.2; reference
file:line n/a — empty tree §0.1): worklist → UPC normalize/validate →
delta detection against the target table → paginated REST fetch →
latest-per-key dedup → idempotent upsert → audit counts.

Every stage is one of the engine's own operators (B9/B10, C5, A4, E1/G4,
A7, D2) — the pipeline is composition, not new machinery.  With the
deterministic fake transport the WHOLE flow is a pure function of the
worklist, so the registry exposes it as a hash-checked query: the oracle
reproduces normalize + delta + payload + upsert in plain SQL.

Jobs: one shuffle and one kernel.  The worklist's normalized keys
(each with its validity, computed in Spark) and the target's keys are
hash-partitioned together on the 13-digit key (``n_parts =
min(max_connections, defaultParallelism)`` partitions), so every copy of
a key lands in one partition.  Each partition then runs one Arrow kernel
that counts its worklist rows, dedups its valid keys (``pc.unique``),
marks the ones the target already holds (``pc.is_in``), sorts the rest
into pages, fetches and upserts them, and returns its three counts as
one output row; the driver sums those rows into the audit.  The shuffle
feeds the kernel directly, with no Spark aggregate in between: a hash
aggregate on the key the rows were just partitioned by sees keys that
all share their hash's low bits, so it probes a sparsely used table, and
its build time swung widely from call to call.  A call
is two Spark jobs (AQE runs the shuffle's map stage as its own job),
persists nothing, and the counts come from task output, so a retried
task cannot count twice.

Scale: the only shuffle is keys-only; the upsert fan-in is capped by
``max_connections`` and a partition with no delta opens no connection;
each partition upserts in one transaction (``sources.db._writer``), so
a single-writer target (sqlite) hands its write lock over once per
partition and a retried task rewrites its whole partition; the fetch
makes at most ``ceil(delta / page_size) + n_parts - 1`` requests.  A
kernel holds its partition's keys and fetched rows in memory: the
writer reads every page before its first write, so no partition's fetch
waits behind another's write lock.  Nothing collects to the driver
except ``n_parts`` count rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ..functions.upc import upc_normalize
from ..sources.db import ConnFactory, _writer, upsert_sql
from ..sources.rest_api import PRODUCT_SCHEMA, Transport, _fetcher, _sorted_pages, fake_transport


def load_upcs(
    worklist: DataFrame,
    existing_keys: DataFrame,
    conn_factory: ConnFactory,
    table: str = "products",
    page_size: int = 100,
    transport: Transport = fake_transport,
    base_url: str = "https://api.example.com/products",
    auth_token: str | None = None,
    dialect: str = "sqlite",
    max_connections: int = 4,
) -> dict[str, int]:
    """Run the full load of ``worklist``'s ``upc_raw`` column; returns
    audit counts (the reference's load accounting — SURVEY §3.2 step 5)."""
    upc = upc_normalize(F.col("upc_raw"), width=13)
    raw = worklist.select(
        upc.alias("upc"),
        F.coalesce(F.length(upc) == 13, F.lit(False)).alias("valid"),
        F.lit(False).alias("held"),
    )
    target = existing_keys.select("upc", F.lit(False).alias("valid"), F.lit(True).alias("held"))
    n_parts = min(max_connections, worklist.sparkSession.sparkContext.defaultParallelism)
    keyed = raw.unionByName(target).repartition(n_parts, "upc")
    fetch = _fetcher(base_url, transport, auth_token)
    cols = DataType.fromDDL(PRODUCT_SCHEMA).fieldNames()
    write = _writer(conn_factory, upsert_sql(dialect, table, cols, ["upc"]))

    def load(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = 0
        valid, held = [], []
        for b in batches:
            work = pc.invert(b.column("held"))
            rows += work.true_count
            valid.append(b.column("upc").filter(pc.and_(work, b.column("valid"))))
            held.append(b.column("upc").filter(b.column("held")))
        keys = pc.unique(pa.chunked_array(valid, pa.string()))
        seen = pc.is_in(keys, value_set=pa.chunked_array(held, pa.string()).combine_chunks())
        delta = keys.filter(pc.invert(seen))
        write(fetch(_sorted_pages([delta], page_size)))  # eager: upserts every page
        yield pa.RecordBatch.from_pydict(
            {"rows": [rows], "keys": [len(keys)], "seen": [seen.true_count]}
        )

    counts = keyed.mapInArrow(load, "rows long, keys long, seen long").collect()
    # a zero row first: on an empty shuffle AQE skips the kernel, and no
    # count row comes back
    n_worklist, n_keys, n_seen = map(sum, zip((0, 0, 0), *counts))
    return {
        "worklist_rows": n_worklist,
        "delta_rows": n_keys - n_seen,
        "skipped_existing": n_seen,
    }
