"""Seeded input generators for the benchmark.

Everything a workload reads is made here from ``--seed`` alone, with
numpy's PCG64 stream, so the same seed gives byte-identical files and the
engine only ever sees the generated inputs:

* ``write_fixtures`` writes parquet tables with the schemas of the
  engine's fixture catalog (FIXTURES.md) at a chosen scale factor.  Only
  the tables the benchmark's queries read are written.
* ``UpcInputs`` is the UPC load's worklist, its pre-seeded target keys
  and the final table the loader must leave behind.
"""

from __future__ import annotations

import json
import sqlite3
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The fixture corpus's vocabulary: documents are random word strings.
WORDS = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table text "
    "token value vector window word"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

#: Rows per table at scale factor 1 (the catalog's sf0.1 fixtures hold
#: a tenth of these); documents and embeddings have floors like theirs.
ROWS_AT_SF1 = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}

#: Every NEAR_DUP_EVERY-th document is an edited copy of an earlier one,
#: in chains of CHAIN_LEN copies, so the dedup tier has clusters to
#: resolve.  The shape is fixed and only the words vary with the seed, so
#: the number of connected-component rounds does not change between seeds.
NEAR_DUP_EVERY = 10
CHAIN_LEN = 4


def table_rows(name: str, sf: float, docs: int | None = None) -> int:
    if name == "documents" and docs is not None:
        return docs
    return max(MIN_ROWS.get(name, 1), int(round(ROWS_AT_SF1[name] * sf)))


def _strings(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), n)
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    days = lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        k = i // NEAR_DUP_EVERY
        if i % NEAR_DUP_EVERY == 0 and k % CHAIN_LEN:
            # next link of a chain: the previous link with up to 3 words replaced
            toks = texts[i - NEAR_DUP_EVERY].split(" ")
            for _ in range(int(rng.integers(0, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _strings(rng, LANGS, n),
            "source": _strings(rng, [f"src{k}" for k in range(20)], n),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _customer(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    c = n["customer"]
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
            "c_mktsegment": _strings(rng, SEGMENTS, c),
        }
    )


def _orders(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    o = n["orders"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], o), pa.int64()),
            "o_orderstatus": _strings(rng, ["F", "O", "P"], o),
            "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, o)),
            "o_orderdate": _days(rng, "1992-01-01", "1998-08-02", o),
            "o_orderpriority": _strings(rng, PRIORITIES, o),
        }
    )


def _lineitem(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    li = n["lineitem"]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 200_000, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 10_000, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, li)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": _strings(rng, ["A", "N", "R"], li),
            "l_linestatus": _strings(rng, ["F", "O"], li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
        }
    )


def _events(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    ev = n["events"]
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, ev))
    return pa.table(
        {
            "event_id": pa.array(np.arange(ev), pa.int64()),
            "ts": pa.array(base + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, ev // 50), ev), pa.int64()),
            "event_type": _strings(rng, EVENT_TYPES, ev),
            "value": pa.array(_money(rng, 0.0, 200.0, ev)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ev)]),
        }
    )


def _embeddings(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    emb = n["embeddings"]
    vecs = rng.normal(0.0, 0.1, (emb, 64)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(emb), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, emb), pa.int32()),
        }
    )


_BUILDERS = {
    "customer": _customer,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": lambda rng, n: _documents(rng, n["documents"]),
    "embeddings": _embeddings,
}


def fixture_tables(
    seed: int, sf: float, tables: list[str], docs: int | None = None
) -> dict[str, pa.Table]:
    """The named fixture tables, a pure function of the arguments.  Each
    table draws from its own stream, so a table does not change with the
    set of tables asked for."""
    n = {t: table_rows(t, sf, docs) for t in ROWS_AT_SF1}
    return {
        t: _BUILDERS[t](np.random.Generator(np.random.PCG64([seed, i])), n)
        for i, t in enumerate(ROWS_AT_SF1)
        if t in tables
    }


def write_fixtures(
    out_dir: Path, seed: int, sf: float, tables: list[str], docs: int | None = None
) -> dict[str, int]:
    """Write the named tables as ``<out_dir>/<table>.parquet``; returns
    the row count of each."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(seed, sf, tables, docs).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows


# --- the UPC load ----------------------------------------------------------

#: One in this many worklist keys is already in the target before a cold load.
SEEDED_ONE_IN = 7
#: Share of keys an incremental worklist adds to the post-cold table.
NEW_KEY_SHARE = 0.05
SEED_ROW = ("SEED", "SEED", 0.0, 0)
PRODUCTS_DDL = (
    "CREATE TABLE products (upc TEXT PRIMARY KEY, sku TEXT, brand TEXT, "
    "price REAL, in_stock INTEGER)"
)


def payload_row(upc: str) -> tuple[str, str, float, int]:
    """(sku, brand, price, in_stock) as sqlite stores the fake transport's
    record for ``upc`` (rest_api.fake_transport's formulas)."""
    d = int(upc)
    return (f"SKU-{upc}", f"Brand#{d % 25 + 1}", (d % 100000) / 100.0, int(d % 2 == 0))


@dataclass(frozen=True)
class UpcInputs:
    """A UPC load's inputs and the state it must produce.

    ``keys`` are the worklist's distinct 12-digit codes; the raw worklist
    spells each as ``dddd-dddddddd`` and lists it twice (overlapping
    pages).  ``preloaded`` keys are in the target before the timed load
    and must keep their row.
    """

    keys: np.ndarray  # int64, distinct
    preloaded: np.ndarray  # bool per key
    preloaded_payload: bool  # preloaded rows hold the payload (post-cold) or SEED

    @staticmethod
    def generate(seed: int, n_keys: int, incremental: bool) -> "UpcInputs":
        rng = np.random.Generator(np.random.PCG64([seed, 0x5C]))
        n_new = int(round(n_keys * NEW_KEY_SHARE)) if incremental else 0
        pool = np.unique(rng.integers(10**6, 10**12, int((n_keys + n_new) * 1.05) + 16))
        keys = rng.permutation(pool)[: n_keys + n_new]
        if incremental:
            # post-cold target: every cold key is loaded, the new ones are not
            preloaded = np.arange(len(keys)) < n_keys
        else:
            preloaded = rng.random(len(keys)) < 1.0 / SEEDED_ONE_IN
        return UpcInputs(keys, preloaded, incremental)

    @property
    def upcs(self) -> list[str]:
        return [f"{k:013d}" for k in self.keys]

    def expected_audit(self) -> dict[str, int]:
        n_pre = int(self.preloaded.sum())
        return {
            "worklist_rows": 2 * len(self.keys),
            "delta_rows": len(self.keys) - n_pre,
            "skipped_existing": n_pre,
        }

    def expected_table(self) -> dict[str, tuple]:
        upcs = self.upcs
        return {
            u: (SEED_ROW if pre and not self.preloaded_payload else payload_row(u))
            for u, pre in zip(upcs, self.preloaded)
        }

    def write_worklist(self, path: Path, seed: int) -> int:
        raw = [f"{k:012d}" for k in self.keys]
        rows = np.asarray([f"{r[:4]}-{r[4:]}" for r in raw] * 2, dtype=object)
        order = np.random.Generator(np.random.PCG64([seed, 0xA7])).permutation(len(rows))
        pq.write_table(pa.table({"upc_raw": pa.array(rows[order].tolist(), pa.string())}), path)
        return len(rows)

    def write_target(self, path: Path) -> int:
        """The target as it stands before the timed load."""
        path.unlink(missing_ok=True)
        con = sqlite3.connect(path)
        try:
            con.execute(PRODUCTS_DDL)
            rows = [
                (u, *(payload_row(u) if self.preloaded_payload else SEED_ROW))
                for u, pre in zip(self.upcs, self.preloaded)
                if pre
            ]
            con.executemany("INSERT INTO products VALUES (?, ?, ?, ?, ?)", rows)
            con.commit()
        finally:
            con.close()
        return len(rows)
