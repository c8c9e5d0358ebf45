"""The benchmark's workloads: what one pass runs and how its output is checked.

Each workload stages its inputs from the seed, runs passes of operations
through the engine's public functions, and checks the output outside the
timed region.  An operation is one ``load_upcs`` call (with its
existing-key snapshot) or one registry query built fresh and consumed by
the ``noop`` sink, so every column is computed and nothing is collected.
"""

from __future__ import annotations

import gc
import shutil
import sqlite3
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from upc_sku_data_loader_spark.pipelines.etl import load_upcs
from upc_sku_data_loader_spark.registry import ORACLES, QUERIES
from upc_sku_data_loader_spark.sources.db import db_source
from upc_sku_data_loader_spark.sources.rest_api import fake_transport

from . import inputs, reference
from .tracing import CountingConnFactory, Counters, TimedTransport, Tracer

#: bench.py's headline shapes: metric label -> registry entry.
HEADLINE = {
    "q1_pricing_summary": "d1_agg_hash_grouped",
    "q3_join3_topk": "c1_join_inner_equi",
    "q_window_rank": "e1_win_row_number",
    "q_events_tumbling": "i1_tumbling_window",
    "q_text_wordcount": "k7_term_freq_tfidf",
    "q_embed_knn": "k3_similarity_topk",
}
DEDUP = {
    "k20_dedup_clusters": "k20_dedup_clusters",
    "k18_ngram_jaccard": "k18_ngram_jaccard",
}
#: Fixture tables each query loads (its input rows for rows_per_s).
QUERY_TABLES = {
    "d1_agg_hash_grouped": ["lineitem"],
    "c1_join_inner_equi": ["customer", "orders", "lineitem"],
    "e1_win_row_number": ["orders"],
    "i1_tumbling_window": ["events"],
    "k7_term_freq_tfidf": ["documents"],
    "k3_similarity_topk": ["embeddings"],
    "k20_dedup_clusters": ["documents"],
    "k18_ngram_jaccard": ["documents"],
}


@dataclass
class Op:
    label: str
    seconds: float
    ok: bool
    error: str | None = None


@dataclass
class Pass:
    wall_s: float
    rows: int
    ops: list[Op] = field(default_factory=list)


@dataclass
class Hygiene:
    """Session state left behind by an operation once its result is dropped."""

    resident_rdds: int = 0
    conf_drift: int = 0
    active_streams: int = 0

    def observe(self, spark, conf_before: dict) -> None:
        gc.collect()
        conf_after = dict(spark.conf.getAll)
        keys = set(conf_before) | set(conf_after)
        resident = spark.sparkContext._jsc.getPersistentRDDs().size()
        self.resident_rdds = max(self.resident_rdds, resident)
        self.conf_drift = max(
            self.conf_drift, sum(conf_before.get(k) != conf_after.get(k) for k in keys)
        )
        self.active_streams = max(self.active_streams, len(spark.streams.active))


class Workload:
    name = ""

    def __init__(self, spark, seed: int, smoke: bool, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.smoke = smoke
        self.tracer = tracer
        self.counters = Counters(spark.sparkContext) if tracer.enabled else None
        self.hygiene = Hygiene()
        self.failures: dict[str, str] = {}  # op label -> why its output check failed
        self.check_s = 0.0  # time spent computing expected outputs
        self._ops = 0
        self._counts_before: dict[str, float] = {}

    def stage(self, d: Path) -> None:
        raise NotImplementedError

    def run_pass(self, checked: bool = False) -> Pass:
        """One pass of the workload's operations.  A checked pass also
        compares every output with its expected value."""
        raise NotImplementedError

    def start_measuring(self) -> int:
        """Mark the start of the measured passes; returns the next op id."""
        if self.counters:
            self._counts_before = self.counters.values()
        return self._ops

    def layer_counts(self, n_passes: int) -> dict[str, float]:
        """Per-pass means of the worker-side counters over the measured
        passes (traced runs only)."""
        c = {k: v - self._counts_before.get(k, 0) for k, v in self.counters.values().items()}
        out = {
            "rest_api.requests": c["requests"],
            "rest_api.records": c["records"],
            "rest_api.transport_s": c["transport_s"],
            "db.snapshot_rows": c["snapshot_rows"],
            "db.upsert_rows": c["upsert_rows"],
            "db.executemany_calls": c["executemany_calls"],
            "db.commits": c["commits"],
            "db.write_s": c["write_s"],
        }
        out = {k: v / n_passes for k, v in out.items()}
        if c["requests"]:
            out["rest_api.records_per_request"] = c["records"] / c["requests"]
        return out

    def _op(self, label: str, body) -> Op:
        """Run and time one operation; the result is dropped before return."""
        tr = self.tracer
        tr.op = self._ops
        self._ops += 1
        conf_before = dict(self.spark.conf.getAll) if tr.enabled else {}
        t0 = time.perf_counter()
        try:
            with tr.span(f"op:{label}"):
                body()
            op = Op(label, time.perf_counter() - t0, True)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            op = Op(label, time.perf_counter() - t0, False, f"{type(e).__name__}: {e}")
        if tr.enabled:
            self.hygiene.observe(self.spark, conf_before)
        tr.op = None
        return op


class QueryMix(Workload):
    """Registry queries over generated fixture tables, in a seeded order."""

    queries: dict[str, str] = {}
    sf = 0.05
    docs: int | None = None

    def stage(self, d: Path) -> None:
        tables = sorted({t for q in self.queries.values() for t in QUERY_TABLES[q]})
        sf = 0.001 if self.smoke else self.sf
        docs = None if self.smoke else self.docs
        counts = inputs.write_fixtures(d, self.seed, sf, tables, docs)
        self.sf_dir = str(d)
        self.rows = sum(counts[t] for q in self.queries.values() for t in QUERY_TABLES[q])
        self._order = np.random.Generator(np.random.PCG64([self.seed, 0x0D]))

    def run_pass(self, checked: bool = False) -> Pass:
        labels = list(self.queries)
        order = [labels[i] for i in self._order.permutation(len(labels))]
        ops = [
            self._op(label, lambda label=label: self._query(label, checked)) for label in order
        ]
        # the ops' own times: a traced run's hygiene probes between ops are not the pass's
        return Pass(sum(op.seconds for op in ops), self.rows, ops)

    def _query(self, label: str, checked: bool) -> None:
        tr = self.tracer
        with tr.span("plans.build"), tr.timed_catalog_loads():
            df = QUERIES[self.queries[label]](self.spark, self.sf_dir)
        with tr.span("exec.action"):
            if not checked:
                df.write.format("noop").mode("overwrite").save()
                return
            rows = df.collect()
        t0 = time.perf_counter()
        problem = self.compare(self.queries[label], df.columns, rows)
        self.check_s += time.perf_counter() - t0
        if problem:
            self.failures[label] = problem

    def compare(self, name: str, cols: list[str], rows: list) -> str | None:
        """Why ``rows`` are not the expected output of query ``name``, or None."""
        raise NotImplementedError


class AnalyticMix(QueryMix):
    """The oracle of each query is the registry's DuckDB SQL."""

    name = "analytic_mix"
    queries = HEADLINE

    def compare(self, name: str, cols: list[str], rows: list) -> str | None:
        import duckdb

        from tools.parity import canon_rows

        con = duckdb.connect()
        try:
            for t in QUERY_TABLES[name]:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            cur = con.execute(ORACLES[name])
            expected = canon_rows([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
        got = canon_rows(cols, rows)
        return None if got == expected else _diff(got, expected)


class LlmDedup(QueryMix):
    """The registry's DuckDB oracles for k20 and k18 run for minutes at
    this corpus size, so the expected outputs come from the exact
    references in reference.py."""

    name = "llm_dedup"
    queries = DEDUP
    docs = 600

    def compare(self, name: str, cols: list[str], rows: list) -> str | None:
        from tools.parity import canon_rows

        docs = pq.read_table(f"{self.sf_dir}/documents.parquet").to_pydict()
        ids, texts = docs["doc_id"], docs["text"]
        if name == "k20_dedup_clusters":
            expected = canon_rows(["doc_id", "cluster_keeper"], reference.dedup_clusters(ids, texts))
        else:
            expected = canon_rows(
                ["a", "b", "jaccard"], reference.ngram_jaccard_pairs(ids, texts, docs["n_chars"])
            )
        got = canon_rows(cols, rows)
        return None if got == expected else _diff(got, expected)


def _diff(got: tuple, expected: tuple) -> str:
    if got[0] != expected[0]:
        return f"columns {got[0]} != expected {expected[0]}"
    if len(got[1]) != len(expected[1]):
        return f"{len(got[1])} rows != expected {len(expected[1])}"
    bad = next(i for i, (a, b) in enumerate(zip(got[1], expected[1])) if a != b)
    return f"sorted row {bad}: {got[1][bad]} != expected {expected[1][bad]}"


class UpcLoad(Workload):
    """The reference's flow: snapshot the target's keys, then ``load_upcs``."""

    incremental = False
    n_keys = 50_000

    def stage(self, d: Path) -> None:
        n = 1000 if self.smoke else self.n_keys
        upc = inputs.UpcInputs.generate(self.seed, n, self.incremental)
        d.mkdir(parents=True, exist_ok=True)
        self.worklist = str(d / "worklist.parquet")
        self.rows = upc.write_worklist(Path(self.worklist), self.seed)
        self.template = d / "target.sqlite"
        upc.write_target(self.template)
        self.db = d / "products.sqlite"
        self.conn_factory = CountingConnFactory(str(self.db), self.counters)
        self.transport = TimedTransport(self.counters) if self.counters else fake_transport
        self.expected_table = upc.expected_table()
        self.expected_audit = upc.expected_audit()
        self.audit: dict | None = None
        self.db_bytes = 0

    def run_pass(self, checked: bool = False) -> Pass:
        """Every pass is checked: the target is rebuilt before each one."""
        shutil.copyfile(self.template, self.db)
        op = self._op(self.name, self._load)
        if op.ok:
            t0 = time.perf_counter()
            problem = self._check_table()
            self.check_s += time.perf_counter() - t0
            if problem:
                op.ok, op.error = False, problem
        return Pass(op.seconds, self.rows, [op])

    def _load(self) -> None:
        tr = self.tracer
        with tr.span("db.snapshot"):
            existing = db_source(
                self.spark, self.conn_factory, "SELECT upc FROM products", "upc string"
            )
        with tr.span("etl.load"):
            worklist = self.spark.read.parquet(self.worklist)
            self.audit = load_upcs(
                worklist,
                existing,
                self.conn_factory,
                page_size=100,
                transport=self.transport,
            )

    def layer_counts(self, n_passes: int) -> dict[str, float]:
        out = super().layer_counts(n_passes)
        if self.audit:
            distinct = self.audit["delta_rows"] + self.audit["skipped_existing"]
            out["etl.delta_ratio"] = self.audit["delta_rows"] / distinct
        if self.db_bytes:
            out["db.bytes_per_row"] = self.db_bytes / len(self.expected_table)
        return out

    def _check_table(self) -> str | None:
        if self.audit != self.expected_audit:
            return f"audit {self.audit} != expected {self.expected_audit}"
        con = sqlite3.connect(self.db)
        try:
            rows = con.execute("SELECT upc, sku, brand, price, in_stock FROM products").fetchall()
        finally:
            con.close()
        self.db_bytes = self.db.stat().st_size
        got = {r[0]: tuple(r[1:]) for r in rows}
        if len(got) != len(rows) or got != self.expected_table:
            bad = sum(self.expected_table.get(k) != v for k, v in got.items())
            return f"table differs: {len(rows)} rows, {bad} wrong, {len(self.expected_table)} expected"
        return None


class UpcLoadCold(UpcLoad):
    name = "upc_load_cold"


class UpcLoadIncremental(UpcLoad):
    name = "upc_load_incremental"
    incremental = True


WORKLOADS = {w.name: w for w in (UpcLoadCold, UpcLoadIncremental, AnalyticMix, LlmDedup)}
