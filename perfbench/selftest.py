"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py           # everything (~3 min, runs Spark)
    python3 perfbench/selftest.py --quick   # no Spark: generators and checkers

Checks that the same seed gives byte-identical inputs and another seed
different ones; that the output checkers reject a corrupted sqlite table
and corrupted query results; and, from smoke runs of every workload
with and without tracing, that the result line has the
contract's shape, that every metric name matches ``[A-Za-z0-9_.-]+`` and
is declared, and that a directory holding only the benchmark fails
without printing a result.  Exits 1 on the first failure.
"""

from __future__ import annotations

import argparse
import json
import re
import shutil
import sqlite3
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from upc_sku_data_loader_spark import plans  # noqa: F401,E402  (fills the registry)

from perfbench import inputs, reference  # noqa: E402
from perfbench.run import WORKLOAD_NAMES  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import AnalyticMix, LlmDedup, UpcLoadCold, UpcLoadIncremental  # noqa: E402

SCRATCH = ROOT / ".perfbench" / "selftest"
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL {what}")
    print(f"ok   {what}")


def _bytes(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_inputs_are_seeded() -> None:
    def make(tag: str, seed: int) -> dict[str, bytes]:
        d = SCRATCH / tag
        d.mkdir(parents=True)
        inputs.write_fixtures(d, seed, 0.001, list(inputs.ROWS_AT_SF1))
        upc = inputs.UpcInputs.generate(seed, 1000, incremental=False)
        upc.write_worklist(d / "worklist.parquet", seed)
        return _bytes(d)

    a, b, c = make("a", 7), make("b", 7), make("c", 8)
    check(a == b, "same seed gives byte-identical worklist and fixtures")
    check(all(a[k] != c[k] for k in a), "another seed changes the worklist and every fixture")


def _staged_upc(cls, tag: str):
    wl = cls(None, 5, True, Tracer(None, False))
    wl.stage(SCRATCH / tag)
    # the state a correct load leaves behind
    con = sqlite3.connect(wl.db)
    con.execute(inputs.PRODUCTS_DDL)
    con.executemany(
        "INSERT INTO products VALUES (?, ?, ?, ?, ?)",
        [(k, *v) for k, v in wl.expected_table.items()],
    )
    con.commit()
    con.close()
    wl.audit = dict(wl.expected_audit)
    return wl


def _corrupt(wl, sql: str) -> str | None:
    shutil.copyfile(wl.db, wl.db.with_suffix(".good"))
    con = sqlite3.connect(wl.db)
    con.execute(sql)
    con.commit()
    con.close()
    problem = wl._check_table()
    shutil.copyfile(wl.db.with_suffix(".good"), wl.db)
    return problem


def test_table_checker() -> None:
    for cls in (UpcLoadCold, UpcLoadIncremental):
        wl = _staged_upc(cls, cls.name)
        check(wl._check_table() is None, f"{cls.name}: checker accepts the expected table")
        check(
            _corrupt(wl, "UPDATE products SET price = price + 0.01 WHERE sku != 'SEED' "
                     "AND rowid = (SELECT min(rowid) FROM products WHERE sku != 'SEED')")
            is not None,
            f"{cls.name}: checker rejects a wrong payload",
        )
        check(
            _corrupt(wl, "DELETE FROM products WHERE rowid = (SELECT max(rowid) FROM products)")
            is not None,
            f"{cls.name}: checker rejects a missing row",
        )
        wl.audit["delta_rows"] += 1
        check(wl._check_table() is not None, f"{cls.name}: checker rejects wrong audit counts")
    wl = _staged_upc(UpcLoadCold, "seeded")
    check(
        _corrupt(wl, "UPDATE products SET sku = 'SKU-' || upc WHERE sku = 'SEED'") is not None,
        "upc_load_cold: checker rejects an overwritten pre-seeded row",
    )


def test_query_checkers() -> None:
    am = AnalyticMix(None, 3, True, Tracer(None, False))
    am.stage(SCRATCH / "analytic")
    import duckdb

    from perfbench.workloads import ORACLES, QUERY_TABLES

    for name in ("d1_agg_hash_grouped", "k7_term_freq_tfidf"):
        con = duckdb.connect()
        for t in QUERY_TABLES[name]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{am.sf_dir}/{t}.parquet')")
        cur = con.execute(ORACLES[name])
        cols, rows = [d[0] for d in cur.description], cur.fetchall()
        con.close()
        check(am.compare(name, cols, rows) is None, f"{name}: checker accepts the oracle's rows")
        bad = [tuple(r) for r in rows]
        bad[0] = tuple(v + 1 if isinstance(v, int) and not isinstance(v, bool) else v for v in bad[0])
        check(am.compare(name, cols, bad) is not None, f"{name}: checker rejects a changed value")
        check(am.compare(name, cols, rows[1:]) is not None, f"{name}: checker rejects a lost row")

    dd = LlmDedup(None, 3, True, Tracer(None, False))
    dd.stage(SCRATCH / "dedup")
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{dd.sf_dir}/documents.parquet").to_pydict()
    pairs = reference.ngram_jaccard_pairs(docs["doc_id"], docs["text"], docs["n_chars"])
    clusters = reference.dedup_clusters(docs["doc_id"], docs["text"])
    check(bool(pairs) and bool(clusters), "the generated corpus has near-duplicates to find")
    cols = ["a", "b", "jaccard"]
    check(dd.compare("k18_ngram_jaccard", cols, pairs) is None, "k18: checker accepts the reference")
    bad = [(a, b, j - 0.000001) if i == 0 else (a, b, j) for i, (a, b, j) in enumerate(pairs)]
    check(dd.compare("k18_ngram_jaccard", cols, bad) is not None, "k18: checker rejects a changed score")
    cols = ["doc_id", "cluster_keeper"]
    bad = [(d, k + 1) if i == 0 else (d, k) for i, (d, k) in enumerate(clusters)]
    check(dd.compare("k20_dedup_clusters", cols, bad) is not None, "k20: checker rejects a wrong keeper")


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_smoke_runs() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for kind, trace in (("end_to_end", "0"), ("per_layer", "1")):
        declared = {m["name"] for m in bench[kind]}
        for w in WORKLOAD_NAMES:
            r = _run(ROOT, "--workload", w, "--seed", "1", "--seconds", "1",
                     "--trace", trace, "--size", "smoke")
            check(r.returncode == 0, f"{w} trace {trace}: smoke run exits 0")
            out = json.loads(r.stdout.strip().splitlines()[-1])
            check(set(out) == {"correct", "attempted", "failed", "metrics"}, "result keys")
            check(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
                  f"{w} trace {trace}: every output check passes")
            names = set(out["metrics"])
            check(all(NAME_RE.fullmatch(n) for n in names), "metric names match [A-Za-z0-9_.-]+")
            check(names == declared, f"{w} trace {trace}: prints exactly the declared {kind}")
    check({w["name"] for w in bench["workloads"]} <= set(WORKLOAD_NAMES),
          "every declared workload is runnable")


def test_bare_directory_fails() -> None:
    bare = SCRATCH / "bare"
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(bare, "--workload", "analytic_mix", "--seed", "1", "--seconds", "1", "--trace", "0")
    check(r.returncode != 0 and '"metrics"' not in r.stdout,
          "without the engine the run fails and prints no result")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--quick", action="store_true", help="skip the Spark smoke runs")
    args = ap.parse_args()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    SCRATCH.mkdir(parents=True)
    try:
        test_inputs_are_seeded()
        test_table_checker()
        test_query_checkers()
        test_bare_directory_fails()
        if not args.quick:
            test_smoke_runs()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("all self-tests passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
