"""Materialize an N× replica of a fixture SF dir for scale spot-checks.

The driver ships fixtures only up to sf0.1; the 100 TB question needs at
least one more scale point to distinguish linear from super-linear
operators.  This tool writes ``.scratch/sfscale_<N>x/{table}.parquet``
where fact tables are replicated N× with surrogate keys offset per
replica (so joins keep their fan-out shape instead of exploding) and
dimension tables (region/nation/part/supplier/customer) stay 1×.

``documents.text`` gets a per-replica suffix token so the dedup tier
keeps a realistic duplicate structure (exact copies would turn the
whole corpus into one dup cluster — an upper-bound stress, not a
workload).  ``embeddings.embedding`` is replicated unchanged; ANN
timing is magnitude-driven, ties are harmless.

Usage:
    python tools/make_scale.py [--src /root/testdata/sf0.1] [--factor 5]
Prints the output dir (pass it to tools/op_bench.py --sf after the base dir).
"""

from __future__ import annotations

import argparse
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent

DIMS = ["region", "nation", "customer", "supplier", "part"]


def build(src: str, factor: int) -> str:
    # under replicas/ so the dir is NOT also the _scratch tree of its own
    # tag (plans/sources_sinks._scratch keys on basename(sf_dir); a replica
    # at .scratch/<tag> got fixture dirs written INTO it — round-6 lesson)
    out = REPO / ".scratch" / "replicas" / f"sfscale_{factor}x"
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()

    def rep(table: str, select_per_replica: str) -> None:
        parts = [
            select_per_replica.format(r=r, src=f"read_parquet('{src}/{table}.parquet')")
            for r in range(factor)
        ]
        sql = " UNION ALL ".join(parts)
        con.execute(
            f"COPY ({sql}) TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )

    for t in DIMS:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )

    n_ord = con.sql(f"SELECT MAX(o_orderkey)+1 FROM read_parquet('{src}/orders.parquet')").fetchone()[0]
    rep("orders", f"SELECT o_orderkey + {{r}}*{n_ord} AS o_orderkey, o_custkey, "
                  "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM {src}")
    rep("lineitem", f"SELECT l_orderkey + {{r}}*{n_ord} AS l_orderkey, l_partkey, "
                    "l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
                    "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate FROM {src}")
    n_ev = con.sql(f"SELECT MAX(event_id)+1 FROM read_parquet('{src}/events.parquet')").fetchone()[0]
    n_usr = con.sql(f"SELECT MAX(user_id)+1 FROM read_parquet('{src}/events.parquet')").fetchone()[0]
    rep("events", f"SELECT event_id + {{r}}*{n_ev} AS event_id, ts, "
                  f"user_id + {{r}}*{n_usr} AS user_id, event_type, value, props FROM {{src}}")
    n_doc = con.sql(f"SELECT MAX(doc_id)+1 FROM read_parquet('{src}/documents.parquet')").fetchone()[0]
    rep("documents", f"SELECT doc_id + {{r}}*{n_doc} AS doc_id, "
                     "CASE WHEN {r} = 0 THEN text ELSE text || ' replica{r}' END AS text, "
                     "lang, source, "
                     # suffix length = len(' replica') + digits of r, not a
                     # literal 9 (wrong for r >= 10, i.e. --factor > 10)
                     "n_chars + (CASE WHEN {r} = 0 THEN 0 ELSE 8 + length(CAST({r} AS VARCHAR)) END) AS n_chars FROM {src}")
    n_vec = con.sql(f"SELECT MAX(vec_id)+1 FROM read_parquet('{src}/embeddings.parquet')").fetchone()[0]
    rep("embeddings", f"SELECT vec_id + {{r}}*{n_vec} AS vec_id, embedding, label FROM {{src}}")
    return str(out)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=5)
    args = ap.parse_args()
    print(build(args.src, args.factor))
