"""Seeded randomized differential sweep: generalizes the four hand-built
adversarial fixtures (degenerate / empty / extreme / nulls) into one
generator that MIXES every hostile dimension at random densities, then
diffs all 339 registry entries against their DuckDB oracles on it.

Per-seed randomized dimensions (all deterministic from --seed):
- per-column NULL probability (0–30%) on every nullable column,
- events.value mixture: finite / 0.0 / NaN / +Inf / -Inf,
- documents.text alphabet: ASCII words, CJK, emoji, RTL, accents,
  empty, whitespace-only — plus exact-duplicate pairs at random rate,
- embeddings: random float vectors with NULL vectors, NULL/NaN/Inf
  components, exact dups, and a zero vector mixed in,
- key columns offset by 0 or 2^62 (snowflake-id regime),
- group-key skew: a dominant user/segment with a long tail,
- timestamps: a few days' range with NULLs and exact ties.

A PASS means both engines agree bit-exactly on data NONE of the
hand-built fixtures contain; the statuses to chase are ERROR and
FAIL_* — same discipline as tools/degenerate_sweep.py (fix = pin ONE
convention on both engines).

Usage:
    python tools/fuzz_sweep.py --seed 7 [names…]
    python tools/fuzz_sweep.py --seed 7 --rows 60      # bigger tables
    python tools/fuzz_sweep.py --seed 7 --base 2024-03-09   # DST window

--base moves the timestamp grid's origin (default 2024-01-01, deep
winter).  The grid spans ~4 days of 15-minute steps, so a base of
2024-03-09 crosses the US spring-forward instant (2024-03-10 07:00 UTC)
and 2024-11-02 crosses fall-back (2024-11-03 06:00 UTC) — exercising
the tz-aware surface (h19's from_utc_timestamp / AT TIME ZONE) across a
transition, where the JVM's tzdata and DuckDB's ICU must agree on the
same IANA rules.  UTC→local is total in both directions (no ambiguous
wall-clock parse anywhere in the registry), so a FAIL here would mean
the engines disagree on the offset itself.
"""

from __future__ import annotations

import argparse
import random
import sys
from datetime import datetime, timedelta
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from upc_sku_data_loader_spark import plans  # noqa: F401,E402
from upc_sku_data_loader_spark.registry import QUERIES  # noqa: E402
from upc_sku_data_loader_spark.session import get_spark  # noqa: E402
from tools.parity import duck_connect, sweep, write_fixture  # noqa: E402

NAN, PINF, NINF = float("nan"), float("inf"), float("-inf")

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta data spark oracle "
    "query window join group sort text token shingle vector metric"
).split()
# No German sharp-s (ß): upper('straße') is 'STRASSE' on the JVM but
# 'STRAẞE' under DuckDB's ICU full case mapping — a documented
# library-level divergence of upper() itself (no engine-side fix short
# of replacing the builtin); every other script here case-maps
# identically on both engines.
EXOTIC = [
    "日本語のテキスト", "🚀 emoji 🎉", "مرحبا بالعالم", "déjà vu naïve",
    "ελληνικά και кириллица", "中文文本测试",
]
SEGMENTS = ["BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["purchase", "click", "view", "signup", "error"]


class Gen:
    def __init__(self, seed: int, rows: int):
        self.r = random.Random(seed)
        self.rows = rows
        # per-run global knobs
        self.key_off = self.r.choice([0, 2**62])
        self.null_p = {c: self.r.uniform(0.0, 0.30) for c in (
            "name", "segment", "price", "date", "priority", "status",
            "value", "type", "props", "ts", "user", "text", "lang",
            "source", "nchars", "emb", "label", "qty", "flag",
        )}
        self.nonfinite_p = self.r.uniform(0.0, 0.25)
        self.dup_p = self.r.uniform(0.05, 0.35)
        self.exotic_p = self.r.uniform(0.0, 0.5)

    def null(self, key: str) -> bool:
        return self.r.random() < self.null_p[key]

    def value(self):
        if self.null("value"):
            return None
        if self.r.random() < self.nonfinite_p:
            return self.r.choice([NAN, PINF, NINF, 0.0])
        return round(self.r.uniform(-50, 500), 3)

    def text(self):
        if self.null("text"):
            return None
        u = self.r.random()
        if u < 0.06:
            return ""
        if u < 0.12:
            return " " * self.r.randint(1, 4)
        if self.r.random() < self.exotic_p:
            return " ".join(
                self.r.choice(EXOTIC) for _ in range(self.r.randint(1, 6))
            )
        return " ".join(
            self.r.choice(WORDS) for _ in range(self.r.randint(1, 24))
        )

    def vec(self, dim: int = 4):
        if self.null("emb"):
            return None
        u = self.r.random()
        if u < 0.06:
            return [0.0] * dim  # zero vector (valid, norm edge)
        v = [round(self.r.uniform(-2, 2), 4) for _ in range(dim)]
        if u < 0.14:
            v[self.r.randrange(dim)] = None
        elif u < 0.24:
            v[self.r.randrange(dim)] = self.r.choice([NAN, PINF, NINF])
        return v

    def ts(self, base: datetime):
        if self.null("ts"):
            return None
        # coarse grid → plenty of exact ties across rows
        return base + timedelta(minutes=15 * self.r.randint(0, 400))


def build(out: Path, seed: int, rows: int, base: datetime | None = None) -> str:
    g = Gen(seed, rows)
    out.mkdir(parents=True, exist_ok=True)
    base = base or datetime(2024, 1, 1)
    K = g.key_off

    n_nat = max(2, rows // 12)
    write_fixture(out, "region",
                  {"r_regionkey": list(range(3)),
                   "r_name": [None if g.null("name") else f"REGION{i}" for i in range(3)]})
    write_fixture(out, "nation",
                  {"n_nationkey": list(range(n_nat)),
                   "n_name": [None if g.null("name") else f"NATION{i}" for i in range(n_nat)],
                   "n_regionkey": [g.r.randrange(3) for _ in range(n_nat)]})
    n_cust = rows
    write_fixture(out, "customer",
                  {"c_custkey": [K + i for i in range(1, n_cust + 1)],
                   "c_name": [None if g.null("name") else f"cust#{i}" for i in range(n_cust)],
                   "c_nationkey": [g.r.randrange(n_nat) for _ in range(n_cust)],
                   "c_acctbal": [None if g.null("price")
                                 else round(g.r.uniform(-999, 9999), 2)
                                 for _ in range(n_cust)],
                   "c_mktsegment": [None if g.null("segment")
                                    # skew: one dominant segment
                                    else (SEGMENTS[0] if g.r.random() < 0.5
                                          else g.r.choice(SEGMENTS))
                                    for _ in range(n_cust)]})
    n_supp = max(2, rows // 6)
    write_fixture(out, "supplier",
                  {"s_suppkey": [K + i for i in range(1, n_supp + 1)],
                   "s_name": [None if g.null("name") else f"supp#{i}" for i in range(n_supp)],
                   "s_nationkey": [g.r.randrange(n_nat) for _ in range(n_supp)],
                   "s_acctbal": [None if g.null("price")
                                 else round(g.r.uniform(-999, 9999), 2)
                                 for _ in range(n_supp)]})
    n_part = max(3, rows // 2)
    write_fixture(out, "part",
                  {"p_partkey": [K + i for i in range(1, n_part + 1)],
                   "p_name": [g.text() for _ in range(n_part)],
                   "p_brand": [None if g.null("name")
                               else f"Brand#{g.r.randint(1, 5)}" for _ in range(n_part)],
                   "p_type": [None if g.null("name")
                              else f"TYPE {g.r.choice('ABC')}" for _ in range(n_part)],
                   "p_size": [None if g.null("qty") else g.r.randint(1, 50)
                              for _ in range(n_part)],
                   "p_retailprice": [None if g.null("price")
                                     else round(g.r.uniform(100, 2000), 2)
                                     for _ in range(n_part)]})
    n_ord = rows * 2
    custs = [K + i for i in range(1, n_cust + 1)]
    write_fixture(out, "orders",
                  {"o_orderkey": [K + i for i in range(1, n_ord + 1)],
                   "o_custkey": [g.r.choice(custs) for _ in range(n_ord)],
                   "o_orderstatus": [None if g.null("status") else g.r.choice("FOP")
                                     for _ in range(n_ord)],
                   "o_totalprice": [None if g.null("price")
                                    else round(g.r.uniform(900, 400000), 2)
                                    for _ in range(n_ord)],
                   "o_orderdate": [g.ts(base) for _ in range(n_ord)],
                   "o_orderpriority": [None if g.null("priority")
                                       else g.r.choice(PRIORITIES)
                                       for _ in range(n_ord)]})
    n_li = rows * 4
    lok, lln = [], []
    seen: dict[int, int] = {}
    for _ in range(n_li):
        ok = K + g.r.randint(1, n_ord)
        seen[ok] = seen.get(ok, 0) + 1
        lok.append(ok)
        lln.append(seen[ok])
    write_fixture(out, "lineitem",
                  {"l_orderkey": lok,
                   "l_partkey": [K + g.r.randint(1, n_part) for _ in range(n_li)],
                   "l_suppkey": [K + g.r.randint(1, n_supp) for _ in range(n_li)],
                   "l_linenumber": lln,
                   "l_quantity": [None if g.null("qty") else float(g.r.randint(1, 50))
                                  for _ in range(n_li)],
                   "l_extendedprice": [None if g.null("price")
                                       else round(g.r.uniform(900, 100000), 2)
                                       for _ in range(n_li)],
                   "l_discount": [None if g.null("price")
                                  else round(g.r.choice([0.0, 0.02, 0.05, 0.1]), 2)
                                  for _ in range(n_li)],
                   "l_tax": [None if g.null("price")
                             else round(g.r.choice([0.0, 0.02, 0.04, 0.08]), 2)
                             for _ in range(n_li)],
                   "l_returnflag": [None if g.null("flag") else g.r.choice("ARN")
                                    for _ in range(n_li)],
                   "l_linestatus": [None if g.null("flag") else g.r.choice("OF")
                                    for _ in range(n_li)],
                   "l_shipdate": [g.ts(base) for _ in range(n_li)]})
    n_ev = rows * 3
    # skewed users: user 0 dominates; one NULL-user slice
    users = [K + g.r.randint(1, max(2, rows // 4)) for _ in range(n_ev)]
    write_fixture(out, "events",
                  {"event_id": [K + i for i in range(1, n_ev + 1)],
                   "ts": [g.ts(base) for _ in range(n_ev)],
                   "user_id": [None if g.null("user") else
                               (users[0] if g.r.random() < 0.3 else u)
                               for u in users],
                   "event_type": [None if g.null("type") else g.r.choice(EVENT_TYPES)
                                  for _ in range(n_ev)],
                   "value": [g.value() for _ in range(n_ev)],
                   "props": [None if g.null("props")
                             else g.r.choice(['{}', '{"k": 1}', '{"k": 7}', 'not json'])
                             for _ in range(n_ev)]})
    n_doc = rows
    texts = [g.text() for _ in range(n_doc)]
    for i in range(1, n_doc):  # exact-dup pairs at the seeded rate
        if texts[i - 1] is not None and g.r.random() < g.dup_p:
            texts[i] = texts[i - 1]
    write_fixture(out, "documents",
                  {"doc_id": [K + i for i in range(1, n_doc + 1)],
                   "text": texts,
                   "lang": [None if g.null("lang") else g.r.choice(["en", "fr", "ja", "ar"])
                            for _ in range(n_doc)],
                   "source": [None if g.null("source") else g.r.choice(["web", "synth", "book"])
                              for _ in range(n_doc)],
                   # n_chars is a DERIVED column (FIXTURES.md: len(text)) — it is
                   # NULL exactly when text is, never independently
                   "n_chars": [None if t is None else len(t) for t in texts]})
    n_vec = rows
    vecs = [g.vec() for _ in range(n_vec)]
    for i in range(1, n_vec):
        if vecs[i - 1] is not None and g.r.random() < g.dup_p:
            vecs[i] = list(vecs[i - 1])
    write_fixture(out, "embeddings",
                  {"vec_id": [K + i for i in range(1, n_vec + 1)],
                   "embedding": vecs,
                   "label": [None if g.null("label") else g.r.randint(0, 3)
                             for _ in range(n_vec)]})
    return str(out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, default=48)
    ap.add_argument(
        "--base", default=None,
        help="timestamp grid origin, YYYY-MM-DD (default 2024-01-01; "
        "2024-03-09 / 2024-11-02 cross the US DST transitions)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or list(QUERIES)
    base = datetime.strptime(args.base, "%Y-%m-%d") if args.base else None
    # entries that create catalog tables derive identifiers from the
    # fixture dir name, so the tag must stay [A-Za-z0-9_]
    tag = f"fuzz_seed{args.seed}" + (
        f"_b{args.base.replace('-', '')}" if args.base else ""
    )
    sf_dir = build(REPO / ".scratch" / tag, args.seed, args.rows, base)
    print(f"# fuzz fixture seed={args.seed} rows={args.rows} "
          f"base={args.base or '2024-01-01'} at {sf_dir}", flush=True)
    spark = get_spark(app_name=f"fuzz_sweep_{args.seed}")
    spark.sparkContext.setLogLevel("ERROR")
    return sweep(names, spark, duck_connect(sf_dir), sf_dir, f"seed={args.seed} ")


if __name__ == "__main__":
    raise SystemExit(main())
