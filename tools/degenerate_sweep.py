"""Degenerate-corpus sweep: run EVERY registry entry against a minimal
adversarial fixture and diff Spark vs the DuckDB oracle.

The sf0.01 parity gate proves correctness on realistic data; this tool
attacks the complement — the degenerate shapes real 100 TB corpora
contain but the generated fixtures never do:

- constant-valued groups (float-cancellation negatives: the d29/d30
  class — variance power sums cancel below 0),
- single-row and empty groups (n-1 = 0, n = 0 denominators: Spark's
  ANSI mode THROWS on double x/0 where DuckDB returns NULL),
- exact-duplicate rows and documents (dedup cluster expansion: the k18
  direction class),
- an all-zeros embedding (cosine normalizes by a zero norm),
- whitespace-only / single-char / sub-gram-width documents,
- a single user, a single nation/region, one-day event history.

Every entry runs through tools/parity.compare_one (the strict value
compare).  A PASS means both engines agree bit-exactly even here; the
statuses to chase are ERROR (one side threw) and FAIL_* (silent value
divergence) — each is either a robustness bug to fix or a documented
domain assumption.

Usage:
    python tools/degenerate_sweep.py [names...]       # default: all 339
    python tools/degenerate_sweep.py --empty [...]    # ZERO-ROW tables
    python tools/degenerate_sweep.py --extreme [...]  # non-finite / multibyte / int64-edge
    python tools/degenerate_sweep.py --nulls [...]    # NULLs in every nullable column
    python tools/degenerate_sweep.py --megadoc [...]  # megabyte-scale single docs
    python tools/degenerate_sweep.py --nfd [...]      # NFC/NFD normalization twins

--empty swaps the fixture for schema-correct zero-row tables: the
shapes that break driver-side seed collects (first() on nothing),
numpy kernels (vstack of an empty batch), and window/aggregate edge
paths.  An operator is allowed to return zero rows there — it is NOT
allowed to throw differently than its oracle.

--extreme is the third mode (r8 SCALING.md "unswept input dimensions"):
- NaN/+Inf/-Inf in `events.value` and `embeddings.embedding` (Spark
  and DuckDB both group NaN as one key and sort it greatest, but
  derived arithmetic — histogram bins, z-scores, cosine norms — can
  diverge or throw on exactly one engine),
- non-ASCII/multibyte `documents.text` and dimension names (CJK,
  emoji/4-byte codepoints, RTL Arabic, accented Latin): probes the
  char-vs-byte assumptions in gram extraction, fixed-width layouts,
  tokenizers and regex classes,
- key columns near the int64 edge (doc_id/vec_id/user_id/event_id/
  custkey/orderkey at 2^62+i): arithmetic on key-derived values
  (salting by multiplication, key*constant bucketing) overflows under
  ANSI mode exactly like a snowflake-id corpus would at 100 TB.

--nulls is the fourth mode: SQL NULL in every non-key column of every
table (plus a NULL timestamp, a NULL grouping key, a NULL whole
embedding and an embedding containing a NULL element).  Real ingested
corpora are full of NULLs, and the engines disagree exactly where the
other three modes can't see:
- ORDER BY: Spark ASC is NULLS FIRST, DuckDB ASC is NULLS LAST — any
  top-k whose row SET admits a NULL sort key silently diverges,
- pandas-UDF round-trips: NULL float → NaN inside the Arrow batch and
  NULL list → None (numpy kernels throw on None rows),
- three-value logic in conditional tallies (x <> x vs NOT x = x),
- time-ordered operators fed a NULL timestamp (lag/lead/sessionization
  have no defensible position for a timeless event).
"""

from __future__ import annotations

import datetime
import sys
from pathlib import Path

import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from upc_sku_data_loader_spark import plans  # noqa: F401,E402
from upc_sku_data_loader_spark.catalog import TABLES  # noqa: E402
from upc_sku_data_loader_spark.registry import QUERIES  # noqa: E402
from upc_sku_data_loader_spark.session import get_spark  # noqa: E402
from tools.parity import duck_connect, fixture_schema, sweep, write_fixture  # noqa: E402


def ts(day: int, h: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, day, h)


def build(out: Path) -> str:
    """Write the degenerate fixture tables (schemas match /root/testdata)."""
    out.mkdir(parents=True, exist_ok=True)
    write_fixture(out, "region", {"r_regionkey": [0], "r_name": ["ONLY"]})
    write_fixture(out, "nation", {"n_nationkey": [0], "n_name": ["SOLO"], "n_regionkey": [0]})
    # two customers, CONSTANT acctbal, one segment
    write_fixture(out, "customer",
                  {"c_custkey": [1, 2], "c_name": ["c#1", "c#2"],
                   "c_nationkey": [0, 0], "c_acctbal": [0.1, 0.1],
                   "c_mktsegment": ["BUILDING", "BUILDING"]})
    write_fixture(out, "supplier",
                  {"s_suppkey": [1], "s_name": ["s#1"], "s_nationkey": [0],
                   "s_acctbal": [0.1]})
    # two parts, constant price, same brand/type
    write_fixture(out, "part",
                  {"p_partkey": [1, 2], "p_name": ["alpha alpha", "alpha alpha"],
                   "p_brand": ["Brand#1", "Brand#1"], "p_type": ["TYPE A", "TYPE A"],
                   "p_size": [1, 1], "p_retailprice": [0.1, 0.1]})
    # two orders, same customer, same day, constant price
    write_fixture(out, "orders",
                  {"o_orderkey": [1, 2], "o_custkey": [1, 1],
                   "o_orderstatus": ["F", "F"], "o_totalprice": [0.1, 0.1],
                   "o_orderdate": [ts(1), ts(1)],
                   "o_orderpriority": ["1-URGENT", "1-URGENT"]})
    # two identical-valued lineitems on one order + one on the other
    write_fixture(out, "lineitem",
                  {"l_orderkey": [1, 1, 2], "l_partkey": [1, 2, 1],
                   "l_suppkey": [1, 1, 1], "l_linenumber": [1, 2, 1],
                   "l_quantity": [1.0, 1.0, 1.0],
                   "l_extendedprice": [0.1, 0.1, 0.1],
                   "l_discount": [0.0, 0.0, 0.0], "l_tax": [0.0, 0.0, 0.0],
                   "l_returnflag": ["N", "N", "N"], "l_linestatus": ["O", "O", "O"],
                   "l_shipdate": [ts(2), ts(2), ts(2)]})
    # single user; constant-valued purchase pair (the d30 trigger),
    # constant click pair, one lone 'view'
    write_fixture(out, "events",
                  {"event_id": [1, 2, 3, 4, 5],
                   "ts": [ts(1, 1), ts(1, 2), ts(1, 3), ts(1, 4), ts(1, 5)],
                   "user_id": [7, 7, 7, 7, 7],
                   "event_type": ["purchase", "purchase", "click", "click", "view"],
                   "value": [0.1, 0.1, 2.0, 2.0, 5.0],
                   "props": ["{}"] * 5})
    # exact dups, a single-char doc, a whitespace-heavy doc, one normal
    docs = [
        (1, "same text here for everyone", "en", "web"),
        (2, "same text here for everyone", "en", "web"),   # exact dup
        (3, "x", "en", "web"),                              # sub-gram width
        (4, "   ", "en", "web"),                            # whitespace only
        (5, "a b a b a b a b a b a b", "en", "synth"),      # 2-token vocab
    ]
    write_fixture(out, "documents",
                  {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
                   "lang": [d[2] for d in docs], "source": [d[3] for d in docs],
                   "n_chars": [len(d[1]) for d in docs]})
    # a ZERO vector (cosine's 0-norm edge), an exact-duplicate pair, and
    # one ordinary vector
    vecs = [
        (1, [0.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 2.0, 3.0, 4.0], 1),
        (3, [1.0, 2.0, 3.0, 4.0], 1),  # exact dup of 2
        (4, [4.0, 3.0, 2.0, 1.0], 2),
    ]
    write_fixture(out, "embeddings",
                  {"vec_id": [v[0] for v in vecs],
                   "embedding": [v[1] for v in vecs],
                   "label": [v[2] for v in vecs]})
    return str(out)


def build_extreme(out: Path) -> str:
    """Third-mode fixture: non-finite floats, multibyte text, int64-edge
    keys.  Schemas identical to /root/testdata (and to build() above)."""
    out.mkdir(parents=True, exist_ok=True)
    K = 2**62  # 4.61e18 — near-int64-edge base for key columns
    NAN, PINF, NINF = float("nan"), float("inf"), float("-inf")

    write_fixture(out, "region", {"r_regionkey": [0, 1], "r_name": ["ÜBER-RÉGION", "亜細亜"]})
    write_fixture(out, "nation",
                  {"n_nationkey": [0, 1], "n_name": ["日本", "CÔTE D'IVOIRE"],
                   "n_regionkey": [0, 1]})
    write_fixture(out, "customer",
                  {"c_custkey": [K + 1, K + 2, K + 3],
                   "c_name": ["顧客#1", "cliënt#2", "عميل#3"],
                   "c_nationkey": [0, 1, 0],
                   "c_acctbal": [100.5, -50.25, 0.0],
                   "c_mktsegment": ["BUILDING", "MACHINERY", "BUILDING"]})
    write_fixture(out, "supplier",
                  {"s_suppkey": [1, 2], "s_name": ["fournisseur#1", "仕入先#2"],
                   "s_nationkey": [0, 1], "s_acctbal": [10.5, -3.75]})
    write_fixture(out, "part",
                  {"p_partkey": [1, 2, 3],
                   "p_name": ["café au lait brûlée", "naïve £ part", "普通の部品"],
                   "p_brand": ["Brand#1", "Brand#2", "Brand#1"],
                   "p_type": ["TYPE A", "TYPE B", "TYPE A"],
                   "p_size": [1, 50, 25],
                   "p_retailprice": [901.0, 1000.5, 850.25]})
    write_fixture(out, "orders",
                  {"o_orderkey": [K + 11, K + 12, K + 13, K + 14],
                   "o_custkey": [K + 1, K + 1, K + 2, K + 3],
                   "o_orderstatus": ["F", "O", "F", "O"],
                   "o_totalprice": [100.0, 200.0, 150.5, 99.99],
                   "o_orderdate": [ts(1), ts(2), ts(3), ts(4)],
                   "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "1-URGENT"]})
    write_fixture(out, "lineitem",
                  {"l_orderkey": [K + 11, K + 11, K + 12, K + 13, K + 14],
                   "l_partkey": [1, 2, 3, 1, 2],
                   "l_suppkey": [1, 2, 1, 2, 1],
                   "l_linenumber": [1, 2, 1, 1, 1],
                   "l_quantity": [1.0, 2.0, 3.0, 4.0, 5.0],
                   "l_extendedprice": [10.5, 20.25, 30.0, 40.75, 50.5],
                   "l_discount": [0.0, 0.05, 0.1, 0.05, 0.0],
                   "l_tax": [0.0, 0.02, 0.04, 0.0, 0.08],
                   "l_returnflag": ["N", "R", "A", "N", "R"],
                   "l_linestatus": ["O", "F", "F", "O", "F"],
                   "l_shipdate": [ts(2), ts(3), ts(4), ts(5), ts(6)]})
    # non-finite values interleaved with normals; int64-edge user ids
    write_fixture(out, "events",
                  {"event_id": [K + i for i in range(1, 9)],
                   "ts": [ts(1, 1), ts(1, 2), ts(1, 3), ts(1, 4),
                          ts(2, 1), ts(2, 2), ts(2, 3), ts(2, 4)],
                   "user_id": [K + 7, K + 7, K + 8, K + 8, K + 7, K + 8, K + 9, K + 9],
                   "event_type": ["purchase", "click", "purchase", "view",
                                  "click", "purchase", "view", "click"],
                   "value": [1.5, NAN, PINF, NINF, 2.5, NAN, 0.0, 3.25],
                   "props": ["{}"] * 8})
    # multibyte scripts (CJK, accented Latin, 4-byte emoji, RTL Arabic,
    # mixed), one exact-dup pair, int64-edge doc ids; n_chars counts
    # Python/Spark/DuckDB codepoints (all three agree)
    docs = [
        (K + 1, "日本語のテキストです。大規模な言語モデルの学習データとして利用します。", "ja", "web"),
        (K + 2, "日本語のテキストです。大規模な言語モデルの学習データとして利用します。", "ja", "web"),
        (K + 3, "café naïve déjà vu — résumé über straße", "fr", "web"),
        (K + 4, "🚀 emoji 🎉 test 🤖 with 🌍 multibyte 🔥 codepoints 🚀", "en", "synth"),
        (K + 5, "مرحبا بالعالم هذا نص تجريبي باللغة العربية للاختبار", "ar", "web"),
        (K + 6, "Mixed ASCII with Ünïcödé and ελληνικά and кириллица", "en", "web"),
    ]
    write_fixture(out, "documents",
                  {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
                   "lang": [d[2] for d in docs], "source": [d[3] for d in docs],
                   "n_chars": [len(d[1]) for d in docs]})
    # NaN / +Inf / -Inf components, an exact-dup pair, int64-edge ids
    vecs = [
        (K + 1, [NAN, 1.0, 2.0, 3.0], 0),
        (K + 2, [PINF, 1.0, 2.0, 3.0], 1),
        (K + 3, [NINF, 1.0, 2.0, 3.0], 1),
        (K + 4, [1.0, 2.0, 3.0, 4.0], 2),
        (K + 5, [1.0, 2.0, 3.0, 4.0], 2),  # exact dup of K+4
        (K + 6, [4.0, 3.0, 2.0, 1.0], 0),
    ]
    write_fixture(out, "embeddings",
                  {"vec_id": [v[0] for v in vecs],
                   "embedding": [v[1] for v in vecs],
                   "label": [v[2] for v in vecs]})
    return str(out)


def build_nulls(out: Path) -> str:
    """Fourth-mode fixture: a NULL in every nullable non-key column.

    Keys (the *key columns and doc_id/vec_id/event_id) stay non-null —
    a NULL primary key is a corrupt upstream extract, not a data shape
    this engine promises semantics for — with ONE exception: a single
    NULL events.user_id row (anonymous traffic is a real corpus shape).
    Everything else gets exactly one NULL somewhere: measures, labels,
    text, timestamps, a whole embedding, and one embedding element.
    """
    out.mkdir(parents=True, exist_ok=True)
    write_fixture(out, "region", {"r_regionkey": [0, 1], "r_name": ["AMERICA", None]})
    write_fixture(out, "nation",
                  {"n_nationkey": [0, 1], "n_name": [None, "FRANCE"],
                   "n_regionkey": [0, 1]})
    write_fixture(out, "customer",
                  {"c_custkey": [1, 2, 3],
                   "c_name": [None, "c#2", "c#3"],
                   "c_nationkey": [0, 1, 0],
                   "c_acctbal": [100.5, None, -7.25],
                   "c_mktsegment": ["BUILDING", None, "MACHINERY"]})
    write_fixture(out, "supplier",
                  {"s_suppkey": [1, 2], "s_name": ["s#1", None],
                   "s_nationkey": [0, 1], "s_acctbal": [None, 12.5]})
    write_fixture(out, "part",
                  {"p_partkey": [1, 2, 3],
                   "p_name": ["alpha beta", None, "gamma delta"],
                   "p_brand": ["Brand#1", "Brand#2", None],
                   "p_type": [None, "TYPE B", "TYPE A"],
                   "p_size": [1, None, 25],
                   "p_retailprice": [901.0, 1000.5, None]})
    write_fixture(out, "orders",
                  {"o_orderkey": [11, 12, 13, 14],
                   "o_custkey": [1, 1, 2, 3],
                   "o_orderstatus": ["F", "O", None, "O"],
                   "o_totalprice": [100.0, None, 150.5, 99.99],
                   "o_orderdate": [ts(1), ts(2), ts(3), None],
                   "o_orderpriority": [None, "2-HIGH", "3-MEDIUM", "1-URGENT"]})
    write_fixture(out, "lineitem",
                  {"l_orderkey": [11, 11, 12, 13, 14],
                   "l_partkey": [1, 2, 3, 1, 2],
                   "l_suppkey": [1, 2, 1, 2, 1],
                   "l_linenumber": [1, 2, 1, 1, 1],
                   "l_quantity": [1.0, None, 3.0, 4.0, 5.0],
                   "l_extendedprice": [10.5, 20.25, None, 40.75, 50.5],
                   "l_discount": [0.0, 0.05, 0.1, None, 0.0],
                   "l_tax": [0.0, 0.02, None, 0.0, 0.08],
                   "l_returnflag": ["N", None, "A", "N", "R"],
                   "l_linestatus": ["O", "F", "F", None, "F"],
                   "l_shipdate": [ts(2), ts(3), None, ts(5), ts(6)]})
    # NULL value / event_type / props / ts / user_id — one each,
    # interleaved with enough normal rows for sessions and windows
    write_fixture(out, "events",
                  {"event_id": [1, 2, 3, 4, 5, 6, 7, 8],
                   "ts": [ts(1, 1), ts(1, 2), None, ts(1, 4),
                          ts(2, 1), ts(2, 2), ts(2, 3), ts(2, 4)],
                   "user_id": [7, 7, 7, None, 7, 8, 8, 9],
                   "event_type": ["purchase", None, "purchase", "view",
                                  "click", "purchase", "view", "click"],
                   "value": [1.5, None, 2.0, None, 2.5, 4.0, 0.0, 3.25],
                   "props": ["{}", '{"k": 1}', None, "{}", "{}", "{}", "{}", "{}"]})
    # NULL text vs EMPTY text are distinct shapes; NULL lang/source/
    # n_chars; an exact-dup pair so dedup ops still cluster
    docs = [
        (1, "same text here for everyone", "en", "web", 27),
        (2, "same text here for everyone", "en", "web", 27),
        (3, None, "en", "web", None),
        (4, "", "en", "web", 0),
        (5, "plain ascii document for scoring", None, "synth", 32),
        (6, "another ordinary document body", "en", None, 30),
    ]
    write_fixture(out, "documents",
                  {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
                   "lang": [d[2] for d in docs], "source": [d[3] for d in docs],
                   "n_chars": [d[4] for d in docs]})
    # one NULL whole-embedding, one embedding with a NULL element, one
    # NULL label; a dup pair keeps the dedup/ANN ops non-trivial
    vecs = [
        (1, None, 0),
        (2, [1.0, None, 3.0, 4.0], 1),
        (3, [1.0, 2.0, 3.0, 4.0], None),
        (4, [1.0, 2.0, 3.0, 4.0], 2),
        (5, [4.0, 3.0, 2.0, 1.0], 2),
        (6, [0.5, 1.5, 2.5, 3.5], 0),
    ]
    write_fixture(out, "embeddings",
                  {"vec_id": [v[0] for v in vecs],
                   "embedding": [v[1] for v in vecs],
                   "label": [v[2] for v in vecs]})
    return str(out)


def build_megadoc(out: Path) -> str:
    """Fifth-mode fixture: MEGABYTE-SCALE single documents (the r9
    SCALING.md unswept dimension — per-row memory, not value semantics).

    Every non-documents table reuses build()'s small shapes; documents
    swaps in the per-row memory stressors a 100 TB crawl actually
    contains:
    - a ~2 MiB natural-ish document (sentence loop with a drifting
      counter so gram sets are large but not degenerate),
    - an EXACT duplicate of it (dedup ops must cluster two multi-MiB
      payloads without materializing the pair cross product),
    - a ~1 MiB single-token document with NO whitespace (tokenizers,
      BPE merges, word-based quality ratios all see one giant token),
    - a ~1 MiB document that is ONE boilerplate line repeated (the
      k24/k44 repetition/dup-gram worst case: maximal duplicate-gram
      density at minimal vocabulary),
    - a ~1 MiB multibyte (CJK) document (byte length ~3x codepoint
      length — probes byte-vs-char buffer assumptions),
    - two ordinary small docs so per-language/per-source groups keep
      realistic shapes.
    The sweep's question is NOT value parity alone but whether the
    gram/token exploders (k18/k24/k44, chunkers, fingerprints) survive
    per-row blowup: a 2 MiB doc is ~2M character 5-grams — the
    per-task working set must stay bounded by Arrow batching, never by
    whole-document cross products."""
    out.mkdir(parents=True, exist_ok=True)
    build(out)  # small shapes for every other table
    sent = ("the quick brown fox jumps over the lazy dog while %d "
            "analysts watch the warehouse burn down quietly. ")
    big = "".join(sent % i for i in range(9000))            # ~2.0 MiB
    one_token = "x" * (1 << 20)                             # 1 MiB, no whitespace
    boiler = ("subscribe to our newsletter for updates\n" * 26000)  # ~1 MiB
    cjk = "大規模な言語モデルの学習データを整備する。" * 50000     # ~1M chars, ~3 MiB utf-8
    docs = [
        (1, big, "en", "web"),
        (2, big, "en", "web"),            # exact MiB-scale dup pair
        (3, one_token, "en", "synth"),
        (4, boiler, "en", "web"),
        (5, cjk, "ja", "web"),
        (6, "a small ordinary document about parts and orders", "en", "web"),
        (7, "another small document mentioning suppliers", "en", "synth"),
    ]
    write_fixture(out, "documents",
                          {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
                           "lang": [d[2] for d in docs], "source": [d[3] for d in docs],
                           "n_chars": [len(d[1]) for d in docs]})
    return str(out)


def build_nfd(out: Path) -> str:
    """Sixth-mode fixture: Unicode NORMALIZATION-FORM twins (the r9
    SCALING.md probe).  The same VISIBLE text appears twice — once NFC
    (precomposed, e.g. U+00E9) and once NFD (decomposed, e.g. e +
    U+0301) — as distinct doc_ids.

    Ground truth both engines share today: neither Spark nor DuckDB
    normalizes, so the twins are DIFFERENT strings everywhere (hash,
    group, dedup, length: len(NFD) > len(NFC)) and the sweep must PASS
    — consistency, not unification.  The documented divergence point
    (tests/test_unicode_norm.py): any future NORMALIZING tokenizer or
    fingerprint (NFC/NFKC fold before hashing) would merge exactly
    these twin pairs and break engine parity unless BOTH sides
    normalize identically.  A visible-dup pair of non-twin docs keeps
    dedup ops non-trivial."""
    out.mkdir(parents=True, exist_ok=True)
    build(out)
    import unicodedata as ud

    visible = [
        "café résumé naïve déjà vu",             # Latin + combining accents
        "el niño señor año peña",                # Spanish ñ
        "Viêt Nam tiếng Việt điển hình",         # stacked Vietnamese diacritics
        "각 한국어 조합형",                      # Hangul jamo composition
    ]
    docs = []
    did = 1
    for text in visible:
        nfc, nfd = ud.normalize("NFC", text), ud.normalize("NFD", text)
        assert nfc != nfd, f"twin collapsed: {text!r}"
        docs.append((did, nfc, "xx", "nfc")); did += 1
        docs.append((did, nfd, "xx", "nfd")); did += 1
    docs.append((did, "identical ascii duplicate line", "en", "web")); did += 1
    docs.append((did, "identical ascii duplicate line", "en", "web")); did += 1
    write_fixture(out, "documents",
                          {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
                           "lang": [d[2] for d in docs], "source": [d[3] for d in docs],
                           "n_chars": [len(d[1]) for d in docs]})
    return str(out)


def build_empty(out: Path) -> str:
    """Zero-row variants of every table, exact fixture schemas."""
    out.mkdir(parents=True, exist_ok=True)
    for t in TABLES:
        pq.write_table(fixture_schema(t).empty_table(), f"{out}/{t}.parquet")
    return str(out)


def main() -> int:
    flags = ("--empty", "--extreme", "--nulls", "--megadoc", "--nfd")
    args = [a for a in sys.argv[1:] if a not in flags]
    names = args or list(QUERIES)
    if "--empty" in sys.argv[1:]:
        sf_dir = build_empty(REPO / ".scratch" / "degenerate_empty")
    elif "--extreme" in sys.argv[1:]:
        sf_dir = build_extreme(REPO / ".scratch" / "degenerate_extreme")
    elif "--nulls" in sys.argv[1:]:
        sf_dir = build_nulls(REPO / ".scratch" / "degenerate_nulls")
    elif "--megadoc" in sys.argv[1:]:
        sf_dir = build_megadoc(REPO / ".scratch" / "degenerate_megadoc")
    elif "--nfd" in sys.argv[1:]:
        sf_dir = build_nfd(REPO / ".scratch" / "degenerate_nfd")
    else:
        sf_dir = build(REPO / ".scratch" / "degenerate")
    spark = get_spark(app_name="degenerate_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    return sweep(names, spark, duck_connect(sf_dir), sf_dir)


if __name__ == "__main__":
    raise SystemExit(main())
