"""Compute the next driver verification window from the ledger.

The grading driver hash-checks the first 50 entries of ``queries()``
(each CORRECTNESS_r{N}.json holds exactly those names).  The window is
derived from the recorded CORRECTNESS_r*.json ledger alone: currently-red
names first, then never-windowed names (alphabetical), then re-checks of
the names whose latest driver-green is OLDEST, so the "green in latest
check" property stays fresh across the whole registry.  Rows-only
entries (no oracle) are never eligible.

Rotating the window is a copy-paste of this tool's output into
``_PRIORITY`` and ``WINDOW_ROUND`` in ``__spark_entry__.py``, followed by
``python tools/driver_fetch_replay.py``.

Usage:
    python tools/window_plan.py --audit        # ledger summary only
    python tools/window_plan.py                # print the next window
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from upc_sku_data_loader_spark import plans  # noqa: F401,E402  (populates registry)
from upc_sku_data_loader_spark.registry import ORACLES, QUERIES  # noqa: E402

WINDOW = 50


def load_ledger(
    repo: Path = REPO, max_round: int | None = None
) -> dict[str, tuple[int, bool]]:
    """name -> (latest windowed round, green in that latest check).

    ``max_round`` freezes the ledger to rounds <= N: the tree gains a new
    CORRECTNESS_r{N}.json after every driver run, so an assertion about
    the pinned window must read the ledger as it stood when it was pinned.
    """
    ledger: dict[str, tuple[int, bool]] = {}
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        data = json.loads(path.read_text())
        for name, res in data.items():
            green = bool(
                res.get("rows_match")
                and res.get("schema_match")
                and res.get("hash_match")
                and not res.get("err")
            )
            prev = ledger.get(name)
            if prev is None or rnd >= prev[0]:
                ledger[name] = (rnd, green)
    return ledger


def plan(ledger: dict[str, tuple[int, bool]]) -> list[str]:
    """The next window: reds, never-windowed, then oldest-green re-checks."""
    eligible = [n for n in QUERIES if n in ORACLES]
    reds = [n for n in eligible if n in ledger and not ledger[n][1]]
    never = sorted(n for n in eligible if n not in ledger)
    # oldest driver-green first; alphabetical within a round for determinism
    greens = sorted(
        (n for n in eligible if n in ledger and ledger[n][1]),
        key=lambda n: (ledger[n][0], n),
    )
    return (reds + never + greens)[:WINDOW]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--audit", action="store_true")
    args = ap.parse_args()

    ledger = load_ledger()
    recorded = sorted({r for r, _ in ledger.values()})
    eligible = [n for n in QUERIES if n in ORACLES]
    reds = sorted(n for n in eligible if n in ledger and not ledger[n][1])
    never = sorted(n for n in eligible if n not in ledger)
    print(
        f"# ledger: {len(ledger)} distinct windowed across rounds {recorded}; "
        f"{len(reds)} currently-red; {len(never)} never-windowed "
        f"(of {len(eligible)} hash-checkable, {len(QUERIES)} total)"
    )
    if reds:
        print(f"# RED in latest check: {reds}")
    if args.audit:
        by_round: dict[int, int] = {}
        for rnd, green in ledger.values():
            if green:
                by_round[rnd] = by_round.get(rnd, 0) + 1
        for rnd in sorted(by_round):
            print(f"#   latest-green in r{rnd}: {by_round[rnd]} names")
        return 0

    window = plan(ledger)
    print(f"# next window ({len(window)} names) — paste into __spark_entry__.py:")
    print(f"WINDOW_ROUND = {max(recorded, default=0) + 1}")
    print("_PRIORITY = [")
    for i in range(0, len(window), 3):
        print("    " + ", ".join(f'"{n}"' for n in window[i : i + 3]) + ",")
    print("]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
