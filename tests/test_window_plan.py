"""Pin the driver window: ``_PRIORITY`` in ``__spark_entry__`` is the
ledger-driven planner's output (tools/window_plan.py) over the ledger
frozen at ``WINDOW_ROUND - 1``.

ROUND-IDEMPOTENCY CONTRACT: the driver deposits a new CORRECTNESS_r{N}
.json after every session, so the pin reads a FROZEN ledger
(``load_ledger(max_round=...)``) and must stay green on a tree holding
any number of future-round ledger files.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from tools.window_plan import WINDOW, load_ledger, plan  # noqa: E402
from upc_sku_data_loader_spark.registry import ORACLES, QUERIES  # noqa: E402


def test_pinned_window_is_the_planner_output():
    window = plan(load_ledger(max_round=entrymod.WINDOW_ROUND - 1))
    assert window == entrymod._PRIORITY
    assert len(set(window)) == WINDOW
    assert all(n in ORACLES for n in window)  # never a rows-only slot


def test_pins_survive_synthetic_future_round(tmp_path):
    """A far-future round that flips the pinned window red must not move
    the frozen result, while the unfrozen load does see it."""
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path / path.name)
    fake = {
        n: {"rows_match": True, "schema_match": True, "hash_match": False}
        for n in entrymod._PRIORITY
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(fake))

    frozen = entrymod.WINDOW_ROUND - 1
    assert load_ledger(tmp_path, max_round=frozen) == load_ledger(max_round=frozen)
    assert plan(load_ledger(tmp_path, max_round=frozen)) == entrymod._PRIORITY
    live = load_ledger(tmp_path)
    assert all(live[n] == (99, False) for n in entrymod._PRIORITY)


def _synthetic_ledger() -> tuple[list[str], dict[str, tuple[int, bool]]]:
    eligible = [n for n in QUERIES if n in ORACLES]
    return eligible, {n: (1 + (i % 5), True) for i, n in enumerate(eligible)}


def test_never_windowed_precede_greens():
    eligible, ledger = _synthetic_ledger()
    never = eligible[-3:]
    for n in never:
        del ledger[n]
    window = plan(ledger)
    assert window[:3] == sorted(never)  # alphabetical
    assert all(ledger[n][1] for n in window[3:])


def test_planner_recheck_order_is_oldest_green_first():
    """Reds outrank every green; green re-checks come oldest round first,
    alphabetical within a round."""
    eligible, ledger = _synthetic_ledger()
    reds = [eligible[len(eligible) // 2], eligible[-1]]
    for n in reds:
        ledger[n] = (5, False)
    window = plan(ledger)
    assert window[:2] == reds  # registry order
    greens = window[2:]
    assert len(window) == WINDOW
    assert greens == sorted(greens, key=lambda n: (ledger[n][0], n))
    assert ledger[greens[0]][0] == 1
