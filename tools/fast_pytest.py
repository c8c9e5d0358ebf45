"""Process-sharded pytest runner — same suite, a fraction of the wall.

Why processes and not threads or a bigger local[n]: both were measured
dead ends (tests/conftest.py docstring — in-process threading
serializes on the Py4J gateway; local[8] made the suite *slower* at
sf0.001 because per-task overhead dominates).  Separate pytest
processes each get their own gateway and their own local[4] JVM, which
is the only axis that actually parallelizes this suite on a 32-core
host.

Isolation (what makes concurrency safe):
- each shard exports ``SPARK_GRAFT_SCRATCH=.scratch/_shard<i>`` so
  side-effecting builders (scratch writers, stream checkpoints,
  sqlite/Derby DBs) never share a path across shards
  (plans/sources_sinks.py:_scratch honors the env);
- each shard exports ``SPARK_GRAFT_WAREHOUSE`` likewise so a22's
  managed-table DDL cannot race a sibling (session.py);
- the REST-API test binds port 0 (OS-assigned) — no port conflicts;
- the one long test (test_contract schema-ban sweep, ~5 min serial) is
  parametrized into slices precisely so shards can split it.

Scheduling: greedy LPT over a static duration-hint table (measured
2026-08-15).  Unknown files default to 20 s — re-measure with
``pytest --durations`` if the suite's shape changes materially.

Measured (2026-08-15, 32-core host): serial suite 14-20 min; 6 shards
= 734 s wall with heavy thrash (loadavg ~27, one Python-worker
connect-back flake); 4 shards = **456 s wall, all green** — the sweet
spot, hence the default.  More shards oversubscribe: each local[4]
JVM forks Python workers on top of its executor threads.

Usage:  python tools/fast_pytest.py [-n SHARDS] [extra pytest args]

Exit: 0 iff every shard exits 0.  This is the tight-loop verify runner;
the canonical gate stays plain ``python -m pytest tests/ -x -q``
(identical tests, serial) and must stay green independently.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: (label, est seconds, pytest selection args) — one entry per unit.
#: test_contract is split: each schema-ban slice runs alone; the rest
#: of the file runs with those deselected.
_BAN = "tests/test_contract.py::test_no_unhashable_output_columns"
UNITS: list[tuple[str, float, list[str]]] = [
    ("contract-rest", 95, ["tests/test_contract.py", "--deselect", _BAN]),
    ("ban-slice-0", 78, [f"{_BAN}[0]"]),
    ("ban-slice-1", 78, [f"{_BAN}[1]"]),
    ("ban-slice-2", 78, [f"{_BAN}[2]"]),
    ("ban-slice-3", 78, [f"{_BAN}[3]"]),
    ("plans", 150, ["tests/test_plans.py"]),
    ("round5", 65, ["tests/test_round5_ops.py"]),
    ("upc", 55, ["tests/test_upc.py"]),
    ("round6", 45, ["tests/test_round6_ops.py"]),
    ("asof", 30, ["tests/test_asof.py"]),
    ("vectors", 25, ["tests/test_vectors_dedup.py"]),
    ("streaming", 25, ["tests/test_streaming.py"]),
    ("training", 25, ["tests/test_training.py"]),
    ("catalog-ts", 20, ["tests/test_catalog_events_ts.py"]),
    ("similarity", 18, ["tests/test_similarity.py"]),
    ("rest-api", 15, ["tests/test_rest_api.py"]),
    ("selection", 15, ["tests/test_selection.py"]),
    ("round6b", 15, ["tests/test_round6b_ops.py"]),
    ("curation", 10, ["tests/test_curation.py"]),
    ("graphs", 8, ["tests/test_graphs.py"]),
    ("upsert", 5, ["tests/test_upsert.py"]),
    ("window-plan", 3, ["tests/test_window_plan.py"]),
]


def _with_unlisted() -> list[tuple[str, float, list[str]]]:
    """UNITS plus any tests/test_*.py not named above — a new test file
    must never silently drop out of the sharded gate (round-6 lesson:
    test_window_plan.py went unrun until the serial count diverged)."""
    listed = {p for _, _, a in UNITS for p in a if p.endswith(".py")}
    units = list(UNITS)
    for path in sorted((REPO / "tests").glob("test_*.py")):
        rel = f"tests/{path.name}"
        if rel not in listed:
            print(f"fast_pytest: auto-adding unlisted {rel}", flush=True)
            units.append((path.stem.replace("test_", ""), 10, [rel]))
    return units


def _assign(n_shards: int) -> list[list[tuple[str, float, list[str]]]]:
    """Greedy longest-processing-time: heaviest unit → lightest shard."""
    shards: list[list[tuple[str, float, list[str]]]] = [[] for _ in range(n_shards)]
    loads = [0.0] * n_shards
    for unit in sorted(_with_unlisted(), key=lambda u: -u[1]):
        i = loads.index(min(loads))
        shards[i].append(unit)
        loads[i] += unit[1]
    return [s for s in shards if s]


def _clear_stale_shard_logs(n_shards: int, scratch: Path) -> None:
    """Delete ``_shard*.log`` beyond the current shard count before
    launching: a stale log from an earlier wider run (e.g. a 6-shard
    session followed by a 4-shard one) reads as a phantom failure to
    anyone tallying ``_shard*.log`` files (r7 verdict hygiene item)."""
    import re

    for log in scratch.glob("_shard*.log"):
        m = re.fullmatch(r"_shard(\d+)\.log", log.name)
        if m and int(m.group(1)) >= n_shards:
            log.unlink()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--shards", type=int, default=4)
    ap.add_argument("extra", nargs="*", help="extra pytest args (e.g. -q)")
    args = ap.parse_args()

    shards = _assign(args.shards)
    _clear_stale_shard_logs(len(shards), REPO / ".scratch")
    procs = []
    t0 = time.time()
    for i, units in enumerate(shards):
        sel: list[str] = []
        for _, _, unit_args in units:
            sel += unit_args
        env = dict(os.environ)
        shard_root = REPO / ".scratch" / f"_shard{i}"
        env["SPARK_GRAFT_SCRATCH"] = str(shard_root)
        env["SPARK_GRAFT_WAREHOUSE"] = str(shard_root / "warehouse")
        env.setdefault("SPARK_GRAFT_CPUS", "4")
        log = REPO / ".scratch" / f"_shard{i}.log"
        log.parent.mkdir(parents=True, exist_ok=True)
        cmd = [sys.executable, "-m", "pytest", "-q", *sel, *args.extra]
        # close the parent's handle after Popen — the child holds its own
        # dup, and leaving it open leaks an fd per shard for the whole run
        log_fh = open(log, "w")
        try:
            proc = subprocess.Popen(
                cmd, cwd=REPO, env=env,
                stdout=log_fh, stderr=subprocess.STDOUT,
            )
        finally:
            log_fh.close()
        procs.append((i, [u[0] for u in units], log, proc))

    rc = 0
    for i, labels, log, p in procs:
        code = p.wait()
        tail = log.read_text().strip().splitlines()
        summary = tail[-1] if tail else "<no output>"
        print(f"shard {i} rc={code:<3} [{', '.join(labels)}]")
        print(f"  {summary}")
        if code != 0:
            rc = 1
            print(f"  FULL LOG: {log}")
    print(f"== wall {time.time() - t0:.1f}s, exit {rc} ==")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
