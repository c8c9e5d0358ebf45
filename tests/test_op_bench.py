"""tools/op_bench.py: one record per (query, fixture dir) with its layer
profile and session hygiene, and the two scale checks."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.op_bench import check  # noqa: E402

NAMES = ["d1_agg_hash_grouped", "k18_ngram_jaccard"]  # k18 holds blocks


def test_profiles_each_query_at_each_scale(sf_dir):
    sf_dirs = [sf_dir, str(Path(sf_dir).parent / "sf0.01")]
    # a subprocess: the event log is a static conf, set before the session starts
    env = {"SPARK_GRAFT_DRIVER_MEM": "2g", **os.environ}
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "op_bench.py"), "--reps", "1", *NAMES,
         "--sf", *sf_dirs],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    records = [json.loads(line) for line in proc.stdout.splitlines()]
    assert [(r["name"], r["sf"]) for r in records] == [(n, sf) for n in NAMES for sf in sf_dirs]
    for r in records:
        assert r["err"] is None, r
        assert r["exec.jobs"] >= 1, r
        assert r["catalog.load_calls"] >= 1, r
        assert r["session.resident_rdds"] == 0, r
        assert r["session.conf_drift"] == 0, r
        assert r["session.active_streams"] == 0, r
        if r["sf"] == sf_dirs[-1]:
            assert r["ratio"] > 0, r


def _rec(name: str, sf: str, min_s: float, ratio: float | None = None) -> dict:
    return {"name": name, "sf": sf, "min": min_s, "ratio": ratio}


@pytest.mark.parametrize("ratio, ok", [(31.0, False), (29.0, True)])
def test_ratio_check(ratio, ok):
    records = [_rec("q", "base", 1.0), _rec("q", "scaled", ratio, ratio)]
    assert (check(records) == []) is ok


@pytest.mark.parametrize("k4b, ok", [(2.1, False), (1.9, True)])
def test_k4b_over_k4_check(k4b, ok):
    records = [_rec("k4_knn_join", "sf", 1.0), _rec("k4b_knn_join_blocked", "sf", k4b)]
    assert (check(records) == []) is ok
