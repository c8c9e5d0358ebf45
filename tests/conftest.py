"""Shared fixtures: one small local SparkSession for the whole run
(SURVEY §5.3.1 — local[4], tiny fixtures at sf0.001).

``SPARK_GRAFT_CPUS`` alone sets the width: ``get_spark`` runs
``local[$SPARK_GRAFT_CPUS]`` and sizes the shuffle to the same core
count, so the default below gives local[4] with 4 shuffle partitions.
That width is MEASURED, not arbitrary: a round-6 experiment at
local[8]/shuffle=8 made the suite SLOWER (13m53s → 17m02s, sys time
3×) — at sf0.001 per-task overhead dominates, and iterative operators
(k62 pointer doubling, k37 label propagation) pay the extra task count
on every round.  Don't "optimize" this upward again."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from upc_sku_data_loader_spark.session import get_spark

    s = get_spark(app_name="pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
