"""Session hygiene: a registry query leaves the session as it found it
once its result is dropped (no resident cached or checkpointed blocks,
no conf drift, no active streams), and every cache and checkpoint in
the engine goes through ``session.Held``."""

from __future__ import annotations

import ast
import gc
import os
import subprocess
import sys
from pathlib import Path

import pytest

from upc_sku_data_loader_spark import plans  # noqa: F401  (registry)
from upc_sku_data_loader_spark.registry import QUERIES
from upc_sku_data_loader_spark.session import holding

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "upc_sku_data_loader_spark"

#: Every query that owns a cache or checkpoint is a ``@holding`` query;
#: the source scan below keeps that true, so this list cannot go stale.
_HOLDING = sorted(n for n, fn in QUERIES.items() if hasattr(fn, "__wrapped__"))
#: Queries that once mutated the session conf.
_CONF = ["etl4_partition_overwrite", "s7_sql_scripting"]
#: Queries that drain a stream into a memory sink through
#: ``streaming.sources.run_available_now``.
_STREAM = [
    "a9_stream_source",
    "a16b_python_stream_source",
    "i4_watermark_late_data",
    "i6b_stateful_streaming",
    "i10_output_modes_triggers",
    "i13_stream_sliding_window",
    "i15_stream_dedup_watermarked",
    "i16_stream_outer_join",
    "i17_stream_session_window",
    "i18_stream_distinct_users",
]
#: Edge-gated queries whose distributed side checkpoints every round.
_ZERO_GATE = [
    "k20_dedup_clusters",
    "k37_dedup_clusters",
    "k43_graph_pagerank",
    "k62_cluster_best_keeper",
]


def _resident(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _streams(spark) -> set[str]:
    return {q.id for q in spark.streams.active}


@pytest.mark.parametrize(
    "name, zero_gate",
    [(n, False) for n in _HOLDING + _CONF + _STREAM]
    + [(n, True) for n in _ZERO_GATE],
)
def test_query_leaves_session_as_found(spark, sf_dir, monkeypatch, name, zero_gate):
    if zero_gate:
        from upc_sku_data_loader_spark.operators import dedup as D

        monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    rdds, conf, streams = _resident(spark), spark.conf.getAll, _streams(spark)
    df = QUERIES[name](spark, sf_dir)
    df.collect()
    del df
    gc.collect()
    assert _resident(spark) - rdds == set(), f"{name} left resident RDDs"
    assert spark.conf.getAll == conf, f"{name} changed the session conf"
    assert _streams(spark) - streams == set(), f"{name} left a stream running"


def test_failed_build_frees_everything(spark):
    before = _resident(spark)

    @holding
    def broken(spark, sf_dir, held):
        held.persist(spark.range(10)).count()
        held.checkpoint(spark.range(10))
        assert len(_resident(spark) - before) == 2
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        broken(spark, "")
    assert _resident(spark) - before == set()


def test_only_held_persists_or_checkpoints():
    """``.persist(``, ``.localCheckpoint(``, ``.checkpoint(`` and
    ``.cache(`` are called only inside ``session.Held`` or on a
    ``held`` instance, so every cache has one owner and the hygiene
    test's ``@holding`` list is complete."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        inside_held = {
            id(n)
            for c in ast.walk(tree)
            if isinstance(c, ast.ClassDef)
            and c.name == "Held"
            and path.name == "session.py"
            for n in ast.walk(c)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr
                in {"persist", "localCheckpoint", "checkpoint", "cache"}
                and id(node) not in inside_held
                and not (
                    isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "held"
                )
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert offenders == []


def test_only_the_runner_starts_memory_sink_streams():
    """``writeStream.format("memory")`` appears only in
    ``streaming/sources.py`` (``run_available_now``), and the state gate
    it scopes is referenced nowhere else, so every memory-sink stream
    has one output-mode and state-width rule."""
    runner = PKG / "streaming" / "sources.py"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == runner:
            continue
        source = path.read_text()
        if "stream_state_partitions" in source:
            offenders.append(f"{path.relative_to(PKG)}: state gate")
        for node in ast.walk(ast.parse(source)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "writeStream"
                and [getattr(a, "value", None) for a in node.args] == ["memory"]
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert offenders == []


def test_shuffle_width_is_the_session_cores():
    """``get_spark`` sizes the shuffle from the session's cores
    (``SPARK_GRAFT_CPUS``) and reads no width knob.  A subprocess: the
    core count is fixed when the JVM starts."""
    code = (
        "from upc_sku_data_loader_spark.session import get_spark\n"
        "s = get_spark(app_name='width')\n"
        "print(s.conf.get('spark.sql.shuffle.partitions'),"
        " s.sparkContext.defaultParallelism)\n"
        "s.stop()\n"
    )
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_SHUFFLE": "7",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split()[-2:] == ["2", "2"]
