"""Per-module tracing for the benchmark's traced runs.

Spans are recorded around the benchmark's own calls into each engine
module (name, start, end, parent, op id) and kept in memory until the
run ends.  While a span is open its id is set as the Spark local
property ``perfbench.span``; Spark copies local properties into the
event log's job-start records, so every job, stage and task in the log
is attributed to the innermost span that started it.

Worker-side work (the REST transport and the sqlite writes run inside
Python workers) is counted through wrappers passed as the engine's
``transport=`` and ``conn_factory=`` arguments, summed by accumulators.

Nothing here edits the engine: ``catalog.load`` is timed by rebinding
the name in the modules that imported it, for the traced run only.
"""

from __future__ import annotations

import json
import sqlite3
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from typing import Any

from upc_sku_data_loader_spark import catalog
from upc_sku_data_loader_spark.sources.rest_api import fake_transport

SPAN_PROPERTY = "perfbench.span"

#: Operator scopes whose stages run Python UDF workers (Arrow or batch eval).
ARROW_SCOPES = {
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "BatchEvalPython",
}


class Tracer:
    """Span recorder; every method is a no-op when ``enabled`` is false."""

    def __init__(self, sc: Any, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
            )

    @contextmanager
    def timed_catalog_loads(self):
        """Record a ``catalog.load`` span around every fixture load."""
        if not self.enabled:
            yield
            return
        real = catalog.load

        def load(spark, sf_dir, name):
            with self.span("catalog.load"):
                return real(spark, sf_dir, name)

        rebound = [
            m
            for name, m in list(sys.modules.items())
            if name.startswith("upc_sku_data_loader_spark.")
            and getattr(m, "load", None) is real
        ]
        for m in rebound:
            m.load = load
        try:
            yield
        finally:
            for m in rebound:
                m.load = real

    def write(self, path: Path) -> None:
        with path.open("w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# --- worker-side counters ----------------------------------------------------


class Counters:
    """Accumulators the worker-side wrappers add to."""

    NAMES = (
        "requests",
        "records",
        "transport_s",
        "executemany_calls",
        "upsert_rows",
        "commits",
        "write_s",
        "snapshot_rows",
    )

    def __init__(self, sc: Any) -> None:
        self.acc = {n: sc.accumulator(0.0 if n.endswith("_s") else 0) for n in self.NAMES}

    def values(self) -> dict[str, float]:
        return {n: a.value for n, a in self.acc.items()}


class TimedTransport:
    """``transport=`` wrapper: the deterministic fake API, timed and counted."""

    def __init__(self, counters: Counters) -> None:
        self.acc = counters.acc

    def __call__(self, url: str, headers: dict[str, str] | None = None) -> str:
        t0 = time.perf_counter()
        body = fake_transport(url, headers)
        self.acc["transport_s"].add(time.perf_counter() - t0)
        self.acc["requests"].add(1)
        self.acc["records"].add(body.count("\n") + 1 if body else 0)
        return body


class CountingConnFactory:
    """``conn_factory=`` wrapper: sqlite connections whose writes are
    timed and counted, and whose reads count the rows fetched."""

    def __init__(self, path: str, counters: Counters | None) -> None:
        self.path = path
        self.acc = counters.acc if counters else None

    def __call__(self) -> Any:
        con = sqlite3.connect(self.path, timeout=60.0)
        return _CountingConn(con, self.acc) if self.acc else con


class _CountingConn:
    def __init__(self, con: sqlite3.Connection, acc: dict) -> None:
        self._con = con
        self._acc = acc

    def cursor(self) -> "_CountingCursor":
        return _CountingCursor(self._con.cursor(), self._acc)

    def commit(self) -> None:
        t0 = time.perf_counter()
        self._con.commit()
        self._acc["write_s"].add(time.perf_counter() - t0)
        self._acc["commits"].add(1)

    def close(self) -> None:
        self._con.close()


class _CountingCursor:
    def __init__(self, cur: sqlite3.Cursor, acc: dict) -> None:
        self._cur = cur
        self._acc = acc

    def execute(self, sql: str, params: Any = ()) -> Any:
        return self._cur.execute(sql, params)

    def fetchall(self) -> list:
        rows = self._cur.fetchall()
        self._acc["snapshot_rows"].add(len(rows))
        return rows

    def executemany(self, sql: str, rows: list) -> Any:
        t0 = time.perf_counter()
        out = self._cur.executemany(sql, rows)
        self._acc["write_s"].add(time.perf_counter() - t0)
        self._acc["executemany_calls"].add(1)
        self._acc["upsert_rows"].add(len(rows))
        return out


# --- the event log -----------------------------------------------------------


def _acc_values(stage_info: dict) -> dict[str, float]:
    """The stage's task-metric totals (the log writes them as numbers)."""
    return {
        a["Name"]: float(a["Value"])
        for a in stage_info.get("Accumulables", [])
        if a.get("Name", "").startswith("internal.metrics.")
        and isinstance(a.get("Value"), (int, float))
    }


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        if rdd.get("Name") == "PythonRDD":
            return True
        try:
            scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
        except ValueError:
            continue
        if scope in ARROW_SCOPES:
            return True
    return False


def read_event_log(log_dir: Path) -> dict:
    """Jobs (span tag, interval, stages) and stages (metrics) of the one
    application log in ``log_dir``."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    delay_ms: dict[int, float] = defaultdict(float)
    with files[0].open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "span": props.get(SPAN_PROPERTY),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                getting = info.get("Getting Result Time", 0)
                getting_ms = info["Finish Time"] - getting if getting else 0
                delay_ms[ev["Stage ID"]] += max(
                    0,
                    info["Finish Time"]
                    - info["Launch Time"]
                    - m.get("Executor Run Time", 0)
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - getting_ms,
                )
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc = _acc_values(si)
                stages[si["Stage ID"]] = {
                    "tasks": si.get("Number of Tasks", 0),
                    "run_ms": acc.get("internal.metrics.executorRunTime", 0.0),
                    "cpu_ms": acc.get("internal.metrics.executorCpuTime", 0.0) / 1e6,
                    "gc_ms": acc.get("internal.metrics.jvmGCTime", 0.0),
                    "shuffle_read": acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0.0)
                    + acc.get("internal.metrics.shuffle.read.localBytesRead", 0.0),
                    "shuffle_write": acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0),
                    "spill": acc.get("internal.metrics.diskBytesSpilled", 0.0),
                    "python": _is_python_stage(si),
                }
    for sid, ms in delay_ms.items():
        if sid in stages:
            stages[sid]["delay_ms"] = ms
    return {"jobs": jobs, "stages": stages}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def layer_metrics(spans: list[dict], log: dict, ops: set[int], n_passes: int) -> dict[str, float]:
    """Per-pass means of the per-module metrics over the measured ops."""
    measured = {s["id"]: s for s in spans if s["op"] in ops}
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in measured.values():
        by_name[s["name"]].append(s)
    jobs_of: dict[int, list[dict]] = defaultdict(list)
    for j in log["jobs"].values():
        if j["span"] is not None and int(j["span"]) in measured:
            jobs_of[int(j["span"])].append(j)

    def dur(name: str) -> float:
        return sum(s["end"] - s["start"] for s in by_name[name])

    def jobs_in(name: str) -> list[dict]:
        return [j for s in by_name[name] for j in jobs_of[s["id"]]]

    def stages_of(jobs: list[dict]) -> list[dict]:
        return [log["stages"][sid] for j in jobs for sid in j["stages"] if sid in log["stages"]]

    build_driver = 0.0
    for s in by_name["plans.build"]:
        ivs = [(j["start"], j["end"] or s["end"]) for j in jobs_of[s["id"]]]
        ivs += [(c["start"], c["end"]) for c in by_name["catalog.load"] if c["parent"] == s["id"]]
        build_driver += (s["end"] - s["start"]) - _covered(ivs, s["start"], s["end"])

    action = jobs_in("exec.action") + jobs_in("etl.load")
    a_stages = stages_of(action)
    all_stages = stages_of([j for js in jobs_of.values() for j in js])
    py = [st for st in all_stages if st["python"]]
    out = {
        "catalog.load_calls": len(by_name["catalog.load"]),
        "catalog.load_s": dur("catalog.load"),
        "catalog.load_jobs": len(jobs_in("catalog.load")),
        "plans.build_s": dur("plans.build") - dur("catalog.load"),
        "plans.build_jobs": len(jobs_in("plans.build")),
        "plans.build_driver_s": build_driver,
        "exec.action_s": dur("exec.action") + dur("etl.load"),
        "exec.jobs": len(action),
        "exec.stages": len(a_stages),
        "exec.tasks": sum(st["tasks"] for st in a_stages),
        "exec.executor_run_ms": sum(st["run_ms"] for st in a_stages),
        "exec.executor_cpu_ms": sum(st["cpu_ms"] for st in a_stages),
        "exec.gc_ms": sum(st["gc_ms"] for st in a_stages),
        "exec.scheduler_delay_ms": sum(st.get("delay_ms", 0.0) for st in a_stages),
        "exec.shuffle_read_bytes": sum(st["shuffle_read"] for st in a_stages),
        "exec.shuffle_write_bytes": sum(st["shuffle_write"] for st in a_stages),
        "exec.spill_bytes": sum(st["spill"] for st in a_stages),
        "pyworker.stages": len(py),
        "pyworker.gap_ms": sum(st["run_ms"] - st["cpu_ms"] for st in py),
        "db.snapshot_s": dur("db.snapshot"),
        "etl.load_s": dur("etl.load"),
        "etl.jobs": len(jobs_in("etl.load")),
    }
    return {k: v / n_passes for k, v in out.items()}
