"""Registry measurement harness: time and profile registry queries.

Usage:
    python tools/op_bench.py [--reps N] [--out FILE] [name ...] [--sf DIR [DIR ...]]

Times each named query (default: all) at each fixture dir in ``--sf``
(default ``catalog.DEFAULT_SF_DIR``, sf0.1), building the plan fresh
each rep and consuming it with
``df.write.format("noop").mode("overwrite").save()``: every column of
every row is computed and discarded, so the number is the computation,
not the sink and not count()'s column-pruned shortcut.  Each (query,
dir) gets one JSON record: median and min over ``--reps`` (default 3)
as ``name/sf/median/min/samples/err`` (``tools/opbench_diff.py`` reads
these), the per-rep layer profile that ``perfbench/tracing.py`` reads
from Spark's event log, and the ``session.*`` counts of what the query
left behind once its result was dropped (``perfbench.workloads.Hygiene``).

The ten memory-sink stream queries (a9, a16b, i4, i6b, i10, i13, i15,
i16, i17, i18) drain their stream inside the registry builder
(``streaming.sources.run_available_now``), so the stream run is counted
in ``plans.build_s`` (and its jobs in ``plans.build_jobs``), and their
``exec.*`` columns cover only the noop write of the finished memory
table.

Given two or more dirs, each query's record at the last dir carries
``ratio``: its min there over its min at the first dir.  The run exits 1
when a ratio exceeds ``RATIO_MAX`` or k4b's min exceeds
``K4B_OVER_K4_MAX`` times k4's at any dir (SCALING.md).

The event log is complete only once the session stops, so the records
are printed at the end of the run and appended to ``--out``; names
already in ``--out`` are skipped, so rerunning a cut sweep resumes it.
``--sf`` takes every word after it: put names before it.

``bench.py`` (the driver contract) keeps its count()-based methodology
so its numbers stay comparable across rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench.tracing import Tracer, layer_metrics, read_event_log  # noqa: E402
from perfbench.workloads import Hygiene  # noqa: E402
from upc_sku_data_loader_spark import plans  # noqa: F401,E402
from upc_sku_data_loader_spark.catalog import DEFAULT_SF_DIR, TABLES, load  # noqa: E402
from upc_sku_data_loader_spark.registry import QUERIES  # noqa: E402
from upc_sku_data_loader_spark.session import get_spark  # noqa: E402

#: Largest scaled/base min ratio.  Generous, because several queries'
#: output legitimately grows super-linearly under the replica
#: construction (e.g. near-dup pair counts; SCALING.md k18 note).
RATIO_MAX = 30.0
#: The blocked kNN join may cost at most this many times the broadcast one.
K4B_OVER_K4_MAX = 2.0


def check(records: list[dict]) -> list[str]:
    """Why ``records`` fail the scale checks; empty when they pass."""
    fails = [
        f"{r['name']}: {r['ratio']}x at {r['sf']} is over {RATIO_MAX:g}x"
        for r in records
        if r.get("ratio") is not None and r["ratio"] > RATIO_MAX
    ]
    mins = {(r["sf"], r["name"]): r["min"] for r in records if r["min"] is not None}
    for sf in sorted({r["sf"] for r in records}):
        k4, k4b = mins.get((sf, "k4_knn_join")), mins.get((sf, "k4b_knn_join_blocked"))
        if k4 and k4b and k4b / k4 > K4B_OVER_K4_MAX:
            fails.append(f"k4b/k4 {k4b / k4:.2f}x at {sf} is over {K4B_OVER_K4_MAX:g}x")
    return fails


def time_one(spark, tracer: Tracer, name: str, sf_dir: str, reps: int) -> dict:
    """The timing and hygiene record of one (query, dir)."""
    samples: list[float] = []
    err = None
    hygiene = Hygiene()
    conf_before = dict(spark.conf.getAll)
    for _ in range(reps):
        t0 = time.time()
        df = None
        try:
            with tracer.span("plans.build"), tracer.timed_catalog_loads():
                df = QUERIES[name](spark, sf_dir)
            with tracer.span("exec.action"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:200]
        else:
            samples.append(round(time.time() - t0, 3))
        del df
        hygiene.observe(spark, conf_before)
        if err:
            break
    return {
        "name": name,
        "sf": sf_dir,
        "median": round(statistics.median(samples), 3) if samples else None,
        "min": min(samples) if samples else None,
        "samples": samples,
        "err": err,
        "session.resident_rdds": hygiene.resident_rdds,
        "session.conf_drift": hygiene.conf_drift,
        "session.active_streams": hygiene.active_streams,
    }


def profile(names: list[str], sf_dirs: list[str], reps: int) -> list[dict]:
    """One record per (name, dir), in that order, with its layer profile."""
    with tempfile.TemporaryDirectory(prefix="op_bench-eventlog-") as tmp:
        # the event-log confs perfbench's traced runs start their session with
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir={Path(tmp).as_uri()}",
            "pyspark-shell",
        ])
        spark = get_spark(app_name="op_bench")
        tracer = Tracer(spark.sparkContext, enabled=True)
        runs: list[dict] = []
        try:
            spark.sparkContext.setLogLevel("ERROR")
            # Warm fixtures + the Python worker pool the same way bench.py
            # does, so first-query JIT/fork costs don't land on the first name.
            for sf_dir in sf_dirs:
                for t in TABLES:
                    load(spark, sf_dir, t).count()
            spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").count()
            for name in names:
                for sf_dir in sf_dirs:
                    tracer.op = len(runs)
                    runs.append(time_one(spark, tracer, name, sf_dir, reps))
                mins = " ".join(str(rec["min"]) for rec in runs[-len(sf_dirs):])
                print(f"# {name}: {mins}", file=sys.stderr, flush=True)
        finally:
            spark.stop()  # closes the event log
        log = read_event_log(Path(tmp))
    for op, rec in enumerate(runs):
        n_reps = len(rec["samples"]) + (rec["err"] is not None)
        rec.update(layer_metrics(tracer.spans, log, {op}, n_reps))
        if len(sf_dirs) > 1 and op % len(sf_dirs) == len(sf_dirs) - 1:
            first, last = runs[op - len(sf_dirs) + 1]["min"], rec["min"]
            rec["ratio"] = round(last / first, 2) if first and last is not None else None
    return runs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", nargs="+", default=[DEFAULT_SF_DIR])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = args.names or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    not_dirs = [d for d in args.sf if not Path(d).is_dir()]
    if not_dirs:
        print(f"not fixture dirs: {not_dirs}", file=sys.stderr)
        return 2

    done = []
    if args.out and Path(args.out).exists():
        done = [json.loads(line) for line in Path(args.out).read_text().splitlines()]
        recorded = {r["name"] for r in done}
        names = [n for n in names if n not in recorded]
    records = profile(names, args.sf, args.reps) if names else []
    lines = [json.dumps(rec) for rec in records]
    for line in lines:
        print(line)
    if args.out:
        with open(args.out, "a") as f:
            f.writelines(line + "\n" for line in lines)
    fails = check(done + records)
    for why in fails:
        print(f"FAIL: {why}", file=sys.stderr)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
