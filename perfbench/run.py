"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload analytic_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed`` under ``.perfbench/`` in the checkout, sets up a session on
``local[<nproc>]``, measures passes for ``--seconds`` seconds as a closed
loop with one client (one operation at a time), checks the outputs, and
prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and the benchmark's spans and reports the per-module
metrics instead, writing the spans and a per-module table next to the
run's record.  ``--size smoke`` shrinks every input (sf0.001, 1k UPCs)
and runs one pass with no warm-up.  The line before the result is a JSON
object with the host conditions (nproc, loadavg before the run, CPU
steal over the run) and where the run's files went.

Metric names, units and workloads are declared in BENCHMARK.json at the
checkout root; perfbench/README.md maps each metric to the module it
measures.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("upc_load_cold", "upc_load_incremental", "analytic_mix", "llm_dedup")
#: Driver heap: ample for these inputs, small enough for a shared host.
DRIVER_MEM = "2g"
#: Stagings per run; set-up time reports their median (see setup_s).
STAGINGS = 3
#: Unchecked passes run after the checked one and before timing.  The
#: checked pass collects query results, so the query mixes need one more
#: pass to warm the noop-sink path they are timed on, and the UPC load's
#: second pass is still warming.
WARM_PASSES = 1


# --- host conditions ---------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's cpu line (bench.py's method)."""
    try:
        vals = [int(v) for v in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    except (OSError, ValueError, IndexError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent_of = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                stat = (p / "stat").read_text()
            except OSError:
                continue
            parent_of[int(p.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        cur = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == cur]
        out += kids
        frontier += kids
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


# --- the session's process tree -----------------------------------------------


def configure_env(work: Path, trace: bool) -> Path | None:
    """Point every scratch path of Spark, the JVM and the engine into
    ``work``; with tracing, turn on the uncompressed JSON event log."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_SCRATCH": str(work / "engine-scratch"),
            "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(tmp),
            "PYTHONPATH": os.pathsep.join(
                [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
        }
    )
    # The heap is committed and touched up front so that peak_rss_mb does
    # not move with when the collector happens to grow the heap.
    java_opts = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    )
    args = ["--driver-java-options", java_opts]
    log_dir = None
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir={log_dir.as_uri()}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def stop_session(spark) -> None:
    """Stop Spark, the JVM it launched and every process under it, and
    wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = children(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while tree and time.time() < deadline:
        tree = [p for p in tree if Path(f"/proc/{p}").exists() and not _zombie(p)]
        time.sleep(0.05)
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --- the run -------------------------------------------------------------------


def untraced_wall(args, out_dir: Path) -> float:
    """``wall_s`` of an untraced run of the same workload and size: the
    latest one recorded in this checkout, else a fresh child run."""
    cached = out_dir / "untraced.json"
    if not cached.exists():
        cmd = [
            sys.executable, str(Path(__file__).resolve()),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "0", "--size", args.size,
        ]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=170)
    return json.loads(cached.read_text())["metrics"]["wall_s"]["value"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    if not (ROOT / "upc_sku_data_loader_spark").is_dir():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    loadavg = list(os.getloadavg())
    steal0, total0 = cpu_ticks()
    trace = bool(args.trace)
    smoke = args.size == "smoke"
    out_dir = ROOT / ".perfbench" / "out" / f"{args.workload}-{args.size}"
    out_dir.mkdir(parents=True, exist_ok=True)
    overhead_base = untraced_wall(args, out_dir) if trace else None

    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    log_dir = configure_env(work, trace)
    sys.path.insert(0, str(ROOT))

    from upc_sku_data_loader_spark import plans  # noqa: F401  (fills the registry)
    from upc_sku_data_loader_spark.session import get_spark

    from perfbench.tracing import Tracer, layer_metrics, read_event_log
    from perfbench.workloads import WORKLOADS

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.time() - T_START
        tracer = Tracer(spark.sparkContext, trace)
        wl = WORKLOADS[args.workload](spark, args.seed, smoke, tracer)

        stagings = []
        for i in range(1 if smoke else STAGINGS):
            t0 = time.perf_counter()
            wl.stage(work / f"inputs{i}")
            stagings.append(time.perf_counter() - t0)
        # The first warm pass checks every output; its check time is not set-up.
        # With --size smoke this one pass is also the only measured pass.
        t0 = time.perf_counter()
        passes = [wl.run_pass(checked=True)]
        checked_pass_s = time.perf_counter() - t0
        if not smoke:
            for _ in range(WARM_PASSES):
                wl.run_pass()
        warm_s = time.perf_counter() - t0 - wl.check_s
        setup_s = session_start_s + statistics.median(stagings) + warm_s

        first_op = 0
        t_measure = time.perf_counter()
        if not smoke:
            first_op, passes = wl.start_measuring(), []
            t_end = time.perf_counter() + args.seconds
            while not passes or time.perf_counter() < t_end:
                passes.append(wl.run_pass())
        measured_ops = set(range(first_op, wl._ops))
        measure_s = time.perf_counter() - t_measure

        ops = [op for p in passes for op in p.ops]
        # a query whose checked output was wrong fails in every pass
        failed_ops = [op for op in ops if not op.ok or op.label in wl.failures]
        rss_kb = vm_hwm_kb(os.getpid())
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            rss_kb += sum(vm_hwm_kb(p) for p in [proc.pid] + children(proc.pid))
        wall_s = statistics.median(p.wall_s for p in passes)
        layer_counts = wl.layer_counts(len(passes)) if trace else {}
        hygiene = wl.hygiene
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t_stop
    steal1, total1 = cpu_ticks()

    if trace:
        # a module that does no work on this workload reads 0
        m = {name: 0.0 for name, unit in declared_units("per_layer").items()}
        m.update(layer_metrics(tracer.spans, read_event_log(log_dir), measured_ops, len(passes)))
        m.update(layer_counts)
        m.update(
            {
                "session.start_s": session_start_s,
                "session.resident_rdds": hygiene.resident_rdds,
                "session.conf_drift": hygiene.conf_drift,
                "session.active_streams": hygiene.active_streams,
                "trace.wall_s": wall_s,
                "trace.overhead": wall_s / overhead_base,
            }
        )
    else:
        m = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "rows_per_s": statistics.median(p.rows / p.wall_s for p in passes),
            "peak_rss_mb": rss_kb / 1024.0,
        }
    units = declared_units()
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}
    if trace:
        tracer.write(out_dir / f"spans-{args.seed}.jsonl")
        write_layer_table(out_dir / f"layers-{args.seed}.md", args, metrics)

    host = {
        "host": {
            "nproc": nproc(),
            "loadavg_before": loadavg,
            "steal_pct": (
                100.0 * (steal1 - steal0) / (total1 - total0) if total1 > total0 else None
            ),
        },
        "phases_s": {
            "session_start": session_start_s,
            "stagings": stagings,
            "checked_pass": checked_pass_s,
            "check": wl.check_s,
            "warm": warm_s,
            "measure": measure_s,
            "stop": stop_s,
        },
        "passes": len(passes),
        "pass_wall_s": [p.wall_s for p in passes],
        "op_median_s": {
            label: statistics.median(op.seconds for op in ops if op.label == label)
            for label in dict.fromkeys(op.label for op in ops)
        },
        "op_failures": {op.label: op.error or wl.failures[op.label] for op in failed_ops},
        "out_dir": str(out_dir.relative_to(ROOT)),
    }
    result = {
        "correct": not failed_ops,
        "attempted": len(ops),
        "failed": len(failed_ops),
        "metrics": metrics,
    }
    if not trace:
        (out_dir / "untraced.json").write_text(json.dumps(result))
    (out_dir / f"run-{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**host, "result": result})
    )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(host))
    print(json.dumps(result))
    return 0


def declared_units(*kinds: str) -> dict[str, str]:
    """Metric name -> unit of the metrics BENCHMARK.json declares (of
    the given kinds; default both)."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    kinds = kinds or ("end_to_end", "per_layer")
    return {m["name"]: m["unit"] for kind in kinds for m in bench[kind]}


def write_layer_table(path: Path, args, metrics: dict) -> None:
    lines = [
        f"# {args.workload} seed {args.seed}: per-module metrics (per measured pass)",
        "",
        "| module | metric | value | unit |",
        "|---|---|---|---|",
    ]
    for name, m in metrics.items():
        lines.append(f"| {name.split('.')[0]} | {name} | {m['value']:.6g} | {m['unit']} |")
    path.write_text("\n".join(lines) + "\n")


if __name__ == "__main__":
    raise SystemExit(main())
