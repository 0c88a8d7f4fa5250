#!/usr/bin/env python3
"""Benchmark for the climate analytics engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

One process runs one workload on ``local[<cores>]`` as a closed loop
with one client: a run starts when the previous one ends, until
``--seconds`` have passed and the workload's minimum number of runs is
done. Before timing, the process starts Spark,
generates the workload's inputs from ``--seed`` and makes one untimed
warm-up pass. Outputs are checked untimed: query results against their
DuckDB oracles in the warm-up pass; the last medallion run's counters
and gold KPIs against the generator's counts and DuckDB after the
timed runs.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` timed runs alternate untraced and traced (at least
untraced, traced, untraced), the last
line holds the per-layer metrics, and every span and phase counter is
written to ``.perfbench_out/trace-<workload>-<seed>.json``.
``--workload all`` runs every workload in its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "climate_anomaly_bigdata_pipeline_spark"

#: Per-process wall-clock guard: once the minimum run count is done,
#: the timed loop starts no new run after this many seconds since
#: process start.
PROCESS_BUDGET_S = 140.0

OPERATOR_LAYERS = ("graph", "dedup", "similarity", "text", "relational", "anomaly",
                   "timeseries", "multimodal", "jpegcodec", "flaccodec")
IO_SINKS = ("write_parquet", "write_single_csv")
PHASE_METRICS = {"wall_s": "s", "jobs": "count", "stages": "count", "task_ms": "ms",
                 "gc_ms": "ms", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
                 "spill_bytes": "B", "input_bytes": "B"}
LAYER_METRICS = {"wall_s": "s", "jobs": "count", "task_ms": "ms", "input_bytes": "B",
                 "output_bytes": "B", "files_written": "count", "rows_in": "count",
                 "rows_out": "count", "rows_rejected": "count", "input_scans": "ratio"}
END_TO_END = {"setup_s": "s", "run_s": "s", "query_p50_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {}
    for p in W.QUERY_PHASES:
        units.update({f"queries.{p}.{k}": u for k, u in PHASE_METRICS.items()})
    for op in OPERATOR_LAYERS:
        units.update({f"operators.{op}.calls": "count", f"operators.{op}.self_s": "s"})
    for layer in W.MEDALLION_LAYERS:
        units.update({f"plans.medallion.{layer}.{k}": u for k, u in LAYER_METRICS.items()})
    units["plans.medallion.written_bytes_per_raw_byte"] = "ratio"
    for sink in IO_SINKS:
        units.update({f"sources.io.{sink}.wall_s": "s", f"sources.io.{sink}.bytes": "B"})
    # Peak memory is reported per run but not gated: the driver JVM's
    # heap grows in steps whose timing differs between processes, which
    # spreads it by about a quarter across seeds.
    units.update({"process.peak_pss_mb": "MB", "host.steal_frac": "fraction",
                  "host.loadavg": "procs", "trace.overhead_s": "s"})
    return units


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile
    of per-operation latencies that has ten samples beyond it; the
    percentile of the k-th of n sorted values is 100·k/(n-1). Fewer than
    eleven operations have no such percentile; the value is then the
    lowest latency (p0), the percentile with the most samples beyond it."""
    s = sorted(values)
    if len(s) == 1:
        return s[0], 0.0, 0
    beyond = min(10, len(s) - 1)
    rank = len(s) - 1 - beyond
    return s[rank], 100.0 * rank / (len(s) - 1), beyond


def hermetic_settings(workload: str, seed: int) -> dict:
    """Environment and Spark settings for one process, all inside the
    checkout: a per-process temp root holds the artifact store, Spark
    local dirs, the warehouse and every temp file. Applied to
    ``os.environ`` before Spark starts so Python workers inherit them."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_total_mb = int(f.readline().split()[1]) // 1024
    heap_mb = max(1024, min(4096, mem_total_mb // 5))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{seed}-{os.getpid()}")
    env = {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_ARTIFACT_DIR": os.path.join(tmp, "artifacts"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(cpus),
    }
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # -UsePerfData: no hsperfdata file under the system /tmp.
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    return {"tmp": tmp, "cpus": cpus, "master": f"local[{cpus}]",
            "mem_total_mb": mem_total_mb, "env": env, "spark_conf": conf}


def start_spark(settings: dict):
    from climate_anomaly_bigdata_pipeline_spark.session import get_spark

    return get_spark("perfbench", master=settings["master"],
                     shuffle_partitions=settings["cpus"], extra_conf=settings["spark_conf"])


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched (its Python workers
    are the JVM's children and end with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_tracer():
    """Wrap every public function of the operator modules and of
    ``sources.io`` in a span (traced runs only)."""
    import importlib

    from profiler import Tracer

    layers = {f"operators.{op}": f"{PKG}.operators.{op}" for op in OPERATOR_LAYERS}
    layers["sources.io"] = f"{PKG}.sources.io"
    for mod in (*layers.values(), f"{PKG}.queries", f"{PKG}.plans.medallion"):
        importlib.import_module(mod)
    tracer = Tracer()
    tracer.install(layers, PKG)
    return tracer


def record_sink_bytes(tracer, since: int) -> None:
    """Size each sink span's output directory, before the next run
    overwrites it (outside the timed interval)."""
    for s in tracer.spans[since:]:
        if s["name"].removeprefix("sources.io.") in IO_SINKS:
            s["bytes"] = W.dir_bytes(s["path"])


def layer_metrics(traced: list, untraced: list, tracer) -> dict[str, float]:
    """Per-layer values: means over the traced runs of each run's totals."""
    vals = {name: 0.0 for name in per_layer_units()}
    n = len(traced)
    for run, _, host, since, until in traced:
        prefix = "queries" if run.phases.keys() == set(W.QUERY_PHASES) else "plans.medallion"
        for phase, stats in run.phases.items():
            for k, v in stats.items():
                key = f"{prefix}.{phase}.{k}"
                if key in vals:
                    vals[key] += v / n
        if "written_bytes_per_raw_byte" in run.extra:
            vals["plans.medallion.written_bytes_per_raw_byte"] += (
                run.extra["written_bytes_per_raw_byte"] / n)
        for layer, t in tracer.layer_totals(since, until).items():
            for k, v in t.items():
                key = f"{layer}.{k}"
                if key in vals:
                    vals[key] += v / n
        for s in tracer.spans[since:until]:
            sink = s["name"].removeprefix("sources.io.")
            if sink in IO_SINKS:
                vals[f"sources.io.{sink}.wall_s"] += (s["end"] - s["start"]) / n
                vals[f"sources.io.{sink}.bytes"] += s.get("bytes", 0) / n
        vals["process.peak_pss_mb"] += run.extra["peak_pss_mb"] / n
        vals["host.steal_frac"] += host.steal_frac / n
        vals["host.loadavg"] += host.loadavg / n
    vals["trace.overhead_s"] = (statistics.median(r.wall_s for r, *_ in traced)
                                - statistics.median(r.wall_s for r in untraced))
    return vals


def run_workload(args) -> int:
    settings = hermetic_settings(args.workload, args.seed)
    os.environ.update(settings["env"])
    for d in ("artifacts", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(settings["tmp"], d), exist_ok=True)
    sys.path.insert(0, ROOT)
    from profiler import HostWindow, JobProfiler, MemorySampler

    wl = W.WORKLOADS[args.workload]()
    print("perfbench settings " + json.dumps(
        {k: settings[k] for k in ("cpus", "master", "mem_total_mb", "env", "spark_conf")}
        | {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "loop": "closed, 1 client", "inputs": wl.describe()}),
        flush=True)
    t_proc = time.perf_counter()
    tracer = install_tracer() if args.trace else None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(settings)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        inputs = wl.generate(settings["tmp"], args.seed)
        gen_s = time.perf_counter() - t0
        warm_s, attempted, failures = wl.warm_up(spark, ROOT)
        print("perfbench inputs " + json.dumps(inputs), flush=True)
        setup_s = session_s + gen_s + warm_s
        prof = JobProfiler(spark) if args.trace else None
        runs = []  # (result, traced, host window, span range)
        t_loop = time.perf_counter()
        with MemorySampler() as mem:
            while True:
                traced = bool(args.trace) and len(runs) % 2 == 1
                if tracer is not None:
                    tracer.active = traced
                since = len(tracer.spans) if tracer else 0
                mem.reset()
                with HostWindow() as host:
                    res = wl.run(spark, args.seed, len(runs),
                                 prof if traced else None, tracer if traced else None)
                if tracer is not None:
                    tracer.active = False
                if traced:
                    record_sink_bytes(tracer, since)
                res.extra["peak_pss_mb"] = mem.peak()
                runs.append((res, traced, host, since, len(tracer.spans) if tracer else 0))
                now = time.perf_counter()
                # Traced runs sit between two untraced ones, so the
                # overhead estimate is not skewed by warm-up order. The
                # minimum run count is always completed; the budget only
                # stops further runs.
                min_runs = max(wl.min_runs, 3 if args.trace else 1)
                if len(runs) >= min_runs and (now - t_loop >= args.seconds
                                              or now - t_proc > PROCESS_BUDGET_S):
                    break
        checked, check_failures = wl.check(spark, ROOT, runs[-1][0])
        attempted += checked
        failures += check_failures
        for res, *_ in runs:
            attempted += len(res.ops) + len(res.failed)
            failures += res.failed
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(settings["tmp"], ignore_errors=True)

    untraced = [(r, h) for r, t, h, *_ in runs if not t]
    latencies = [dt for r, _ in untraced for _, dt in r.ops]
    tail_s, tail_pct, beyond = tail(latencies) if latencies else (0.0, 0.0, 0)
    for msg in failures:
        print(f"perfbench FAILED {msg}", file=sys.stderr)
    detail = {
        "runs": len(untraced), "run_s": [r.wall_s for r, _ in untraced],
        "op_s": [dict(r.ops) for r, _ in untraced],
        # Not gated: a process holds too few operations for a percentile
        # above the median with ten samples beyond it.
        "query_tail_s": {"value": tail_s, "unit": "s", "percentile": tail_pct,
                         "samples": len(latencies), "samples_beyond": beyond},
        "failed_ops_frac": len(failures) / max(attempted, 1),
        "setup": {"session_s": session_s, "inputs_s": gen_s, "warmup_s": warm_s},
        "peak_pss_mb": [r.extra["peak_pss_mb"] for r, _ in untraced],
        "host_steal_frac": [h.steal_frac for _, h in untraced],
        "host_loadavg": [h.loadavg for _, h in untraced],
    }
    if args.trace:
        traced_runs = [(r, w, h, a, b) for r, w, h, a, b in runs if w]
        values = layer_metrics(traced_runs, [r for r, _ in untraced], tracer)
        units = per_layer_units()
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"settings": settings, "detail": detail, "spans": tracer.spans,
                       "runs": [{"traced": w, "wall_s": r.wall_s, "phases": r.phases,
                                 "extra": r.extra} for r, w, *_ in runs]}, f, default=str)
        detail["trace_file"] = os.path.relpath(path, ROOT)
    else:
        values = {
            "setup_s": setup_s,
            "run_s": statistics.median(r.wall_s for r, _ in untraced),
            "query_p50_s": statistics.median(latencies) if latencies else 0.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print("perfbench detail " + json.dumps(detail), flush=True)
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in its own process; prints every result, then one
    combined line with metrics keyed ``<workload>.<metric>``."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in W.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(f"[{name}] {line}" for line in lines), flush=True)
        code = code or proc.returncode
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            combined["correct"] = False
            code = code or 1
            continue
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        combined["metrics"].update(
            {f"{name}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(combined), flush=True)
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(W.WORKLOADS)} or all", file=sys.stderr)
        return 2
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
