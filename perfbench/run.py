#!/usr/bin/env python3
"""Seeded benchmark of the weather⨝energy engine.

    python3 perfbench/run.py --workload etl_historical --seed 1 --seconds 3 --trace 0

Runs one workload (see ``BENCHMARK.json``) in this process on
``local[<cores>]`` as a closed loop with one client: the next op starts
when the previous one has finished and been checked. Output checks run
outside the timed window; an op that raises or fails its check counts in
``failed``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the first half of the time untraced and the second half traced and
reports the per-layer metrics plus the tracing overhead (``METRICS.md``).

Run from the root of a checkout: the program is imported from there, and
every file the run writes goes under ``.perfbench_work/`` and is removed
when the run ends. The second-to-last stdout line is the run manifest;
the last is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DEADLINE_S = 110.0  # no op starts later than this after set-up begins

# Traced-run retention: the default session keeps 8 SQL executions and 100
# jobs/stages, fewer than one pipeline run creates before it is read.
TRACE_CONF = {
    "spark.sql.ui.retainedExecutions": "1000",
    "spark.ui.retainedJobs": "1000",
    "spark.ui.retainedStages": "2000",
}


def spec_metrics(key: str) -> list[tuple[str, str]]:
    """(name, unit) of every ``end_to_end`` or ``per_layer`` metric that
    ``BENCHMARK.json`` names, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec[key]]


def tail_quantile(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it. With fewer than twenty ops no percentile above the
    median qualifies, and the maximum is reported as percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    k = n - 11  # xs[k] has exactly ten samples above it
    return xs[k], round(100.0 * (k + 1) / n, 2)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def manifest(args, spark, cores: int, sizes: dict) -> dict:
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip()
    except OSError:
        head = ""
    with open("/proc/meminfo") as f:
        ram_kb = int(f.readline().split()[1])
    conf = dict(spark.sparkContext.getConf().getAll())
    for k in ("spark.app.id", "spark.app.startTime", "spark.driver.port", "spark.driver.host"):
        conf.pop(k, None)
    return {
        "head": head or "not a git checkout",
        "nproc": cores,
        "ram_gb": round(ram_kb / 2**20, 1),
        "python": platform.python_version(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": sizes,
        "spark_conf": dict(sorted(conf.items())),
    }


def measure(spark, wl, seconds: float, trace: bool, cores: int, session_start_s: float,
            names) -> dict:
    """Stage, warm up and run ``wl`` as a closed loop for ``seconds``;
    returns the result object (``correct``/``attempted``/``failed``/
    ``metrics``, one per ``(name, unit)`` in ``names``) plus the set-up
    parts for the manifest."""
    from tracing import Tracer

    t_start = time.perf_counter()
    wl.stage()
    stage_s = time.perf_counter() - t_start
    t = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t
    setup_s = session_start_s + stage_s + warmup_s

    sc = spark.sparkContext
    phases = [(seconds / 2, False), (seconds / 2, True)] if trace else [(seconds, False)]
    lat = {False: [], True: []}
    cpu = {False: [], True: []}
    cpu_parts: list[dict[str, float]] = []
    layers: list[dict[str, float]] = []
    rows = attempted = failed = 0
    i = 0
    for budget, traced in phases:
        if traced:
            wl.tracer = Tracer(spark, enabled=True)
            wl.install_tracing()
        tracer = wl.tracer
        spent = 0.0
        n_phase = 0
        # A traced run compares its traced half with an untraced half that
        # leaves out the run's first op, which may still be cold.
        min_ops = max(wl.MIN_OPS, 2 if trace and not traced else 1)
        while n_phase < min_ops or (
            spent < budget and time.perf_counter() - t_start < DEADLINE_S
        ):
            n_phase += 1
            wl.before_op(i)
            tracer.mark()
            tracer.op = i
            sc.setJobGroup(f"perfbench-op-{i}", f"op {i}")
            gc0 = tracer.gc_seconds()
            wl.untimed_s = wl.untimed_cpu_s = 0.0
            c0 = wl.cpu()
            w0 = time.time()
            t = time.perf_counter()
            attempted += 1
            try:
                result = wl.op(i)
                err = None
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
                result, err = None, f"{type(e).__name__}: {e}"
            dt_op = time.perf_counter() - t - wl.untimed_s
            c1 = wl.cpu()
            parts = {k: c1[k] - c0[k] for k in c0}
            cpu_op = sum(parts.values()) - wl.untimed_cpu_s
            sc.setJobGroup(None, None)
            spent += dt_op
            if traced:
                if err is None:
                    wl.trace_reads(i)
                layers.append(tracer.finish_op(w0, w0 + dt_op, cores, gc0))
            if err is None:
                try:
                    err = wl.check(i, result)
                except Exception as e:  # noqa: BLE001
                    err = f"check raised {type(e).__name__}: {e}"
            if err is None:
                lat[traced].append(dt_op)
                cpu[traced].append(cpu_op)
                cpu_parts.append(parts)
                rows += wl.input_rows(i, result)
            else:
                failed += 1
                print(f"op {i} failed: {err}", file=sys.stderr)
            wl.after_op(i)
            i += 1
    wl.tracer.close()
    spans = wl.tracer.span_summary()

    ok = lat[False] + lat[True]
    if not ok:
        raise RuntimeError("no op succeeded")
    if trace:
        values = trace_values(layers, lat, cpu, cpu_parts, session_start_s, jvm_peak_rss_mb(spark))
        values["input_rows_per_s"] = rows / sum(ok)
        unmeasured = [n for n in wl.LAYERS if not values.get(n)]
        if unmeasured:
            raise RuntimeError(f"{type(wl).__name__} measured no value for {unmeasured}")
    else:
        values = {
            "setup_s": setup_s,
            "op_cpu_s": statistics.median(cpu[False]),
        }
    metrics = {n: {"value": values.get(n, 0.0) if trace else values[n], "unit": u}
               for n, u in names}
    return {
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
        "op_latencies_s": [round(x, 4) for x in ok],
        "op_cpu_s": [round(x, 3) for x in cpu[False] + cpu[True]],
        "spans": spans,
        "setup_parts_s": {
            "session_start": session_start_s,
            "stage": stage_s,
            "warmup": warmup_s,
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    from tracing import Tracer
    from workloads import WORKLOADS  # imports the program from ROOT

    from us_weather_energy_analysis_pipeline_spark.session import get_spark

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    names = spec_metrics("per_layer" if args.trace else "end_to_end")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **(TRACE_CONF if args.trace else {}),
    }
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf)
        spark.range(1).collect()
        session_start_s = time.perf_counter() - t0

        wl = WORKLOADS[args.workload](spark, args.seed, work, Tracer(spark, enabled=False))
        out = measure(spark, wl, args.seconds, bool(args.trace), cores, session_start_s, names)
        stamp = manifest(args, spark, cores, wl.sizes)
        stamp.update(
            ops=out["result"]["attempted"],
            op_latencies_s=out["op_latencies_s"],
            op_cpu_s=out["op_cpu_s"],
            spans=out["spans"],
            setup_parts_s=out["setup_parts_s"],
        )
        print(json.dumps({"manifest": stamp}))
        print(json.dumps(out["result"]))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def trace_values(layers, lat, cpu, cpu_parts, session_start_s, rss_mb) -> dict[str, float]:
    """Per-layer values: the mean per traced op of every layer reading,
    plus the run-level ones (session start, wall latency and its tail, the
    CPU split, tracing overhead).
    A layer the workload never reaches is absent and prints as 0; the
    layers a workload must reach are in its ``LAYERS``."""
    n = len(layers)
    values = {k: sum(op.get(k, 0.0) for op in layers) / n for k in {k for op in layers for k in op}}
    new_rows = sum(op.get("operators.upsert.new_rows", 0.0) for op in layers)
    rewritten = sum(op.get("operators.upsert.rows_rewritten", 0.0) for op in layers)
    all_ops = lat[False] + lat[True]
    tail, pct = tail_quantile(all_ops)
    # Overhead in the end-to-end metric's terms: CPU per op, traced minus
    # untraced, leaving out the run's first op, which may be cold.
    untraced = statistics.median(cpu[False][1:]) if cpu[False][1:] else 0.0
    traced = statistics.median(cpu[True]) if cpu[True] else untraced
    for part in ("driver_python", "jvm", "python_workers"):
        values[f"cpu.{part}_s"] = statistics.median(p[part] for p in cpu_parts)
    values.update({
        "session.start_s": session_start_s,
        "jvm_peak_rss_mb": rss_mb,
        "op_p50_s": statistics.median(all_ops),
        "op_tail_s": tail,
        "op_tail_pct": pct,
        "ops": float(len(all_ops)),
        "operators.upsert.write_amplification": rewritten / new_rows if new_rows else 0.0,
        "trace.overhead_cpu_s": traced - untraced,
        "trace.overhead_frac": (traced - untraced) / untraced if untraced else 0.0,
    })
    return values


if __name__ == "__main__":
    sys.exit(main())
