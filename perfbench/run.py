#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

Runs one workload (``analytics``, ``iterative`` or ``incremental_load``,
see ``workloads.py``) as a single closed-loop client on
``local[<cpus / 2>]``, verifies every op's output, and prints as its last
stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` reports the per-layer census and writes the spans to
``.perfbench/traces/``.

All scratch (generated inputs, fixtures, shuffle, warehouse, store,
JVM temp files) lives under ``.perfbench/scratch`` in the checkout and
is wiped at the start of every run.
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

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

CROSS_CHECK = {"q149_versioned_change_feed": "census.jobs_q149",
               "q130_importance_resample": "census.jobs_q130",
               "q152_incremental_mv_from_cdf": "census.jobs_q152"}


def _hermetic(scratch: str) -> None:
    """Point every place the program writes at the run's scratch root."""
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("fixtures", "local", "tmp", "work"):
        os.makedirs(os.path.join(scratch, sub))
    tmp = os.path.join(scratch, "tmp")
    os.environ.update({
        "SPARK_GRAFT_SCRATCH": os.path.join(scratch, "fixtures"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(scratch, "local"),
        # Half the CPUs run tasks, the rest the driver, the JIT and GC
        # threads and the Python workers. The ops are dominated by
        # per-job overhead: on 4 shared CPUs, local[2] ran them faster
        # and with half the run-to-run spread of local[4].
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    time.tzset()
    os.chdir(os.path.join(scratch, "work"))  # spark-warehouse, derby


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from py4j.protocol import Py4JError

    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Py4JError:
            pass  # the JVM side is already gone
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import etl_pipeline_stock_market_data_postgresql_spark as pkg
        from etl_pipeline_stock_market_data_postgresql_spark.session import (
            get_spark)
    except ImportError as ex:
        print(f"perfbench: the package is not in this checkout: {ex}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported {pkg.__file__}, not this checkout's "
              f"package", file=sys.stderr)
        return 2
    import census
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    scratch = os.path.join(WORK, "scratch")
    _hermetic(scratch)
    tracer = census.Tracer(bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start"):
            spark = get_spark("perfbench")
        print(f"perfbench: setup session start "
              f"{time.perf_counter() - T_START:.2f} s", file=sys.stderr)
        tracer.attach_spark(spark)
        wl = workloads.WORKLOADS[args.workload](
            spark, tracer, args.seed, args.seconds,
            os.path.join(scratch, "work"))
        wl.setup()
        setup_s = time.perf_counter() - T_START

        lat_ms, cpu_ms, failures = [], [], []
        for i, (name, fn) in enumerate(wl.ops()):
            out, err = None, None
            workloads.between_ops(spark)
            with tracer.op(i, name):
                c0 = census.tree_cpu_s()
                t0 = time.perf_counter()
                try:
                    out = fn()
                except Exception as ex:  # counted, the run goes on
                    err = f"{name}: {type(ex).__name__}: {str(ex)[:300]}"
                lat_ms.append(1000 * (time.perf_counter() - t0))
                cpu_ms.append(1000 * (census.tree_cpu_s() - c0))
            if err is None:
                try:
                    err = wl.check(name, out)
                except Exception as ex:
                    err = f"{name}: check raised {type(ex).__name__}: {ex}"
            if err:
                failures.append(err)
                print(f"perfbench: FAILED {err}", file=sys.stderr)
            print(f"perfbench: {name} {lat_ms[-1]:.1f} ms, "
                  f"{cpu_ms[-1]:.0f} CPU ms", file=sys.stderr)
            del out
        t_end = time.perf_counter()
        end_err = wl.finish()
        print(f"perfbench: end-state check {time.perf_counter() - t_end:.2f} s",
              file=sys.stderr)
        if end_err:
            failures.append(end_err)
            print(f"perfbench: FAILED end state: {end_err}", file=sys.stderr)

        run_s = sum(lat_ms) / 1000
        cpu_s = sum(cpu_ms) / 1000
        metrics = {
            "setup_s": setup_s,
            "cpu_s": cpu_s,
            "op_cpu_p50_ms": statistics.median(cpu_ms),
            "rows_per_cpu_s": wl.rows_delivered() / cpu_s,
        }
        print(f"perfbench: {args.workload} seed={args.seed} ops={len(lat_ms)}"
              f" run_s={run_s:.2f} op_p50_ms={statistics.median(lat_ms):.1f}"
              f" op_max_ms={max(lat_ms):.1f}"
              f" rows_per_s={wl.rows_delivered() / run_s:.1f}"
              f" op_fail_share={len(failures) / len(lat_ms):.3f}",
              file=sys.stderr)
        if args.trace:
            totals = tracer.totals()
            totals["jvm.peak_rss_mb"] = census.peak_rss_mb(spark)
            for rec in tracer.ops:
                key = CROSS_CHECK.get(rec["name"])
                if key:
                    totals[key] = rec["counters"].get("spark.jobs", 0)
            totals.update(wl.storage_census())
            rows_in = totals.get("pipeline.rows_in", 0)
            totals["pipeline.append_ratio"] = (
                totals.get("pipeline.rows_appended", 0) / rows_in
                if rows_in else 0.0)
            totals["trace.overhead_ms"] = 1000 * tracer.overhead()
            totals["trace.run_s"] = run_s
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"end_to_end": metrics, "failures": failures})
            report = {m["name"]: (totals.get(m["name"], 0), m["unit"])
                      for m in spec["per_layer"]}
        else:
            report = {m["name"]: (metrics[m["name"]], m["unit"])
                      for m in spec["end_to_end"]}
    finally:
        _stop(spark)

    print(json.dumps({
        "correct": not failures,
        "attempted": len(lat_ms),
        "failed": min(len(failures), len(lat_ms)),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in report.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
