#!/usr/bin/env python
"""Benchmark harness: run every workload query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop write (full materialization
of every output row — no collect-to-driver bottleneck, no lazy
short-circuit)."""

from __future__ import annotations

import json
import os
import sys
import time

from etl_pipeline_stock_market_data_postgresql_spark.session import get_spark
from etl_pipeline_stock_market_data_postgresql_spark.workload import all_queries


def _warm_engine_surfaces(spark) -> None:
    """Exercise each lazily-initialized engine surface once on tiny
    synthetic data so its one-time spin-up cost is not charged to the
    alphabetically-first query that uses it. Everything here is
    derived from ``spark.range`` (never the benchmark inputs) and the
    scratch is deleted afterwards."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        store_sink)
    from etl_pipeline_stock_market_data_postgresql_spark.streaming.ingest \
        import stateful_hwm_filter
    from etl_pipeline_stock_market_data_postgresql_spark.streaming.runner \
        import run_available_now

    # Arrow Python-worker pool (mapInPandas / pandas_udf path)
    def _identity(batches):
        yield from batches

    spark.range(10).mapInPandas(_identity, "id long") \
        .write.format("noop").mode("overwrite").save()
    # localCheckpoint block-manager path
    spark.range(10).localCheckpoint(eager=True).count()

    base = tempfile.mkdtemp(prefix="bench_engine_warm_")
    try:
        # streaming micro-batch machinery + stateful Python worker +
        # the py4j foreachBatch callback server
        feed = os.path.join(base, "feed")
        spark.range(10).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 2).cast("string").alias("k"),
            F.current_timestamp().alias("ts")) \
            .coalesce(1).write.mode("overwrite").parquet(feed)
        schema = spark.read.parquet(feed).schema
        stream = spark.readStream.schema(schema).parquet(feed)
        run_available_now(
            stateful_hwm_filter(stream, "k", "ts")
            .writeStream.foreachBatch(lambda b, _i: b.count())
            .option("checkpointLocation", os.path.join(base, "ck")),
            "bench_warm_stream")
        # Python DataSource planner/reader/writer worker processes
        store_sink.register(spark)
        root = os.path.join(base, "store")
        spark.range(10).select(F.col("id").alias("event_id")) \
            .write.format("versioned_store").option("path", root) \
            .mode("append").save()
        spark.read.format("versioned_store").option("path", root).load() \
            .write.format("noop").mode("overwrite").save()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _scratch_marker_snapshot(sf_dir: str) -> dict[str, int]:
    """(path → mtime_ns) of every fixture fingerprint file in the
    per-SF scratch tree. Compared before/after the fixture phase to
    report how many fixtures were actually (re)built — ``fixture`` and
    ``cached_parquet`` both write the fingerprint LAST on a rebuild,
    and a warm fixture never touches it."""
    from etl_pipeline_stock_market_data_postgresql_spark.sources.derived_cache \
        import _FP_NAME, scratch_base

    base, _ = scratch_base(sf_dir)
    snap: dict[str, int] = {}
    if not os.path.isdir(base):
        return snap
    for dirpath, _dirs, files in os.walk(base):
        for fn in files:
            if fn == _FP_NAME:
                p = os.path.join(dirpath, fn)
                try:
                    snap[p] = os.stat(p).st_mtime_ns
                except OSError:
                    pass
    return snap


def _build_fixtures_untimed(spark, sf_dir: str) -> tuple[float, dict, int]:
    """The r17 fixture/timing boundary (VERDICT item 1): run every
    fingerprint-gated fixture builder BEFORE the timed loop and report
    the phase separately, so the timed region is pure query compute
    and the driver's numbers no longer depend on scratch-directory
    state (cold vs warm /dev/shm). Fixture builds are input-derived
    state construction, not result caching — every timed query still
    computes its result from the parquet inputs, and the oracle
    revalidates outputs each run. Returns
    (fixture_build_sec, per-fixture seconds, n_fixtures_built)."""
    from etl_pipeline_stock_market_data_postgresql_spark.workload.fixtures \
        import build_fixtures

    before = _scratch_marker_snapshot(sf_dir)
    t0 = time.perf_counter()
    per = build_fixtures(spark, sf_dir)
    total = round(time.perf_counter() - t0, 4)
    after = _scratch_marker_snapshot(sf_dir)
    built = sum(1 for p, m in after.items() if before.get(p) != m)
    spark.catalog.clearCache()  # builders must not seed the timed region
    for name, sec in sorted(per.items(), key=lambda kv: -kv[1])[:8]:
        if sec >= 0.1:
            print(f"  fixture {name}: {sec:.3f}s", file=sys.stderr)
    state = "cold" if built else "warm"
    print(f"  fixture phase: {total:.3f}s ({state}, {built} markers "
          f"rewritten)", file=sys.stderr)
    return total, per, built


def _sf_probe(n_queries: int = 10) -> None:
    """``bench.py --sf-probe``: demonstrate scaling with SCALE FACTOR
    rather than cores (r16 VERDICT item 5 — at sf0.1 the c8/c32 ratio
    is ≈1 everywhere because the workload is overhead-dominated, so
    core-scaling cannot distinguish good plans from bad; input-scaling
    can). Runs the N most expensive queries (per BENCH_FULL.json when
    present, else a static list of the historically expensive ones) at
    sf0.01 and at $SPARK_GRAFT_SF_DIR (default sf0.1), unchanged
    methodology (untimed fixture phase + noop sink + clearCache), and
    prints ONE JSON line with per-query times, the time ratio, and the
    implied scaling exponent log(t_ratio)/log(sf_ratio). A query is
    FLAGGED when its exponent exceeds 1.2 — superlinear growth that no
    declared operator should exhibit (linear operators ≈1 minus the
    fixed per-query overhead, blocked/indexed ones well below)."""
    big_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    small_dir = os.path.join(os.path.dirname(big_dir.rstrip("/")), "sf0.01")
    try:
        sf_big = float(os.path.basename(
            big_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf_big = 0.1
    sf_ratio = sf_big / 0.01

    names: list[str] = []
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL.json")) as f:
            prev = json.load(f)["queries"]
        names = [n for n, _ in sorted(prev.items(),
                                      key=lambda kv: -kv[1])[:n_queries]]
    except (OSError, ValueError, KeyError):
        names = ["q122_streaming_incremental_dedup",
                 "q140_streaming_ann_ingest", "q120_incremental_dedup",
                 "q130_importance_resample", "q118_small_file_compaction",
                 "q159_deletion_vectors", "q131_kcore", "q113_ivfpq_adc",
                 "q149_versioned_change_feed", "q128_pagerank"][:n_queries]

    spark = get_spark("bench-sf-probe")
    try:
        _warm_engine_surfaces(spark)
    except Exception as ex:
        print(f"  engine warmup failed (continuing): {ex}", file=sys.stderr)
    queries = all_queries()
    import math
    out: dict[str, dict] = {}
    for sf_dir in (small_dir, big_dir):
        try:
            _build_fixtures_untimed(spark, sf_dir)
        except Exception as ex:
            print(f"  fixture phase failed ({sf_dir}): {ex}",
                  file=sys.stderr)
        for name in names:
            if name not in queries:
                continue
            t0 = time.perf_counter()
            try:
                queries[name].spark_fn(spark, sf_dir) \
                    .write.format("noop").mode("overwrite").save()
                sec = round(time.perf_counter() - t0, 4)
            except Exception as ex:
                print(f"  {name} FAILED at {sf_dir}: {ex}", file=sys.stderr)
                sec = None
            key = "t_small" if sf_dir == small_dir else "t_large"
            out.setdefault(name, {})[key] = sec
            print(f"  [{os.path.basename(sf_dir)}] {name}: {sec}",
                  file=sys.stderr)
            spark.catalog.clearCache()
    flagged = []
    for name, d in out.items():
        ts, tl = d.get("t_small"), d.get("t_large")
        if ts and tl and ts > 0:
            d["ratio"] = round(tl / ts, 3)
            d["exponent"] = round(math.log(max(tl / ts, 1e-9))
                                  / math.log(sf_ratio), 3)
            if d["exponent"] > 1.2:
                flagged.append(name)
    print(json.dumps({"metric": "sf_scaling_probe", "unit": "sec",
                      "sf_small": 0.01, "sf_large": sf_big,
                      "queries": out, "flagged": flagged}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.0  # non-standard dir name; timings still meaningful
    spark = get_spark("bench")

    # untimed warmup: JVM/codegen spin-up must not be charged to the
    # alphabetically-first query
    try:
        warm = all_queries()["q09_decimal_agg"]
        warm.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception as ex:
        print(f"  warmup failed (continuing): {ex}", file=sys.stderr)
    # Same rationale, engine-wide (r16 measurement fix, documented in
    # OPTIMIZATION_r16.md with pre-fix numbers): one-time engine
    # spin-up — Python worker pools (Arrow map path, stateful-streaming
    # path, the Python DataSource planner/reader processes), streaming
    # state-store machinery, the py4j foreachBatch callback server,
    # localCheckpoint plumbing — used to be charged to whichever query
    # sorted first among its users (q106 carried the streaming stack,
    # q172 the DataSource processes: measured ~5-6 s each of pure
    # first-use cost, 0 s on a second run in the same JVM). Warm each
    # surface once on ~10 synthetic rows, untimed; no query input or
    # result is touched, so every timed query still computes from the
    # parquet inputs alone.
    try:
        _warm_engine_surfaces(spark)
    except Exception as ex:
        print(f"  engine warmup failed (continuing): {ex}", file=sys.stderr)
    # untimed fixture phase (r17): fingerprint-gated fixture builds run
    # here, reported as fixture_build_sec — never inside a timed query
    try:
        fixture_sec, fixture_per, fixtures_built = \
            _build_fixtures_untimed(spark, sf_dir)
    except Exception as ex:
        print(f"  fixture phase failed (queries build inline): {ex}",
              file=sys.stderr)
        fixture_sec, fixture_per, fixtures_built = None, {}, None

    queries = all_queries()
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for i, (name, q) in enumerate(sorted(queries.items())):
        t0 = time.perf_counter()
        df = None
        try:
            df = q.spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
            print(f"  {name}: {timings[name]:.3f}s", file=sys.stderr)
        except Exception as ex:  # one bad query must not sink the bench
            # Keep enough context to diagnose from the JSON alone: the
            # exception class, the first message line (Spark analysis
            # errors front-load the useful part), and the innermost
            # repo-local stack frame (streaming queries execute inside
            # spark_fn, so "where in OUR code" is the actionable bit).
            repo_root = os.path.dirname(os.path.abspath(__file__))
            frame = ""
            tb = ex.__traceback__
            while tb is not None:
                fname = os.path.abspath(tb.tb_frame.f_code.co_filename)
                if fname.startswith(repo_root):
                    frame = f" at {os.path.basename(fname)}:{tb.tb_lineno}"
                tb = tb.tb_next
            msg = str(ex).strip().splitlines()[0] if str(ex).strip() else ""
            # budget the frame suffix into the 300-char cap so recorded
            # entries never exceed it
            failures[name] = (
                f"{type(ex).__name__}: {msg}"[:300 - len(frame)] + frame)
            print(f"  {name}: FAILED {failures[name]}", file=sys.stderr)
        del df
        # queries that persist intermediates (dedup/LSH pipelines) must
        # not leak cache blocks into the next query's timing — each
        # query is measured cold against the page-cached parquet only
        spark.catalog.clearCache()
        # localCheckpoint blocks (q61/q81 label rounds, streaming sink
        # materializations) are reclaimed by ContextCleaner only after a
        # JVM GC notices the RDDs are unreachable; nudge periodically so
        # one run's blocks can't pile up into memory pressure that
        # poisons later queries' timings (untimed: between queries)
        if i % 10 == 9:
            # drop the py4j proxies first: ContextCleaner only frees
            # checkpoint/broadcast blocks whose JVM-side RDDs have no
            # live reference, and those references are held from Python
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 4)
    # Key order matters for the driver's TAIL capture (BENCH_r13 and
    # every prior round recorded "parsed": null because the one giant
    # line was cut mid-"queries", losing the scalars): the big
    # per-query map prints FIRST and the cheap scalars LAST, so
    # whatever suffix of the line survives always carries the totals.
    out = {
        "queries": timings,
        "fixtures": fixture_per,
    }
    if failures:
        out["failures"] = failures
    out.update({
        "metric": "workload_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # untimed fixture phase (see _build_fixtures_untimed): lets the
        # driver interpret the timed total independently of scratch
        # state — fixture_build_sec is near-zero on a warm scratch
        "fixture_build_sec": fixture_sec,
        "fixtures_built": fixtures_built,
        "scratch_state": ("unknown" if fixtures_built is None else
                          "cold" if fixtures_built else "warm"),
    })
    # The complete result also lands in a repo file, so round-over-round
    # per-query comparison never depends on how much stdout the driver
    # kept.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL.json"), "w") as f:
            json.dump(out, f)
            f.write("\n")
    except OSError as ex:
        print(f"  could not write BENCH_FULL.json: {ex}", file=sys.stderr)
    print(json.dumps(out))
    # ...and a compact summary line LAST: small enough to always fit
    # complete inside any tail window, so the driver has one
    # parseable JSON line carrying the total even if the full line
    # above was truncated.
    print(json.dumps({
        "metric": "workload_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_failures": len(failures),
        "fixture_build_sec": fixture_sec,
        "scratch_state": ("unknown" if fixtures_built is None else
                          "cold" if fixtures_built else "warm"),
        "full_results": "BENCH_FULL.json",
    }))


if __name__ == "__main__":
    if "--sf-probe" in sys.argv[1:]:
        _sf_probe()
    else:
        main()
