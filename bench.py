#!/usr/bin/env python
"""Query-timing harness: workload queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], each forced
end to end with a noop write (every output row materialized, nothing
collected to the driver).

    python bench.py                                # full run
    python bench.py NAME... [--reps N] [--plans DIR]
    python bench.py --sf-probe [NAME...] [--reps N] [--plans DIR]

Every mode follows one protocol. ``prepare`` runs once per data dir,
untimed: the q09 warm-up, ``_warm_engine_surfaces`` and the fixture
phase. ``measure`` times each query: its jobs run under the query's
name as job group, the timer covers ``spark_fn`` plus the noop sink,
a failure is recorded (never raised), the per-layer census of
``perfbench.census.SparkCensus`` is taken outside the timer, and the
same untimed reset (``clearCache``, ``gc.collect()``, ``System.gc()``)
follows every run.

- Full run (no NAME): one timed run per query. Prints the full JSON
  line ``{"queries": {name: sec}, ..., "value": total_sec, ...}`` and
  then a compact summary line, last. The same result plus the census
  of every query lands in ``BENCH_FULL_c{cpus}.json`` and in
  ``BENCH_FULL.json`` (the last run's copy).
- Named: one untimed run, then ``--reps`` timed runs of each NAME
  (default 2; a full run's default is 1); one JSON line per query with
  its times, best and census.
  ``--plans DIR`` writes each query's formatted final plan to
  ``DIR/<name>.txt``.
- ``--sf-probe``: each query (the NAMEs, else the ten slowest of this
  CPU count's ``BENCH_FULL_c{cpus}.json``, else of ``BENCH_FULL.json``)
  measured like a named one at sf0.01 and at $SPARK_GRAFT_SF_DIR. Prints
  one JSON line with the scaling exponent log(time ratio) / log(input
  ratio), the input ratio taken from the ``lineitem`` row counts in the
  parquet footers, and flags exponents above 1.2.

Witness queries (exact twins of a scale path, super-linear on purpose)
are skipped in full and probe runs on a dir whose ``events.parquet`` is
over 64 MB; a query named on the command line always runs."""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import sys
import time

from etl_pipeline_stock_market_data_postgresql_spark.session import get_spark
from etl_pipeline_stock_market_data_postgresql_spark.workload import all_queries
from perfbench.census import SparkCensus

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL_DIR = "/root/testdata/sf0.01"
PROBE_TOP = 10
FLAG_EXPONENT = 1.2

#: exact witnesses of a scale path (and the path they witness): their
#: cost beyond gate scale is the cliff the twin exists to avoid
WITNESS_QUERIES = {
    "q98_semantic_dedup": "q111_semantic_dedup_hier",
    "q102_equidepth_histogram": "q112_equidepth_sketch",
    # q29's fixed 256-bucket sign blocking makes ~n^2/256 candidate
    # pairs; the corpus-proportional cell path is q111
    "q29_embedding_neardup": "q111_semantic_dedup_hier",
}
_GATE_CLASS_BYTES = 64 * 1024 * 1024  # events.parquet above this: probe scale


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

    snap: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(scratch_base(sf_dir)[0]):
        if _FP_NAME in files:
            p = os.path.join(dirpath, _FP_NAME)
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


def drop_witnesses(names: list[str], dirs) -> list[str]:
    """``names`` without the witness queries when any of ``dirs`` is
    probe scale (its ``events.parquet`` is over 64 MB)."""
    def probe_scale(d: str) -> bool:
        try:
            return (os.path.getsize(os.path.join(d, "events.parquet"))
                    > _GATE_CLASS_BYTES)
        except OSError:
            return False

    if not any(probe_scale(d) for d in dirs):
        return names
    for n in sorted(set(names) & WITNESS_QUERIES.keys()):
        print(f"  {n}: skipped (witness of {WITNESS_QUERIES[n]})",
              file=sys.stderr)
    return [n for n in names if n not in WITNESS_QUERIES]


def prepare(spark, sf_dir: str) -> tuple[float | None, dict, int | None]:
    """Untimed set-up of one data dir. JVM/codegen spin-up (the q09
    warm-up) and the one-time start of each lazily initialized engine
    surface must not be charged to whichever query first uses them;
    the fixture phase keeps fixture builds out of every timer. Returns
    ``_build_fixtures_untimed``'s result, ``(None, {}, None)`` when the
    phase failed (queries then build their fixtures inline)."""
    try:
        all_queries()["q09_decimal_agg"].spark_fn(spark, sf_dir) \
            .write.format("noop").mode("overwrite").save()
        _warm_engine_surfaces(spark)
    except Exception as ex:
        print(f"  warm-up failed (continuing): {ex}", file=sys.stderr)
    try:
        return _build_fixtures_untimed(spark, sf_dir)
    except Exception as ex:
        print(f"  fixture phase failed (queries build inline): {ex}",
              file=sys.stderr)
        return None, {}, None


def _failure(ex: Exception) -> str:
    """Exception class, first message line (Spark analysis errors
    front-load the useful part) and the innermost stack frame in this
    repo (streaming queries run inside spark_fn), in 300 chars."""
    frame = ""
    tb = ex.__traceback__
    while tb is not None:
        fname = os.path.abspath(tb.tb_frame.f_code.co_filename)
        if fname.startswith(HERE):
            frame = f" at {os.path.basename(fname)}:{tb.tb_lineno}"
        tb = tb.tb_next
    msg = str(ex).strip().splitlines()[0] if str(ex).strip() else ""
    return f"{type(ex).__name__}: {msg}"[:300 - len(frame)] + frame


def measure(spark, census: SparkCensus, name: str, sf_dir: str,
            reps: int = 1, plans: str | None = None) -> dict:
    """Run query ``name`` ``reps`` times; see the module docstring for
    the protocol. Returns ``{"name", "times", "best", "census",
    "census_overhead_s"}``, plus ``"error"`` when a run raised (the
    remaining runs are skipped). ``census`` holds the counters of the
    fastest run (of the failed one on error); ``census_overhead_s`` is
    the time spent in the census's listener callbacks."""
    fn = all_queries()[name].spark_fn
    spark.sparkContext.setJobGroup(name, name)
    row: dict = {"name": name, "times": []}
    callback_s = census.callback_s
    for _ in range(reps):
        lo = census.begin()
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            err = None
        except Exception as ex:  # one bad query must not sink the run
            df, err = None, _failure(ex)
        t1 = time.perf_counter()
        counters = census.end(lo, t0, t1)
        if err is None and plans:
            os.makedirs(plans, exist_ok=True)
            with open(os.path.join(plans, f"{name}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        # drop cached blocks, then the py4j proxies, so that the JVM
        # collection lets ContextCleaner free the checkpoint and
        # broadcast blocks of this run before the next one
        del df
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if err is not None:
            row.update(error=err, census=counters)
            break
        row["times"].append(round(t1 - t0, 4))
        if row["times"][-1] == min(row["times"]):
            row["census"] = counters
    row["best"] = min(row["times"], default=None)
    print(f"  [{os.path.basename(sf_dir)}] {name}: "
          + (f"FAILED {err}" if err else f"{row['best']:.3f}s"),
          file=sys.stderr)
    row["census_overhead_s"] = round(census.callback_s - callback_s, 4)
    return row


def full_run(spark, census: SparkCensus, sf_dir: str, reps: int,
             plans: str | None) -> None:
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.0  # non-standard dir name; timings still meaningful
    fixture_sec, fixture_per, fixtures_built = prepare(spark, sf_dir)
    names = sorted(all_queries())
    run = drop_witnesses(names, [sf_dir])
    rows = [measure(spark, census, n, sf_dir, reps, plans) for n in run]
    timings = {r["name"]: r["best"] for r in rows if "error" not in r}
    failures = {r["name"]: r["error"] for r in rows if "error" in r}

    total = round(sum(timings.values()), 4)
    scratch_state = ("unknown" if fixtures_built is None else
                     "cold" if fixtures_built else "warm")
    # the big per-query map prints FIRST and the cheap scalars LAST, so
    # whatever suffix of the line a tail capture keeps carries the totals
    out = {"queries": timings, "fixtures": fixture_per}
    if failures:
        out["failures"] = failures
    if len(run) < len(names):
        out["skipped"] = sorted(set(names) - set(run))
    out.update({
        "metric": "workload_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "fixture_build_sec": fixture_sec,
        "fixtures_built": fixtures_built,
        "scratch_state": scratch_state,
    })
    cpus = spark.sparkContext.defaultParallelism
    full = {"census": {r["name"]: r["census"] for r in rows}, **out,
            "cpus": cpus, "census_overhead_s": round(
                sum(r["census_overhead_s"] for r in rows), 4)}
    for fname in (f"BENCH_FULL_c{cpus}.json", "BENCH_FULL.json"):
        try:
            with open(os.path.join(HERE, fname), "w") as f:
                json.dump(full, f)
                f.write("\n")
        except OSError as ex:
            print(f"  could not write {fname}: {ex}", file=sys.stderr)
    print(json.dumps(out))
    # a compact summary LAST: it fits whole inside any tail window even
    # when the full line above was cut
    print(json.dumps({
        "metric": "workload_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_failures": len(failures),
        "fixture_build_sec": fixture_sec,
        "scratch_state": scratch_state,
        "full_results": "BENCH_FULL.json",
    }))


def scaling_exponent(t_small: float, t_large: float, ratio: float) -> float:
    """The power of the input ratio that the time ratio is: 1 for a
    linear query, 0 for a fixed cost."""
    return round(math.log(t_large / t_small) / math.log(ratio), 3)


def _slowest(cpus: int) -> list[str]:
    for fname in (f"BENCH_FULL_c{cpus}.json", "BENCH_FULL.json"):
        try:
            with open(os.path.join(HERE, fname)) as f:
                prev = json.load(f)["queries"]
        except (OSError, ValueError, KeyError):
            continue
        return sorted(prev, key=lambda n: -prev[n])[:PROBE_TOP]
    sys.exit("bench.py --sf-probe: no BENCH_FULL*.json; run bench.py first")


def sf_probe(spark, census: SparkCensus, names: list[str], big_dir: str,
             reps: int, plans: str | None) -> None:
    import pyarrow.parquet as pq

    dirs = (SMALL_DIR, big_dir)
    small, large = (pq.read_metadata(os.path.join(d, "lineitem.parquet"))
                    .num_rows for d in dirs)
    ratio = large / small
    names = names or drop_witnesses(
        _slowest(spark.sparkContext.defaultParallelism), dirs)
    for d in dirs:
        prepare(spark, d)
    out, flagged = {}, []
    for name in names:
        rec = {}
        for key, d in zip(("small", "large"), dirs):
            measure(spark, census, name, d)  # the untimed run
            rec[key] = measure(spark, census, name, d, reps, plans)
        ts, tl = rec["small"]["best"], rec["large"]["best"]
        if ts and tl:
            rec["ratio"] = round(tl / ts, 3)
            rec["exponent"] = scaling_exponent(ts, tl, ratio)
            if rec["exponent"] > FLAG_EXPONENT:
                flagged.append(name)
        out[name] = rec
    print(json.dumps({"metric": "sf_scaling_probe", "unit": "sec",
                      "dirs": dirs, "input_ratio": round(ratio, 3),
                      "queries": out, "flagged": flagged}))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("names", nargs="*", metavar="NAME")
    ap.add_argument("--reps", type=int, choices=range(1, 1001), metavar="N")
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--sf-probe", action="store_true")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.names) - set(all_queries()))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    reps = args.reps or (2 if args.names or args.sf_probe else 1)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    census = SparkCensus(spark)
    if args.sf_probe:
        sf_probe(spark, census, args.names, sf_dir, reps, args.plans)
    elif args.names:
        prepare(spark, sf_dir)
        for name in args.names:
            measure(spark, census, name, sf_dir)  # the untimed run
            print(json.dumps(measure(spark, census, name, sf_dir, reps,
                                     args.plans)), flush=True)
    else:
        full_run(spark, census, sf_dir, reps, args.plans)


if __name__ == "__main__":
    main()
