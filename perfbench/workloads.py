"""The three benchmark workloads.

Each workload is one client in a closed loop: ``ops()`` yields
``(name, fn)`` pairs and the next op starts only when the previous one
returns. ``setup`` runs before the first timed op (engine warm-up,
input generation, fixture builds); ``check`` verifies one op's output
after its clock has stopped; ``finish`` verifies the end state.

The amount of work follows ``--seconds`` deterministically (a number of
queries or batches sized for a 4-core machine), never the wall clock,
so every seed runs the same op list.
"""

from __future__ import annotations

import importlib
import os
import random
import sys
import time
from collections import Counter
from contextlib import contextmanager

import datagen
from census import Tracer, tree_cpu_s
from datagen import ENDPOINTS, SYMBOLS, AlphaVantageFeed

PKG = "etl_pipeline_stock_market_data_postgresql_spark"

ANALYTICS_MODULES = ("reference_parity", "relational", "events_analytics",
                     "finance_analytics", "stock_domain",
                     "subqueries_windows", "scalar_functions", "textstats",
                     "pipeline_ops")
GRAPH = ("q128_pagerank", "q131_kcore", "q135_pagerank_convergence",
         "q136_kcore_converged")
# Priority order: --seconds takes a prefix of this list. One query per
# family comes first (graph, resampling, streaming, dedup, k-means);
# the queries that need the costliest set-up (versioned-store fixtures,
# the Python data source) come last.
ITERATIVE = ("q130_importance_resample", "q128_pagerank",
             "q96_streaming_dedup", "q82_kmeans_lloyd",
             "q51_lsh_verified_neardup", "q131_kcore", "q61_dedup_clusters",
             "q106_streaming_stateful_hwm", "q115_bpe_train",
             "q135_pagerank_convergence", "q117_dedup_span_removal",
             "q73_streaming_stream_join", "q136_kcore_converged",
             "q111_semantic_dedup_hier", "q152_incremental_mv_from_cdf",
             "q149_versioned_change_feed", "q120_incremental_dedup",
             "q122_streaming_incremental_dedup",
             "q140_streaming_ann_ingest")
WARM_QUERY = "q09_decimal_agg"
STREAMING = {"q96_streaming_dedup", "q106_streaming_stateful_hwm",
             "q73_streaming_stream_join", "q122_streaming_incremental_dedup",
             "q140_streaming_ann_ingest"}
STORE = {"q152_incremental_mv_from_cdf", "q149_versioned_change_feed"}
# The fixtures each iterative query reads, built during set-up (names
# from ``workload.fixtures.fixture_builders``).
FIXTURES = {
    "q149_versioned_change_feed": ("emb_vec_max", "ann_base_model",
                                   "ann_versioned"),
    "q152_incremental_mv_from_cdf": ("cdf_chain",),
    "q128_pagerank": ("trade_edges",), "q131_kcore": ("trade_edges",),
    "q135_pagerank_convergence": ("trade_edges",),
    "q136_kcore_converged": ("trade_edges",),
    "q122_streaming_incremental_dedup": ("corpus0_sig_index", "q122_seed"),
    "q120_incremental_dedup": ("corpus0_sig_index",),
    "q106_streaming_stateful_hwm": ("q106_feed",),
    "q140_streaming_ann_ingest": ("emb_vec_max", "ann_base_model",
                                  "q140_feed"),
}
# Ops per second of --seconds, sized for a 4-core machine (local[2]):
# iterative queries take about 2-6 s each at sf0.01, one batch about
# 19 s (three endpoint loads of 3-11 s).
ANALYTICS_RATE = 2.0
ITERATIVE_RATE = 0.3
INCREMENTAL_RATE = 1 / 20
# Before each op: quiet means the process tree used less than this many
# CPUs over one window.
QUIESCE_IDLE_CPUS = 0.25
QUIESCE_WINDOW_S = 0.2
QUIESCE_MAX_S = 3.0


@contextmanager
def phase(name: str):
    t0 = time.perf_counter()
    yield
    print(f"perfbench: setup {name} {time.perf_counter() - t0:.2f} s",
          file=sys.stderr)


def between_ops(spark) -> None:
    """Untimed housekeeping before each op, as in the project's bench:
    drop cached blocks, release the py4j proxies of finished ops and
    let the JVM collect, so each op starts from the same heap state and
    ContextCleaner frees unreferenced checkpoint blocks. Then wait, up
    to QUIESCE_MAX_S, for the background work this leaves (JIT
    compilation queued by the previous op or the set-up, GC) to finish,
    so that its CPU time is not counted in the next op's."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    deadline = time.perf_counter() + QUIESCE_MAX_S
    cpu = tree_cpu_s()
    while time.perf_counter() < deadline:
        time.sleep(QUIESCE_WINDOW_S)
        cpu, last = tree_cpu_s(), cpu
        if cpu - last < QUIESCE_IDLE_CPUS * QUIESCE_WINDOW_S:
            break
    waited = time.perf_counter() - deadline + QUIESCE_MAX_S
    print(f"perfbench: settled in {waited:.1f} s", file=sys.stderr)


def _warm_common(spark) -> None:
    """Arrow Python-worker pool and the localCheckpoint block path, on
    ``spark.range`` data only."""
    def identity(batches):
        yield from batches

    spark.range(10).mapInPandas(identity, "id long") \
        .write.format("noop").mode("overwrite").save()
    spark.range(10).localCheckpoint(eager=True).count()


def _warm_streaming(spark, base: str) -> None:
    """Streaming micro-batch machinery, the stateful Python worker and
    the foreachBatch callback server."""
    from pyspark.sql import functions as F

    from etl_pipeline_stock_market_data_postgresql_spark.streaming.ingest \
        import stateful_hwm_filter
    from etl_pipeline_stock_market_data_postgresql_spark.workload import (
        streaming_exec)

    feed = os.path.join(base, "warm_feed")
    spark.range(10).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 2).cast("string").alias("k"),
        F.current_timestamp().alias("ts")) \
        .coalesce(1).write.mode("overwrite").parquet(feed)
    stream = spark.readStream.schema(spark.read.parquet(feed).schema) \
        .parquet(feed)
    q = (stateful_hwm_filter(stream, "k", "ts")
         .writeStream.foreachBatch(lambda b, _i: b.count())
         .option("checkpointLocation", os.path.join(base, "warm_ck"))
         .trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()
    streaming_exec._unload_state_stores(spark)


def _warm_store(spark, base: str) -> None:
    """Python DataSource planner/reader/writer workers and the change
    feed source."""
    from pyspark.sql import functions as F

    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        cdf_source, store_sink)

    store_sink.register(spark)
    root = os.path.join(base, "warm_store")
    for _ in range(2):
        spark.range(10).select(F.col("id").alias("event_id")) \
            .write.format("versioned_store").option("path", root) \
            .mode("append").save()
    spark.read.format("versioned_store").option("path", root).load() \
        .write.format("noop").mode("overwrite").save()
    cdf_source.read_change_feed(spark, root, 0).collect()


class QueryWorkload:
    """Registered queries run to a noop sink, each checked against its
    DuckDB oracle."""

    # sf0.01: the per-query cost is mostly fixed (planning, job launch,
    # driver round trips), and two one-minute workloads fit the time
    # budget of the benchmark's runs.
    sf = 0.01

    def __init__(self, spark, tracer, seed: int, seconds: int, work: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.work = work
        self.data_dir = os.path.join(work, f"sf{self.sf}")
        from etl_pipeline_stock_market_data_postgresql_spark.workload import (
            all_queries)
        self.queries = all_queries()
        self.names = self.select(seconds)
        self.rows_out = 0
        self.oracle = None

    def select(self, seconds: int) -> list[str]:
        raise NotImplementedError

    def warm(self) -> None:
        _warm_common(self.spark)

    def setup(self) -> None:
        with phase("warm-up"):
            self.warm()
        with phase("input generation"):
            datagen.write_tables(self.data_dir, self.seed, self.sf)
        # one untimed query outside the op list: first-use codegen and
        # JIT of the SQL path
        with phase("warm query"):
            self.queries[WARM_QUERY].spark_fn(self.spark, self.data_dir) \
                .write.format("noop").mode("overwrite").save()
        from oracle import Oracle
        self.oracle = Oracle(self.data_dir)

    def ops(self):
        for name in self.names:
            yield name, lambda name=name: self.run_query(name)

    def run_query(self, name: str):
        with self.tracer.span("workload.build"):
            df = self.queries[name].spark_fn(self.spark, self.data_dir)
        with self.tracer.span("workload.sink"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, name: str, df) -> str | None:
        rows = [tuple(r) for r in df.collect()]
        self.rows_out += len(rows)
        return self.oracle.check(name, self.queries[name].oracle,
                                 list(df.columns), rows)

    def finish(self) -> str | None:
        self.oracle.close()
        return None

    def rows_delivered(self) -> int:
        return self.rows_out

    def storage_census(self) -> dict:
        return {}


class Analytics(QueryWorkload):
    def select(self, seconds: int) -> list[str]:
        names = []
        for mod in ANALYTICS_MODULES:
            m = importlib.import_module(f"{PKG}.workload.{mod}")
            names += [n for n in m.QUERIES if n not in GRAPH]
        names.remove(WARM_QUERY)
        n = max(2, min(len(names), round(seconds * ANALYTICS_RATE)))
        picked = [names[(i * len(names)) // n] for i in range(n)]
        random.Random(self.seed).shuffle(picked)
        return picked


class Iterative(QueryWorkload):
    def select(self, seconds: int) -> list[str]:
        n = max(2, min(len(ITERATIVE), round(seconds * ITERATIVE_RATE)))
        return list(ITERATIVE[:n])

    def warm(self) -> None:
        super().warm()
        if STREAMING & set(self.names):
            _warm_streaming(self.spark, self.work)
        if STORE & set(self.names):
            _warm_store(self.spark, self.work)

    def setup(self) -> None:
        from etl_pipeline_stock_market_data_postgresql_spark.workload import (
            fixtures)

        super().setup()
        builders = fixtures.fixture_builders()
        with phase("fixtures"):
            for fx in dict.fromkeys(f for q in self.names
                                    for f in FIXTURES.get(q, ())):
                builders[fx](self.spark, self.data_dir)
            self.spark.catalog.clearCache()


# Per-file min/max stats the store records. Only the symbol: the store
# serialises stats as JSON, which rejects date and timestamp values.
STATS_COLS = ("company_symbol",)
TABLE = {"daily": "daily_stock_prices", "intraday": "intraday_stock_prices",
         "sma": "sma_indicators"}
# Endpoints whose appended rows are also committed to a versioned
# store: the 5-minute bars, the largest table.
STORED = ("intraday",)


def _layout(ep: str) -> tuple[str, list[str]]:
    """(time column, value columns) of an endpoint's table."""
    from etl_pipeline_stock_market_data_postgresql_spark import schemas
    table = TABLE[ep]
    pk = schemas.PRIMARY_KEYS[table]
    return (schemas.TIME_COLUMNS[table],
            [c for c in schemas.TABLES[table].fieldNames() if c not in pk])


def _key_vals(row, ep: str) -> tuple[tuple, tuple]:
    tcol, vals = _layout(ep)
    return (row["company_symbol"], row[tcol]), tuple(row[c] for c in vals)


class IncrementalLoad:
    """The paper's ETL lifecycle. The feed delivers batches of Alpha
    Vantage payloads for every symbol and endpoint; one op loads one
    endpoint's payloads of a batch: ``ensure_companies`` then
    ``StockStore.ingest``. For the 5-minute bars the op goes on until
    the rows can be read from the versioned store: the appended rows
    committed with a txn id, the restated ones merged, and the store
    read back as the latest bar per symbol and as the new versions'
    change feed.

    Set-up runs the initial load (batch 0, which creates every table and
    warms every code path the ops use); the timed ops are the
    incremental batches after it.
    """

    def __init__(self, spark, tracer, seed: int, seconds: int, work: str):
        from etl_pipeline_stock_market_data_postgresql_spark.pipeline import (
            StockStore)

        self.spark, self.tracer = spark, tracer
        self.n_batches = max(1, round(seconds * INCREMENTAL_RATE))
        self.feed = AlphaVantageFeed(seed)
        self.warehouse = os.path.join(work, "warehouse")
        self.store = StockStore(spark, self.warehouse)
        self.store_root = {ep: os.path.join(work, "store", ep)
                           for ep in STORED}
        self.version = {ep: None for ep in STORED}
        self.rows_committed = 0
        self.setup_error = None

    def setup(self) -> None:
        tracer, self.tracer = self.tracer, Tracer(False)
        batch = self.feed.next_batch()
        outs = []
        for ep in ENDPOINTS:
            with phase(f"initial load {ep}"):
                outs.append(self.load(batch, ep))
        self.tracer = tracer
        self.setup_error = "; ".join(
            filter(None, (self.check("batch0", o) for o in outs))) or None
        self.rows_committed = 0

    def ops(self):
        for b in range(1, self.n_batches + 1):
            batch = self.feed.next_batch()  # generated before the ops
            for ep in ENDPOINTS:
                yield (f"batch{b}.{ep}",
                       lambda batch=batch, ep=ep: self.load(batch, ep))

    # -- one endpoint of a batch ------------------------------------------

    def load(self, batch, ep: str) -> dict:
        from pyspark.sql import functions as F

        from etl_pipeline_stock_market_data_postgresql_spark import schemas
        from etl_pipeline_stock_market_data_postgresql_spark.operators import (
            upsert)
        from etl_pipeline_stock_market_data_postgresql_spark.sources import (
            alpha_vantage as av, versioned_store as vs)
        from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
            cdf_source)

        spark, tr = self.spark, self.tracer
        table = TABLE[ep]
        tcol, vals = _layout(ep)
        out = {"batch": batch, "ep": ep}
        with tr.span("pipeline.ensure_companies"):
            self.store.ensure_companies(list(SYMBOLS))
        if ep in STORED:  # the hand-off reads rows past these marks
            marks = upsert.read_watermarks(
                self.store.read(table), ["company_symbol"], tcol).collect()
        with tr.span(f"pipeline.ingest_{ep}"):
            rep = self.store.ingest(ep, batch["payloads"][ep])
        out["report"] = rep
        for k in ("rows_in", "rows_appended", "rows_skipped_existing",
                  "rows_quarantined", "rejected_payloads"):
            tr.count(f"pipeline.{k}", getattr(rep, k))
        if ep not in STORED:
            return out
        root = self.store_root[ep]
        wm = spark.createDataFrame(
            [tuple(r) for r in marks],
            f"company_symbol string, _wm "
            f"{schemas.TABLES[table][tcol].dataType.simpleString()}")
        newer = F.col("_wm").isNull() | (F.col(tcol) > F.col("_wm"))
        appended = self.store.read(table).join(
            wm, "company_symbol", "left").filter(newer).drop("_wm")
        before = self.version[ep]
        with tr.span("versioned_store.commit_append"):
            v = vs.commit_append(spark, root, appended, stats_cols=STATS_COLS,
                                 txn=(f"load_{ep}", self.feed.batch_no))
        if before is not None:
            # re-delivered bars whose values differ are restatements:
            # MERGE them, matched rows only
            ok, _ = av.split_error_envelopes(
                av.payloads_df(spark, batch["payloads"][ep]))
            parsed, _ = getattr(av, f"parse_{ep}")(ok)
            redelivered = parsed.join(wm, "company_symbol").filter(
                F.col(tcol) <= F.col("_wm")).drop("_wm")
            differs = None
            for c in vals:
                d = ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
                differs = d if differs is None else differs | d
            with tr.span("versioned_store.commit_merge"):
                v = vs.commit_merge(
                    spark, root, redelivered,
                    tuple(schemas.PRIMARY_KEYS[table]),
                    stats_cols=STATS_COLS, matched_condition=differs,
                    not_matched_insert_condition=F.lit(False))[0]
        self.version[ep] = v
        with tr.span("versioned_store.read"):
            snap = vs.read_version(spark, root, v)
            out["latest"] = snap.groupBy("company_symbol").agg(
                F.max_by(F.struct(*snap.columns), F.col(tcol))
                .alias("bar")).collect()
        with tr.span("cdf_source.read"):
            out["changes"] = cdf_source.read_change_feed(
                spark, root, before or 0, v).collect()
        return out

    # -- verification -----------------------------------------------------

    def check(self, name: str, out: dict) -> str | None:
        exp, ep, rep = out["batch"], out["ep"], out["report"]
        problems = []
        got = {k: getattr(rep, k) for k in exp["expected"][ep]}
        if got != exp["expected"][ep] or rep.errors:
            problems.append(f"{ep} report {got} {rep.errors} != "
                            f"{exp['expected'][ep]}")
        self.rows_committed += rep.rows_appended
        if ep in STORED:
            latest = {}
            for (sym, t), vals in self.feed.truth[ep].items():
                if sym not in latest or t > latest[sym][0]:
                    latest[sym] = (t, vals)
            got = dict(_key_vals(r["bar"], ep) for r in out["latest"])
            if got != {(s, t): v for s, (t, v) in latest.items()}:
                problems.append(f"{ep} latest bar differs")
            net = Counter()
            for r in out["changes"]:
                sign = {"insert": 1, "delete": -1}.get(r["_change_type"], 0)
                net[_key_vals(r, ep)] += sign
            want = Counter()
            for row in exp["new_rows"][ep] + exp["restated"][ep]:
                want[(row[:2], row[2:])] += 1
            for key, old in exp["previous"][ep].items():
                want[(key, old)] -= 1
            if +net != +want or -net != -want:
                problems.append(f"{ep} change feed differs from the batch")
            self.rows_committed += len(exp["restated"][ep])
        return "; ".join(problems) or None

    def finish(self) -> str | None:
        """End state against the feed's ground truth: unique keys, the
        warehouse keeps first-delivered values (insert-if-absent), the
        store's latest version carries the restatements."""
        from etl_pipeline_stock_market_data_postgresql_spark.sources import (
            versioned_store as vs)

        problems = [self.setup_error] if self.setup_error else []
        for ep in ENDPOINTS:
            sides = [(TABLE[ep], self.store.read(TABLE[ep]),
                      self.feed.loaded[ep])]
            if ep in STORED:
                sides.append((f"store {ep}", vs.read_version(
                    self.spark, self.store_root[ep], self.version[ep]),
                    self.feed.truth[ep]))
            for label, df, want in sides:
                rows = [_key_vals(r, ep) for r in df.collect()]
                if len(rows) != len(dict(rows)):
                    problems.append(f"{label}: duplicate primary keys")
                if dict(rows) != want:
                    problems.append(f"{label}: rows differ from the feed")
        return "; ".join(problems) or None

    def rows_delivered(self) -> int:
        return self.rows_committed

    def storage_census(self) -> dict:
        """Files and bytes the run left in the warehouse and the store,
        and bytes on disk per live row."""
        from etl_pipeline_stock_market_data_postgresql_spark.sources import (
            versioned_store as vs)

        files, size = _parquet_usage(os.path.dirname(self.warehouse))
        rows = sum(len(self.feed.loaded[ep]) for ep in ENDPOINTS)
        rows += sum(len(self.feed.truth[ep]) for ep in STORED)
        return {
            "versioned_store.files_live": sum(
                len(vs.read_manifest(root, self.version[ep])["files"])
                for ep, root in self.store_root.items()),
            "warehouse.files_written": files,
            "warehouse.bytes_written": size,
            "store.bytes_per_row": size / max(1, rows),
        }


def _parquet_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


WORKLOADS = {"analytics": Analytics, "iterative": Iterative,
             "incremental_load": IncrementalLoad}
