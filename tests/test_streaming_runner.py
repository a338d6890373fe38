"""The one availableNow runner (streaming/runner.py): every streaming
query in the package starts, drains and stops there, and a failing
micro-batch still leaves no active query, no loaded state store and no
changed session setting behind."""

from __future__ import annotations

import ast
import datetime as dt
import os

import pytest

import etl_pipeline_stock_market_data_postgresql_spark as pkg

_SHUFFLE = "spark.sql.shuffle.partitions"
_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def _maintenance_running(spark) -> bool:
    return bool(spark._jvm.org.apache.spark.sql.execution.streaming
                .state.StateStore.isMaintenanceRunning())


def test_raising_batch_stops_query_unloads_state_and_restores_confs(
        spark, tmp_path):
    """A stateful stream whose micro-batch raises AFTER its state store
    was loaded (the dedup runs first, a row then hits ``raise_error``):
    the call raises, and the runner's ``finally`` has stopped the query,
    unloaded the state stores and put both settings back."""
    import pyspark.sql.functions as F

    from etl_pipeline_stock_market_data_postgresql_spark.workload.streaming_exec import (
        _run_stream_append_to_files)

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=i)) for i in range(20)],
        "event_id long, ts timestamp").coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    poisoned = (stream.withWatermark("ts", "1 hour")
                .dropDuplicates(["event_id"])
                .withColumn("boom", F.when(F.col("event_id") >= 0,
                                           F.raise_error(F.lit("boom")))))
    before = {k: spark.conf.get(k) for k in (_SHUFFLE, _NO_DATA)}
    assert int(before[_SHUFFLE]) > 2 and before[_NO_DATA] == "true"

    with pytest.raises(Exception, match="boom"):
        _run_stream_append_to_files(poisoned, "t_raise", str(tmp_path), 2,
                                    no_data_batches=False)

    assert spark.streams.active == []
    assert not _maintenance_running(spark)
    assert {k: spark.conf.get(k) for k in (_SHUFFLE, _NO_DATA)} == before


def test_named_batches_label_their_jobs(spark, tmp_path):
    """The runner names the query, so Spark's own job description of
    every batch job — the ones the Python ``foreachBatch`` body starts
    included — carries ``<name>`` and ``batch = i``. Read from the
    driver's status store."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming.runner import (
        run_available_now)

    src = str(tmp_path / "feed")
    spark.range(10).coalesce(1).write.parquet(src)
    store = spark.sparkContext._jsc.sc().statusStore()

    def jobs_by_id():
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId(): jobs.apply(i)
                for i in range(jobs.length())}

    seen = set(jobs_by_id())
    q = run_available_now(
        spark.readStream.schema("id long").parquet(src).writeStream
        .foreachBatch(lambda b, _i: b.count())
        .option("checkpointLocation", str(tmp_path / "ck")),
        "runner_label_probe")
    assert not q.isActive
    assert [p["batchId"] for p in q.recentProgress][:1] == [0]
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    descs = [j.description().get() for i, j in jobs_by_id().items()
             if i not in seen and j.description().isDefined()]
    labelled = [d for d in descs
                if "runner_label_probe" in d and "batch = 0" in d]
    assert labelled, descs


# --- AST pins: one start site, one drain, no processAllAvailable ------------

def _package_trees():
    root = os.path.dirname(pkg.__file__)
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                yield os.path.relpath(path, root), tree


def test_one_available_now_start_site_in_the_package():
    """Every ``.start()`` call in the package — however its writer was
    built or stored — is the runner's, and so is every drain."""
    triggers, starts, drains = [], [], []
    for rel, tree in _package_trees():
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and n.attr in (
                    "processAllAvailable", "awaitTermination"):
                drains.append((rel, n.attr))
            if not (isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)):
                continue
            if (n.func.attr == "trigger"
                    and any(k.arg == "availableNow" for k in n.keywords)):
                triggers.append(rel)
            if n.func.attr == "start":
                starts.append(rel)
    runner = os.path.join("streaming", "runner.py")
    assert triggers == [runner]
    assert starts == [runner]
    assert drains == [(runner, "awaitTermination")]
