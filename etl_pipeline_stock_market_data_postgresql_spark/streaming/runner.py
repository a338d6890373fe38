"""The one availableNow runner: every streaming query in the package
starts, drains and stops here.

``run_available_now`` names the query, starts it with an
``availableNow`` trigger, waits for it to terminate, and ALWAYS stops
it and unloads the JVM's state stores — also when a micro-batch
raises. Naming the query labels every batch job with Spark's own
description ``<name>\\nid = …\\nbatch = i``, the ``foreachBatch``
callback's jobs included. The stopped query is returned, so a caller
can read ``recentProgress`` (each batch's ``durationMs``).

The two-delivery feed helpers write and replay the fixture feeds whose
deliveries must arrive as separate micro-batches in a fixed order.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Collection

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def unload_state_stores(spark: SparkSession) -> None:
    """Unload every loaded state-store provider after a finished
    streaming query. Providers live in a JVM-wide singleton and are
    NOT released when their query stops (only a lazy maintenance sweep
    eventually evicts them), so a multi-query process (gate, bench,
    probe sweep) accumulates every stopped query's in-heap state maps —
    the round-8 sweep OOMed on q62's 9.5M-row session state only when
    it ran AFTER five other streaming queries, while succeeding in
    isolation. stop() also halts the maintenance thread; Spark restarts
    it lazily on the next stateful query."""
    try:
        (spark._jvm.org.apache.spark.sql.execution.streaming
         .state.StateStore.stop())
    except Exception:
        pass  # internal API; a rename only costs the eager unload


def run_available_now(writer: DataStreamWriter, name: str, *,
                      shuffle_partitions: int | None = None,
                      no_data_batches: bool = True) -> StreamingQuery:
    """Run ``writer`` as the availableNow query ``name`` to completion
    and return the stopped query; a failed batch re-raises after the
    cleanup.

    ``shuffle_partitions`` caps the shuffle width for the query's
    lifetime (the value is captured at query START). State-store
    instances are one-per-shuffle-partition services whose per-batch
    commit overhead is paid however little state they hold, so a
    stateful stage is sized to its expected state volume; ``None``
    keeps the session default (large-state queries).

    ``no_data_batches=False`` skips the post-data NO-DATA micro-batch.
    The engine schedules it whenever the watermark advanced, to evict
    state and emit watermark-FINALIZED results (window aggregates in
    append mode). For emission-on-arrival operators — stream-stream
    INNER joins, dropDuplicates[WithinWatermark] — it can only evict
    state, never emit or retract a row; measured r17 (sf0.1) it costs
    nearly a full batch's fixed overhead (q73 addBatch 2.1 s for 0 rows
    vs 2.7 s for 200k). Results that DEPEND on watermark finalization
    must keep it.

    Both settings are restored when the query ends, however it ends."""
    spark = writer._spark
    saved = {k: spark.conf.get(k) for k in (_SHUFFLE_PARTITIONS,
                                            _NO_DATA_BATCHES)}
    q = None
    try:
        if shuffle_partitions is not None:
            spark.conf.set(_SHUFFLE_PARTITIONS, str(min(
                int(saved[_SHUFFLE_PARTITIONS]), shuffle_partitions)))
        if not no_data_batches:
            spark.conf.set(_NO_DATA_BATCHES, "false")
        q = writer.queryName(name).trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    finally:
        if q is not None:
            q.stop()
        unload_state_stores(spark)
        for k, v in saved.items():
            spark.conf.set(k, v)


def write_two_deliveries(root: str, feed: str, first: DataFrame,
                         second: Callable[[int], DataFrame]) -> dict:
    """Write a two-delivery stream feed: ``first`` into ``feed``, then
    ``second(n_first_files)`` appended. Returns the fixture bounds —
    the batch-1 file names and EVERY parquet file (root-relative), so
    ``derived_cache.fixture``'s file-equality check turns a stray file
    into a rebuild instead of replayed batch-2 data (r17 ADVICE)."""
    def names() -> list[str]:
        return sorted(f for f in os.listdir(feed) if f.endswith(".parquet"))

    first.write.mode("overwrite").parquet(feed)
    first_names = names()
    second(len(first_names)).write.mode("append").parquet(feed)
    rel = os.path.relpath(feed, root)
    return {"first": first_names,
            "files": [os.path.normpath(os.path.join(rel, f))
                      for f in names()]}


def replay_deliveries(spark: SparkSession, feed: str,
                      first: Collection[str]) -> DataFrame:
    """A file stream over a two-delivery ``feed`` that replays it as
    exactly two micro-batches: the ``first`` files, then the rest.
    ``maxFilesPerTrigger`` = |first| and the second delivery has at most
    that many files. The order is pinned by setting strictly increasing
    mtimes on every call: on a filesystem with coarse mtime resolution
    the two back-to-back writes can share a timestamp, and the file
    source would then order them arbitrarily."""
    now = time.time()
    for f in os.listdir(feed):
        if f.endswith(".parquet"):
            t = now - 10.0 if f in first else now
            os.utime(os.path.join(feed, f), (t, t))
    return (spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", str(max(1, len(first))))
            .parquet(feed))
