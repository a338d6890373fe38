"""Structured Streaming ingest (SURVEY.md §2.9, §7.1 step 8).

The reference's incremental load is a hand-rolled streaming pattern:
per-key high-water-mark reads (``check_last_date``,
``main_parallel.py:206-218``) + PK conflict-ignore
(``main_parallel.py:285``). Natively:

- late/duplicate handling → ``withWatermark`` + ``dropDuplicates(pk)``
  (checkpointed state replaces the watermark table);
- 5-minute bars from a tick stream → tumbling ``F.window`` aggregation
  (the reference ingests pre-aggregated bars; we can also derive them);
- polling cadence (the API's 5 req/min) → ``availableNow`` /
  processing-time triggers.

At scale this runs against a file/Kafka source with checkpointing; the
memory-sink helpers here let batch fixtures drive the same plan to
completion synchronously in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .runner import run_available_now


def read_stream(spark: SparkSession, path: str, schema: StructType,
                fmt: str = "parquet") -> DataFrame:
    return spark.readStream.format(fmt).schema(schema).load(path)


def dedup_incremental(stream: DataFrame, pk_cols: list[str], time_col: str,
                      watermark_delay: str = "1 hour") -> DataFrame:
    """Streaming equivalent of the idempotent-append sink: duplicates
    within the watermark horizon are dropped on the PK; state for keys
    older than the watermark is reclaimed (the reference keeps its
    'state' in the target table forever — a full-history anti-join; the
    stream bounds it)."""
    return (stream
            .withWatermark(time_col, watermark_delay)
            .dropDuplicates(pk_cols))


def bars_from_ticks(ticks: DataFrame, key_col: str, time_col: str,
                    price_col: str, size: str = "5 minutes",
                    watermark_delay: str = "10 minutes") -> DataFrame:
    """Tumbling OHLC bars from a tick stream (the shape of the
    reference's intraday feed, derived rather than fetched)."""
    return (ticks
            .withWatermark(time_col, watermark_delay)
            .groupBy(F.window(time_col, size).alias("w"), F.col(key_col))
            .agg(F.min(price_col).alias("low_price"),
                 F.max(price_col).alias("high_price"),
                 F.count("*").alias("n_ticks"))
            .select(F.col("w.start").alias("bar_start"), key_col,
                    "low_price", "high_price", "n_ticks"))


def stateful_hwm_filter(stream: DataFrame, key_col: str, time_col: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-key
    high-water-mark filter — emit only rows strictly newer than the
    key's max time seen across ALL previous micro-batches, then advance
    the state. This is the reference's ``check_last_date`` + skip loop
    (``main_parallel.py:206-218``, ``:265-266``) as true streaming
    state: the watermark lives in the checkpointed state store instead
    of being re-read from the target table per batch.

    Rows inside one batch are filtered against the state at batch
    start, then the state advances to the batch max — matching the
    reference, whose watermark also doesn't move mid-payload.
    """
    import pandas as pd  # noqa: F401 — executor-side dependency

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream.schema
    state_schema = "hwm_us long"

    def fn(key, pdfs, state: "GroupState"):
        hwm_us = state.get[0] if state.exists else None
        max_seen = hwm_us
        for pdf in pdfs:
            t_us = pdf[time_col].astype("int64") // 1000  # ns -> us
            kept = pdf[t_us > hwm_us] if hwm_us is not None else pdf
            batch_max = int(t_us.max()) if len(t_us) else None
            if batch_max is not None and (max_seen is None or batch_max > max_seen):
                max_seen = batch_max
            if len(kept):
                yield kept
        if max_seen is not None:
            state.update((max_seen,))

    return (stream.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def run_to_memory(df: DataFrame, name: str) -> StreamingQuery:
    """Drive a streaming plan to completion against a memory sink
    (tests / smoke) and return the stopped query; caller reads
    ``spark.sql(f"SELECT * FROM {name}")``."""
    return run_available_now(
        df.writeStream.outputMode("append").format("memory"), name)
