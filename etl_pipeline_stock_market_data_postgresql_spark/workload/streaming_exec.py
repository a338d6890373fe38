"""Queries that actually EXECUTE through Structured Streaming inside
the driver gate: the events parquet (or a two-delivery fixture feed) is
consumed as a stream of availableNow micro-batches, run through a
streaming operator (tumbling/session/sliding windows, stream-stream
join, dedup within watermark, a custom stateful HWM filter, foreachBatch
commits into a versioned store), and the materialized result is
returned — hash-matching the same plain-SQL computation. Proves the
batch/stream unification claim (SURVEY.md §2.9) with the correctness
gate, not just unit tests.

Every query here runs through ``streaming/runner.run_available_now``:
it names the query, drains it with ``awaitTermination`` and, in a
``finally``, stops it, unloads the JVM's state stores and restores the
shuffle-width / no-data-batch settings it was given — so a raising
micro-batch leaves no active query and no loaded state behind."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame
from ..sources.derived_cache import fixture, scratch_base, table_fingerprint
from ..streaming.runner import (replay_deliveries, run_available_now,
                                write_two_deliveries)
# re-exported: benchmark warm-ups and the replay tests import it here
from ..streaming.runner import (  # noqa: F401
    unload_state_stores as _unload_state_stores)

# Stateful-stage parallelism. State-store instances are one-per-shuffle-
# partition long-lived services whose per-batch snapshot/commit overhead
# is paid regardless of how little state they hold — so a STATEFUL
# stage's partition count is sized to its expected state volume, not
# inherited from the batch shuffle default. Measured here at sf0.1:
# q73's join state (~40k rows) runs 8.9s on 32 stores vs 3.1s on 8 —
# commit overhead dominated; q62's session state (~95k windows) is the
# opposite and keeps the full width. The same sizing argument (hundreds
# of adequately-loaded stores on a 1000-executor cluster, not tens of
# thousands of near-empty ones) holds at 100 TB.
STREAM_SMALL_STATE_PARTITIONS = 8
FEED_FILES = 8  # q106's parallel per-delivery feed-write fan-out
_STATE_WIDTH_BYTES = 64 * 1024 * 1024  # input size above which a
                                       # stream keeps the session's
                                       # full width


def _state_width(path: str) -> int | None:
    """Adaptive form of the sizing rule above, decided from the parquet
    bytes at ``path`` (a file, or a feed directory's parquet files) —
    file METADATA, no scan, no driver collect. A key-per-row state
    (q96's PK-dedup) at small inputs pays store commit overhead and
    wants few stores; large inputs are store-load bound and want the
    session's full width (measured at 100×: 28.6s at 32 stores vs
    55.7s at 8; at 1× the reverse, 2.1s vs 3.9s). A foreachBatch
    commit over a delta feed (q122, q140) has only delta-proportional
    shuffles, so the same rule sizes it to the delta, not the session
    core count."""
    try:
        size = (sum(os.path.getsize(os.path.join(path, f))
                    for f in os.listdir(path) if f.endswith(".parquet"))
                if os.path.isdir(path) else os.path.getsize(path))
    except OSError:
        size = 0
    return None if size > _STATE_WIDTH_BYTES else STREAM_SMALL_STATE_PARTITIONS


def _stream_scratch(prefix: str, sf_dir: str) -> tuple[str, str]:
    """(output dir, checkpoint dir) under the per-SF scratch root,
    recreated fresh per invocation."""
    import shutil

    base, _ = scratch_base(sf_dir)
    root = os.path.join(base, f"stream_{prefix}")
    shutil.rmtree(root, ignore_errors=True)
    return os.path.join(root, "out"), os.path.join(root, "ckpt")


def _read_back(df: DataFrame, out_dir: str) -> DataFrame:
    try:
        return df.sparkSession.read.parquet(out_dir)
    except Exception:
        # zero committed batches/files (empty source + fresh
        # checkpoint): out_dir holds no parquet schema to infer
        return local_frame(df.sparkSession, [], df.schema)


def _run_stream_complete_to_files(df: DataFrame, prefix: str, sf_dir: str,
                                  n_parts: int | None) -> DataFrame:
    """Execute a COMPLETE-mode streaming aggregation with a
    ``foreachBatch`` parquet sink and read the final batch back lazily.

    Complete mode re-emits the FULL result every micro-batch, and the
    result of a session/tumbling aggregation is itself input-scale
    (sf0.1 events -> ~95k session windows; the 100x probe -> 9.5M).
    The previous memory sink accumulated those rows driver-side and
    then localCheckpoint-ed them through the driver single-threaded —
    at the 100x probe the STREAM finished in ~19s while the sink path
    hung for 10+ minutes. ``foreachBatch`` hands each batch over as a
    real distributed DataFrame, so the write is executor-parallel and
    nothing result-sized ever lands on the driver; each batch
    OVERWRITES the previous output, so the surviving files are exactly
    the final complete result."""
    out_dir, ckpt = _stream_scratch(prefix, sf_dir)
    run_available_now(
        df.writeStream.outputMode("complete")
        .foreachBatch(lambda bdf, _bid:
                      bdf.write.mode("overwrite").parquet(out_dir))
        .option("checkpointLocation", ckpt),
        prefix, shuffle_partitions=n_parts)
    return _read_back(df, out_dir)


def _run_stream_append_to_files(df: DataFrame, prefix: str, sf_dir: str,
                                n_parts: int | None,
                                no_data_batches: bool = True) -> DataFrame:
    """Execute an APPEND-mode stream into a parquet FILE sink and read
    the result back lazily. Append-mode outputs scale with the INPUT
    (q96 re-emits every deduped event, q106 every kept row), so the
    memory sink — whose rows are driver-resident — put a probe-scale
    input's worth of data on the driver heap (BENCH.md round-6 note:
    the q96 100× probe needed a 48g driver). The file sink is what a
    production streaming job writes anyway; the gate reads the files
    back and compares values identically. (Complete-mode aggregations
    go through ``_run_stream_complete_to_files`` — the native file sink
    cannot accept complete mode, so they use a foreachBatch write.)
    Sink+checkpoint live under the per-SF scratch root
    (derived_cache.scratch_base) and are recreated per invocation."""
    out_dir, ckpt = _stream_scratch(prefix, sf_dir)
    run_available_now(
        df.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt),
        prefix, shuffle_partitions=n_parts, no_data_batches=no_data_batches)
    return _read_back(df, out_dir)


def _event_stream(spark: SparkSession, sf_dir: str):
    """THE single events stream source for q46/q62/q73/q89: batch-sniff
    the schema (ensure_session_confs already normalizes NTZ inference),
    stream the sf dir with a glob selecting just the events file, and
    normalize any remaining non-timestamp ts encoding here — when the
    driver ships a new parquet time encoding, this function and
    tables.load are the only two places to touch."""
    from ..sources.tables import ensure_session_confs

    ensure_session_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    dtypes = {f.name: f.dataType.simpleString() for f in raw_schema.fields}
    if dtypes.get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dtypes.get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def q46_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _event_stream(spark, sf_dir)
    agg = (stream.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
           .agg(F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double").alias("sum_value"))
           .select(F.col("w.start").alias("bucket_start"), "event_type",
                   "n_events", "sum_value"))

    return _run_stream_complete_to_files(agg, "q46_out", sf_dir,
                                         STREAM_SMALL_STATE_PARTITIONS)


_Q46_SQL = """
SELECT CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS bucket_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

SESSION_GAP_US = 30 * 60 * 1_000_000


def q62_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user SESSION windows executed through Structured Streaming:
    ``session_window`` merges an event into the open session while it
    arrives strictly before last_ts + gap — the stateful
    merge-on-overlap operator (dynamic window bounds, unlike q46's
    fixed tumbling buckets). Complete output mode over availableNow
    micro-batches; the oracle reproduces the exact boundary rule
    (a gap of EXACTLY 30 min starts a new session) with
    gaps-and-islands SQL."""
    stream = _event_stream(spark, sf_dir)
    agg = (stream.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                          "user_id")
           .agg(F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double").alias("sum_value"))
           .select("user_id", F.col("w.start").alias("session_start"),
                   F.col("w.end").alias("session_end"),
                   "n_events", "sum_value"))

    return _run_stream_complete_to_files(agg, "q62_out", sf_dir, None)


_Q62_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US} THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, sess_no
"""


JOIN_WINDOW_MIN = 60  # pair a click with same-user views in the prior hour


def q73_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join executed through Structured Streaming:
    clicks join same-user views from the preceding hour — the
    attribution-join shape. Both sides carry watermarks and the join
    condition is an equi-key plus a bounded time range, which is exactly
    what lets Spark expire join state at scale: a view's state lives
    only until the watermark passes view_ts + 60 min, so state is
    bounded by (rate × window), never the full stream. Append output
    mode — inner-join matches emit as they occur and never retract —
    makes the result deterministic and equal to the batch join, which is
    the oracle."""
    clicks = (_event_stream(spark, sf_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    views = (_event_stream(spark, sf_dir)
             .filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", "2 hours"))
    joined = (clicks.join(
        views,
        F.expr(f"""c_user = v_user AND
                   view_ts BETWEEN click_ts - INTERVAL {JOIN_WINDOW_MIN} MINUTES
                               AND click_ts"""))
        .select(F.col("c_user").alias("user_id"), "click_id", "view_id",
                (F.unix_micros("click_ts")
                 - F.unix_micros("view_ts")).alias("gap_us")))

    # inner-join matches emit on arrival and never retract (docstring
    # above), so the post-data no-data batch could only evict state:
    # skip it (result-identical; it costs a full batch's fixed overhead)
    return _run_stream_append_to_files(joined, "q73_out", sf_dir,
                                       STREAM_SMALL_STATE_PARTITIONS,
                                       no_data_batches=False)


_Q73_SQL = f"""
SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id,
       epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'view'
 AND b.ts BETWEEN a.ts - INTERVAL {JOIN_WINDOW_MIN} MINUTE AND a.ts
"""


from . import Query  # noqa: E402

def q89_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q88's hopping-window aggregation EXECUTED through Structured
    Streaming: 1-hour windows every 30 minutes, so each arriving event
    updates exactly length/slide = 2 window states — the overlapping-
    state shape q46's tumbling windows never exercise. Complete output
    mode over availableNow micro-batches; the oracle is the same
    two-windows-per-event expansion that certifies the batch plan
    (workload/events_analytics._Q88_SQL)."""
    stream = _event_stream(spark, sf_dir)
    agg = (stream.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                          "event_type")
           .agg(F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double").alias("total_value"))
           .select(F.col("w.start").alias("window_start"), "event_type",
                   "n_events", "total_value"))

    return _run_stream_complete_to_files(agg, "q89_out", sf_dir,
                                         STREAM_SMALL_STATE_PARTITIONS)


def _q89_sql() -> str:
    from .events_analytics import _Q88_SQL
    return _Q88_SQL


# q96: how long a duplicate delivery can trail the original and still be
# suppressed. State is |keys inside the horizon|, NOT |stream|: a key's
# state is evicted once the watermark passes its event time + horizon.
# 35 days covers the whole test fixture (every cross-batch split still
# dedups exactly); a production bus with an at-least-once redelivery SLA
# of minutes would size this to that SLA and hold proportionally tiny
# state.
REDELIVERY_HORIZON = "35 days"


def q96_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-dedup of an at-least-once feed executed through Structured
    Streaming: the event stream is unioned with a second delivery of
    itself (the redelivery/duplicate shape the reference absorbs with
    ``ON CONFLICT DO NOTHING`` — SURVEY §2.9's late/duplicate case) and
    ``dropDuplicatesWithinWatermark`` suppresses every duplicate
    event_id with BOUNDED state — unlike plain ``dropDuplicates``,
    whose key state never expires, this evicts each key as soon as the
    watermark passes its event time + horizon, which is what makes
    streaming PK-dedup runnable forever at 100 TB/day. Append mode:
    the first delivery of each key emits immediately and duplicates
    never retract it, so the result is deterministic and equal to the
    batch distinct — the oracle (duplicates are exact copies, so every
    column is determined by the key)."""
    def delivery() -> DataFrame:
        return (_event_stream(spark, sf_dir)
                .select("event_id", "user_id", "event_type", "ts", "value"))

    redelivered = delivery().unionAll(delivery())
    deduped = (redelivered
               .withWatermark("ts", REDELIVERY_HORIZON)
               .dropDuplicatesWithinWatermark(["event_id"]))
    # first delivery emits on arrival, duplicates never retract: the
    # no-data batch could only evict key state — skip it (q73's rule)
    return _run_stream_append_to_files(
        deduped, "q96_out", sf_dir,
        _state_width(os.path.join(sf_dir, "events.parquet")),
        no_data_batches=False)


_Q96_SQL = """
SELECT event_id, user_id, event_type, ts, value FROM events
"""


# --- q106: custom stateful operator under the gate -----------------------


def _ensure_q106_feed(spark: SparkSession, sf_dir: str) -> tuple[str, set]:
    """Fingerprint-gated build of q106's two-delivery parity feed —
    input-derived fixture state (q122's cached-feed pattern), built as
    two sequential PARALLEL writes of FEED_FILES files each (a
    coalesce(1) feed write was the single-threaded term of the 100×
    probe's q106 row). The file source still replays the deliveries as
    exactly two micro-batches because maxFilesPerTrigger = |batch-1
    files| and batch 2 is written with that same file count, so
    trigger 1 is precisely the older-mtime batch-1 set and trigger 2
    the rest. (The HWM kernel filters a whole batch against
    batch-START state, so row placement across a trigger's files is
    immaterial.) Returns ``(feed_dir, batch-1 file names)``."""
    from ..sources.tables import load

    def build(root: str) -> dict:
        ev = load(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts")
        # != 0, not == 1: C-style % gives -1 for negative odd ids,
        # which would silently land them in batch 1 here while the
        # oracle's sl arithmetic dropped them entirely
        is_second = F.col("event_id") % 2 != 0
        return write_two_deliveries(
            root, root, ev.filter(~is_second).repartition(FEED_FILES),
            lambda n: ev.filter(is_second).repartition(max(1, n)))

    path, bounds = fixture(sf_dir, "q106_hwm_feed", table_fingerprint(
        sf_dir, ("events",), params=f"q106_feed_v1_f{FEED_FILES}"), build)
    return path, set(bounds["first"])


def q106_streaming_stateful_hwm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator (applyInPandasWithState —
    streaming/ingest.stateful_hwm_filter) executed under the driver
    gate with REAL cross-batch state: the events table is split by
    event_id parity into two deliveries written in order, the file
    source replays them as two micro-batches (runner.replay_deliveries),
    and the per-key high-water-mark filter — the reference's
    ``check_last_date`` + skip loop as checkpointed streaming state —
    passes batch 1 through while filtering batch 2 against each key's
    batch-1 maximum. The parity split makes the second delivery
    STRADDLE every key's stored HWM (a time split would leave nothing
    to filter): roughly half of batch 2 is at-or-before its key's
    watermark and must be dropped, exactly the overlapping-refetch
    shape the reference absorbs row by row. Keys unseen in batch 1
    would pass entirely. The oracle states the kept set algebraically.

    Scale shape: state is ONE long per key; the Python boundary is
    Arrow-batched with map-side early filtering inside the kernel; the
    only shuffle is the groupBy(key) routing into
    ``STREAM_SMALL_STATE_PARTITIONS`` state stores (keys ≪ stores at
    sf; the sizing note at the top of this module). The two-file split
    is the gate-sized stand-in for a real feed's thousands of files —
    the operator is batch-count-agnostic. Timestamps compare in exact
    microseconds (ns→us inside the kernel), ties drop (strict >)."""
    from ..streaming.ingest import stateful_hwm_filter

    # the file-source order (hence the HWM result) is pinned per run
    kept = stateful_hwm_filter(
        replay_deliveries(spark, *_ensure_q106_feed(spark, sf_dir)),
        "event_type", "ts")
    out = _run_stream_append_to_files(kept, "q106_out", sf_dir,
                                      STREAM_SMALL_STATE_PARTITIONS)
    return out.select("event_id", "event_type",
                      F.unix_micros("ts").alias("tus"))


_Q106_SQL = """
WITH s AS (
  SELECT event_id, event_type, epoch_us(ts) AS tus,
         CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END AS sl
  FROM events
),
hwm AS (SELECT event_type, max(tus) AS m FROM s WHERE sl = 0 GROUP BY 1)
SELECT event_id, event_type, tus FROM s WHERE sl = 0
UNION ALL
SELECT s.event_id, s.event_type, s.tus
FROM s LEFT JOIN hwm USING (event_type)
WHERE sl = 1 AND (m IS NULL OR tus > m)
"""


#: bin-packing target for the streaming index/postings stores' closing
#: maintenance pass (64 MiB files; the q118 contract)
STREAM_STORE_TARGET_BYTES = 64 * 1024 * 1024


def _q122_commit_batch(sess: SparkSession, index_root: str, out_dir: str,
                       bdf: DataFrame, bid: int) -> None:
    """One q122 micro-batch, committed EXACTLY-ONCE: dedup ``bdf``
    against the current index snapshot, then land both sinks through
    replay-idempotent paths — verdicts overwrite their own
    ``bid=<n>`` subdirectory (a replay rewrites the same directory to
    the same content), and the kept rows commit to the manifest-
    versioned index with the batch id as the transaction id (a replay
    finds the txn already in the manifest chain and no-ops; Delta's
    txnAppId/txnVersion pattern). foreachBatch is at-least-once — a
    worker crash after a partial write replays the batch — so both
    sinks MUST converge under re-execution; the r11 verdict's
    double-append finding is exactly what this closes. Module-level so
    the replay test can invoke it twice with the same ``bid``.

    The txn check runs FIRST (Delta's pattern of reading txnVersion
    before doing batch work): once the index commit landed, the batch
    ids are ≤ the index high-water mark, so ``incremental_neardup``'s
    append-order guard would (correctly) reject a recompute — and the
    verdicts for this bid were already written before that commit, so
    there is nothing left to redo."""
    from ..operators import incremental_dedup as inc
    from ..sources import versioned_store as vstore
    from .text_dedup import LSH_BANDS, LSH_ROWS, LSH_VERIFY_THRESHOLD

    if vstore.txn_committed(index_root, ("q122", bid)):
        return
    ver = vstore.latest_version(index_root)
    index = vstore.read_version(sess, index_root, ver)
    # the id-ordering precondition's index side comes from manifest
    # column stats (O(files) driver metadata, no scan); every q122
    # commit records doc_id stats so this stays answerable
    mm = vstore.snapshot_min_max(index_root, ver, "doc_id")
    caches: list = []
    verdicts, new_rows = inc.incremental_neardup(
        index, bdf, "doc_id", "text", LSH_VERIFY_THRESHOLD,
        bands=LSH_BANDS, rows_per_band=LSH_ROWS, cache_out=caches,
        known_index_max=None if mm is None else mm[1])
    # Both sinks consume cheap joins over state incremental_neardup
    # already materialized (the persisted delta index + the driver-
    # local component map), so each write recomputes only a cached
    # join — no checkpoint barrier needed, and replays stay
    # deterministic (same snapshot + same cached inputs).
    verdicts.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"bid={bid}"))
    vstore.commit_append(sess, index_root, new_rows,
                         stats_cols=("doc_id",), txn=("q122", bid))
    for c in caches:
        c.unpersist()


def _ensure_q122_seed(spark: SparkSession,
                      sf_dir: str) -> tuple[str, str, set, int]:
    """Fingerprint-gated build of q122's pristine seed index store and
    two-delivery delta feed (fixture state derived from the corpus0
    signature cache), nested under one fixture dir (``store``,
    ``feed``). Returns ``(seed_root, feed_dir, batch-1 names, mid)``."""
    from ..sources import versioned_store as vstore
    from ..sources.tables import load
    from .text_dedup import (LSH_BANDS as _B, LSH_ROWS as _R,
                             LSH_VERIFY_THRESHOLD, corpus0_doc_max,
                             corpus0_signature_index)

    _index, b, cache_path = corpus0_signature_index(spark, sf_dir)
    # the split point comes from the corpus0 bounds fixture — no
    # per-run documents scan
    mid = (b + corpus0_doc_max(spark, sf_dir)) // 2

    def build(root: str) -> dict:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        vstore.commit_append(spark, os.path.join(root, "store"),
                             spark.read.parquet(cache_path),
                             stats_cols=("doc_id",))
        d1 = docs.filter((F.col("doc_id") > b) & (F.col("doc_id") <= mid))
        d2 = docs.filter(F.col("doc_id") > mid)
        return write_two_deliveries(root, os.path.join(root, "feed"),
                                    d1.coalesce(1), lambda _n: d2.coalesce(1))

    root, bounds = fixture(sf_dir, "q122_seed", table_fingerprint(
        sf_dir, ("documents",),
        params=f"q122_seed_v2_n3_b{_B}_r{_R}_t{LSH_VERIFY_THRESHOLD}"),
        build)
    return (os.path.join(root, "store"), os.path.join(root, "feed"),
            set(bounds["first"]), mid)


def q122_streaming_incremental_dedup(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Near-dup dedup of a DOCUMENT STREAM against a persisted MinHash
    signature index — q120's incremental operator driven by Structured
    Streaming, with the cross-batch state being the ON-DISK index
    itself (the lakehouse-native shape: a 100 TB ingest pipeline keeps
    its dedup state in a table, not in executor memory, so any worker
    can restart and the state outlives the job). The index lives in a
    manifest-versioned store (sources/versioned_store) and both sinks
    commit through replay-idempotent paths — see
    :func:`_q122_commit_batch` for the exactly-once contract.

    Fixture: the first 2/3 of documents (by id) batch-dedup into the
    index; the last 1/3 arrives as TWO micro-batches (file source,
    mtime-pinned order — runner.replay_deliveries). Each
    ``foreachBatch``: read the index's latest snapshot, run
    ``incremental_neardup``, commit verdicts + new index rows.
    Batch 2 therefore dedups against index ∪ kept(batch 1): sequential
    semantics, which near-dup REQUIRES (dropping a batch-1 doc removes
    its edges — a full batch recompute over everything would link
    through dropped docs; the oracle chains two per-batch recomputes
    instead, each over kept-so-far ∪ batch). Because commits never
    mutate the files a snapshot references, the batch's index read
    needs no defensive materialization against its own append.

    Scale shape: per batch, everything is q120's (delta-proportional
    text work, columnar index scan); the stream adds only the
    foreachBatch commit (one manifest write). Batch-count-agnostic;
    two batches are the gate-sized stand-in for a day's thousands."""
    import shutil

    from ..sources import versioned_store as vstore

    base, _ = scratch_base(sf_dir)
    index_root = os.path.join(base, "q122_index")
    out_dir = os.path.join(base, "q122_out")
    ckpt = os.path.join(base, "q122_ckpt")
    for d in (index_root, out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    # The stream MUTATES its index table (appends per batch), so each
    # run needs a private branch of the seed index. The PRISTINE seed
    # store and the two delta feed files are fingerprint-cached fixture
    # state (same class as the signature cache they derive from); the
    # run takes its branch via versioned_store.clone — O(files) hard
    # links with a FRESH txn lineage (clone deliberately drops the
    # ledger) — instead of re-writing the whole index as a new store
    # every run.
    seed_root, feed, first, mid = _ensure_q122_seed(spark, sf_dir)
    vstore.clone(seed_root, index_root)
    # the two deliveries replay as two mtime-ordered micro-batches; the
    # per-batch shuffle width is sized to the DELTA, not the session
    # core count — every shuffle in the commit (shingle spread, minhash
    # agg, band/verify joins) is delta-proportional (guide §2:
    # scale-adaptive partitioning)
    run_available_now(
        replay_deliveries(spark, feed, first).writeStream
        .foreachBatch(lambda bdf, bid: _q122_commit_batch(
            bdf.sparkSession, index_root, out_dir, bdf, bid))
        .option("checkpointLocation", ckpt),
        "q122_streaming_incremental_dedup",
        shuffle_partitions=_state_width(feed))
    # maintenance pass: each micro-batch committed its kept rows as its
    # own small file(s), so the index accretes exactly the backlog the
    # q118/q137 compaction contract exists for — bin-pack it as a NEW
    # snapshot (old versions stay readable; content unchanged; the
    # q122 output read below comes from out_dir and is unaffected).
    # Round-robin layout: the signature index is bucket-joined, never
    # range-read, so clustering buys nothing here.
    vstore.compact_latest(spark, index_root, STREAM_STORE_TARGET_BYTES,
                          cluster_by=None, stats_cols=())
    out = spark.read.parquet(out_dir)
    return out.select(
        "doc_id",
        F.when(F.col("doc_id") <= mid, F.lit(1)).otherwise(F.lit(2))
        .cast("int").alias("batch"),
        "kept", "canonical_id")


def _q122_sql() -> str:
    from .text_dedup import _closure_sql, _neardup_edges_sql

    return f"""
WITH RECURSIVE
bnd AS (SELECT CAST(floor(2 * max(doc_id) / 3) AS BIGINT) AS b,
               CAST(floor((floor(2 * max(doc_id) / 3) + max(doc_id)) / 2)
                    AS BIGINT) AS mid
        FROM documents),
corpus0 AS MATERIALIZED (SELECT doc_id, text FROM documents
            WHERE doc_id <= (SELECT b FROM bnd)),
{_neardup_edges_sql('corpus0', 'c_')},
{_closure_sql('c_')},
kept0 AS MATERIALIZED (
  SELECT doc_id FROM corpus0
  WHERE doc_id NOT IN (SELECT node FROM c_comp WHERE comp <> node)
),
b1 AS (SELECT doc_id, text FROM documents
       WHERE doc_id > (SELECT b FROM bnd)
         AND doc_id <= (SELECT mid FROM bnd)),
uni1 AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM documents d JOIN kept0 USING (doc_id)
  UNION ALL
  SELECT doc_id, text FROM b1
),
{_neardup_edges_sql('uni1', 'u_')},
{_closure_sql('u_')},
v1 AS MATERIALIZED (
  SELECT d.doc_id,
         coalesce(c.comp, d.doc_id) = d.doc_id AS kept,
         coalesce(c.comp, d.doc_id) AS canonical_id
  FROM b1 d LEFT JOIN u_comp c ON c.node = d.doc_id
),
b2 AS (SELECT doc_id, text FROM documents
       WHERE doc_id > (SELECT mid FROM bnd)),
uni2 AS MATERIALIZED (
  SELECT doc_id, text FROM uni1
  JOIN (SELECT doc_id AS k FROM kept0
        UNION ALL
        SELECT doc_id FROM v1 WHERE kept) ON doc_id = k
  UNION ALL
  SELECT doc_id, text FROM b2
),
{_neardup_edges_sql('uni2', 'w_')},
{_closure_sql('w_')},
v2 AS (
  SELECT d.doc_id,
         coalesce(c.comp, d.doc_id) = d.doc_id AS kept,
         coalesce(c.comp, d.doc_id) AS canonical_id
  FROM b2 d LEFT JOIN w_comp c ON c.node = d.doc_id
)
SELECT doc_id, CAST(1 AS INT) AS batch, kept, canonical_id FROM v1
UNION ALL
SELECT doc_id, CAST(2 AS INT) AS batch, kept, canonical_id FROM v2
"""


def _q140_commit_batch(sess: SparkSession, store: str, bdf: DataFrame,
                       bid: int, centroids_path: str,
                       codebook_path: str) -> None:
    """One q140 micro-batch: frozen-model encode, then an EXACTLY-ONCE
    commit to the manifest-versioned postings store with the batch id
    as the transaction id — a replayed batch (foreachBatch is
    at-least-once; a crash after a partial first attempt re-runs it)
    finds ``("q140", bid)`` already at-or-below the manifest
    ledger's q140 entry and
    no-ops, so the store never double-counts a posting (the r11
    verdict's double-append finding). Any files a crashed attempt
    orphaned are unreferenced and reclaimed by vacuum. Module-level so
    the replay test can invoke it twice with the same ``bid``. The txn
    check runs first (Delta's read-txnVersion-before-work pattern) so a
    replay also skips the encode, not just the write."""
    from ..sources import versioned_store as vstore
    from .similarity import _ivfpq_encode, _spread_vectors

    if vstore.txn_committed(store, ("q140", bid)):
        return
    bvecs = _spread_vectors(sess, bdf)
    post = _ivfpq_encode(bvecs,
                         sess.read.parquet(centroids_path),
                         sess.read.parquet(codebook_path))
    vstore.commit_append(sess, store, post.select("id", "m", "code", "cell"),
                         stats_cols=("id", "cell"),
                         txn=("q140", bid))


def _ensure_q140_feed(spark: SparkSession,
                      sf_dir: str) -> tuple[str, set, int, int]:
    """Fingerprint-gated build of q140's two delta feed files plus the
    frozen base model they encode against (q122's cached-feed
    pattern; only the mtime pinning is per-run). Returns
    ``(feed_dir, batch-1 names, b, b2)``."""
    from ..sources.tables import load
    from .similarity import (_emb_vec_max, _ivfpq_base_index,
                             _spread_vectors)

    emb = load(spark, sf_dir, "embeddings")
    max_id = _emb_vec_max(spark, sf_dir)
    b = (2 * max_id) // 3
    b2 = b + (max_id - b + 1) // 2
    # ensure the frozen model is materialized (fingerprint-gated
    # itself; warm runs are three stat checks)
    vecs = _spread_vectors(spark, emb).persist()
    _ivfpq_base_index(spark, sf_dir, vecs, b)
    vecs.unpersist()  # the stream side re-reads per batch

    def build(root: str) -> dict:
        d1 = emb.filter((F.col("vec_id") > b) & (F.col("vec_id") <= b2))
        d2 = emb.filter(F.col("vec_id") > b2)
        return write_two_deliveries(root, root, d1.coalesce(1),
                                    lambda _n: d2.coalesce(1))

    feed, bounds = fixture(sf_dir, "q140_feed", table_fingerprint(
        sf_dir, ("embeddings",), params=f"q140_feed_v1_b{b}_b2{b2}"),
        build)
    return feed, set(bounds["first"]), b, b2


def q140_streaming_ann_ingest(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """ANN index maintenance from a VECTOR STREAM — q137's frozen-model
    encode driven by Structured Streaming, q122's lakehouse shape for
    the ANN side: new embeddings arrive as micro-batches, each batch is
    assigned + PQ-encoded against the frozen base-trained model read
    from the materialized cache (never retrained, base vectors never
    touched), and the postings commit to a manifest-versioned store
    (sources/versioned_store) with the batch id as the transaction id
    — see :func:`_q140_commit_batch` for the exactly-once contract.
    Cross-batch state is the store, not executor memory. The stream
    closes with a snapshot-preserving compaction (each micro-batch
    committed its own small files — the q118 backlog again),
    id-range-clustered so manifest-stats pruning survives it.

    Fixture: the base model comes from the shared derived cache
    (q134/q137's); the last 1/3 of vectors arrive as TWO mtime-ordered
    micro-batches split at q137's second-batch boundary, so the
    streamed store must end exactly at the state q137's batch chain
    commits. The oracle full-encodes the corpus with base-trained
    params and summarizes the same id range per (batch, cell) — a
    green row certifies every streamed vector's cell routing and code
    checksums, through the stream, the idempotent commits, AND the
    compaction.

    Scale shape: per batch, q134's delta-encode cost (broadcast-K
    argmin + Arrow codebook argmin ∝ batch) plus one manifest commit;
    compaction ∝ the accreted backlog. Batch-count-agnostic."""
    import shutil

    from ..sources import versioned_store as vstore

    base_dir, _ = scratch_base(sf_dir)
    store = os.path.join(base_dir, "q140_store")
    ckpt = os.path.join(base_dir, "q140_ckpt")
    # feed is fingerprint-cached; only the run-private state resets
    for d in (store, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    feed, first, b, b2 = _ensure_q140_feed(spark, sf_dir)
    # the frozen model's cache paths (foreachBatch re-reads them —
    # state comes from disk, not closures)
    centroids_path = os.path.join(base_dir, "ann_centroids")
    codebook_path = os.path.join(base_dir, "ann_codebook")
    # per-batch shuffle width sized to the DELTA (q122's rule): the
    # commit's shuffles (argmin agg, code join, store write) are all
    # batch-proportional
    run_available_now(
        replay_deliveries(spark, feed, first).writeStream
        .foreachBatch(lambda bdf, bid: _q140_commit_batch(
            bdf.sparkSession, store, bdf, bid,
            centroids_path, codebook_path))
        .option("checkpointLocation", ckpt),
        "q140_streaming_ann_ingest", shuffle_partitions=_state_width(feed))
    vstore.compact_latest(spark, store, STREAM_STORE_TARGET_BYTES,
                          cluster_by=("id",), stats_cols=("id", "cell"))
    st = vstore.read_version(spark, store, vstore.latest_version(store))
    return (st.groupBy(
                F.when(F.col("id") <= b2, F.lit(1)).otherwise(F.lit(2))
                .cast("int").alias("batch"),
                F.col("cell").cast("long").alias("cell"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.col("code") * F.col("code")).alias("code_sq_sum"),
                 F.sum("id").alias("id_sum")))


def _q140_sql() -> str:
    from .similarity import _ivfpq_full_encode_ctes
    b2 = "(SELECT b + (mx - b + 1) // 2 FROM bnd)"
    return f"""
WITH {_ivfpq_full_encode_ctes()}
SELECT CAST(CASE WHEN id <= {b2} THEN 1 ELSE 2 END AS INT) AS batch,
       cell,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(code * code) AS BIGINT) AS code_sq_sum,
       CAST(sum(id) AS BIGINT) AS id_sum
FROM post WHERE id > (SELECT b FROM bnd)
GROUP BY 1, 2
"""


QUERIES: dict[str, Query] = {
    "q46_streaming_tumbling": Query(q46_streaming_tumbling, _Q46_SQL),
    "q62_streaming_session_window": Query(q62_streaming_session_window, _Q62_SQL),
    "q73_streaming_stream_join": Query(q73_streaming_stream_join, _Q73_SQL),
    "q89_streaming_sliding_window": Query(q89_streaming_sliding_window,
                                          _q89_sql()),
    "q96_streaming_dedup": Query(q96_streaming_dedup, _Q96_SQL),
    "q122_streaming_incremental_dedup": Query(
        q122_streaming_incremental_dedup, _q122_sql()),
    "q106_streaming_stateful_hwm": Query(q106_streaming_stateful_hwm,
                                         _Q106_SQL),
    "q140_streaming_ann_ingest": Query(q140_streaming_ann_ingest,
                                       _q140_sql()),
}
