"""Idempotent (conflict-ignoring) append + incremental watermark filter.

This is the heart of the reference's semantics (SURVEY.md §2.2 K3, §2.4
F2): the reference achieves idempotency with PK-dedup at write time —
PostgreSQL ``INSERT ... ON CONFLICT DO NOTHING`` (``main_parallel.py:285``)
/ DuckDB ``INSERT OR IGNORE`` (``main_duckdb.py:123``) — and avoids
re-reading old rows with a per-(symbol, table) high-water mark
(``check_last_date``, ``main_parallel.py:206-218``).

Spark has no native upsert, so we compose it from shuffle-aware builtins:

1. ``dropDuplicates(pk)`` within the incoming batch (in-batch conflicts);
2. ``left_anti`` join against the target on the PK (cross-batch conflicts);
3. append.

Scale notes (100 TB design):
- The anti-join would be a full shuffle of the *target* if done naively.
  ``antijoin_new_rows`` therefore first prunes the target scan with the
  batch's key bounds (min/max of the time column + distinct symbols) so
  partition pruning + parquet min/max skipping keep the target side
  proportional to the batch's key range, not the table's history.
- The watermark pre-filter (``filter_newer_than_watermark``) is computed
  as ONE grouped aggregation over all keys (``groupBy(symbol).max(time)``)
  instead of the reference's N point queries — one pass, map-side partial
  aggregation, then a broadcast join back against the (tiny, one row per
  symbol) watermark table.
- When the anti-join is skipped: a row strictly newer than its key's
  watermark cannot match a stored PK if the PK is exactly (watermark
  key, time column), so after ``filter_newer_than_watermark`` in-batch
  dedup alone is conflict-free. ``pipeline.StockStore.ingest`` derives
  that from ``schemas.PRIMARY_KEYS``/``TIME_COLUMNS`` and then calls
  ``dedup_within_batch`` only; it saves the target probe and the bounds
  action. Without the watermark (or with any other PK shape) the
  anti-join stays: it is what takes older rows absent from the target.
- Order-independence: the reference's sequential variants `break` on the
  first already-seen row and rely on API descending order
  (``main.py:137-140``). Sets in Spark are unordered; the anti-join gives
  the order-independent equivalent (SURVEY.md §2.7 O2 — intent, not letter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dedup_within_batch(batch: DataFrame, pk_cols: list[str]) -> DataFrame:
    """In-batch PK dedup (first conflict-wins is arbitrary, matching the
    reference where the DB keeps whichever arrived first)."""
    return batch.dropDuplicates(pk_cols)


def read_watermarks(target: DataFrame, key_cols: list[str], time_col: str) -> DataFrame:
    """Per-key high-water marks in one pass: the grouped form of the
    reference's ``SELECT MAX(time) WHERE symbol = ?`` loop."""
    return target.groupBy(*key_cols).agg(F.max(time_col).alias("high_water_mark"))


def filter_newer_than_watermark(batch: DataFrame, watermarks: DataFrame,
                                key_cols: list[str], time_col: str) -> DataFrame:
    """Keep rows strictly newer than their key's stored max (reference
    skips rows ``<=`` last date, ``main_parallel.py:265-266``). Keys with
    no watermark (new symbols) pass through — the left join leaves NULL
    and the comparison-or-null predicate keeps them."""
    wm = F.broadcast(watermarks)  # one row per key: always broadcastable
    joined = batch.join(wm, key_cols, "left")
    kept = joined.filter(
        F.col("high_water_mark").isNull() | (F.col(time_col) > F.col("high_water_mark"))
    )
    return kept.drop("high_water_mark")


def antijoin_new_rows(batch: DataFrame, target: DataFrame, pk_cols: list[str],
                      time_col: str | None = None,
                      time_determined_by_pk: bool = False) -> DataFrame:
    """Rows of ``batch`` whose PK is absent from ``target`` — the
    ``ON CONFLICT DO NOTHING`` set. With ``time_col``, prune the target
    scan to the batch's time range first (parquet min/max + partition
    pruning make the probe side cheap at scale).

    SOUNDNESS PRECONDITION: the range prune only sees target rows whose
    ``time_col`` falls inside the batch's [min, max] — so a PK that can
    recur with a *different* time value would dodge the probe and be
    appended twice. The prune is therefore refused unless ``time_col``
    is part of the PK, or the caller asserts via
    ``time_determined_by_pk=True`` that equal PKs always carry equal
    time values (e.g. an event_id that embeds its timestamp)."""
    probe = target
    if time_col is not None:
        if time_col not in pk_cols and not time_determined_by_pk:
            raise ValueError(
                f"time-range pruning on {time_col!r} is unsound: it is not in "
                f"pk_cols {pk_cols} — a matching PK outside the batch's time "
                "range would be missed and duplicated. Pass "
                "time_determined_by_pk=True only if equal PKs imply equal "
                f"{time_col!r} values.")
        bounds = batch.agg(F.min(time_col).alias("lo"), F.max(time_col).alias("hi")).first()
        if bounds and bounds["lo"] is not None:
            probe = target.filter(
                (F.col(time_col) >= F.lit(bounds["lo"])) & (F.col(time_col) <= F.lit(bounds["hi"]))
            )
    return batch.join(probe.select(*pk_cols), pk_cols, "left_anti")


def idempotent_append(batch: DataFrame, target: DataFrame, pk_cols: list[str],
                      time_col: str | None = None,
                      time_determined_by_pk: bool = False) -> DataFrame:
    """Full conflict-ignoring insert pipeline: in-batch dedup → anti-join
    vs target → the rows to append. Returns the delta (caller appends it);
    appending the result twice is a no-op the second time, which is the
    reference's idempotency property (SURVEY.md §5 golden test)."""
    deduped = dedup_within_batch(batch, pk_cols)
    return antijoin_new_rows(deduped, target, pk_cols, time_col,
                             time_determined_by_pk)


def validate_foreign_key(facts: DataFrame, dimension: DataFrame,
                         fk_cols: list[str]) -> DataFrame:
    """FK containment check (reference FOREIGN KEY + load order,
    ``main_parallel.py:179``, ``:414-422``): returns violating fact rows;
    empty result == constraint holds. Dimension side is broadcast."""
    return facts.join(F.broadcast(dimension.select(*fk_cols)), fk_cols, "left_anti")
