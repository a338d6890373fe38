"""Loaders for the driver-provided testdata star schema (TESTDATA.md).

Parquet scans are the engine's primary source (reference's table scans,
SURVEY.md §2.1 S4). Catalyst pushes filters and prunes columns at the
scan — callers should filter/select on the returned DataFrame and let
pushdown happen, never pre-materialize.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Columns stored as INT64 TIMESTAMP(NANOS) in the driver parquet. Spark's
# reader has no nanos timestamp type; with spark.sql.legacy.parquet.
# nanosAsLong they arrive as long and are converted here by integer
# division (ns ≈ 1.7e18 exceeds double's 2^53 exact range — `div`, never
# `/`). Truncation matches DuckDB's nanos→micros behavior.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions we didn't build (the driver
    passes its own SparkSession to the entry points): nanos-parquet
    readability, no TIMESTAMP_NTZ inference (plain `timestamp[us]`
    parquet columns must arrive as TIMESTAMP so `unix_micros` /
    `withWatermark` work), and UTC timestamps (oracle comparability).
    All are runtime-settable SQL confs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the versioned-store batch reader overrides pushFilters; Spark
    # refuses to run an overriding reader with this off
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. At cluster scale the same call reads a
    multi-file parquet dataset; nothing here assumes single-file.

    Time columns are normalized to TIMESTAMP regardless of the parquet
    encoding the driver ships: INT64 TIMESTAMP(NANOS) arrives as bigint
    (nanosAsLong) and is integer-divided to micros; `timestamp[us],
    isAdjustedToUTC=false` would arrive as TIMESTAMP_NTZ if inference
    were on, so it's disabled above AND cast here as a belt-and-braces
    (session TZ is pinned UTC, so NTZ→LTZ preserves wall-clock values
    and matches DuckDB's naive reading)."""
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANO_TS_COLS.get(name, ()):
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for t in TESTDATA_TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
