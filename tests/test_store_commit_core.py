"""The versioned store's single commit path (one CAS call site) and
min/max stats on date and timestamp columns (recorded as ISO-8601
strings and pruned exactly)."""
from __future__ import annotations

import ast
import datetime

from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    versioned_store as vstore)


def test_publish_cas_has_one_call_site():
    """Every manifest publishes through ONE transaction core: a verb
    that calls ``_publish_cas`` itself has forked its own claim →
    validate → publish loop, with its own retry and conflict rules."""
    with open(vstore.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    callers = [node for node in ast.walk(tree)
               if isinstance(node, ast.Call)
               and isinstance(node.func, ast.Name)
               and node.func.id == "_publish_cas"]
    assert len(callers) == 1, [c.lineno for c in callers]


def _dated(spark, lo: int, hi: int):
    """Rows ``lo..hi-1`` with ``d`` = 2024-01-01 + id days and ``ts`` =
    that day at 06:00 UTC, one file per call."""
    return (spark.range(lo, hi).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
        (F.lit("2024-01-01 06:00:00").cast("timestamp")
         + F.make_interval(F.lit(0), F.lit(0), F.lit(0),
                           F.col("id").cast("int"))).alias("ts"))
        .coalesce(1))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _between(col, lo, hi):
    return (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))


def test_temporal_stats_publish_and_prune_exactly(spark, tmp_path):
    """``stats_cols`` naming a date and a timestamp column publishes
    (the bounds used to break the manifest's JSON encoding after the
    files were staged) and records ISO-8601 date bounds; a pruned read
    with a date range opens only the overlapping files and returns
    exactly what the unpruned filter returns. (Spark writes timestamps
    as INT96, whose footers carry no min/max: those files record no
    ``ts`` range and stay conservatively open.)"""
    root = str(tmp_path / "dated")
    for lo in (0, 10, 20, 30):
        vstore.commit_append(spark, root, _dated(spark, lo, lo + 10),
                             stats_cols=("d", "ts"))
    v = vstore.latest_version(root)
    man = vstore.read_manifest(root, v)
    assert man["stats"][man["files"][0]]["d"] == ["2024-01-01",
                                                  "2024-01-10"]
    full = vstore.read_version(spark, root, v)

    lo, hi = datetime.date(2024, 1, 12), datetime.date(2024, 1, 18)
    df, opened, total = vstore.read_version_pruned(spark, root, v, "d",
                                                   lo, hi)
    assert (opened, total) == (1, 4)
    assert _rows(df.filter(_between("d", lo, hi))) == _rows(
        full.filter(_between("d", lo, hi)))
    assert df.filter(_between("d", lo, hi)).count() == 7

    # a timestamp bound against the date column: Spark compares the
    # date as midnight, so 2024-01-10 matches [01-10 00:00, 01-10
    # 00:00] — the file whose last day it is must stay open
    mid = datetime.datetime(2024, 1, 10, 0, 0)
    df, opened, _ = vstore.read_version_pruned(spark, root, v, "d",
                                               mid, mid)
    assert opened == 1
    assert _rows(df.filter(_between("d", mid, mid))) == _rows(
        full.filter(_between("d", mid, mid)))
    assert df.filter(_between("d", mid, mid)).count() == 1

    tlo = datetime.datetime(2024, 1, 8, 0, 0)
    thi = datetime.datetime(2024, 1, 12, 0, 0)
    df, _, _ = vstore.read_version_pruned(spark, root, v, "ts", tlo, thi)
    assert _rows(df.filter(_between("ts", tlo, thi))) == _rows(
        full.filter(_between("ts", tlo, thi)))
    assert df.filter(_between("ts", tlo, thi)).count() == 4


def test_timestamp_stats_from_staged_files_prune_exactly(spark, tmp_path):
    """Staged files written by Arrow carry timestamp footer stats: they
    record as UTC ISO-8601 strings and a timestamp range prunes to the
    overlapping files, exactly."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (LongType, StructField, StructType,
                                   TimestampType)

    root = str(tmp_path / "staged")
    os.makedirs(os.path.join(root, "data"))
    utc = datetime.timezone.utc
    names = []
    for day in (1, 11, 21):
        ts = [datetime.datetime(2024, 1, day + i, 6, tzinfo=utc)
              for i in range(10)]
        name = f"ext-p{os.getpid()}-{day}.parquet"
        pq.write_table(pa.table({
            "id": pa.array(range(day, day + 10), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
            os.path.join(root, "data", name))
        names.append(name)
    schema = StructType([StructField("id", LongType()),
                         StructField("ts", TimestampType())])
    v = vstore.commit_staged_files(root, names, stats_cols=("ts",),
                                   schema_json=schema.json())
    man = vstore.read_manifest(root, v)
    assert man["stats"][names[0]]["ts"] == ["2024-01-01T06:00:00.000000",
                                            "2024-01-10T06:00:00.000000"]
    full = vstore.read_version(spark, root, v)
    tlo = datetime.datetime(2024, 1, 8, 0, 0)
    thi = datetime.datetime(2024, 1, 12, 0, 0)
    df, opened, total = vstore.read_version_pruned(spark, root, v, "ts",
                                                   tlo, thi)
    assert (opened, total) == (2, 3)
    assert _rows(df.filter(_between("ts", tlo, thi))) == _rows(
        full.filter(_between("ts", tlo, thi)))
    assert df.filter(_between("ts", tlo, thi)).count() == 4
