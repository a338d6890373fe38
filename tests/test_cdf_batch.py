"""Batch change-feed range reads (``spark.read.format("store_cdf")``
with startingVersion/endingVersion — Delta's table_changes shape):
range semantics, signed-aggregation invariants against every snapshot
prefix, schema-era pinning, and parity with the streaming source over
the same chain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    versioned_store as vstore)
from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
    cdf_source)


def _ids(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("x")).coalesce(1)


def _chain(spark, root):
    """append, append, MoR delete, CoW update, restore — one of each
    verb class the feed distinguishes."""
    vstore.commit_append(spark, root, _ids(spark, 0, 60),
                         stats_cols=("id",))
    vstore.commit_append(spark, root, _ids(spark, 60, 100))
    vstore.commit_delete_mor(spark, root, F.col("id") % 7 == 0)
    vstore.commit_update(spark, root, F.col("id") % 11 == 0,
                         {"x": F.lit(-5).cast("long")})
    vstore.restore(spark, root, 2)
    return vstore.latest_version(root)


def _sign():
    return F.when(F.col("_change_type") == "insert",
                  F.lit(1)).otherwise(F.lit(-1))


def test_full_feed_signed_prefix_equals_every_snapshot(spark,
                                                       tmp_path):
    root = str(tmp_path / "s")
    last = _chain(spark, root)
    feed = cdf_source.read_change_feed(spark, root)
    for v in range(1, last + 1):
        prefix = feed.filter(F.col("_commit_version") <= v)
        n, xs = prefix.agg(
            F.sum(_sign()), F.sum(_sign() * F.col("x"))).first()
        snap = vstore.read_version(spark, root, v)
        sn, sxs = snap.agg(F.count(F.lit(1)), F.sum("x")).first()
        assert (n, xs) == (sn, sxs), f"version {v}"


def test_bounded_range_equals_filtered_full_feed(spark, tmp_path):
    root = str(tmp_path / "s")
    _chain(spark, root)
    full = cdf_source.read_change_feed(spark, root)
    sub = cdf_source.read_change_feed(spark, root,
                                      starting_version=1,
                                      ending_version=3)
    want = full.filter(F.col("_commit_version").between(2, 3))
    assert sub.exceptAll(want).count() == 0
    assert want.exceptAll(sub).count() == 0


def test_empty_range_preserves_schema(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    out = cdf_source.read_change_feed(spark, root,
                                      starting_version=1,
                                      ending_version=1)
    assert out.count() == 0
    assert out.columns == ["id", "x", "_change_type",
                           "_commit_version"]


def test_schema_era_pinning_across_evolution(spark, tmp_path):
    """A range ending BEFORE a schema evolution reads under its own
    era's schema; a range crossing it NULL-fills pre-evolution
    files."""
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 20))
    vstore.commit_append(
        spark, root,
        spark.range(20, 30).select(
            F.col("id"), (F.col("id") * 10).alias("x"),
            F.lit("en").alias("lang")).coalesce(1),
        allow_evolution=True)
    old_era = cdf_source.read_change_feed(spark, root,
                                          ending_version=1)
    assert old_era.columns == ["id", "x", "_change_type",
                               "_commit_version"]
    new_era = cdf_source.read_change_feed(spark, root)
    assert "lang" in new_era.columns
    assert new_era.filter((F.col("_commit_version") == 1)
                          & F.col("lang").isNull()).count() == 20


def test_mapped_store_feed_under_logical_names(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 30),
                         column_mapping=True)
    vstore.rename_column(spark, root, "x", "z")
    vstore.commit_append(spark, root, spark.range(30, 40).select(
        F.col("id"), (F.col("id") * 10).alias("z")).coalesce(1))
    feed = cdf_source.read_change_feed(spark, root)
    assert feed.columns[:2] == ["id", "z"]
    assert feed.agg(F.sum(_sign())).first()[0] == 40


def test_batch_matches_streaming_feed(spark, tmp_path):
    root = str(tmp_path / "s")
    _chain(spark, root)
    batch = cdf_source.read_change_feed(spark, root)
    out = str(tmp_path / "feed")
    q = (cdf_source.read_change_feed_stream(spark, root)
         .writeStream.trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .foreachBatch(lambda bdf, bid:
                       bdf.write.mode("append").parquet(out))
         .start())
    q.awaitTermination()
    streamed = spark.read.parquet(out)
    assert batch.exceptAll(streamed).count() == 0
    assert streamed.exceptAll(batch).count() == 0


def test_ending_version_respects_2pc_invisibility(spark, tmp_path):
    """Default endingVersion resolves through latest_version — an
    in-doubt prepared top blocks exactly like every other read."""
    import os

    root = str(tmp_path / "s")
    txlog = str(tmp_path / "txlog")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    # hand-prepare v2: pending under a LIVE coordinator (this
    # process) with no decision record → in-doubt (the r15 pattern)
    txid = f"tx-p{os.getpid()}-cdfb"
    vstore._commit(spark, root, _ids(spark, 10, 20), carry="prev",
                   stats_cols=("id",), txn=None, op="append",
                   pending_tx=(os.path.abspath(txlog), txid))
    # the InDoubtTransactionError surfaces wrapped by the Python
    # data-source runner (type is lost across the boundary; the
    # message and the blocking behavior are the contract)
    with pytest.raises(Exception, match="in-doubt"):
        cdf_source.read_change_feed(spark, root).collect()
    # explicit ending at the last decided version still reads
    ok = cdf_source.read_change_feed(spark, root, ending_version=1)
    assert ok.count() == 10


def test_feed_after_drop_column_evolution(spark, tmp_path):
    """An evolving append that drops a column the first commit recorded
    NOT NULL feeds that column as NULL — the feed is declared under the
    relaxed schema every snapshot read uses, on the batch range read
    and on the stream alike."""
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, spark.range(0, 5).select(
        "id", (F.col("id") * 10).alias("x")).coalesce(1))
    vstore.commit_append(spark, root, spark.range(0, 3).select(
        (F.col("id") + 100).alias("x")).coalesce(1),
        allow_evolution=True)
    want = sorted([(i, i * 10, 1) for i in range(5)]
                  + [(None, 100 + i, 2) for i in range(3)],
                  key=lambda r: (r[2], r[1]))

    def rows(df):
        return sorted(((r["id"], r["x"], r["_commit_version"])
                       for r in df.collect()),
                      key=lambda r: (r[2], r[1]))

    assert vstore.read_version(spark, root, 2).filter(
        F.col("id").isNull()).count() == 3
    assert rows(cdf_source.read_change_feed(spark, root)) == want
    out = str(tmp_path / "feed")
    q = (cdf_source.read_change_feed_stream(spark, root)
         .writeStream.trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .foreachBatch(lambda bdf, bid:
                       bdf.write.mode("append").parquet(out))
         .start())
    q.awaitTermination()
    assert rows(spark.read.parquet(out)) == want


def _leaf_scans(plan) -> set[str]:
    """Class names of the leaves of a physical plan, through adaptive
    query stages and reused exchanges."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _leaf_scans(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _leaf_scans(plan.plan())
    if name == "ReusedExchangeExec":
        return _leaf_scans(plan.child())
    if name == "BatchScanExec":
        return {f"BatchScanExec[{plan.scan().getClass().getSimpleName()}]"}
    kids = plan.children()
    if kids.isEmpty():
        return {name}
    out = set()
    it = kids.iterator()
    while it.hasNext():
        out |= _leaf_scans(it.next())
    return out


def test_batch_feed_is_a_native_plan(spark, tmp_path):
    """The batch feed over every verb class scans parquet (and local
    position relations) in Spark: no Python data-source scan."""
    root = str(tmp_path / "s")
    _chain(spark, root)
    feed = cdf_source.read_change_feed(spark, root)
    feed.collect()
    leaves = _leaf_scans(feed._jdf.queryExecution().executedPlan())
    assert "FileSourceScanExec" in leaves
    assert leaves <= {"FileSourceScanExec", "LocalTableScanExec"}, leaves


def test_in_doubt_top_raises_its_own_type_before_any_job(spark,
                                                         tmp_path):
    """Reading past an in-doubt prepared top raises the store's own
    InDoubtTransactionError from the driver-side planning, before any
    Spark job runs."""
    import os

    root = str(tmp_path / "s")
    txlog = str(tmp_path / "txlog")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    txid = f"tx-p{os.getpid()}-cdfn"
    vstore._commit(spark, root, _ids(spark, 10, 20), carry="prev",
                   stats_cols=("id",), txn=None, op="append",
                   pending_tx=(os.path.abspath(txlog), txid))
    sc = spark.sparkContext
    group = f"cdf-in-doubt-{txid}"
    sc.setJobGroup(group, "batch change feed past an in-doubt top")
    try:
        with pytest.raises(vstore.InDoubtTransactionError):
            cdf_source.read_change_feed(spark, root)
        with pytest.raises(vstore.InDoubtTransactionError):
            cdf_source.read_change_feed(spark, root, ending_version=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_distributed_dv_batch_feed_matches_streaming_feed(
        spark, tmp_path, monkeypatch):
    """With every deletion vector read by the distributed sidecar
    scan, the batch feed still equals the streaming feed."""
    root = str(tmp_path / "s")
    _chain(spark, root)
    monkeypatch.setattr(vstore, "_DV_DRIVER_BYTES", 0)
    batch = cdf_source.read_change_feed(spark, root)
    out = str(tmp_path / "feed")
    q = (cdf_source.read_change_feed_stream(spark, root)
         .writeStream.trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .foreachBatch(lambda bdf, bid:
                       bdf.write.mode("append").parquet(out))
         .start())
    q.awaitTermination()
    streamed = spark.read.parquet(out)
    assert batch.exceptAll(streamed).count() == 0
    assert streamed.exceptAll(batch).count() == 0
