"""Batch halves of the ``versioned_store`` data source
(``sources/store_batch.py``): ``spark.read.format(...)`` with
versionAsOf + plan-time stats/bloom pruning, and
``df.write.format(...)`` append/overwrite with the idempotent txn
ledger — equality pinned against the store's native readers on every
feature the store supports (column mapping, deletion vectors, schema
evolution, row tracking, constraints)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (EqualTo, GreaterThan, In,
                                    LessThan)

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    versioned_store as vstore)
from etl_pipeline_stock_market_data_postgresql_spark.sources.store_batch import (
    StoreBatchReader)
from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
    store_sink)

PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"


def _ids(spark, lo, hi, parts=1):
    df = spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("x"))
    return df.repartitionByRange(parts, "id") if parts > 1 \
        else df.coalesce(1)


def _bread(spark, root, version=None, push=True):
    store_sink.register(spark)
    r = spark.read.format("versioned_store").option("path", root)
    if version is not None:
        r = r.option("versionAsOf", version)
    if not push:
        r = r.option("filterPushdown", "false")
    return r.load()


def _bwrite(df, root, mode="append", stats=("id",), txn=None,
            **opts):
    store_sink.register(df.sparkSession)
    w = (df.write.format("versioned_store").option("path", root)
         .option("statsCols", ",".join(stats)))
    if txn is not None:
        w = (w.option("txnAppId", txn[0])
             .option("txnVersion", str(txn[1])))
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode(mode).save()


def _same(a, b):
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


# --- reader ------------------------------------------------------------------

def test_batch_read_equals_read_version(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 500, parts=3),
                         stats_cols=("id",))
    _same(_bread(spark, root), vstore.read_version(spark, root, 1))


def test_batch_read_version_as_of(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 100))
    vstore.commit_append(spark, root, _ids(spark, 100, 150))
    vstore.commit_delete(spark, root, F.col("id") < 10)
    for v in (1, 2, 3):
        _same(_bread(spark, root, version=v),
              vstore.read_version(spark, root, v))
    _same(_bread(spark, root), vstore.read_version(spark, root, 3))


def test_batch_read_missing_version_raises(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    with pytest.raises(Exception, match="manifest|No such file|99"):
        _bread(spark, root, version=99).collect()


def test_batch_read_mapped_store_after_rename(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 100),
                         stats_cols=("id",), column_mapping=True)
    vstore.rename_column(spark, root, "x", "z")
    vstore.commit_append(spark, root, spark.range(100, 120).select(
        F.col("id"), (F.col("id") * 10).alias("z")).coalesce(1))
    out = _bread(spark, root)
    assert out.columns == ["id", "z"]
    _same(out, vstore.read_version(spark, root, 3))


def test_batch_read_applies_deletion_vectors(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 200, parts=2))
    vstore.commit_delete_mor(spark, root, F.col("id") % 7 == 0)
    out = _bread(spark, root)
    _same(out, vstore.read_version(spark, root, 2))
    assert out.filter(F.col("id") % 7 == 0).count() == 0


def test_batch_read_null_fills_pre_evolution_files(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 50))
    vstore.commit_append(
        spark, root,
        spark.range(50, 60).select(
            F.col("id"), (F.col("id") * 10).alias("x"),
            F.lit("en").alias("lang")).coalesce(1),
        allow_evolution=True)
    out = _bread(spark, root)
    _same(out, vstore.read_version(spark, root, 2))
    assert out.filter(F.col("lang").isNull()).count() == 50


def test_batch_read_row_tracked_store(spark, tmp_path):
    """Row ids are DERIVED metadata (base + position), not physical
    columns — the batch scan surfaces the logical schema only."""
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 80),
                         row_ids=True)
    vstore.commit_update_mor(spark, root, F.col("id") < 5,
                             {"x": F.lit(0)})
    out = _bread(spark, root)
    assert out.columns == ["id", "x"]
    _same(out, vstore.read_version(spark, root, 2))


# --- pruning -----------------------------------------------------------------

def _ranged_store(spark, root, n_files=4, per=250):
    """Deterministic layout: one file per commit, disjoint id ranges
    (AQE's partition coalescing makes repartitionByRange file counts
    environment-dependent; per-commit files are exact)."""
    for i in range(n_files):
        vstore.commit_append(
            spark, root, _ids(spark, i * per, (i + 1) * per),
            stats_cols=("id",))
    return vstore.latest_version(root)


def test_pushdown_prunes_files_by_range(spark, tmp_path):
    root = str(tmp_path / "s")
    v = _ranged_store(spark, root)  # files: [0,250) ... [750,1000)
    r = StoreBatchReader(root, v)
    rest = list(r.pushFilters([LessThan(("id",), 100)]))
    assert len(rest) == 1  # every filter handed back for re-application
    parts = r.partitions()
    assert r.plan_report["n_total"] == 4
    assert len(parts) == 1
    # end-to-end values exact through the pruned scan
    got = (_bread(spark, root).filter(F.col("id") < 100)
           .agg(F.sum("x")).first()[0])
    assert got == sum(i * 10 for i in range(100))


def test_pushdown_range_conjunction_and_in(spark, tmp_path):
    root = str(tmp_path / "s")
    v = _ranged_store(spark, root)
    r = StoreBatchReader(root, v)
    list(r.pushFilters([GreaterThan(("id",), 300),
                        LessThan(("id",), 400)]))
    assert len(r.partitions()) == 1
    r2 = StoreBatchReader(root, v)
    list(r2.pushFilters([In(("id",), (10, 20, 980))]))
    # IN folds to [min, max]: spans every file's range
    assert len(r2.partitions()) == 4
    r3 = StoreBatchReader(root, v)
    list(r3.pushFilters([In(("id",), (10, 20))]))
    assert len(r3.partitions()) == 1


def test_pushdown_prunes_on_date_bounds(spark, tmp_path):
    """Spark pushes a date filter as ``datetime.date``; the manifest
    records date bounds as ISO strings. The shared planner compares
    them in ISO form, so the scan opens only the overlapping file."""
    import datetime

    root = str(tmp_path / "s")
    for lo in (0, 10, 20, 30):  # 10 days per append from 2024-01-01
        vstore.commit_append(spark, root, spark.range(lo, lo + 10).select(
            "id", F.date_add(F.lit("2024-01-01").cast("date"),
                             F.col("id").cast("int")).alias("d"))
            .coalesce(1), stats_cols=("id", "d"))
    lo, hi = datetime.date(2024, 1, 31), datetime.date(2024, 2, 5)
    r = StoreBatchReader(root, 4)
    list(r.pushFilters([GreaterThan(("d",), lo), LessThan(("d",), hi)]))
    parts = r.partitions()
    assert (len(parts), r.plan_report["n_total"]) == (1, 4)
    got = _bread(spark, root).filter(
        (F.col("d") > F.lit(lo)) & (F.col("d") < F.lit(hi)))
    assert sorted(x.id for x in got.collect()) == [31, 32, 33, 34]


def test_pushdown_segment_level_skip(spark, tmp_path):
    """Each append is its own manifest segment; a filter inside one
    append's range skips the other segments WITHOUT reading their
    segment files (n_total still counts their files)."""
    root = str(tmp_path / "s")
    for lo in (0, 1000, 2000):
        for half in (0, 500):
            vstore.commit_append(
                spark, root,
                _ids(spark, lo + half, lo + half + 500),
                stats_cols=("id",))
    r = StoreBatchReader(root, 6)
    list(r.pushFilters([GreaterThan(("id",), 2600)]))
    parts = r.partitions()
    assert r.plan_report["n_total"] == 6
    assert len(parts) == 1  # only the [2500, 3000) file survives


def test_pushdown_bloom_point_lookup(spark, tmp_path):
    """Interleaved keys defeat min/max pruning (both files span the
    whole domain); the per-file bloom sidecar still skips the file
    that cannot contain the key."""
    root = str(tmp_path / "s")
    even = spark.range(0, 500).select(
        (F.col("id") * 2).alias("id"), F.lit(1).alias("x")).coalesce(1)
    odd = spark.range(0, 500).select(
        (F.col("id") * 2 + 1).alias("id"),
        F.lit(2).alias("x")).coalesce(1)
    vstore.commit_append(spark, root, even, stats_cols=("id",),
                         bloom_cols=("id",))
    vstore.commit_append(spark, root, odd, stats_cols=("id",),
                         bloom_cols=("id",))
    r = StoreBatchReader(root, 2)
    list(r.pushFilters([EqualTo(("id",), 400)]))  # even key
    parts = r.partitions()
    assert r.plan_report["n_total"] == 2
    assert len(parts) == 1
    got = (_bread(spark, root).filter(F.col("id") == 400)
           .select("x").first()[0])
    assert got == 1


def test_pushdown_mapped_store_logical_predicate(spark, tmp_path):
    """Predicates arrive under LOGICAL names; stats are keyed
    PHYSICAL on mapped stores — the planner maps before pruning."""
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 100),
                         stats_cols=("id", "x"), column_mapping=True)
    vstore.commit_append(spark, root, _ids(spark, 100, 400),
                         stats_cols=("id", "x"))
    vstore.rename_column(spark, root, "x", "z")
    r = StoreBatchReader(root, 3)
    list(r.pushFilters([LessThan(("z",), 900)]))  # z = old x = id*10
    parts = r.partitions()
    assert r.plan_report["n_total"] == 2
    assert len(parts) == 1
    got = (_bread(spark, root).filter(F.col("z") < 1000)
           .agg(F.count(F.lit(1))).first()[0])
    assert got == 100


def test_pushdown_unknown_and_mixed_filters_never_drop_rows(
        spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 100, parts=2),
                         stats_cols=("id",))
    out = (_bread(spark, root)
           .filter((F.col("id") < 30) | (F.col("x") > 900)))
    # OR is not pushed (Spark sends only top-level conjuncts):
    # the scan must still return every matching row
    assert out.count() == 30 + (100 - 91)


def test_empty_prune_preserves_schema(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 100),
                         stats_cols=("id",))
    out = _bread(spark, root).filter(F.col("id") > 10_000)
    assert out.count() == 0
    assert out.columns == ["id", "x"]


def test_plain_reader_used_when_conf_off(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 100))
    old = spark.conf.get(PUSHDOWN_CONF)
    try:
        spark.conf.set(PUSHDOWN_CONF, "false")
        # the pushdown reader is refused by Spark under conf-off...
        with pytest.raises(Exception,
                           match="PUSHDOWN_DISABLED|filterPushdown"):
            _bread(spark, root).collect()
        # ...while the opt-out variant scans fine
        out = _bread(spark, root, push=False)
        assert out.count() == 100
    finally:
        spark.conf.set(PUSHDOWN_CONF, old)


# --- writer ------------------------------------------------------------------

def test_batch_write_append_then_overwrite(spark, tmp_path):
    root = str(tmp_path / "s")
    _bwrite(_ids(spark, 0, 100, parts=2), root)
    _bwrite(_ids(spark, 100, 150), root)
    assert vstore.latest_version(root) == 2
    assert vstore.read_version(spark, root, 2).count() == 150
    _bwrite(_ids(spark, 0, 7), root, mode="overwrite")
    assert vstore.read_version(spark, root, 3).count() == 7
    # time travel across the overwrite
    assert vstore.read_version(spark, root, 2).count() == 150
    ops = [r["op"] for r in vstore.history(spark, root)
           .orderBy("version").collect()]
    assert ops == ["append", "append", "rewrite"]


def test_batch_write_txn_replay_noops(spark, tmp_path):
    root = str(tmp_path / "s")
    _bwrite(_ids(spark, 0, 50), root, txn=("app", 1))
    _bwrite(_ids(spark, 0, 50), root, txn=("app", 1))  # replay
    assert vstore.latest_version(root) == 1
    assert vstore.read_version(spark, root, 1).count() == 50
    _bwrite(_ids(spark, 50, 60), root, txn=("app", 2))
    assert vstore.latest_version(root) == 2


def test_batch_write_txn_requires_both_options(spark, tmp_path):
    root = str(tmp_path / "s")
    with pytest.raises(Exception, match="txnAppId and\\s+txnVersion"):
        _bwrite(_ids(spark, 0, 5), root,
                **{"txnAppId": "lonely"})


def test_batch_write_into_mapped_store(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 10),
                         stats_cols=("id",), column_mapping=True)
    vstore.rename_column(spark, root, "x", "z")
    _bwrite(spark.range(10, 20).select(
        F.col("id"), (F.col("id") * 10).alias("z")).coalesce(1), root)
    out = vstore.read_version(spark, root, 3)
    assert out.columns == ["id", "z"]
    assert out.count() == 20
    # round-trip through the batch reader too
    _same(_bread(spark, root), out)


def test_batch_write_constraint_violation_rejected(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    vstore.add_check_constraint(spark, root, "x_pos", "x >= 0")
    with pytest.raises(Exception, match="x_pos|onstraint"):
        _bwrite(spark.range(0, 3).select(
            F.col("id"),
            F.lit(-1).cast("long").alias("x")).coalesce(1), root)
    assert vstore.latest_version(root) == 2  # nothing published


def test_batch_write_row_tracked_ids_stay_unique(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 40),
                         row_ids=True)
    _bwrite(_ids(spark, 40, 70), root)
    rows = vstore.read_version_rows(spark, root,
                                    vstore.latest_version(root))
    assert rows.count() == 70
    assert rows.select("_row_id").distinct().count() == 70


def test_batch_overwrite_keeps_row_hwm_monotone(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 40),
                         row_ids=True)
    _bwrite(_ids(spark, 0, 5), root, mode="overwrite")
    man = vstore.read_manifest(root, 2)
    assert man.get("row_tracking")
    assert int(man["row_hwm"]) >= 45  # never reuses reclaimed ids


def test_batch_write_stats_enable_pruning(spark, tmp_path):
    """Files staged by the BATCH writer carry footer stats in the
    manifest — the reader's pruning works on a store built purely
    through the public write API."""
    root = str(tmp_path / "s")
    _bwrite(_ids(spark, 0, 500), root)
    _bwrite(_ids(spark, 500, 1000), root)
    r = StoreBatchReader(root, 2)
    list(r.pushFilters([LessThan(("id",), 100)]))
    parts = r.partitions()
    assert r.plan_report["n_total"] == 2
    assert len(parts) == 1


def test_batch_append_of_empty_frame_is_noop(spark, tmp_path):
    """An un-ledgered append of an empty frame publishes nothing; a
    txn-keyed one records its ledger entry; an empty OVERWRITE is a
    truncate and must publish."""
    root = str(tmp_path / "s")
    _bwrite(_ids(spark, 0, 10), root)
    empty = _ids(spark, 0, 10).filter(F.lit(False))
    _bwrite(empty, root)
    assert vstore.latest_version(root) == 1  # no contentless version
    _bwrite(empty, root, txn=("app", 7))
    assert vstore.latest_version(root) == 2  # ledger entry recorded
    assert vstore.txn_committed(root, ("app", 7))
    _bwrite(empty, root, mode="overwrite")
    assert vstore.latest_version(root) == 3
    assert vstore.read_version(spark, root, 3).count() == 0
