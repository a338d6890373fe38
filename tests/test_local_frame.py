"""``session.local_frame``: every driver-side frame the package builds
from Python rows is an Arrow local relation with the schema, rows and
nullability that ``createDataFrame(<list>)`` gave it, planned as a
``LocalTableScan`` (no PythonRDD job)."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import types as T

from etl_pipeline_stock_market_data_postgresql_spark import schemas
from etl_pipeline_stock_market_data_postgresql_spark.pipeline import StockStore
from etl_pipeline_stock_market_data_postgresql_spark.session import local_frame
from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    versioned_store as vstore)
from etl_pipeline_stock_market_data_postgresql_spark.streaming.cdf_source \
    import _feed_schema

_HISTORY = T.StructType([
    T.StructField("version", T.LongType(), False),
    T.StructField("op", T.StringType(), True),
    T.StructField("n_new_files", T.IntegerType(), True),
    T.StructField("n_live_files", T.IntegerType(), True),
    T.StructField("n_txn_apps", T.IntegerType(), False)])

#: the schema of every package site that builds a frame from rows
SITE_SCHEMAS = {
    **{f"pipeline.read:{t}": s for t, s in schemas.TABLES.items()},
    "pipeline.ensure_companies": schemas.COMPANIES,
    "versioned_store.history": _HISTORY,
    "versioned_store.read_version_rows": T.StructType(
        [T.StructField("id", T.LongType(), False)]).add(
            vstore._ROW_ID, T.LongType()),
    "versioned_store.dv_positions": "_dv_fn string, _dv_ri long",
    "versioned_store.dv_name_map": "_dv_sidecar string, _dv_fn string",
    "versioned_store.row_id_bases": "_rt_f string, _rt_base long",
    "cdf_source.empty_range": _feed_schema(T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("x", T.DoubleType(), True)]).jsonValue()),
    "training_ops.q116_empty": (
        "doc_id bigint, n_tokens bigint, n_stop bigint, pred_quality double,"
        " w0 double, w1 double, w2 double"),
    "training_ops.bpe_merges": ("merge_rank int, lhs string, rhs string,"
                                " merged string, pair_count long"),
    "dedup.cc_driver_local": "node bigint, comp bigint",
    "compaction.plan": "company_symbol_s string, bins int",
    "storage.version_rollup": ("store string, version int, op string, "
                               "n_rows long, key_sum long, value_sum long"),
    "storage.read_cert": ("version int, n_rows long, id_sum long, "
                          "value_q_sum long, n_corrected long"),
    "storage.history_row": ("phase string, op string, n_rows long,"
                            " sum_value double"),
    "storage.snapshot_counts": ("phase string, n_rows long, id_min long,"
                                " id_max long"),
}

_SAMPLE = {
    T.LongType: 7, T.IntegerType: 3, T.StringType: "x", T.DoubleType: 1.5,
    T.DateType: datetime.date(2024, 1, 2),
    T.TimestampType: datetime.datetime(2024, 1, 2, 3, 4, 5,
                                       tzinfo=datetime.timezone.utc),
}


def _sample(field: T.StructField):
    if isinstance(field.dataType, T.DecimalType):
        return decimal.Decimal(1).scaleb(-field.dataType.scale)
    return _SAMPLE[type(field.dataType)]


def _leaves(plan) -> set[str]:
    kids = plan.children()
    if kids.isEmpty():
        return {plan.getClass().getSimpleName()}
    out = set()
    it = kids.iterator()
    while it.hasNext():
        out |= _leaves(it.next())
    return out


@pytest.mark.parametrize("n_rows", [0, 2])
@pytest.mark.parametrize("site", sorted(SITE_SCHEMAS))
def test_local_frame_keeps_schema_and_rows_as_a_local_scan(spark, site,
                                                          n_rows):
    schema = SITE_SCHEMAS[site]
    struct = (T.StructType.fromDDL(schema) if isinstance(schema, str)
              else schema)
    row = tuple(_sample(f) for f in struct)
    rows = [row, tuple(None if f.nullable else v
                       for f, v in zip(struct, row))][:n_rows]
    reference = spark.createDataFrame(rows, schema)
    df = local_frame(spark, rows, schema)
    assert df.schema == struct == reference.schema
    assert df.collect() == reference.collect()
    assert _leaves(df._jdf.queryExecution().executedPlan()) \
        == {"LocalTableScanExec"}


def test_package_sites_build_local_scans(spark, tmp_path):
    """Two sites end to end: the read of a table that does not exist
    yet and the store's history."""
    empty = StockStore(spark, str(tmp_path / "wh")).read(
        "daily_stock_prices")
    assert empty.schema == schemas.TABLES["daily_stock_prices"]
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root,
                         spark.range(3).withColumnRenamed("id", "k"))
    hist = vstore.history(spark, root)
    assert [r.version for r in hist.collect()] == [1]
    for df in (empty, hist):
        df.collect()
        assert _leaves(df._jdf.queryExecution().executedPlan()) \
            == {"LocalTableScanExec"}
