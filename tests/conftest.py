from __future__ import annotations

import os

import pytest

from etl_pipeline_stock_market_data_postgresql_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


class _ActionListener:
    """``QueryExecutionListener`` over py4j: one entry per action."""

    def __init__(self):
        self.funcs = []

    def onSuccess(self, func, qe, duration_ns):
        self.funcs.append(func)

    def onFailure(self, func, qe, exc):
        self.funcs.append(func)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@pytest.fixture
def actions(spark):
    """Yields a callable that runs ``fn`` and returns the names of the
    DataFrame actions it ran (``count``, ``collect``, ``save``, ...)."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    manager = spark._jsparkSession.listenerManager()
    listener = _ActionListener()
    manager.register(listener)

    def run(fn):
        bus.waitUntilEmpty()
        listener.funcs.clear()
        fn()
        bus.waitUntilEmpty()
        return list(listener.funcs)

    yield run
    manager.unregister(listener)

# Shared result-normalization for all differential-oracle suites (the
# parity, text-edge, and events-edge tests must agree on what "equal"
# means — %.9g float formatting was tuned for q31's dyadic ties).
import math as _math


def normalize_cell(v):
    if isinstance(v, float):
        if _math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def normalize_rows(cols, rows):
    """Sort columns by name, stringify, sort rows — order-insensitive."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(normalize_cell(r[i]) for i in order) for r in rows)


def write_single_parquet(df, dest_path):
    """Write a DataFrame as ONE parquet FILE at dest_path — the driver
    testdata layout (`<dir>/events.parquet` is a file, not a directory).
    Streaming fixtures must match it: the stream source's pathGlobFilter
    matches leaf names, so a directory named events.parquet containing
    part-files streams as zero rows."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    tmp = dest_path + "._tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = _glob.glob(_os.path.join(tmp, "part-*.parquet"))
    assert len(part) == 1, part
    _shutil.move(part[0], dest_path)
    _shutil.rmtree(tmp)
