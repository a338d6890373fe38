"""``bench.py``'s one measurement protocol: what ``measure`` records
(times, census, job group, failures), the witness size rule and the
scaling exponent of ``--sf-probe``."""

from __future__ import annotations

import pytest

import bench
from etl_pipeline_stock_market_data_postgresql_spark.workload import Query
from perfbench.census import STREAM_METRICS, SparkCensus

CENSUS_KEYS = {
    "spark.jobs", "spark.stages", "spark.tasks", "spark.plan_ms",
    "spark.driver_gap_ms", "spark.executor_run_ms", "spark.executor_cpu_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "streaming.batches", *STREAM_METRICS}


@pytest.fixture
def census(spark):
    census = SparkCensus(spark)
    yield census
    spark._jsparkSession.listenerManager().unregister(census._qe)
    spark.streams.removeListener(census._stream)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("name", ["q09_decimal_agg", "q01_topk_latest"])
def test_measure_times_and_census_under_the_query_job_group(
        spark, sf_dir, census, name):
    row = bench.measure(spark, census, name, sf_dir)
    assert set(row) == {"name", "times", "best", "census",
                        "census_overhead_s"}
    assert row["name"] == name and len(row["times"]) == 1
    assert row["best"] == row["times"][0] > 0
    assert CENSUS_KEYS <= row["census"].keys()
    assert row["census"]["spark.jobs"] >= 1
    assert row["census"]["spark.plan_ms"] > 0
    assert 0 <= row["census_overhead_s"] < row["best"]
    group = spark.sparkContext.statusTracker().getJobIdsForGroup(name)
    assert len(group) == row["census"]["spark.jobs"]
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().isEmpty()

    again = bench.measure(spark, census, name, sf_dir, reps=2)
    assert len(again["times"]) == 2 and again["best"] == min(again["times"])


def test_failing_query_is_recorded_not_raised(spark, sf_dir, census,
                                              monkeypatch):
    def boom(spark, sf_dir):
        raise ValueError("boom\nsecond line")

    monkeypatch.setattr(bench, "all_queries",
                        lambda: {"q_boom": Query(boom, None)})
    row = bench.measure(spark, census, "q_boom", sf_dir, reps=3)
    assert row["error"].startswith("ValueError: boom at ")
    assert "test_bench_protocol.py:" in row["error"]
    assert row["times"] == [] and row["best"] is None
    assert row["census"]["spark.jobs"] == 0


def test_witnesses_drop_only_on_probe_scale_dirs(tmp_path, sf_dir):
    big = tmp_path / "big"
    big.mkdir()
    with open(big / "events.parquet", "wb") as f:
        f.truncate(bench._GATE_CLASS_BYTES + 1)  # sparse: no disk used
    edge = tmp_path / "edge"
    edge.mkdir()
    with open(edge / "events.parquet", "wb") as f:
        f.truncate(bench._GATE_CLASS_BYTES)
    names = ["q29_embedding_neardup", "q09_decimal_agg",
             "q98_semantic_dedup", "q102_equidepth_histogram"]
    for dirs in ([sf_dir], [str(edge)], [str(tmp_path / "missing")]):
        assert bench.drop_witnesses(names, dirs) == names
    assert bench.drop_witnesses(names, [sf_dir, str(big)]) \
        == ["q09_decimal_agg"]


@pytest.mark.parametrize("t_small, t_large, ratio, exponent", [
    (1.0, 10.0, 10, 1.0),
    (0.5, 50.0, 10, 2.0),
    (2.0, 2.0, 10, 0.0),
    (4.0, 2.0, 10, -0.301),
    (1.0, 2.0, 4, 0.5),
])
def test_scaling_exponent(t_small, t_large, ratio, exponent):
    assert bench.scaling_exponent(t_small, t_large, ratio) == exponent
