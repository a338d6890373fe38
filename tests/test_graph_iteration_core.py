"""The one iteration core of the iterative graph operators
(``operators.graph.iterate``): a single lineage-cut call site and a
single loop, the cut rule, the witness and observer contracts, and the
per-round job descriptions."""
from __future__ import annotations

import ast
import inspect

import pytest
from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.operators import (
    dedup, graph)

_LOOPS = (ast.For, ast.AsyncFor, ast.While)


def _calls(tree: ast.AST, name: str) -> list[ast.Call]:
    return [n for n in ast.walk(tree) if isinstance(n, ast.Call)
            and ((isinstance(n.func, ast.Name) and n.func.id == name)
                 or (isinstance(n.func, ast.Attribute)
                     and n.func.attr == name))]


def test_graph_has_one_cut_site_and_one_loop():
    """Every iterative graph operator runs through ``iterate``: an
    operator with its own loop or its own ``localCheckpoint`` has
    forked the lineage-cut policy. The setup cuts and the core share
    the one cut helper."""
    with open(graph.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    sites = _calls(tree, "localCheckpoint")
    assert len(sites) == 1, [c.lineno for c in sites]
    loops = [n for n in ast.walk(tree) if isinstance(n, _LOOPS)]
    assert len(loops) == 1, [n.lineno for n in loops]
    funcs = {n.name: n for n in ast.walk(tree)
             if isinstance(n, ast.FunctionDef)}
    assert _calls(funcs["cut"], "localCheckpoint")
    assert _calls(funcs["iterate"], "cut")
    assert _calls(funcs["_pagerank"], "cut")


def test_connected_components_has_no_loop_of_its_own():
    tree = ast.parse(inspect.getsource(dedup.connected_components))
    loops = [n for n in ast.walk(tree) if isinstance(n, _LOOPS)]
    assert not loops, [n.lineno for n in loops]
    assert _calls(tree, "iterate")


@pytest.fixture
def counted_cuts(monkeypatch):
    """Count the cuts ``iterate`` makes (the input state is uncut)."""
    made = []

    def cut(df):
        made.append(df)
        return df
    monkeypatch.setattr(graph, "cut", cut)
    return made


def _inc(df):
    return df.select((F.col("x") + 1).alias("x"))


def test_cut_rule_follows_the_readers_of_each_state(spark, counted_cuts):
    start = spark.createDataFrame([(0,)], "x long")
    # fixed rounds: the last state's only reader is the caller
    state, ran, converged, observed = graph.iterate(start, _inc, 3)
    assert (state.first().x, ran, converged, observed) == (3, 3, False, [])
    assert len(counted_cuts) == 2
    # an observer reads every state, the last one included
    counted_cuts.clear()
    _, _, _, observed = graph.iterate(
        start, _inc, 3, observe=lambda i, prev, new: (i, prev.first().x,
                                                      new.first().x))
    assert observed == [(1, 0, 1), (2, 1, 2), (3, 2, 3)]
    assert len(counted_cuts) == 3
    # zero rounds: the input comes back untouched, nothing is cut
    counted_cuts.clear()
    assert graph.iterate(start, _inc, 0) == (start, 0, False, [])
    assert counted_cuts == []


def test_witness_stops_at_the_first_repeat_and_counts_the_proof(
        spark, counted_cuts):
    start = spark.createDataFrame([(0,)], "x long")

    def capped(df):
        return df.select(F.least(F.col("x") + 1, F.lit(2)).alias("x"))

    def witness(df):
        return df.first().x
    # 0 -> 1 -> 2 -> 2: the third round proves the fixpoint
    state, ran, converged, _ = graph.iterate(start, capped, 10,
                                             until=witness)
    assert (state.first().x, ran, converged) == (2, 3, True)
    assert len(counted_cuts) == 3
    # the cap hit before the proof: ran == rounds, not converged
    _, ran, converged, _ = graph.iterate(start, capped, 2, until=witness)
    assert (ran, converged) == (2, False)


def test_rounds_are_described_and_the_caller_description_restored(spark):
    sc = spark.sparkContext
    start = spark.createDataFrame([(0,)], "x long")
    seen = []

    def step(df):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return _inc(df)
    sc.setJobDescription("outer")
    try:
        graph.iterate(start, step, 2)
        assert seen == ["outer | step round 1/2", "outer | step round 2/2"]
        assert sc.getLocalProperty("spark.job.description") == "outer"

        def boom(df):
            seen.append(sc.getLocalProperty("spark.job.description"))
            raise ValueError("step failed")
        with pytest.raises(ValueError):
            graph.iterate(start, boom, 3)
        assert seen[-1] == "outer | boom round 1/3"
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)
    seen.clear()
    graph.iterate(start, step, 1)
    assert seen == ["step round 1/1"]
    assert sc.getLocalProperty("spark.job.description") is None
