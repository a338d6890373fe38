"""The versioned store's single read core: one driver-side file
planner (``_plan``), one Spark-side pinned scan and one executor-side
file reader — pinned structurally — and the conservative rule every
reader shares: a bound that cannot be compared with a file's stats
keeps the file open."""
from __future__ import annotations

import ast
import datetime

from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    store_batch, versioned_store as vstore)
from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
    cdf_source)

_MODULES = (vstore, store_batch, cdf_source)


def _tree(module) -> ast.Module:
    with open(module.__file__, encoding="utf-8") as f:
        return ast.parse(f.read())


def _callers(name: str, modules=_MODULES) -> set[str]:
    """Top-level functions (``Class.method`` for methods) of
    ``modules`` whose bodies — nested functions included — call
    ``name``, bare or as an attribute."""
    out = set()
    for module in modules:
        units = []
        for node in _tree(module).body:
            if isinstance(node, ast.FunctionDef):
                units.append((node.name, node))
            elif isinstance(node, ast.ClassDef):
                units += [(f"{node.name}.{m.name}", m) for m in node.body
                          if isinstance(m, ast.FunctionDef)]
        out |= {label for label, fn in units for n in ast.walk(fn)
                if isinstance(n, ast.Call)
                and name in (getattr(n.func, "id", None),
                             getattr(n.func, "attr", None))}
    return out


def _defines(module, name: str) -> bool:
    return any(isinstance(n, (ast.FunctionDef, ast.ClassDef))
               and n.name == name for n in ast.walk(_tree(module)))


def test_segment_walk_has_one_reader_call_site():
    """Only the planner walks segments for a read; the other callers
    resolve a whole manifest, derive a commit's segment list, or count
    rows from summaries."""
    assert _callers("_read_segment") == {
        "_plan", "_resolve", "_segments_of", "snapshot_row_count"}


def test_bloom_probe_has_one_call_site():
    assert _callers("_bloom_maybe_contains") == {"_plan"}


def test_one_executor_file_reader():
    """Executors read a data file through ``store_batch.read_file``
    alone; the store module's only ``pq.read_table`` is the bloom
    index build at commit time (a column subset)."""
    assert _callers("read_table") == {"read_file", "_write_file_bloom"}


def test_read_copies_are_gone():
    assert not _defines(store_batch, "_stats_hit")
    for module in (store_batch, cdf_source):
        assert not _defines(module, "_read_dv_positions"), module
    # the data-dir literal lives once on the executor side
    assert (not hasattr(cdf_source, "_DATA")
            and store_batch._DATA == vstore._DATA)


def test_uncomparable_bounds_open_the_file(spark, tmp_path):
    """A bound of another type than a column's stats (a string or a
    date against integer bounds) cannot prune: every reader opens the
    file instead of raising or skipping it."""
    root = str(tmp_path / "s")
    for lo in (0, 100):
        vstore.commit_append(spark, root, spark.range(lo, lo + 100).select(
            "id", (F.col("id") * 10).alias("x")).coalesce(1),
            stats_cols=("id",), bloom_cols=("id",))
    df, opened, total = vstore.read_version_pruned_multi(
        spark, root, 2, {"id": ("a", "z")})
    assert (opened, total) == (2, 2)
    assert df.count() == 200
    _, opened, _ = vstore.read_version_pruned_multi(
        spark, root, 2, {"id": (datetime.date(2024, 1, 1), None)})
    assert opened == 2
    _, opened, total = vstore.read_version_point_lookup(
        spark, root, 2, "id", "a")
    assert (opened, total) == (2, 2)
    for pushed in (GreaterThan(("id",), "a"), EqualTo(("id",), "a")):
        r = store_batch.StoreBatchReader(root, 2)
        list(r.pushFilters([pushed]))
        assert len(r.partitions()) == 2
        assert r.plan_report == {"n_files": 2, "n_total": 2}
