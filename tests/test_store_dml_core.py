"""The versioned store's row-level DML core: every verb that replaces
or masks files of one snapshot goes through ``_snapshot`` (latest
version, manifest, txn ledger), ``_rewrite`` (the one copy-on-write
step) or ``_mark`` (the one merge-on-read step).

- an AST pin that the public verbs reach the store only through those
  steps, and that the commit path reads the latest manifest once;
- an action pin: the MoR UPDATE takes its row count from the staged
  sidecars and runs no ``count``;
- a property test that the copy-on-write and merge-on-read verbs give
  the same rows and row ids as a plain DataFrame reference, NULLs in
  the predicate column included, and that purging the vectors changes
  neither.
"""

from __future__ import annotations

import ast
import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    versioned_store as vstore)

_COW = {"commit_delete", "commit_update", "purge_deletion_vectors",
        "commit_merge", "optimize_zorder", "compact_latest"}
_MOR = {"commit_delete_mor", "commit_update_mor"}


def _functions() -> dict[str, ast.FunctionDef]:
    with open(vstore.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    return {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}


def _called(fn: ast.AST) -> set[str]:
    return {n.func.id for n in ast.walk(fn)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)}


def test_row_level_verbs_go_through_the_dml_core():
    fns = _functions()
    banned = {"latest_version", "_logical_rows", "_stage_dv_sidecars",
              "txn_committed"}
    for name in _COW | _MOR:
        calls = _called(fns[name])
        assert not calls & banned, (name, calls & banned)
        assert "_snapshot" in calls, name
        assert ("_rewrite" if name in _COW else "_mark") in calls, name
    # sidecars are staged in one place
    assert {n for n, fn in fns.items()
            if "_stage_dv_sidecars" in _called(fn)} == {"_mark"}
    raises = [n for fn in fns.values() for n in ast.walk(fn)
              if isinstance(n, ast.Raise)
              and "no committed version under" in ast.unparse(n)]
    assert len(raises) == 1


def test_commit_path_reads_the_latest_manifest_once():
    """The commit verbs carry no txn pre-check of their own (``_commit``
    checks the ledger once, before staging), and ``_commit``,
    ``_transact`` and ``_snapshot`` take the latest manifest from the
    claim sweep rather than reading it a second time."""
    fns = _functions()
    for name in ("commit_append", "commit_rewrite", "commit_multi_append"):
        calls = _called(fns[name])
        assert not calls & {"txn_committed", "latest_version"}, (name, calls)
    for name in ("_commit", "_transact"):
        assert "_read_manifest_raw" not in _called(fns[name]), name
    calls = _called(fns["_snapshot"])
    assert not calls & {"latest_version", "read_manifest"}, calls


def _tracked_store(spark, root):
    """40 rows in 4 files, row-tracked; ``k`` is NULL on every 6th
    row so predicates over it evaluate to NULL there."""
    base = spark.range(0, 40).select(
        F.col("id"),
        F.when(F.col("id") % 6 == 1, F.lit(None))
        .otherwise(F.col("id") % 5).alias("k"),
        ((F.col("id") * 7) % 11).alias("x"))
    vstore.commit_append(spark, root, base.repartitionByRange(4, "id"),
                         stats_cols=("id",), row_ids=True)
    assert len(vstore.read_manifest(root, 1)["files"]) == 4
    return root


def test_commit_update_mor_runs_no_count(spark, tmp_path, actions):
    """The MoR UPDATE's row count comes from the staged sidecars, like
    the MoR DELETE's — no ``count`` action of its own."""
    root = _tracked_store(spark, str(tmp_path / "mor_count"))
    out = []
    ran = actions(lambda: out.append(vstore.commit_update_mor(
        spark, root, F.col("id") % 10 == 0, {"x": F.lit(-1)},
        stats_cols=("id",))))
    (v, n_marked, n_updated), = out
    assert (v, n_updated) == (2, 4) and 1 <= n_marked <= 4
    assert "count" not in ran, ran
    assert sorted(ran) == ["collectToPython", "command", "localCheckpoint"]
    got = {r["id"]: r["x"] for r in vstore.read_version(spark, root, 2)
           .filter("id % 10 = 0").collect()}
    assert got == {0: -1, 10: -1, 20: -1, 30: -1}


@pytest.fixture(scope="module")
def base_store(spark, tmp_path_factory):
    return _tracked_store(spark, str(tmp_path_factory.mktemp("dml") / "base"))


_CONDITION = st.builds(
    lambda col, op, c, alt: f"{col} {op} {c}" + (" OR id < 3" if alt else ""),
    st.sampled_from(["k", "x"]), st.sampled_from(["<", ">=", "=", "<>"]),
    st.integers(0, 6), st.booleans())
_SET = st.sampled_from([{"x": "x + 100"}, {"k": "k * 2"}, {"x": "k"},
                        {"k": "NULL", "x": "x - 1"}])


def _rows(spark, root):
    v = vstore.latest_version(root)
    return sorted(tuple(r) for r in vstore.read_version_rows(spark, root, v)
                  .select("_row_id", "id", "k", "x").collect())


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cond=_CONDITION, set_exprs=_SET)
def test_cow_and_mor_verbs_agree_with_the_dataframe_reference(
        spark, base_store, cond, set_exprs):
    """CoW and MoR DELETE keep exactly ``filter(~coalesce(cond,
    false))``; CoW and MoR UPDATE give the ``when/otherwise`` rows with
    every row id kept; purging the MoR vectors changes nothing."""
    scratch = tempfile.mkdtemp(dir=os.path.dirname(base_store))
    roots = {}
    for verb in ("delete", "delete_mor", "update", "update_mor"):
        roots[verb] = os.path.join(scratch, verb)
        vstore.clone(base_store, roots[verb])
    base = vstore.read_version_rows(spark, base_store, 1)
    hit = F.coalesce(F.expr(cond), F.lit(False))
    kept = sorted(tuple(r) for r in base.filter(~hit)
                  .select("_row_id", "id", "k", "x").collect())
    updated = sorted(tuple(r) for r in base.select(
        "_row_id", "id",
        *[F.when(hit, F.expr(set_exprs[c]).cast("long"))
          .otherwise(F.col(c)).alias(c) if c in set_exprs else F.col(c)
          for c in ("k", "x")]).collect())

    vstore.commit_delete(spark, roots["delete"], F.expr(cond))
    vstore.commit_delete_mor(spark, roots["delete_mor"], F.expr(cond))
    vstore.commit_update(spark, roots["update"], F.expr(cond), set_exprs)
    vstore.commit_update_mor(spark, roots["update_mor"], F.expr(cond),
                             set_exprs)
    assert _rows(spark, roots["delete"]) == kept
    assert _rows(spark, roots["delete_mor"]) == kept
    assert _rows(spark, roots["update"]) == updated
    assert _rows(spark, roots["update_mor"]) == updated
    for verb in ("delete_mor", "update_mor"):
        vstore.purge_deletion_vectors(spark, roots[verb])
        man = vstore.read_manifest(
            roots[verb], vstore.latest_version(roots[verb]))
        assert not vstore._dv_map(man["stats"], man["files"])
    assert _rows(spark, roots["delete_mor"]) == kept
    assert _rows(spark, roots["update_mor"]) == updated
