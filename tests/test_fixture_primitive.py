"""The one fingerprint-gated fixture primitive
(``sources.derived_cache.fixture``): its staleness rule and write order,
that it is the only home of that rule, recovery from a corrupt bounds
sidecar for every fixture that stores bounds, and a cold-scratch build
of every registered fixture under a private scratch root."""
from __future__ import annotations

import ast
import glob
import importlib
import json
import os

import pytest

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    derived_cache)
from etl_pipeline_stock_market_data_postgresql_spark.sources.derived_cache import (
    _BOUNDS_NAME, _FP_NAME, fixture, scratch_base)

PKG = "etl_pipeline_stock_market_data_postgresql_spark"
PKG_DIR = os.path.dirname(derived_cache.__file__).rsplit(os.sep, 1)[0]


# --- the rule ----------------------------------------------------------------

class _Builds:
    """A ``build`` that counts its calls and writes one parquet-named
    file under the fixture root."""

    def __init__(self, bounds):
        self.bounds, self.calls = bounds, 0

    def __call__(self, root):
        self.calls += 1
        os.makedirs(os.path.join(root, "feed"))
        open(os.path.join(root, "feed", "a.parquet"), "w").close()
        return self.bounds


def test_fixture_builds_once_and_returns_the_same_bounds(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    build = _Builds({"b": 3, "t": (1, 2)})
    cold = fixture("/x/sf1", "fx", "fp1", build)
    warm = fixture("/x/sf1", "fx", "fp1", build)
    assert build.calls == 1
    assert cold == warm == (str(tmp_path / "sf1" / "fx"), {"b": 3, "t": [1, 2]})
    fixture("/x/sf1", "fx", "fp2", build)  # input changed
    assert build.calls == 2


@pytest.mark.parametrize("damage", ["truncate", "remove", "stray_file"])
def test_fixture_rebuilds_when_bounds_or_listed_files_break(
        tmp_path, monkeypatch, damage):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    build = _Builds({"files": ["feed/a.parquet"]})
    root, _ = fixture("/x/sf1", "fx", "fp", build)
    if damage == "truncate":
        with open(os.path.join(root, _BOUNDS_NAME), "w") as f:
            f.write('{"files": ["fe')
    elif damage == "remove":
        os.remove(os.path.join(root, _BOUNDS_NAME))
    else:
        open(os.path.join(root, "feed", "b.parquet"), "w").close()
    assert fixture("/x/sf1", "fx", "fp", build)[1] == build.bounds
    assert build.calls == 2
    assert sorted(os.listdir(os.path.join(root, "feed"))) == ["a.parquet"]


def test_fingerprint_is_written_last(tmp_path, monkeypatch):
    """A crash after the bounds write but before the fingerprint write
    leaves the fixture stale, and a failing build leaves no sidecar."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    written = []
    real = derived_cache._write_sidecar

    def crash_on_fingerprint(path, text):
        written.append(os.path.basename(path))
        if path.endswith(_FP_NAME):
            raise OSError("crash")
        real(path, text)

    monkeypatch.setattr(derived_cache, "_write_sidecar", crash_on_fingerprint)
    build = _Builds(None)
    with pytest.raises(OSError):
        fixture("/x/sf1", "fx", "fp", build)
    assert written == [_BOUNDS_NAME, _FP_NAME]
    monkeypatch.setattr(derived_cache, "_write_sidecar", real)
    fixture("/x/sf1", "fx", "fp", build)
    assert build.calls == 2

    def failing(root):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        fixture("/x/sf1", "fx", "fp-new", failing)
    assert not os.path.exists(tmp_path / "sf1" / "fx" / _FP_NAME)


# --- one home ----------------------------------------------------------------

def _package_trees():
    for path in sorted(glob.glob(os.path.join(PKG_DIR, "**", "*.py"),
                                 recursive=True)):
        with open(path, encoding="utf-8") as f:
            yield os.path.relpath(path, PKG_DIR), ast.parse(f.read())


def _called(node: ast.AST, name: str) -> bool:
    return any(isinstance(n, ast.Call)
               and getattr(n.func, "id", getattr(n.func, "attr", None)) == name
               for n in ast.walk(node))


def test_the_fixture_rule_lives_only_in_derived_cache():
    """No other module reads the stored fingerprint, names a sidecar,
    or keeps a private staleness check; under ``workload/`` only the
    three per-invocation scratch resets call ``rmtree``, and no
    function that calls ``fixture`` does."""
    gone = {"_feed_current", "_store_bounds", "_load_bounds",
            "_corpus0_bounds_if_current", "_scratch_base"}
    rmtree_sites = []
    for rel, tree in _package_trees():
        names = {getattr(n, "id", None) or getattr(n, "attr", None)
                 or getattr(n, "name", None) for n in ast.walk(tree)}
        assert not names & gone, (rel, names & gone)
        if rel == os.path.join("sources", "derived_cache.py"):
            continue
        assert "_stored_fingerprint" not in names, rel
        docs = {id(n.body[0].value) for n in ast.walk(tree)
                if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
                and n.body and isinstance(n.body[0], ast.Expr)}
        for n in ast.walk(tree):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and id(n) not in docs):
                assert not any(s in n.value for s in (
                    "_INPUT_FINGERPRINT", "_BOUNDS", ".bounds.json",
                    "_emb_vec_max.json")), (rel, n.lineno)
        if not rel.startswith("workload" + os.sep):
            continue
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and _called(fn, "rmtree"):
                assert not _called(fn, "fixture"), (rel, fn.name)
        rmtree_sites += [fn.name for fn in tree.body
                         if isinstance(fn, ast.FunctionDef)
                         and _called(fn, "rmtree")]
    assert sorted(rmtree_sites) == [
        "_stream_scratch", "q122_streaming_incremental_dedup",
        "q140_streaming_ann_ingest"]


# --- every bounds-storing fixture recovers from a corrupt sidecar ------------

_BOUNDS_OWNERS = {
    "q148": ("storage", "_ensure_q148", "events_versioned_evolve"),
    "q154": ("storage", "_ensure_q154", "events_versioned_zorder"),
    "q158": ("storage", "_ensure_q158", "events_bloom_index"),
    "q172": ("storage", "_ensure_q172", "events_batch_api"),
    "emb_vec_max": ("similarity", "_emb_vec_max", "emb_vec_max"),
    "corpus0": ("text_dedup", "corpus0_signature_index", "corpus0_bounds"),
}


def _plain(value):
    """An owner's return value without its DataFrames (comparable)."""
    if isinstance(value, tuple):
        return tuple(v for v in value if isinstance(v, (int, str)))
    return value


@pytest.mark.parametrize("case", sorted(_BOUNDS_OWNERS))
def test_truncated_bounds_sidecar_is_rebuilt(spark, sf_dir, case):
    """A bounds sidecar truncated behind a matching fingerprint (a
    crash mid-write under an older writer, or disk damage) must not
    wedge the fixture: the owning function rebuilds it and the same
    bounds come back."""
    mod, fn, name = _BOUNDS_OWNERS[case]
    owner = getattr(importlib.import_module(f"{PKG}.workload.{mod}"), fn)
    sidecar = os.path.join(scratch_base(sf_dir)[0], name, _BOUNDS_NAME)
    got = _plain(owner(spark, sf_dir))
    with open(sidecar, encoding="ascii") as f:
        bounds = json.load(f)
    with open(sidecar, "w", encoding="ascii") as f:
        f.write(json.dumps(bounds)[:3])
    assert _plain(owner(spark, sf_dir)) == got
    with open(sidecar, encoding="ascii") as f:
        assert json.load(f) == bounds


# --- cold scratch ------------------------------------------------------------

def _tree(root: str, only: str | None = None) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if only is None or fn == only:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _paths(value) -> list[str]:
    if isinstance(value, str):
        return [value]
    if isinstance(value, tuple):
        return [p for v in value for p in _paths(v)]
    return []


def test_every_fixture_builds_cold_under_a_private_scratch_root(
        spark, sf_dir, tmp_path, monkeypatch):
    """Every registered builder, called directly (``build_fixtures``
    swallows errors), builds from an empty scratch root: whatever it
    returns lies under that root, the input directory and the default
    scratch tree are untouched, and a second pass rewrites no
    fingerprint."""
    from etl_pipeline_stock_market_data_postgresql_spark.workload.fixtures import (
        fixture_builders)

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    default_root = scratch_base(sf_dir)[0]
    root = str(tmp_path / "scratch")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", root)
    inputs, default = _tree(sf_dir), _tree(default_root)
    builders = fixture_builders()
    assert len(builders) == 35
    for name, build in builders.items():
        for p in _paths(build(spark, sf_dir)):
            assert os.path.abspath(p).startswith(root + os.sep), (name, p)
    spark.catalog.clearCache()
    assert _tree(sf_dir) == inputs
    assert _tree(default_root) == default
    fingerprints = _tree(root, only=_FP_NAME)
    assert len(fingerprints) >= len(builders)
    for build in builders.values():
        build(spark, sf_dir)
    spark.catalog.clearCache()
    assert _tree(root, only=_FP_NAME) == fingerprints
