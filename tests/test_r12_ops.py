"""Semantic invariants for the round-12 operators: exactly-once
(txn-keyed) commits on the versioned store, copy-on-write row-level
DELETE, snapshot-preserving compaction with the pre-rewrite-bytes
contract, multi-column manifest-stats pruning, crash-orphan recovery,
replay idempotence of the q140/q122 streaming batch commits, and the
partition-path escaping fix in delete_where_partitioned."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    versioned_store as vstore)
from etl_pipeline_stock_market_data_postgresql_spark.sources.compaction import (
    content_fingerprint, multiset_equal)


def _mk(spark, lo, hi, k):
    return (spark.range(lo, hi)
            .select(F.col("id"), F.lit(k).alias("k"),
                    (F.col("id") * 3).alias("x")))


def _dead_pid() -> int:
    """Pid of a process that has already exited and been reaped — what
    a crashed writer's pid looks like to vacuum's liveness probe."""
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


# --- exactly-once txn commits ------------------------------------------------

def test_commit_append_txn_is_exactly_once(spark, tmp_path):
    root = str(tmp_path / "txnstore")
    v1 = vstore.commit_append(spark, root, _mk(spark, 0, 100, 0).coalesce(1),
                              txn="b0")
    assert v1 == 1
    fp = content_fingerprint(vstore.read_version(spark, root, 1))
    # replay of the same txn: no new version, content unchanged
    v_again = vstore.commit_append(spark, root,
                                   _mk(spark, 0, 100, 0).coalesce(1),
                                   txn="b0")
    assert v_again == 1 and vstore.latest_version(root) == 1
    assert content_fingerprint(vstore.read_version(spark, root, 1)) == fp
    # a NEW txn appends normally
    v2 = vstore.commit_append(spark, root, _mk(spark, 100, 150, 0).coalesce(1),
                              txn="b1")
    assert v2 == 2
    assert vstore.read_version(spark, root, 2).count() == 150
    assert vstore.txn_seen(root) == {"b0": 0, "b1": 0}


def test_txn_memory_survives_compaction_and_rewrite(spark, tmp_path):
    """The replay guard must hold AFTER maintenance rewrote the files —
    a compaction that dropped txn history would re-admit replayed
    batches."""
    root = str(tmp_path / "txnsurvive")
    vstore.commit_append(spark, root, _mk(spark, 0, 50, 0).coalesce(1),
                         txn="b0")
    vstore.commit_append(spark, root, _mk(spark, 50, 100, 0).coalesce(1),
                         txn="b1")
    nb, na = vstore.compact_latest(spark, root, target_bytes=1 << 30)
    assert (nb, na) == (2, 1)
    fp = content_fingerprint(
        vstore.read_version(spark, root, vstore.latest_version(root)))
    v = vstore.commit_append(spark, root, _mk(spark, 50, 100, 0).coalesce(1),
                             txn="b1")  # replay after compaction
    assert v == vstore.latest_version(root) == 3
    assert content_fingerprint(
        vstore.read_version(spark, root, 3)) == fp


# --- copy-on-write DELETE ----------------------------------------------------

def test_commit_delete_rewrites_only_victim_files(spark, tmp_path):
    root = str(tmp_path / "delstore")
    vstore.commit_append(spark, root, _mk(spark, 0, 100, 0).coalesce(1))
    vstore.commit_append(spark, root, _mk(spark, 100, 200, 1).coalesce(1))
    vstore.commit_append(spark, root, _mk(spark, 200, 300, 2).coalesce(1))
    files_v3 = vstore.read_manifest(root, 3)["files"]
    assert len(files_v3) == 3
    mtimes = {f: os.stat(os.path.join(root, "data", f)).st_mtime_ns
              for f in files_v3}
    pre = content_fingerprint(vstore.read_version(spark, root, 3))
    # victims live only in the middle file's id range
    v, n_rw, n_carry = vstore.commit_delete(
        spark, root, (F.col("id") >= 100) & (F.col("id") < 150))
    assert (v, n_rw, n_carry) == (4, 1, 2)
    got = vstore.read_version(spark, root, 4)
    assert got.count() == 250
    assert got.filter((F.col("id") >= 100) & (F.col("id") < 150)).count() == 0
    # survivors of the victim file intact; carried files byte-untouched
    assert got.filter((F.col("id") >= 150) & (F.col("id") < 200)).count() == 50
    for f in vstore.read_manifest(root, 4)["files"]:
        if f in mtimes:
            assert os.stat(
                os.path.join(root, "data", f)).st_mtime_ns == mtimes[f]
    # time travel: the pre-delete snapshot is untouched
    assert content_fingerprint(vstore.read_version(spark, root, 3)) == pre
    # no victims -> no new version
    v2, n_rw2, _ = vstore.commit_delete(spark, root, F.col("id") < 0)
    assert (v2, n_rw2) == (4, 0)


def test_commit_delete_all_victim_file_vanishes(spark, tmp_path):
    root = str(tmp_path / "delall")
    vstore.commit_append(spark, root, _mk(spark, 0, 100, 0).coalesce(1))
    vstore.commit_append(spark, root, _mk(spark, 100, 200, 1).coalesce(1))
    v, n_rw, n_carry = vstore.commit_delete(spark, root, F.col("k") == 1)
    assert (n_rw, n_carry) == (1, 1)
    man = vstore.read_manifest(root, v)
    got = vstore.read_version(spark, root, v)
    assert got.count() == 100 and got.filter("k = 1").count() == 0
    # the all-victim file contributed no survivors; carried file is v1's
    assert set(man["files"]) >= set(vstore.read_manifest(root, 1)["files"])


# --- copy-on-write MERGE -------------------------------------------------------

def test_commit_merge_replaces_matched_inserts_unmatched(spark, tmp_path):
    root = str(tmp_path / "mergestore")
    vstore.commit_append(spark, root, _mk(spark, 0, 100, 0).coalesce(1))
    vstore.commit_append(spark, root, _mk(spark, 100, 200, 1).coalesce(1))
    vstore.commit_append(spark, root, _mk(spark, 200, 300, 2).coalesce(1))
    files_v3 = vstore.read_manifest(root, 3)["files"]
    mtimes = {f: os.stat(os.path.join(root, "data", f)).st_mtime_ns
              for f in files_v3}
    pre = content_fingerprint(vstore.read_version(spark, root, 3))
    # updates: replace ids 120..129 (middle file only) + insert 500..509
    updates = (spark.range(0, 10)
               .select((F.col("id") + 120).alias("id"),
                       F.lit(9).alias("k"),
                       F.lit(-1).cast("long").alias("x"))
               .union(spark.range(0, 10)
                      .select((F.col("id") + 500).alias("id"),
                              F.lit(7).alias("k"),
                              F.lit(-2).cast("long").alias("x"))))
    v, n_rw, n_carry = vstore.commit_merge(spark, root, updates,
                                           key_cols=("id",), txn="m1")
    assert (v, n_rw, n_carry) == (4, 1, 2)
    got = vstore.read_version(spark, root, 4)
    assert got.count() == 310  # 300 - 10 replaced + 10 replaced + 10 new
    assert got.filter("k = 9").count() == 10      # replacements landed
    assert got.filter("k = 7").count() == 10      # inserts landed
    assert got.filter((F.col("id") >= 120) & (F.col("id") < 130)
                      & (F.col("k") == 1)).count() == 0  # old rows gone
    assert got.filter((F.col("id") >= 100) & (F.col("id") < 120)).count() \
        == 20  # unmatched rows of the rewritten file survive
    # carried files byte-untouched; pre-merge snapshot intact
    for f in vstore.read_manifest(root, 4)["files"]:
        if f in mtimes:
            assert os.stat(
                os.path.join(root, "data", f)).st_mtime_ns == mtimes[f]
    assert content_fingerprint(vstore.read_version(spark, root, 3)) == pre
    # replay: same txn no-ops
    fp4 = content_fingerprint(got)
    v_again = vstore.commit_merge(spark, root, updates,
                                  key_cols=("id",), txn="m1")[0]
    assert v_again == 4 and vstore.latest_version(root) == 4
    assert content_fingerprint(vstore.read_version(spark, root, 4)) == fp4
    # pure-insert merge (no matches): nothing rewritten
    ins = spark.range(0, 5).select((F.col("id") + 900).alias("id"),
                                   F.lit(5).alias("k"),
                                   F.lit(0).cast("long").alias("x"))
    v5, n_rw5, _ = vstore.commit_merge(spark, root, ins, key_cols=("id",))
    assert (v5, n_rw5) == (5, 0)
    assert vstore.read_version(spark, root, 5).count() == 315


def test_q147_merge_chain_invariants(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.sources.derived_cache import scratch_base
    from etl_pipeline_stock_market_data_postgresql_spark.workload.storage import q147_versioned_merge
    rows = q147_versioned_merge(spark, sf_dir).collect()
    by = {(r.version, r.event_type): r for r in rows}
    assert not any(t == "corrected" for v, t in by if v == 2)
    assert ("corrected" in {t for v, t in by if v == 3}
            and "backfill" in {t for v, t in by if v == 3})
    scratch, _ = scratch_base(sf_dir)
    root = os.path.join(scratch, "events_versioned_merge")
    f2 = set(vstore.read_manifest(root, 2)["files"])
    f3 = set(vstore.read_manifest(root, 3)["files"])
    assert f2 & f3, "correction window must carry untouched files by name"
    assert f3 - f2, "matched files must be rewritten"
    assert vstore.txn_committed(root, "q147-merge")
    # pre-merge snapshot reads and has no corrected/backfill rows
    v2 = vstore.read_version(spark, root, 2)
    assert v2.filter(F.col("event_type").isin("corrected",
                                              "backfill")).count() == 0


# --- compaction contract + stats survival ------------------------------------

def test_compact_latest_pre_bytes_contract_and_pruning_survival(
        spark, tmp_path):
    root = str(tmp_path / "compactstore")
    for lo in (0, 1000, 2000, 3000):
        vstore.commit_append(
            spark, root, _mk(spark, lo, lo + 1000, 0).coalesce(1))
    files = vstore.read_manifest(root, 4)["files"]
    pre_bytes = sum(os.path.getsize(os.path.join(root, "data", f))
                    for f in files)
    fp = content_fingerprint(vstore.read_version(spark, root, 4))
    nb, na = vstore.compact_latest(spark, root, target_bytes=1 << 30,
                                   cluster_by=("id",))
    import math
    assert nb == 4 and na == max(1, math.ceil(pre_bytes / (1 << 30)))
    v5 = vstore.latest_version(root)
    assert content_fingerprint(vstore.read_version(spark, root, v5)) == fp
    # compliant layout: second pass is a no-op (no new version)
    assert vstore.compact_latest(spark, root, target_bytes=1 << 30) == (1, 1)
    assert vstore.latest_version(root) == v5
    # old snapshot intact
    assert vstore.read_version(spark, root, 1).count() == 1000
    # id stats recorded on the compacted files -> pruning still works
    _df, opened, total = vstore.read_version_pruned(
        spark, root, v5, "id", 5000, 6000)
    assert opened == 0 and total == 1


def test_compact_latest_clustered_keeps_pruning_tight(spark, tmp_path):
    """Range-clustered compaction must keep disjoint per-file id stats;
    a mid-range read opens a strict subset of the compacted files."""
    root = str(tmp_path / "clustered")
    for lo in range(0, 8000, 1000):
        # interleaved ids so only clustering (not input order) can
        # produce disjoint output ranges
        df = (spark.range(lo, lo + 1000)
              .select(((F.col("id") * 7919) % 8000).alias("id"))
              .coalesce(1))
        vstore.commit_append(spark, root, df)
    nb, na = vstore.compact_latest(spark, root, target_bytes=1 << 30,
                                   min_bins=4, cluster_by=("id",))
    assert (nb, na) == (8, 4)
    v = vstore.latest_version(root)
    man = vstore.read_manifest(root, v)
    spans = sorted(tuple(s["id"]) for s in man["stats"].values())
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans  # disjoint -> prunable
    _df, opened, total = vstore.read_version_pruned(
        spark, root, v, "id", spans[0][0], spans[0][1])
    assert opened == 1 and total == 4


# --- multi-column stats pruning ----------------------------------------------

def test_read_version_pruned_multi_conjunction(spark, tmp_path):
    root = str(tmp_path / "multistats")
    vstore.commit_append(spark, root, _mk(spark, 0, 50, 0).coalesce(1),
                         stats_cols=("k", "id"))
    vstore.commit_append(spark, root, _mk(spark, 50, 100, 0).coalesce(1),
                         stats_cols=("k", "id"))
    vstore.commit_append(spark, root, _mk(spark, 0, 50, 1).coalesce(1),
                         stats_cols=("k", "id"))
    v = vstore.latest_version(root)
    # single-column: two files overlap id range [0, 49]
    _d1, o1, t1 = vstore.read_version_pruned(spark, root, v, "id", 0, 49)
    assert (o1, t1) == (2, 3)
    # conjunction: only the (k=1, id 0..49) file survives both conjuncts
    d2, o2, t2 = vstore.read_version_pruned_multi(
        spark, root, v, {"k": (1, 1), "id": (0, 49)})
    assert (o2, t2) == (1, 3)
    full = vstore.read_version(spark, root, v).filter(
        (F.col("k") == 1) & (F.col("id") <= 49))
    assert multiset_equal(
        d2.filter((F.col("k") == 1) & (F.col("id") <= 49)), full)
    # a conjunct without stats cannot prune (conservative open)
    _d3, o3, t3 = vstore.read_version_pruned_multi(
        spark, root, v, {"nonexistent": (0, 1), "id": (0, 49)})
    assert (o3, t3) == (2, 3)
    # empty conjunction match: zero opens, schema preserved
    d4, o4, _t4 = vstore.read_version_pruned_multi(
        spark, root, v, {"k": (5, 9), "id": (0, 49)})
    assert o4 == 0 and d4.count() == 0
    assert set(d4.columns) == {"id", "k", "x"}


# --- empty commits ------------------------------------------------------------

def test_empty_commit_is_readable(spark, tmp_path):
    root = str(tmp_path / "emptystore")
    empty = _mk(spark, 0, 100, 0).filter(F.col("id") < 0)
    v = vstore.commit_append(spark, root, empty)
    assert v == 1
    got = vstore.read_version(spark, root, 1)
    assert got.count() == 0
    assert set(got.columns) == {"id", "k", "x"}
    # appends on top of an empty base work
    vstore.commit_append(spark, root, _mk(spark, 0, 10, 0).coalesce(1))
    assert vstore.read_version(spark, root, 2).count() == 10


# --- crash-orphan recovery (the interrupted-commit gate) ----------------------

def test_interrupted_commit_leaves_recoverable_orphans(
        spark, tmp_path, monkeypatch):
    """A crash BETWEEN the data-file moves and the manifest publish
    must leave the store readable at every retained version, with the
    moved files as unreferenced orphans that (a) vacuum removes
    exactly, and (b) a commit retry safely overwrites."""
    root = str(tmp_path / "crashstore")
    vstore.commit_append(spark, root, _mk(spark, 0, 100, 0).coalesce(1))
    fp1 = content_fingerprint(vstore.read_version(spark, root, 1))
    # crash at the PUBLISH step itself (after the data-file moves):
    # since the r16 O(1)-discovery hint, _manifest_path is also probed
    # at claim time (before staging), so the interception point is
    # _publish_cas — the exact boundary the test's contract names
    orig = vstore._publish_cas

    def boom(r, version, body):
        if version == 2:
            raise RuntimeError("simulated crash before manifest publish")
        return orig(r, version, body)

    monkeypatch.setattr(vstore, "_publish_cas", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        vstore.commit_append(spark, root, _mk(spark, 100, 200, 0).coalesce(1))
    monkeypatch.setattr(vstore, "_publish_cas", orig)
    # no manifest published; the old snapshot is untouched
    assert vstore.latest_version(root) == 1
    assert content_fingerprint(vstore.read_version(spark, root, 1)) == fp1
    data = os.path.join(root, "data")
    orphans = sorted(f for f in os.listdir(data) if f.startswith("v00002"))
    assert orphans, "interrupted commit must have staged data files"
    # the writer pid embedded in the orphans is THIS (live) process, so
    # vacuum must treat them as possibly-in-flight and leave them (the
    # r12 advice finding: deleting a live writer's staged files lets
    # its commit publish a manifest referencing missing files)
    assert vstore.vacuum(root, keep_versions=[1]) == []
    assert orphans == sorted(
        f for f in os.listdir(data) if f.startswith("v00002"))
    # once the writer is DEAD its staging debris is reclaimable; rename
    # the orphans to embed a provably-dead pid to simulate that
    dead = _dead_pid()
    renamed = []
    for f in orphans:
        g = f.replace(f"-p{os.getpid()}-", f"-p{dead}-")
        os.rename(os.path.join(data, f), os.path.join(data, g))
        renamed.append(g)
    removed = vstore.vacuum(root, keep_versions=[1])
    assert removed == sorted(renamed)
    assert content_fingerprint(vstore.read_version(spark, root, 1)) == fp1
    # a retry commits cleanly (same version slot, fresh files)
    v2 = vstore.commit_append(spark, root, _mk(spark, 100, 200, 0).coalesce(1))
    assert v2 == 2
    assert vstore.read_version(spark, root, 2).count() == 200


# --- optimistic concurrency: CAS publish + conflict semantics ------------------

def test_concurrent_append_retries_and_keeps_both(spark, tmp_path,
                                                  monkeypatch):
    """A blind append that loses the manifest CAS must retry against the
    new latest, publishing its staged files under the names they were
    staged with — BOTH writers' rows end up in the chain (appends
    commute)."""
    root = str(tmp_path / "occstore")
    vstore.commit_append(spark, root, _mk(spark, 0, 100, 0).coalesce(1))
    orig_cas = vstore._publish_cas
    raced = {"done": False}
    data = os.path.join(root, "data")
    base_files = set(os.listdir(data))

    def racing_cas(r, version, body):
        if not raced["done"]:
            raced["done"] = True
            # our files are staged by now; record their names
            raced["staged"] = {f for f in set(os.listdir(data)) - base_files
                               if f.endswith(".parquet")}
            # a competing writer sneaks in a full commit for the same
            # version before ours publishes
            monkeypatch.setattr(vstore, "_publish_cas", orig_cas)
            vstore.commit_append(spark, root,
                                 _mk(spark, 500, 550, 9).coalesce(1))
            monkeypatch.setattr(vstore, "_publish_cas", racing_cas)
        return orig_cas(r, version, body)

    monkeypatch.setattr(vstore, "_publish_cas", racing_cas)
    v = vstore.commit_append(spark, root, _mk(spark, 100, 200, 1).coalesce(1))
    monkeypatch.setattr(vstore, "_publish_cas", orig_cas)
    assert v == 3  # lost v2 to the racer, landed as v3
    got = vstore.read_version(spark, root, 3)
    assert got.count() == 250  # base 100 + racer 50 + ours 100
    assert got.filter("k = 9").count() == 50
    assert got.filter("k = 1").count() == 100
    # the racer's snapshot (v2) excludes our rows
    assert vstore.read_version(spark, root, 2).count() == 150
    # the loser's files published under their staged names: no re-home
    ours = (set(vstore.read_manifest(root, 3)["files"])
            - set(vstore.read_manifest(root, 2)["files"]))
    assert raced["staged"] and ours == raced["staged"]


def test_concurrent_rewrite_conflicts_loudly(spark, tmp_path, monkeypatch):
    """A rewrite losing the CAS must raise (its snapshot is stale), and
    the winner's state must be untouched; the loser's staged files are
    vacuumable orphans."""
    root = str(tmp_path / "occrewrite")
    vstore.commit_append(spark, root, _mk(spark, 0, 100, 0).coalesce(1))
    orig_cas = vstore._publish_cas

    def losing_cas(r, version, body):
        if version == 2:
            # competing writer claims v2 first
            monkeypatch.setattr(vstore, "_publish_cas", orig_cas)
            vstore.commit_append(spark, root,
                                 _mk(spark, 900, 910, 9).coalesce(1))
            monkeypatch.setattr(vstore, "_publish_cas", losing_cas)
        return orig_cas(r, version, body)

    monkeypatch.setattr(vstore, "_publish_cas", losing_cas)
    with pytest.raises(vstore.ConcurrentCommitError):
        vstore.commit_rewrite(
            spark, root,
            vstore.read_version(spark, root, 1).repartition(1))
    monkeypatch.setattr(vstore, "_publish_cas", orig_cas)
    assert vstore.latest_version(root) == 2
    assert vstore.read_version(spark, root, 2).count() == 110
    # loser's staged files are unreferenced, but their writer (this
    # process) is alive — vacuum's in-flight guard must leave them
    assert vstore.vacuum(root, keep_versions=[1, 2]) == []
    # simulate the loser process dying: its debris becomes reclaimable
    data = os.path.join(root, "data")
    kept = (set(vstore.read_manifest(root, 1)["files"])
            | set(vstore.read_manifest(root, 2)["files"]))
    dead = _dead_pid()
    for f in sorted(set(os.listdir(data)) - kept):
        os.rename(os.path.join(data, f),
                  os.path.join(data,
                               f.replace(f"-p{os.getpid()}-", f"-p{dead}-")))
    removed = vstore.vacuum(root, keep_versions=[1, 2])
    assert removed, "stale rewrite must have left orphans"
    assert vstore.read_version(spark, root, 2).count() == 110


def test_cas_publish_is_create_if_absent(tmp_path):
    root = str(tmp_path / "casroot")
    os.makedirs(os.path.join(root, "manifests"))
    assert vstore._publish_cas(root, 1, '{"files": []}') is True
    assert vstore._publish_cas(root, 1, '{"files": ["x"]}') is False
    with open(vstore._manifest_path(root, 1)) as f:
        assert f.read() == '{"files": []}'  # first writer won


# --- change data feed between snapshots -----------------------------------------

def test_version_diff_semantics(spark, tmp_path):
    """Append feeds inserts only; copy-on-write delete feeds the victims
    only (survivor re-emits cancel); a pure compaction rewrite feeds
    NOTHING although every file changed."""
    root = str(tmp_path / "cdfstore")
    vstore.commit_append(spark, root, _mk(spark, 0, 100, 0).coalesce(1))
    vstore.commit_append(spark, root, _mk(spark, 100, 200, 1).coalesce(2))
    ins, dels = vstore.version_diff(spark, root, 1, 2)
    assert dels.count() == 0
    assert multiset_equal(ins, _mk(spark, 100, 200, 1))
    # copy-on-write delete: victims only, survivors cancel
    vstore.commit_delete(spark, root,
                         (F.col("id") >= 150) & (F.col("id") < 160))
    ins3, dels3 = vstore.version_diff(spark, root, 2, 3)
    assert ins3.count() == 0
    assert multiset_equal(dels3, _mk(spark, 150, 160, 1))
    # compaction rewrite: all files replaced, zero content changes
    vstore.compact_latest(spark, root, target_bytes=1 << 30)
    assert vstore.latest_version(root) == 4
    f3 = set(vstore.read_manifest(root, 3)["files"])
    f4 = set(vstore.read_manifest(root, 4)["files"])
    assert not (f3 & f4), "rewrite must replace every file"
    ins4, dels4 = vstore.version_diff(spark, root, 3, 4)
    assert ins4.count() == 0 and dels4.count() == 0
    # merge feeds: replaced rows appear on BOTH sides (old out, new in)
    upd = (spark.range(0, 5).select(F.col("id"), F.lit(8).alias("k"),
                                    F.lit(-1).cast("long").alias("x")))
    vstore.commit_merge(spark, root, upd, key_cols=("id",))
    ins5, dels5 = vstore.version_diff(spark, root, 4, 5)
    assert multiset_equal(ins5, upd)
    assert multiset_equal(dels5, _mk(spark, 0, 5, 0))


def test_q149_transitions(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        q149_versioned_change_feed)
    rows = {(r.v_from, r.v_to, r.change_type): r for r in
            q149_versioned_change_feed(spark, sf_dir).collect()}
    assert len(rows) == 6
    assert rows[(1, 2, "insert")].n_rows > 0
    assert rows[(1, 2, "delete")].n_rows == 0
    assert rows[(3, 4, "insert")].n_rows == 0
    assert rows[(3, 4, "delete")].n_rows == 0
    assert rows[(5, 6, "delete")].n_rows > 0
    assert rows[(5, 6, "insert")].n_rows == 0
    # the append feed and the takedown feed cover the same id window
    assert rows[(1, 2, "insert")].id_sum == rows[(5, 6, "delete")].id_sum


# --- schema enforcement + evolution --------------------------------------------

def test_schema_enforcement_rejects_drift_and_type_changes(spark, tmp_path):
    root = str(tmp_path / "enforce")
    vstore.commit_append(spark, root, _mk(spark, 0, 50, 0).coalesce(1))
    drifted = (_mk(spark, 50, 60, 0)
               .withColumn("extra", F.lit(1)).coalesce(1))
    with pytest.raises(vstore.SchemaMismatchError, match="allow_evolution"):
        vstore.commit_append(spark, root, drifted)
    # a column DROP is drift too
    with pytest.raises(vstore.SchemaMismatchError):
        vstore.commit_append(spark, root,
                             _mk(spark, 50, 60, 0).drop("x").coalesce(1))
    # a type change is never additive, even under evolution
    retyped = _mk(spark, 50, 60, 0).withColumn(
        "x", F.col("x").cast("int")).coalesce(1)
    with pytest.raises(vstore.SchemaMismatchError, match="never additive"):
        vstore.commit_append(spark, root, retyped, allow_evolution=True)
    assert vstore.latest_version(root) == 1  # nothing published


def test_schema_evolution_pins_union_and_time_travels(spark, tmp_path):
    root = str(tmp_path / "evolve")
    vstore.commit_append(spark, root, _mk(spark, 0, 50, 0).coalesce(1))
    evolved = (_mk(spark, 50, 100, 1)
               .withColumn("extra", (F.col("id") * 2).cast("long"))
               .coalesce(1))
    v2 = vstore.commit_append(spark, root, evolved, allow_evolution=True)
    got = vstore.read_version(spark, root, v2)
    assert got.columns == ["id", "k", "x", "extra"]
    # legacy files surface the evolved column as NULL; new rows carry it
    assert got.filter(F.col("id") < 50)\
        .filter(F.col("extra").isNotNull()).count() == 0
    assert got.filter(F.col("id") >= 50)\
        .filter(F.col("extra") != F.col("id") * 2).count() == 0
    # time travel keeps the pre-evolution shape
    assert vstore.read_version(spark, root, 1).columns == ["id", "k", "x"]
    # a post-evolution OLD-shape producer is now drift (missing column)
    with pytest.raises(vstore.SchemaMismatchError):
        vstore.commit_append(spark, root, _mk(spark, 100, 110, 0).coalesce(1))
    # pruned reads apply the pinned union too
    d, opened, _tot = vstore.read_version_pruned(spark, root, v2,
                                                 "id", 0, 10)
    assert "extra" in d.columns and opened >= 1


def test_q148_segments_cover_generations(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.workload.storage import (
        q148_versioned_schema_evolution)
    rows = {r.segment: r for r in
            q148_versioned_schema_evolution(spark, sf_dir).collect()}
    assert set(rows) == {"v1", "v2_legacy", "v2_new"}
    assert rows["v1"].n_cols == 3 and rows["v2_new"].n_cols == 4
    assert rows["v2_legacy"].quality_nulls == rows["v2_legacy"].n_rows
    assert rows["v2_new"].quality_nulls == 0
    assert rows["v1"].n_rows == rows["v2_legacy"].n_rows


# --- q140 / q122 batch replay idempotence -------------------------------------

def test_q140_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import load
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        _ivfpq_base_index, _spread_vectors)
    from etl_pipeline_stock_market_data_postgresql_spark.sources.derived_cache import scratch_base
    from etl_pipeline_stock_market_data_postgresql_spark.workload.streaming_exec import (
        _q140_commit_batch)
    emb = load(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    b = (2 * max_id) // 3
    vecs = _spread_vectors(spark, emb).persist()
    try:
        _ivfpq_base_index(spark, sf_dir, vecs, b)
    finally:
        vecs.unpersist()
    scratch, _ = scratch_base(sf_dir)
    cpath = os.path.join(scratch, "ann_centroids")
    cbpath = os.path.join(scratch, "ann_codebook")
    store = str(tmp_path / "q140replay")
    batch = emb.filter(F.col("vec_id").between(b + 1, b + 20))
    _q140_commit_batch(spark, store, batch, 0, cpath, cbpath)
    v = vstore.latest_version(store)
    fp = content_fingerprint(vstore.read_version(spark, store, v))
    # the replay: same batch id -> the store multiset must not change
    _q140_commit_batch(spark, store, batch, 0, cpath, cbpath)
    assert vstore.latest_version(store) == v
    assert content_fingerprint(vstore.read_version(spark, store, v)) == fp
    # a genuinely new batch still lands
    _q140_commit_batch(spark, store, emb.filter(F.col("vec_id") <= 5),
                       1, cpath, cbpath)
    assert vstore.latest_version(store) == v + 1


def test_q122_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import load
    from etl_pipeline_stock_market_data_postgresql_spark.workload.streaming_exec import (
        _q122_commit_batch)
    from etl_pipeline_stock_market_data_postgresql_spark.workload.text_dedup import (
        corpus0_signature_index)
    _idx, b, cache_path = corpus0_signature_index(spark, sf_dir)
    root = str(tmp_path / "q122replay_idx")
    out_dir = str(tmp_path / "q122replay_out")
    vstore.commit_append(spark, root, spark.read.parquet(cache_path),
                         stats_cols=())
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id").between(b + 1, b + 15))
    _q122_commit_batch(spark, root, out_dir, batch, 0)
    v = vstore.latest_version(root)
    idx_fp = content_fingerprint(vstore.read_version(spark, root, v))
    out_fp = content_fingerprint(spark.read.parquet(out_dir))
    _q122_commit_batch(spark, root, out_dir, batch, 0)  # replay
    assert vstore.latest_version(root) == v
    assert content_fingerprint(vstore.read_version(spark, root, v)) == idx_fp
    assert content_fingerprint(spark.read.parquet(out_dir)) == out_fp


# --- delete_where_partitioned: hive-escaped partition values -------------------

def test_delete_where_partitioned_special_char_all_victim_dirs(
        spark, tmp_path):
    """Spark writes space/'+'/'(' literally in partition dir names but
    percent-escapes others; the all-victim removal must find the REAL
    directory by listing+unquoting, for every flavor (the r11 advice
    finding: urllib.parse.quote would reconstruct a name Spark never
    wrote)."""
    from etl_pipeline_stock_market_data_postgresql_spark.sources.compaction import (
        delete_where_partitioned)
    path = str(tmp_path / "specialparts")
    vals = ["plain", "has space", "a+b", "p(q)", "pct:colon"]
    df = (spark.range(0, 250)
          .select(F.col("id"),
                  F.element_at(F.array(*[F.lit(v) for v in vals]),
                               (F.col("id") % 5 + 1).cast("int")).alias("k")))
    df.write.partitionBy("k").parquet(path)
    dirs_before = {d for d in os.listdir(path) if d.startswith("k=")}
    assert len(dirs_before) == 5
    # every row of the three special-char partitions is a victim
    doomed = ["has space", "a+b", "pct:colon"]
    deleted = delete_where_partitioned(
        spark, path, "k", F.col("k").isin(doomed))
    assert deleted == {v: 50 for v in doomed}
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert set(r["k"] for r in back.select("k").distinct().collect()) == \
        {"plain", "p(q)"}
    # the doomed directories are REALLY gone (not resurrected)
    remaining = {d for d in os.listdir(path) if d.startswith("k=")}
    assert len(remaining) == 2


# --- q143/q145/q146: the versioned ANN chain's new versions -------------------

def test_q143_delete_carries_untouched_files_and_preserves_v5(
        spark, sf_dir):
    """The v6 takedown must be copy-on-write: at least one v5 file
    carries by name (byte-untouched), at least one was rewritten, and
    v5 still reads the pre-delete multiset."""
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        _ann_versioned_root)
    root, b, b2 = _ann_versioned_root(spark, sf_dir)
    f5 = set(vstore.read_manifest(root, 5)["files"])
    f6 = set(vstore.read_manifest(root, 6)["files"])
    carried = f5 & f6
    assert carried, "clustered takedown must carry untouched files"
    assert f6 - f5, "victim-bearing files must be rewritten"
    assert len(carried) < len(f5), "some v5 files must have victims"
    v5 = vstore.read_version(spark, root, 5)
    v6 = vstore.read_version(spark, root, 6)
    win = (F.col("id") > b) & (F.col("id") <= b2)
    assert v6.filter(win).count() == 0
    assert v5.filter(win).count() > 0  # time travel to pre-delete
    assert multiset_equal(v6, v5.filter(~win))


def test_q146_conjunction_pruning_opens_strict_subsets(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        ANN_PROBE_CELL_LO, KMEANS_K, _ann_versioned_root)
    root, b, b2 = _ann_versioned_root(spark, sf_dir)
    man = vstore.read_manifest(root, 5)
    assert all(set(s) >= {"cell", "id"} for s in man["stats"].values()), \
        "v5 must carry two-column stats"
    for preds in ({"cell": (ANN_PROBE_CELL_LO, KMEANS_K - 1), "id": (0, b)},
                  {"cell": (0, 1), "id": (b + 1, b2)}):
        _df, opened, total = vstore.read_version_pruned_multi(
            spark, root, 5, preds)
        assert 0 < opened < total, (preds, opened, total)
        # the conjunction prunes at least as hard as cell alone
        _d2, cell_only, _t = vstore.read_version_pruned_multi(
            spark, root, 5, {"cell": preds["cell"]})
        assert opened <= cell_only


def test_q145_cutover_retains_frozen_snapshot_and_models_coexist(
        spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import load
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        _ann_retrain_root, _ivfpq_base_index, _ivfpq_encode, _spread_vectors)
    from etl_pipeline_stock_market_data_postgresql_spark.sources.derived_cache import scratch_base
    root = _ann_retrain_root(spark, sf_dir)
    assert vstore.txn_seen(root) == {"frozen-full": 0, "cutover": 0}
    scratch, _ = scratch_base(sf_dir)
    # both models cached side by side (no thrash between them)
    assert os.path.isdir(os.path.join(scratch, "ann_centroids"))
    assert os.path.isdir(os.path.join(scratch, "ann_centroids_retrained"))
    emb = load(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    b = (2 * max_id) // 3
    vecs = _spread_vectors(spark, emb).persist()
    try:
        # v2 is the retrained model's full encode, exactly
        c2, cb2, _p = _ivfpq_base_index(spark, sf_dir, vecs, max_id,
                                        tag="_retrained")
        want = (_ivfpq_encode(vecs, c2, cb2)
                .select("id", "m", "code", F.col("cell").cast("int")))
        got = (vstore.read_version(spark, root, 2)
               .select("id", "m", "code", F.col("cell").cast("int")))
        assert multiset_equal(got, want)
        # v1 (frozen snapshot) still readable after the cutover rewrite
        cf, cbf, _pf = _ivfpq_base_index(spark, sf_dir, vecs, b)
        want1 = (_ivfpq_encode(vecs, cf, cbf)
                 .select("id", "m", "code", F.col("cell").cast("int")))
        got1 = (vstore.read_version(spark, root, 1)
                .select("id", "m", "code", F.col("cell").cast("int")))
        assert multiset_equal(got1, want1)
    finally:
        vecs.unpersist()


def test_q144_drift_batches_cover_the_corpus(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import load
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        q144_ann_model_drift)
    rows = {r.batch: r for r in q144_ann_model_drift(spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2}
    emb = load(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    b = (2 * max_id) // 3
    b2 = b + (max_id - b + 1) // 2
    n = emb.count()
    assert rows[0].n_vecs == emb.filter(F.col("vec_id") <= b).count()
    assert rows[1].n_vecs == emb.filter(
        (F.col("vec_id") > b) & (F.col("vec_id") <= b2)).count()
    assert sum(r.n_vecs for r in rows.values()) == n
    assert all(r.dist_q_sum >= 0 for r in rows.values())


# --- stale work-dir sweeps ------------------------------------------------------

def test_publish_dir_sweeps_dead_pid_asides(spark, tmp_path):
    from etl_pipeline_stock_market_data_postgresql_spark.sources.derived_cache import (
        publish_dir)
    target = str(tmp_path / "pubtarget")
    os.makedirs(target)
    with open(os.path.join(target, "live.txt"), "w") as f:
        f.write("old")
    stale = target + ".old-99999999"
    os.makedirs(stale)
    tmp = target + ".build"
    os.makedirs(tmp)
    with open(os.path.join(tmp, "live.txt"), "w") as f:
        f.write("new")
    publish_dir(tmp, target)
    with open(os.path.join(target, "live.txt")) as f:
        assert f.read() == "new"
    assert not os.path.exists(stale), "dead-pid aside must be reclaimed"
    assert not os.path.exists(tmp)
