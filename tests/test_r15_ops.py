"""Round-15 operator tests: the four r14 ADVICE findings on the
versioned store — (1) the lost-update race between a committer's
latest_version() read and its separate claim derivation, closed by
deriving both from ONE consistent sweep (_latest_and_claim; since
the r16 hint landed the sweep boundary is _max_claimed, which these
races patch);
(2) history() surviving a vacuum that reclaimed an aborted prepare's
segments; (3) 2PC invisibility on the pruned/point-lookup read paths;
(4) caller-supplied txid normalization in commit_multi_append."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    versioned_store as vstore)


def _ids(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("x")).coalesce(1)


# --- (1) lost-update race: one listing serves latest AND claim ---------------

def test_latest_and_claim_single_listing_invariant(spark, tmp_path):
    """claim is max(claimed)+1 and latest is the visible top — with an
    aborted hole between them, everything in (latest, claim) must be a
    hole, never a committed version the claim would skip past."""
    root = str(tmp_path / "lac")
    other = str(tmp_path / "lac_other")
    txlog = str(tmp_path / "txlog")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    vstore.commit_append(spark, other, _ids(spark, 0, 3))
    # abort a 2PC whose FIRST prepare published — punches a hole at v2
    bad = spark.createDataFrame([(1, 2)], "a long, b long").coalesce(1)
    with pytest.raises(vstore.SchemaMismatchError):
        vstore.commit_multi_append(spark, [
            (root, _ids(spark, 10, 20), {}),
            (other, bad, {}),
        ], txlog)
    latest, claim = vstore._latest_and_claim(root)[:2]
    assert latest == 1
    assert claim == 3  # never reuse the hole's number
    v = vstore.commit_append(spark, root, _ids(spark, 10, 20))
    assert v == 3


def test_append_race_after_listing_never_drops_interloper(spark, tmp_path,
                                                          monkeypatch):
    """Deterministic replay of the ADVICE race: a concurrent append
    lands immediately AFTER the committer's directory listing. With
    the single-listing claim, the committer contends for the SAME
    version number, loses the CAS, retries (blind appends commute) and
    publishes carrying the interloper's files — both row sets visible.
    (Pre-fix, the second listing let the claim skip past the
    interloper and the stale-prev manifest silently dropped it.)"""
    root = str(tmp_path / "race_append")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    real = vstore._max_claimed
    state = {"fired": False}

    def racy_listing(r):
        out = real(r)
        if not state["fired"]:
            state["fired"] = True
            # the interloper: a full commit landing right after this
            # listing (uses the real listing via state flag)
            vstore.commit_append(spark, root, _ids(spark, 100, 110))
        return out

    monkeypatch.setattr(vstore, "_max_claimed", racy_listing)
    vstore.commit_append(spark, root, _ids(spark, 10, 20))
    monkeypatch.setattr(vstore, "_max_claimed", real)
    v = vstore.latest_version(root)
    ids = {r["id"] for r in vstore.read_version(spark, root, v).collect()}
    assert ids == set(range(0, 20)) | set(range(100, 110))


def test_mor_delete_rebases_over_interleaved_append(spark, tmp_path,
                                                    monkeypatch):
    """A blind append landing between a MoR delete's staging and its
    CAS is DISJOINT (the appended files were not visible to the
    delete): the delete must rebase onto the new latest and publish
    without restaging — never drop the append, never raise. The
    delete's semantics stay as-of its snapshot (WriteSerializable):
    the appended rows are untouched even where they match."""
    root = str(tmp_path / "race_mor")
    vstore.commit_append(spark, root, _ids(spark, 0, 20))
    real_cas = vstore._publish_cas
    state = {"fired": False}

    def racy_cas(r, v, body):
        if not state["fired"]:
            state["fired"] = True
            vstore.commit_append(spark, root, _ids(spark, 100, 105))
        return real_cas(r, v, body)

    monkeypatch.setattr(vstore, "_publish_cas", racy_cas)
    v, nmarked, nvict = vstore.commit_delete_mor(
        spark, root, F.col("id") % 2 == 0)
    monkeypatch.setattr(vstore, "_publish_cas", real_cas)
    assert nvict == 10
    assert v == vstore.latest_version(root) == 3
    assert vstore._read_manifest_raw(root, 3)["rebased_from"] == 1
    df = vstore.read_version(spark, root, 3)
    # both commits visible: evens of the snapshot gone, append intact
    # (including its even ids — the delete was derived before them)
    assert df.filter(F.col("id") < 100).count() == 10
    assert df.filter(F.col("id") >= 100).count() == 5


def test_metadata_commit_race_after_listing_raises(spark, tmp_path,
                                                   monkeypatch):
    """Same interleaving against a metadata-only commit (ADD
    CONSTRAINT path): interloper lands right after the listing; the
    metadata commit must lose the CAS and raise, leaving the
    interloper's rows visible."""
    root = str(tmp_path / "race_meta")
    vstore.commit_append(spark, root, _ids(spark, 1, 10))
    real = vstore._max_claimed
    state = {"fired": False}

    def racy_listing(r):
        out = real(r)
        if not state["fired"]:
            state["fired"] = True
            vstore.commit_append(spark, root, _ids(spark, 100, 103))
        return out

    monkeypatch.setattr(vstore, "_max_claimed", racy_listing)
    with pytest.raises(vstore.ConcurrentCommitError):
        vstore._metadata_commit(root, lambda raw: None, "noop_meta")
    monkeypatch.setattr(vstore, "_max_claimed", real)
    v = vstore.latest_version(root)
    assert vstore.read_version(spark, root, v).count() == 12


def test_restore_race_after_listing_raises(spark, tmp_path, monkeypatch):
    """RESTORE derives from the pre-listing latest; an interloper
    landing after the listing must surface as ConcurrentCommitError —
    a silent success would un-do the interloper's commit."""
    root = str(tmp_path / "race_restore")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    vstore.commit_append(spark, root, _ids(spark, 10, 20))
    real = vstore._max_claimed
    state = {"fired": False}

    def racy_listing(r):
        out = real(r)
        if not state["fired"]:
            state["fired"] = True
            vstore.commit_append(spark, root, _ids(spark, 100, 104))
        return out

    monkeypatch.setattr(vstore, "_max_claimed", racy_listing)
    with pytest.raises(vstore.ConcurrentCommitError):
        vstore.restore(spark, root, 1)
    monkeypatch.setattr(vstore, "_max_claimed", real)
    v = vstore.latest_version(root)
    assert vstore.read_version(spark, root, v).count() == 24
    # a clean retry (the documented re-read-and-retry) still works
    rv = vstore.restore(spark, root, 1)
    assert vstore.read_version(spark, root, rv).count() == 10


# --- (2) history() after vacuum reclaimed an aborted hole --------------------

def test_history_survives_vacuumed_aborted_hole(spark, tmp_path,
                                                monkeypatch):
    """An aborted prepare's exclusive segments/files are vacuumable
    once the writer pid dies; history() must keep working afterwards,
    reporting the hole with NULL file counts instead of raising
    FileNotFoundError mid-audit."""
    root = str(tmp_path / "hist_vac")
    other = str(tmp_path / "hist_vac_other")
    txlog = str(tmp_path / "txlog")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    vstore.commit_append(spark, other, _ids(spark, 0, 3))
    bad = spark.createDataFrame([(1, 2)], "a long, b long").coalesce(1)
    with pytest.raises(vstore.SchemaMismatchError):
        vstore.commit_multi_append(spark, [
            (root, _ids(spark, 10, 20), {}),
            (other, bad, {}),
        ], txlog)
    vstore.commit_append(spark, root, _ids(spark, 10, 15))
    # vacuum as if this writer had died (the dead-writer rule is the
    # only thing keeping the hole's segments in-process)
    monkeypatch.setattr(vstore, "_pid_alive", lambda pid: False)
    vstore.vacuum(root, keep_versions=[1, 3])
    monkeypatch.undo()
    hist = {r["version"]: r for r in
            vstore.history(spark, root).collect()}
    assert set(hist) == {1, 2, 3}
    assert hist[2]["op"] == "append (aborted)"
    assert hist[2]["n_new_files"] is None
    assert hist[2]["n_live_files"] is None
    assert hist[1]["n_live_files"] is not None
    assert hist[3]["n_live_files"] is not None
    # visible reads unaffected
    assert vstore.read_version(
        spark, root, vstore.latest_version(root)).count() == 15


# --- (3) 2PC invisibility on pruned read paths --------------------------------

def test_pruned_reads_enforce_tx_visibility(spark, tmp_path):
    """A PREPARED (in-doubt) manifest must be invisible through EVERY
    read entry point: read_version_pruned_multi and
    read_version_point_lookup used to resolve the raw manifest
    directly and leak the prepared rows."""
    root = str(tmp_path / "prune_vis")
    txlog = str(tmp_path / "txlog")
    vstore.commit_append(spark, root, _ids(spark, 0, 10),
                         stats_cols=("id",), bloom_cols=("id",))
    # hand-prepare v2: a manifest marked pending under a LIVE
    # coordinator (this process) with no decision record → in-doubt
    txid = f"tx-p{os.getpid()}-vis"
    v2 = vstore._commit(
        spark, root, _ids(spark, 10, 20), carry="prev",
        stats_cols=("id",), txn=None, op="append",
        bloom_cols=("id",),
        pending_tx=(os.path.abspath(txlog), txid))
    assert v2 == 2
    with pytest.raises(vstore.InDoubtTransactionError):
        vstore.read_version_pruned_multi(spark, root, 2, {"id": (0, 5)})
    with pytest.raises(vstore.InDoubtTransactionError):
        vstore.read_version_point_lookup(spark, root, 2, "id", 3)
    # decide aborted → permanent hole, still invisible
    vstore._tx_write_decision(txlog, txid, "aborted")
    with pytest.raises(vstore.AbortedTransactionError):
        vstore.read_version_pruned_multi(spark, root, 2, {"id": (0, 5)})
    with pytest.raises(vstore.AbortedTransactionError):
        vstore.read_version_point_lookup(spark, root, 2, "id", 3)
    # v1 stays readable through both paths
    df, _, _ = vstore.read_version_pruned_multi(spark, root, 1,
                                                {"id": (0, 5)})
    assert df.filter("id <= 5").count() == 6


# --- (4) caller-supplied txid normalization -----------------------------------

def test_multi_append_normalizes_foreign_txid(spark, tmp_path):
    """A caller-supplied txid lacking this coordinator's live pid
    would be presumed-aborted by the first concurrent reader
    mid-prepare; commit_multi_append must normalize it to embed
    os.getpid() so the transaction stays live."""
    s1 = str(tmp_path / "s1")
    txlog = str(tmp_path / "txlog")
    vstore.commit_multi_append(
        spark, [(s1, _ids(spark, 0, 10), {})], txlog,
        txid="nightly-batch-42")
    assert vstore.latest_version(s1) == 1
    assert vstore.read_version(spark, s1, 1).count() == 10
    # the decision record is under the normalized, pid-embedded name
    expected = f"tx-p{os.getpid()}-nightly-batch-42"
    assert os.path.exists(os.path.join(txlog, f"{expected}.decision"))
    # and the raw manifest's pending_tx resolves committed for readers
    raw = vstore._read_manifest_raw(s1, 1)
    assert raw["pending_tx"][1] == expected
    assert vstore._tx_coordinator_pid(expected) == os.getpid()

def test_multi_append_rejects_unsafe_txid(spark, tmp_path):
    s1 = str(tmp_path / "s1")
    txlog = str(tmp_path / "txlog")
    with pytest.raises(ValueError):
        vstore.commit_multi_append(
            spark, [(s1, _ids(spark, 0, 5), {})], txlog,
            txid="../escape/attempt")


def test_multi_append_pid_embedded_txid_passthrough(spark, tmp_path):
    """A txid already in coordinator format with THIS pid passes
    through unchanged (the format the function itself generates)."""
    s1 = str(tmp_path / "s1")
    txlog = str(tmp_path / "txlog")
    txid = f"tx-p{os.getpid()}-77"
    vstore.commit_multi_append(
        spark, [(s1, _ids(spark, 0, 5), {})], txlog, txid=txid)
    assert os.path.exists(os.path.join(txlog, f"{txid}.decision"))


# --- the change-feed streaming source (q164) ----------------------------------

def _mkstore(spark, root, lo, hi, **kw):
    vstore.commit_append(spark, root, _ids(spark, lo, hi),
                         stats_cols=("id",), **kw)


def test_cdf_source_reader_offsets_and_holes(spark, tmp_path):
    """Direct reader-API test: offsets are store versions, aborted 2PC
    holes feed nothing, and an in-doubt prepare HOLDS latestOffset back
    until the transaction decides (2PC invisibility under streaming)."""
    import os as _os

    from etl_pipeline_stock_market_data_postgresql_spark.streaming.cdf_source import (
        StoreCDFStreamReader)

    root = str(tmp_path / "src")
    other = str(tmp_path / "other")
    txlog = str(tmp_path / "txlog")
    _mkstore(spark, root, 0, 10)
    _mkstore(spark, other, 0, 3)
    # v2 = aborted hole (two-target 2PC, second participant drifts)
    bad = spark.createDataFrame([(1, 2)], "a long, b long").coalesce(1)
    with pytest.raises(vstore.SchemaMismatchError):
        vstore.commit_multi_append(spark, [
            (root, _ids(spark, 10, 20), {}),
            (other, bad, {}),
        ], txlog)
    _mkstore(spark, root, 20, 25)  # v3
    reader = StoreCDFStreamReader(root, 0)
    assert reader.initialOffset() == {"version": 0}
    assert reader.latestOffset() == {"version": 3}
    parts = reader.partitions({"version": 0}, {"version": 3})
    # v2 contributes NOTHING; v1 and v3 each one added file
    assert sorted((p.version, p.kind) for p in parts) == [
        (1, "insert"), (3, "insert")]
    rows = [r for p in parts for b in reader.read(p)
            for r in b.to_pylist()]
    ids = {r["id"] for r in rows}
    assert ids == set(range(0, 10)) | set(range(20, 25))
    assert all(r["_change_type"] == "insert" for r in rows)
    # in-doubt prepare at v4 (live coordinator, no decision record):
    # latestOffset must hold at 3, not raise and not leak
    txid = f"tx-p{_os.getpid()}-hold"
    vstore._commit(spark, root, _ids(spark, 30, 35), carry="prev",
                   stats_cols=("id",), op="append",
                   pending_tx=(_os.path.abspath(txlog), txid))
    assert reader.latestOffset() == {"version": 3}
    vstore._tx_write_decision(txlog, txid, "committed")
    assert reader.latestOffset() == {"version": 4}


def test_cdf_source_schema_evolution_null_fill(spark, tmp_path):
    """Files predating a schema evolution surface the added column as
    NULL under the stream's pinned (latest) schema."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming.cdf_source import (
        StoreCDFStreamReader)

    root = str(tmp_path / "src")
    _mkstore(spark, root, 0, 5)
    evolved = spark.range(5, 8).select(
        F.col("id"), (F.col("id") * 10).alias("x"),
        (F.col("id") + 100).alias("y")).coalesce(1)
    vstore.commit_append(spark, root, evolved, stats_cols=("id",),
                         allow_evolution=True)
    reader = StoreCDFStreamReader(root, 0)
    parts = reader.partitions({"version": 0}, {"version": 2})
    rows = [r for p in parts for b in reader.read(p)
            for r in b.to_pylist()]
    by_id = {r["id"]: r for r in rows}
    assert by_id[0]["y"] is None  # pre-evolution file: NULL fill
    assert by_id[6]["y"] == 106
    assert len(rows) == 8


def test_cdf_source_column_mapping_rename(spark, tmp_path):
    """On a column-mapped store the feed speaks LOGICAL names — files
    written before a RENAME surface under the new name (physical
    fields are rename-stable)."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming.cdf_source import (
        StoreCDFStreamReader)

    root = str(tmp_path / "src")
    vstore.commit_append(spark, root, _ids(spark, 0, 5),
                         stats_cols=(), column_mapping=True)
    vstore.rename_column(spark, root, "x", "metric")
    vstore.commit_append(spark, root, spark.range(5, 8).select(
        F.col("id"), (F.col("id") * 10).alias("metric")).coalesce(1),
        stats_cols=())
    reader = StoreCDFStreamReader(root, 0)
    parts = reader.partitions({"version": 0}, {"version": 3})
    rows = [r for p in parts for b in reader.read(p)
            for r in b.to_pylist()]
    assert len(rows) == 8
    assert all("metric" in r and "x" not in r for r in rows)
    assert {r["metric"] for r in rows} == {i * 10 for i in range(8)}


def test_q164_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """q164's sink through a REAL checkpoint restart: crash injected
    AFTER the MV commit of batch 0 but BEFORE foreachBatch returns (so
    the checkpoint commit log never records it); restart replays batch
    0, the txn ledger no-ops it, and the final MV equals a one-shot
    control run over the same final source."""
    import os as _os

    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        cdf_source)
    from etl_pipeline_stock_market_data_postgresql_spark.workload.storage import (
        _q164_apply_batch)

    src = str(tmp_path / "src")
    base = spark.range(0, 200).select(
        F.col("id").alias("event_id"), (F.col("id") % 7).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string"))
        .alias("event_type"),
        (F.col("id") * 11).alias("value_q"))
    vstore.commit_append(spark, src,
                         base.repartitionByRange(2, "event_id"),
                         stats_cols=("event_id",))

    def run_stream(mv_root, ck, poison=None):
        def sink(bdf, bid):
            _q164_apply_batch(bdf.sparkSession, mv_root, bdf, bid)
            if poison is not None and bid == 0 and _os.path.exists(poison):
                _os.remove(poison)
                raise RuntimeError(
                    "injected crash after MV commit, before checkpoint")

        q = (cdf_source.read_change_feed_stream(spark, src)
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        finally:
            q.stop()

    mv, ck = str(tmp_path / "mv"), str(tmp_path / "ck")
    poison = str(tmp_path / "poison")
    open(poison, "w").close()
    with pytest.raises(Exception, match="injected crash"):
        run_stream(mv, ck, poison=poison)
    # the crash landed after batch 0's MV commit: ledger has it,
    # checkpoint does not
    assert vstore.txn_seen(mv).get("q164") == 0
    # restart from the SAME checkpoint: batch 0 replays and no-ops
    run_stream(mv, ck, poison=poison)
    assert vstore.txn_seen(mv).get("q164") == 0  # nothing new landed
    # new commits: a CoW delete, then follow from the checkpoint
    vstore.commit_delete(spark, src, F.col("event_id") % 5 == 0,
                         stats_cols=("event_id",))
    run_stream(mv, ck)
    final = {(r["event_type"]): (r["n_rows"], r["value_q_sum"])
             for r in vstore.read_version(
                 spark, mv, vstore.latest_version(mv)).collect()}
    # one-shot control over the same final source
    mv2, ck2 = str(tmp_path / "mv2"), str(tmp_path / "ck2")
    run_stream(mv2, ck2)
    control = {(r["event_type"]): (r["n_rows"], r["value_q_sum"])
               for r in vstore.read_version(
                   spark, mv2, vstore.latest_version(mv2)).collect()}
    assert final == control
    # and both equal the direct snapshot aggregate
    direct = {(r["event_type"]): (r["n_rows"], r["value_q_sum"])
              for r in vstore.read_version(
                  spark, src, vstore.latest_version(src))
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   F.sum("value_q").alias("value_q_sum")).collect()}
    assert final == direct


# --- UPDATE verb on the versioned store (q165) --------------------------------

def test_commit_update_semantics(spark, tmp_path):
    """Updated rows carry the assigned values (cast to the recorded
    type), untouched rows and files are byte-stable, NULL conditions
    leave rows alone (SQL three-valued UPDATE), unknown assignment
    columns are rejected, and the txn key makes replays no-op."""
    root = str(tmp_path / "upd")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, None), (3, 30, "b"), (4, 40, "a")],
        "id long, x long, tag string").coalesce(2)
    vstore.commit_append(spark, root, df)
    files_v1 = vstore.read_manifest(root, 1)["files"]
    # tag = 'a' matches ids 1,4; tag NULL (id 2) must NOT update
    v, nrw, ncar = vstore.commit_update(
        spark, root, F.col("tag") == "a",
        {"x": F.col("x") + 1000}, txn="fix-1")
    assert v == 2
    got = {r["id"]: r["x"] for r in
           vstore.read_version(spark, root, 2).collect()}
    assert got == {1: 1010, 2: 20, 3: 30, 4: 1040}
    # time travel: v1 pre-correction content intact
    old = {r["id"]: r["x"] for r in
           vstore.read_version(spark, root, 1).collect()}
    assert old == {1: 10, 2: 20, 3: 30, 4: 40}
    # replay under the same txn no-ops
    v2, nrw2, _ = vstore.commit_update(
        spark, root, F.col("tag") == "a",
        {"x": F.col("x") + 1000}, txn="fix-1")
    assert (v2, nrw2) == (2, 0)
    # unknown assignment column rejected
    with pytest.raises(ValueError, match="unknown column"):
        vstore.commit_update(spark, root, F.col("id") == 1,
                             {"nope": F.lit(0)})
    # no matches → no commit
    v3, nrw3, _ = vstore.commit_update(spark, root,
                                       F.col("id") > 100, {"x": "x + 1"})
    assert (v3, nrw3) == (2, 0)
    # assignment casts to the recorded type (double literal → long col)
    vstore.commit_update(spark, root, F.col("id") == 3,
                         {"x": F.lit(7.9)})
    got = {r["id"]: r["x"] for r in
           vstore.read_version(
               spark, root, vstore.latest_version(root)).collect()}
    assert got[3] == 7 and isinstance(got[3], int)
    assert vstore.history(spark, root).filter("op = 'update'").count() == 2
    assert files_v1 == vstore.read_manifest(root, 1)["files"]


def test_commit_update_keeps_row_ids_and_prunes(spark, tmp_path):
    """On a row-tracked store every survivor — updated or not — keeps
    its stable _row_id (identity survives correction; the typed feed
    pairs pre/post by it), and a key-clustered UPDATE rewrites only
    the files whose stats cover the condition."""
    root = str(tmp_path / "upd_rid")
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 10).alias("x"))
    vstore.commit_append(spark, root,
                         base.repartitionByRange(4, "id"),
                         stats_cols=("id",), row_ids=True)
    r1 = {r["id"]: r["_row_id"] for r in
          vstore.read_version_rows(spark, root, 1).collect()}
    # ids 0..9 live in file 1 of the range layout only
    v, nrw, ncar = vstore.commit_update(
        spark, root, F.col("id") < 10, {"x": F.col("x") + 1},
        stats_cols=("id",))
    assert nrw == 1 and ncar == 3  # pruned rewrite: 1 victim file
    r2 = {r["id"]: r["_row_id"] for r in
          vstore.read_version_rows(spark, root, 2).collect()}
    assert r2 == r1  # identity stable under UPDATE
    got = {r["id"]: r["x"] for r in
           vstore.read_version(spark, root, 2).collect()}
    assert all(got[i] == i * 10 + 1 for i in range(10))
    assert all(got[i] == i * 10 for i in range(10, 100))
    # the typed feed pairs the update by row id (keyless)
    feed = vstore.version_diff_typed_rows(spark, root, 1, 2)
    kinds = {r["_change_type"] for r in feed.collect()}
    assert kinds <= {"update_preimage", "update_postimage"}
    assert feed.filter("_change_type = 'update_postimage'").count() == 10


# --- BPE encode scale path (r14 verdict finding 1) ----------------------------

def _bpe_reference_encode(w, merges):
    """encode_expr's exact semantics driver-side: every merge applied
    in rank order as one exhaustive left-to-right non-overlapping
    str.replace — no codegen limit, so it references ANY vocab size."""
    from etl_pipeline_stock_market_data_postgresql_spark.operators.bpe import SEP
    for _, a, b, m, _cnt in merges:
        w = w.replace(f"{SEP}{a}{SEP}{SEP}{b}{SEP}", f"{SEP}{m}{SEP}")
    return w


def test_bpe_encode_paths_agree_on_shared_corpus(spark, sf_dir):
    """The expression path and the Arrow-batched rank-dict path are
    the same function: force each on the same trained table and
    compare outputs word-for-word."""
    from etl_pipeline_stock_market_data_postgresql_spark.operators import bpe
    from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import (
        load)

    words = (load(spark, sf_dir, "documents")
             .select(F.explode(F.split(F.lower("text"), r"[^a-z0-9]+"))
                     .alias("word"))
             .filter(F.length("word") > 0)
             .groupBy("word").agg(F.count("*").alias("freq"))
             .select("word", bpe.wrap_word(F.col("word")).alias("w"),
                     "freq"))
    merges = bpe.train_bpe(words.select("w", "freq"), 48)
    expr_path = {r["word"]: r["enc"] for r in bpe.encode_words(
        words, "w", merges, "enc").collect()}            # 48 <= 256: expr
    pandas_path = {r["word"]: r["enc"] for r in bpe.encode_words(
        words, "w", merges, "enc", max_expr_merges=0).collect()}
    assert expr_path == pandas_path


def test_bpe_encode_scales_past_codegen_limit(spark):
    """Train ≥2k merges and encode through the scale path; outputs
    match the rank-order replace reference exactly (the r14 verdict's
    done-criterion). 2k merges ≈ 8x the old single-projection gate and
    already past what one codegen method should hold."""
    import random

    from etl_pipeline_stock_market_data_postgresql_spark.operators import bpe

    rng = random.Random(15)
    vocab = {}
    for _ in range(4000):
        w = "".join(rng.choice("abcdefgh") for _ in range(rng.randint(3, 24)))
        vocab[w] = vocab.get(w, 0) + rng.randint(1, 9)
    words = spark.createDataFrame(
        [(w, f) for w, f in sorted(vocab.items())], "word string, freq long"
    ).select("word", bpe.wrap_word(F.col("word")).alias("w"), "freq")
    merges = bpe.train_bpe(words.select("w", "freq"), 2048)
    assert len(merges) >= 2000, f"corpus exhausted at {len(merges)} merges"
    got = {r["word"]: r["enc"] for r in
           bpe.encode_words(words, "w", merges, "enc").collect()}
    wrapped = {r["word"]: r["w"] for r in words.collect()}
    for w in vocab:
        assert got[w] == _bpe_reference_encode(wrapped[w], merges), w


# --- file-granularity OCC for MoR deletes (r14 verdict item 6) ----------------

def _dv_count(root):
    return len([f for f in os.listdir(os.path.join(root, "data"))
                if f.startswith("dv-") and f.endswith(".json")])


def test_disjoint_mor_deletes_one_staging_pass_each(spark, tmp_path,
                                                    monkeypatch):
    """Two MoR deletes whose victims live in DISJOINT files (two
    takedowns on different key ranges of a clustered store): the CAS
    loser rebases and publishes without restaging — both land, and the
    sidecar count on disk proves exactly one staging pass each (a
    restage would leave orphan sidecars)."""
    root = str(tmp_path / "disjoint_mor")
    base = spark.range(0, 200).select(
        F.col("id"), (F.col("id") * 10).alias("x"))
    vstore.commit_append(spark, root,
                         base.repartitionByRange(4, "id"),
                         stats_cols=("id",))
    cond_a = (F.col("id") < 40) & (F.col("id") % 2 == 0)   # file 1
    cond_b = (F.col("id") >= 160) & (F.col("id") % 2 == 0)  # file 4
    real_cas = vstore._publish_cas
    state = {"fired": False}

    def racy_cas(r, v, body):
        if not state["fired"]:
            state["fired"] = True
            vstore.commit_delete_mor(spark, root, cond_a)  # interloper
        return real_cas(r, v, body)

    monkeypatch.setattr(vstore, "_publish_cas", racy_cas)
    v, nmarked_b, nvict_b = vstore.commit_delete_mor(spark, root, cond_b)
    monkeypatch.setattr(vstore, "_publish_cas", real_cas)
    assert v == vstore.latest_version(root) == 3
    assert (nmarked_b, nvict_b) == (1, 20)
    df = vstore.read_version(spark, root, 3)
    assert df.filter(cond_a).count() == 0  # interloper's delete held
    assert df.filter(cond_b).count() == 0
    assert df.count() == 200 - 20 - 20
    # one sidecar per marked file per delete — NO restage orphans
    assert _dv_count(root) == 2
    # intermediate snapshots stay exact
    assert vstore.read_version(spark, root, 2).count() == 180
    assert vstore.read_version(spark, root, 1).count() == 200


def test_overlapping_mor_deletes_conflict(spark, tmp_path, monkeypatch):
    """Same interleaving, but both deletes mark the SAME file: the
    loser's staged sidecar unioned a vector that moved under it —
    rebasing would drop the winner's deletions, so it must raise."""
    root = str(tmp_path / "overlap_mor")
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 10).alias("x"))
    vstore.commit_append(spark, root,
                         base.repartitionByRange(2, "id"),
                         stats_cols=("id",))
    real_cas = vstore._publish_cas
    state = {"fired": False}

    def racy_cas(r, v, body):
        if not state["fired"]:
            state["fired"] = True
            vstore.commit_delete_mor(spark, root, F.col("id") % 10 == 0)
        return real_cas(r, v, body)

    monkeypatch.setattr(vstore, "_publish_cas", racy_cas)
    with pytest.raises(vstore.ConcurrentCommitError,
                       match="marked files"):
        vstore.commit_delete_mor(spark, root, F.col("id") % 10 == 5)
    monkeypatch.setattr(vstore, "_publish_cas", real_cas)
    # the winner's delete is intact; a clean retry then lands
    assert vstore.read_version(spark, root, 2).count() == 90
    vstore.commit_delete_mor(spark, root, F.col("id") % 10 == 5)
    assert vstore.read_version(spark, root, 3).count() == 80


def test_mor_delete_conflicts_on_concurrent_metadata(spark, tmp_path,
                                                     monkeypatch):
    """A concurrent metadata change (ADD CONSTRAINT here) is never
    rebased over — table-wide rules may have been validated against
    rows this delete is removing; conservative conflict."""
    root = str(tmp_path / "meta_mor")
    vstore.commit_append(spark, root, _ids(spark, 1, 50))
    real_cas = vstore._publish_cas
    state = {"fired": False}

    def racy_cas(r, v, body):
        if not state["fired"]:
            state["fired"] = True
            vstore.add_check_constraint(spark, root, "pos", "x >= 0")
        return real_cas(r, v, body)

    monkeypatch.setattr(vstore, "_publish_cas", racy_cas)
    with pytest.raises(vstore.ConcurrentCommitError):
        vstore.commit_delete_mor(spark, root, F.col("id") % 2 == 0)
    monkeypatch.setattr(vstore, "_publish_cas", real_cas)
    assert vstore.check_constraints(root) == {"pos": "x >= 0"}


def test_occ_two_process_disjoint_mor_deletes(spark, tmp_path):
    """The r14 verdict's done-criterion for file-granularity OCC: two
    SEPARATE DRIVER PROCESSES MoR-delete disjoint files of the same
    store, staged at a barrier so their commit windows overlap. Both
    must land with ONE staging pass each — the loser rebases rather
    than raising — proven by zero absorbed conflicts in the workers'
    reports and exactly one sidecar per marked file on disk."""
    from tests.test_r14_ops import _spawn_verb_workers

    root = str(tmp_path / "two_proc_disjoint")
    base = spark.range(0, 200).select(
        F.col("id"), F.lit(1).alias("k"), (F.col("id") * 3).alias("x"))
    vstore.commit_append(spark, root,
                         base.repartitionByRange(4, "id"),
                         stats_cols=("id",))
    outs = _spawn_verb_workers(tmp_path, root,
                               [(0, "mor_low"), (1, "mor_high")])
    # the rebase path absorbs the race: no ConcurrentCommitError at all
    for out, _err in outs:
        assert b"conflicts=0" in out, out
    assert vstore.latest_version(root) == 3
    df = vstore.read_version(spark, root, 3)
    assert df.filter("id < 40 AND id % 2 = 0").count() == 0
    assert df.filter("id >= 160 AND id % 2 = 0").count() == 0
    assert df.count() == 200 - 20 - 20
    assert _dv_count(root) == 2  # one staging pass each, no orphans


def _preempt_cas_once(monkeypatch, interloper):
    """Patch _publish_cas so the FIRST publish attempt is preempted by
    ``interloper()`` — the deterministic replay of a commit landing
    between a writer's staging and its CAS."""
    real_cas = vstore._publish_cas
    state = {"fired": False}

    def racy_cas(r, v, body):
        if not state["fired"]:
            state["fired"] = True
            interloper()
        return real_cas(r, v, body)

    monkeypatch.setattr(vstore, "_publish_cas", racy_cas)
    return real_cas


def test_cow_delete_rebases_over_interleaved_append(spark, tmp_path,
                                                    monkeypatch):
    """Copy-on-write DELETE loses its CAS to a blind append: disjoint
    at file granularity, so the staged survivors publish on a rebased
    manifest carrying the appended files — both commits land, nothing
    restages, nothing is lost."""
    root = str(tmp_path / "cow_rebase")
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 10).alias("x"))
    vstore.commit_append(spark, root,
                         base.repartitionByRange(4, "id"),
                         stats_cols=("id",))
    _preempt_cas_once(monkeypatch, lambda: vstore.commit_append(
        spark, root, _ids(spark, 500, 510)))
    v, nrw, ncar = vstore.commit_delete(spark, root,
                                        (F.col("id") < 25)
                                        & (F.col("id") % 2 == 0),
                                        stats_cols=("id",))
    monkeypatch.undo()
    assert v == vstore.latest_version(root) == 3
    df = vstore.read_version(spark, root, 3)
    assert df.filter("id < 25 AND id % 2 = 0").count() == 0
    assert df.filter("id >= 500").count() == 10
    assert df.count() == 100 - 13 + 10


def test_cow_delete_conflicts_when_victim_rewritten(spark, tmp_path,
                                                    monkeypatch):
    """The interloper UPDATES rows in the same file this delete is
    rewriting: the staged survivors were derived from superseded
    bytes — must raise, never publish stale content."""
    root = str(tmp_path / "cow_conflict")
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 10).alias("x"))
    vstore.commit_append(spark, root,
                         base.repartitionByRange(4, "id"),
                         stats_cols=("id",))
    _preempt_cas_once(monkeypatch, lambda: vstore.commit_update(
        spark, root, F.col("id") == 3, {"x": F.lit(999)},
        stats_cols=("id",)))
    with pytest.raises(vstore.ConcurrentCommitError):
        vstore.commit_delete(spark, root,
                             (F.col("id") < 25) & (F.col("id") % 2 == 0),
                             stats_cols=("id",))
    monkeypatch.undo()
    # the interloper's update survived; a clean retry lands
    got = {r["id"]: r["x"] for r in vstore.read_version(
        spark, root, vstore.latest_version(root)).collect()}
    assert got[3] == 999
    vstore.commit_delete(spark, root,
                         (F.col("id") < 25) & (F.col("id") % 2 == 0),
                         stats_cols=("id",))
    df = vstore.read_version(spark, root, vstore.latest_version(root))
    assert df.count() == 87


def test_compaction_rebases_over_concurrent_append(spark, tmp_path,
                                                   monkeypatch):
    """OPTIMIZE/compaction replaced the whole snapshot it read; a
    concurrent append's files must ride along on the rebased manifest
    (Delta's OPTIMIZE-vs-append rule) instead of being replaced away
    or forcing a re-compaction."""
    root = str(tmp_path / "compact_rebase")
    for lo in range(0, 80, 10):  # 8 small files
        vstore.commit_append(spark, root, _ids(spark, lo, lo + 10))
    _preempt_cas_once(monkeypatch, lambda: vstore.commit_append(
        spark, root, _ids(spark, 900, 905)))
    n_before, n_after = vstore.compact_latest(
        spark, root, target_bytes=1 << 30, cluster_by=("id",))
    monkeypatch.undo()
    assert n_before == 8
    df = vstore.read_version(spark, root, vstore.latest_version(root))
    assert df.filter("id >= 900").count() == 5  # append survived
    assert df.count() == 85
    # compacted bins + the appended file — far fewer than 9
    man = vstore.read_manifest(root, vstore.latest_version(root))
    assert len(man["files"]) == 2


def test_merge_rebases_over_disjoint_append(spark, tmp_path, monkeypatch):
    """MERGE (update one clustered file + inserts) loses its CAS to an
    append of unrelated rows: rebase carries the appended files;
    matched updates and inserts land exactly once."""
    root = str(tmp_path / "merge_rebase")
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 10).alias("x"))
    vstore.commit_append(spark, root,
                         base.repartitionByRange(4, "id"),
                         stats_cols=("id",))
    ups = spark.createDataFrame([(5, -5), (200, -200)], "id long, x long")
    _preempt_cas_once(monkeypatch, lambda: vstore.commit_append(
        spark, root, _ids(spark, 900, 903)))
    vstore.commit_merge(spark, root, ups.coalesce(1), key_cols=("id",),
                        stats_cols=("id",))
    monkeypatch.undo()
    got = {r["id"]: r["x"] for r in vstore.read_version(
        spark, root, vstore.latest_version(root)).collect()}
    assert got[5] == -5 and got[200] == -200
    assert got[900] == 9000
    assert len(got) == 100 + 1 + 3
    assert vstore._read_manifest_raw(
        root, vstore.latest_version(root))["rebased_from"] == 1


# --- merge-on-read UPDATE (deletion vectors + appended postimages) ------------

def test_commit_update_mor_semantics(spark, tmp_path):
    """Victim rows are masked in place (vectors), postimages append as
    ONE small file; carried files are byte-untouched; earlier
    snapshots keep the pre-correction content; vectors union on a
    repeat update of the same file; purge restores the zero-tax
    plan."""
    root = str(tmp_path / "mor_upd")
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 10).alias("x"))
    vstore.commit_append(spark, root,
                         base.repartitionByRange(4, "id"),
                         stats_cols=("id",))
    files_v1 = list(vstore.read_manifest(root, 1)["files"])
    v, nmarked, nupd = vstore.commit_update_mor(
        spark, root, (F.col("id") < 25) & (F.col("id") % 5 == 0),
        {"x": F.col("x") + 1}, stats_cols=("id",), txn="fix-1")
    assert (v, nmarked, nupd) == (2, 1, 5)
    man2 = vstore.read_manifest(root, 2)
    assert set(files_v1) <= set(man2["files"])  # nothing removed
    assert len(man2["files"]) == len(files_v1) + 1  # one postimage file
    got = {r["id"]: r["x"] for r in
           vstore.read_version(spark, root, 2).collect()}
    assert all(got[i] == i * 10 + 1 for i in range(0, 25, 5))
    assert got[7] == 70 and len(got) == 100
    old = {r["id"]: r["x"] for r in
           vstore.read_version(spark, root, 1).collect()}
    assert all(old[i] == i * 10 for i in range(0, 25, 5))
    # replay no-ops; unknown column rejected; no-match no-op
    assert vstore.commit_update_mor(
        spark, root, F.col("id") < 25, {"x": "x"}, txn="fix-1") == (2, 0, 0)
    with pytest.raises(ValueError, match="unknown column"):
        vstore.commit_update_mor(spark, root, F.col("id") == 1,
                                 {"nope": F.lit(0)})
    assert vstore.commit_update_mor(
        spark, root, F.col("id") > 900, {"x": "x + 1"})[2] == 0
    # second update touching the SAME file: vector unions, both stick
    v3, _, n3 = vstore.commit_update_mor(
        spark, root, (F.col("id") < 25) & (F.col("id") % 5 == 1),
        {"x": F.col("x") - 1}, stats_cols=("id",))
    assert n3 == 5
    got3 = {r["id"]: r["x"] for r in
            vstore.read_version(spark, root, v3).collect()}
    assert all(got3[i] == i * 10 + 1 for i in range(0, 25, 5))
    assert all(got3[i] == i * 10 - 1 for i in range(1, 25, 5))
    assert len(got3) == 100
    # purge drops every vector; content identical
    pv, npurged = vstore.purge_deletion_vectors(spark, root,
                                                stats_cols=("id",))
    assert npurged >= 1
    got4 = {r["id"]: r["x"] for r in
            vstore.read_version(spark, root, pv).collect()}
    assert got4 == got3
    ops = {r["version"]: r["op"] for r in
           vstore.history(spark, root).collect()}
    assert ops[2] == "update_mor" and ops[3] == "update_mor"


def test_commit_update_mor_row_ids_and_typed_feed(spark, tmp_path):
    """Postimages keep their row ids, so the KEYLESS typed feed
    classifies a MoR update as update_preimage/update_postimage
    pairs — same contract as the copy-on-write verbs."""
    root = str(tmp_path / "mor_upd_rid")
    base = spark.range(0, 60).select(
        F.col("id"), (F.col("id") * 10).alias("x"))
    vstore.commit_append(spark, root,
                         base.repartitionByRange(3, "id"),
                         stats_cols=("id",), row_ids=True)
    r1 = {r["id"]: r["_row_id"] for r in
          vstore.read_version_rows(spark, root, 1).collect()}
    vstore.commit_update_mor(spark, root, F.col("id") % 20 == 3,
                             {"x": F.lit(-1)}, stats_cols=("id",))
    r2 = {r["id"]: r["_row_id"] for r in
          vstore.read_version_rows(spark, root, 2).collect()}
    assert r2 == r1  # identity stable through the MoR update
    feed = vstore.version_diff_typed_rows(spark, root, 1, 2)
    rows = feed.collect()
    kinds = {r["_change_type"] for r in rows}
    assert kinds == {"update_preimage", "update_postimage"}
    assert len([r for r in rows
                if r["_change_type"] == "update_postimage"]) == 3
    assert all(r["x"] == -1 for r in rows
               if r["_change_type"] == "update_postimage")


def test_commit_update_mor_streaming_feed_signed_exact(spark, tmp_path):
    """The change-feed streaming source feeds a MoR update as masked
    positions (delete) + the postimage file (insert); signed
    aggregation equals the snapshot."""
    import os as _os

    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        cdf_source)

    root = str(tmp_path / "mor_upd_stream")
    vstore.commit_append(spark, root, _ids(spark, 0, 30),
                         stats_cols=("id",))
    vstore.commit_update_mor(spark, root, F.col("id") % 7 == 0,
                             {"x": F.col("x") + 100},
                             stats_cols=("id",))
    out = str(tmp_path / "out")
    q = (cdf_source.read_change_feed_stream(spark, root)
         .writeStream.trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .foreachBatch(lambda bdf, bid:
                       bdf.write.mode("append").parquet(out))
         .start())
    q.awaitTermination()
    feed = spark.read.parquet(out)
    sign = F.when(F.col("_change_type") == "insert",
                  F.lit(1)).otherwise(F.lit(-1))
    signed = feed.agg(F.sum(sign).alias("n"),
                      F.sum(sign * F.col("x")).alias("xs")).first()
    snap = vstore.read_version(spark, root, 2).agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("xs")).first()
    assert (signed["n"], signed["xs"]) == (snap["n"], snap["xs"])


def test_commit_update_mor_rebases_over_append(spark, tmp_path,
                                               monkeypatch):
    """A concurrent append is disjoint from the marked files: the MoR
    update rebases and both commits land."""
    root = str(tmp_path / "mor_upd_rebase")
    vstore.commit_append(spark, root, _ids(spark, 0, 40),
                         stats_cols=("id",))
    _preempt_cas_once(monkeypatch, lambda: vstore.commit_append(
        spark, root, _ids(spark, 500, 505)))
    v, nmarked, nupd = vstore.commit_update_mor(
        spark, root, F.col("id") % 10 == 0, {"x": F.lit(0)},
        stats_cols=("id",))
    monkeypatch.undo()
    assert v == vstore.latest_version(root) == 3
    got = {r["id"]: r["x"] for r in
           vstore.read_version(spark, root, 3).collect()}
    assert all(got[i] == 0 for i in range(0, 40, 10))
    assert got[500] == 5000 and len(got) == 45
    assert vstore._read_manifest_raw(root, 3)["rebased_from"] == 1


def test_cdf_source_admission_control(spark, tmp_path):
    """maxVersionsPerBatch + cursorPath drain a 5-version backlog in
    ≤2-version batches ACROSS RESTARTED availableNow passes (each pass
    admits one capped window; the durable cursor survives the restart,
    which Spark's start-less Python source API cannot do alone), with
    per-batch version spans never exceeding the cap and the union
    equal to the uncapped feed. The cap also requires the cursor."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        cdf_source)

    root = str(tmp_path / "src")
    for lo in range(0, 50, 10):
        vstore.commit_append(spark, root, _ids(spark, lo, lo + 10))
    out = str(tmp_path / "out")
    cursor = str(tmp_path / "cursor")
    batches = []

    def sink(bdf, bid):
        vs = [r["_commit_version"] for r in
              bdf.select("_commit_version").distinct().collect()]
        batches.append((bid, sorted(vs)))
        bdf.write.mode("append").parquet(out)

    def run_pass():
        q = (cdf_source.read_change_feed_stream(
                spark, root, max_versions_per_batch=2,
                cursor_path=cursor)
             .writeStream.trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .foreachBatch(sink).start())
        q.awaitTermination()

    for _ in range(4):  # 3 draining passes + 1 idle pass
        run_pass()
    assert [vs for _, vs in batches] == [[1, 2], [3, 4], [5]], batches
    feed = spark.read.parquet(out)
    assert feed.count() == 50
    assert {r["id"] for r in feed.collect()} == set(range(50))
    # the cap without a cursor is rejected (reader-construction error
    # surfaces at awaitTermination)
    with pytest.raises(Exception, match="cursorPath"):
        q = (cdf_source.read_change_feed_stream(spark, root,
                                                max_versions_per_batch=2)
             .writeStream.trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ck2"))
             .foreachBatch(lambda b, i: None).start())
        q.awaitTermination()


# --- the versioned-store streaming SINK ---------------------------------------

def _feed_two_batches(spark, tmp_path, n=100):
    import time as _time

    feed = str(tmp_path / "feed")
    d1 = _ids(spark, 0, n // 2)
    d2 = _ids(spark, n // 2, n)
    d1.write.mode("overwrite").parquet(feed)
    first = {f for f in os.listdir(feed) if f.endswith(".parquet")}
    d2.write.mode("append").parquet(feed)
    now = _time.time()
    for f in os.listdir(feed):
        if f.endswith(".parquet"):
            t = now - 10.0 if f in first else now
            os.utime(os.path.join(feed, f), (t, t))
    return feed, spark.read.parquet(feed).schema


def test_store_sink_exactly_once_across_restart(spark, tmp_path):
    """df.writeStream.format("versioned_store"): each micro-batch is
    ONE txn-keyed manifest commit; a crash injected after batch 0's
    commit but before the checkpoint records it replays the batch on
    restart and the ledger no-ops it — final content equals the feed
    exactly, no duplicates, and the staged files carry footer stats."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        store_sink)

    feed, schema = _feed_two_batches(spark, tmp_path)
    root = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    poison = str(tmp_path / "poison")
    open(poison, "w").close()

    class _Crash(Exception):
        pass

    def run(crash_after_b0=False):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(feed))
        q = (store_sink.write_stream_to_store(
                stream, root, ck, app_id="sink-test",
                stats_cols=("id",))
             .trigger(availableNow=True).start())
        try:
            while q.isActive:
                if (crash_after_b0 and os.path.exists(poison)
                        and vstore.latest_version(root) is not None):
                    os.remove(poison)
                    q.stop()  # "crash": commit landed, checkpoint may
                    break     # not have recorded the batch
                q.awaitTermination(0.2)
        finally:
            q.stop()
            q.awaitTermination()

    run(crash_after_b0=True)
    n_after_crash = vstore.txn_seen(root).get("sink-test", -1)
    run()  # restart: replayed batches no-op via the ledger
    run()  # and an idle extra pass changes nothing
    assert vstore.txn_seen(root).get("sink-test") == 1
    assert n_after_crash <= 1
    v = vstore.latest_version(root)
    df = vstore.read_version(spark, root, v)
    assert df.count() == 100
    assert {r["id"] for r in df.collect()} == set(range(100))
    # per-version isolation: batch 0's snapshot holds only batch 0
    assert vstore.read_version(spark, root, 1).count() == 50
    # footer stats landed (file skipping works on sink output)
    man = vstore.read_manifest(root, v)
    assert any("id" in fs for fs in man.get("stats", {}).values())
    ops = {r["op"] for r in vstore.history(spark, root).collect()}
    assert ops == {"append"}


def test_store_sink_schema_enforcement_and_constraints(spark, tmp_path):
    """The sink enforces the store's schema (drift aborts the batch and
    stages become dead-pid orphans, never a published manifest) and
    validates CHECK constraints on the staged bytes."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        store_sink)

    root = str(tmp_path / "store")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    vstore.add_check_constraint(spark, root, "pos", "x >= 0")
    feed = str(tmp_path / "feed_bad")
    spark.createDataFrame([(1, -5)], "id long, x long").coalesce(1) \
        .write.parquet(feed)
    schema = spark.read.parquet(feed).schema
    q = (store_sink.write_stream_to_store(
            spark.readStream.schema(schema).parquet(feed),
            root, str(tmp_path / "ck1"), app_id="bad")
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="pos|Constraint|constraint"):
        q.awaitTermination()
    assert vstore.latest_version(root) == 2  # nothing published
    # drifted schema (extra column, no evolution opt-in) also aborts
    feed2 = str(tmp_path / "feed_drift")
    spark.createDataFrame([(1, 5, 9)], "id long, x long, zz long") \
        .coalesce(1).write.parquet(feed2)
    schema2 = spark.read.parquet(feed2).schema
    q = (store_sink.write_stream_to_store(
            spark.readStream.schema(schema2).parquet(feed2),
            root, str(tmp_path / "ck2"), app_id="drift")
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="[Ss]chema"):
        q.awaitTermination()
    assert vstore.latest_version(root) == 2
    # with evolution opted in, the widened batch lands
    q = (store_sink.write_stream_to_store(
            spark.readStream.schema(schema2).parquet(feed2),
            root, str(tmp_path / "ck3"), app_id="evolve",
            allow_evolution=True)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    df = vstore.read_version(spark, root, vstore.latest_version(root))
    assert "zz" in df.columns
    assert df.filter("zz IS NULL").count() == 10  # legacy rows NULL


def test_store_sink_row_tracking_assigns_ids(spark, tmp_path):
    """Sink appends into a row-tracked store mint fresh, unique ids
    from the manifest high-water mark, exactly like a batch append."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        store_sink)

    root = str(tmp_path / "store")
    vstore.commit_append(spark, root, _ids(spark, 0, 10), row_ids=True)
    feed = str(tmp_path / "feed")
    _ids(spark, 10, 30).write.parquet(feed)
    schema = spark.read.parquet(feed).schema
    q = (store_sink.write_stream_to_store(
            spark.readStream.schema(schema).parquet(feed),
            root, str(tmp_path / "ck"), app_id="rt")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = vstore.read_version_rows(
        spark, root, vstore.latest_version(root)).collect()
    rids = [r["_row_id"] for r in rows]
    assert len(rids) == 30 and len(set(rids)) == 30


def test_cdf_source_signed_feed_matches_every_snapshot_prefix(spark,
                                                              tmp_path):
    """Model walk for the streaming change feed: a seeded random verb
    chain (append / CoW delete / MoR delete / CoW+MoR update / merge /
    compaction / purge / restore) drives a store, then the WHOLE feed
    streams from version 0 and, for EVERY visible version v, the
    signed aggregation of feed rows with _commit_version <= v must
    equal snapshot v's aggregate — insert/delete pairing is exact
    across all verb interactions (rewrite survivors self-cancel,
    DV deltas feed positions, restore feeds the rollback diff)."""
    import random

    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        cdf_source)

    for seed in (7, 23):
        rng = random.Random(seed)
        root = str(tmp_path / f"walk{seed}")
        nxt = [1000]

        def fresh(n):
            lo = nxt[0]
            nxt[0] += n
            return spark.range(lo, lo + n).select(
                F.col("id"), (F.col("id") * 10).alias("x")).coalesce(1)

        vstore.commit_append(spark, root, fresh(40), stats_cols=("id",))
        verbs = ["append", "delete", "mor_delete", "update",
                 "mor_update", "merge", "compact", "purge", "restore"]
        for _step in range(10):
            verb = rng.choice(verbs)
            mod = rng.randint(2, 9)
            try:
                if verb == "append":
                    vstore.commit_append(spark, root, fresh(15),
                                         stats_cols=("id",))
                elif verb == "delete":
                    vstore.commit_delete(spark, root,
                                         F.col("id") % mod == 0,
                                         stats_cols=("id",))
                elif verb == "mor_delete":
                    vstore.commit_delete_mor(spark, root,
                                             F.col("id") % mod == 1)
                elif verb == "update":
                    vstore.commit_update(spark, root,
                                         F.col("id") % mod == 0,
                                         {"x": F.col("x") + 1},
                                         stats_cols=("id",))
                elif verb == "mor_update":
                    vstore.commit_update_mor(spark, root,
                                             F.col("id") % mod == 1,
                                             {"x": F.col("x") - 1},
                                             stats_cols=("id",))
                elif verb == "merge":
                    ups = fresh(5).withColumn("x", F.col("x") + 7)
                    vstore.commit_merge(spark, root, ups,
                                        key_cols=("id",),
                                        stats_cols=("id",))
                elif verb == "compact":
                    vstore.compact_latest(spark, root,
                                          target_bytes=1 << 30,
                                          cluster_by=("id",))
                elif verb == "purge":
                    vstore.purge_deletion_vectors(spark, root,
                                                  stats_cols=("id",))
                elif verb == "restore":
                    cur = vstore.latest_version(root)
                    tgt = rng.randint(1, cur)
                    vstore.restore(spark, root, tgt)
            except (vstore.ConcurrentCommitError, FileNotFoundError):
                continue  # restore past a horizon etc. — skip verb
        out = str(tmp_path / f"out{seed}")
        q = (cdf_source.read_change_feed_stream(spark, root)
             .writeStream.trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / f"ck{seed}"))
             .foreachBatch(lambda bdf, bid:
                           bdf.write.mode("append").parquet(out))
             .start())
        q.awaitTermination()
        feed = spark.read.parquet(out)
        sign = F.when(F.col("_change_type") == "insert",
                      F.lit(1)).otherwise(F.lit(-1))
        latest = vstore.latest_version(root)
        for v in range(1, latest + 1):
            try:
                snap = vstore.read_version(spark, root, v)
            except vstore.AbortedTransactionError:
                continue
            sa = snap.agg(F.count(F.lit(1)).alias("n"),
                          F.sum("x").alias("xs")).first()
            fa = (feed.filter(F.col("_commit_version") <= v)
                  .agg(F.sum(sign).alias("n"),
                       F.sum(sign * F.col("x")).alias("xs")).first())
            assert (fa["n"] or 0, fa["xs"] or 0) == \
                (sa["n"], sa["xs"] or 0), (seed, v)
