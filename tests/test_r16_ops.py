"""Round-16 operator tests: the two r15 ADVICE findings — (1) the
change-feed source crashing (and permanently wedging the stream) on a
carried file whose deletion vector was REMOVED (restore to a
pre-MoR-delete version emitted a dv_diff delete partition with
dv_include=None); (2) commit_multi_append's txid charset validation
being skippable via a caller-supplied id whose embedded pid parses to
the caller's own pid ('x-p<pid>-../../evil' path traversal)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    versioned_store as vstore)
from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
    cdf_source)


def _ids(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("x")).coalesce(1)


def _stream_feed(spark, root, tmp_path, tag):
    out = str(tmp_path / f"feed-{tag}")
    q = (cdf_source.read_change_feed_stream(spark, root)
         .writeStream.trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / f"ck-{tag}"))
         .foreachBatch(lambda bdf, bid:
                       bdf.write.mode("append").parquet(out))
         .start())
    q.awaitTermination()
    return spark.read.parquet(out)


# --- (1) restore after MoR delete: removed DV must not crash the feed --------

def test_cdf_restore_after_mor_delete_feeds_rollback_inserts(
        spark, tmp_path):
    """The exact ADVICE repro: append → MoR delete → restore(1). The
    restore REMOVES the carried file's deletion vector (dv_t None,
    dv_f set); the feed must emit the unmarked positions as inserts —
    and no delete partition at all (newly-marked set is empty) —
    instead of crashing read() with os.path.join(root, 'data', None).
    Signed aggregation of the full feed must equal every snapshot."""
    root = str(tmp_path / "src")
    vstore.commit_append(spark, root, _ids(spark, 0, 10),
                         stats_cols=("id",))
    vstore.commit_delete_mor(spark, root, F.col("id") % 3 == 0)
    vstore.restore(spark, root, 1)
    feed = _stream_feed(spark, root, tmp_path, "restore-mor")
    sign = F.when(F.col("_change_type") == "insert",
                  F.lit(1)).otherwise(F.lit(-1))
    for v in range(1, vstore.latest_version(root) + 1):
        snap = vstore.read_version(spark, root, v)
        sa = snap.agg(F.count(F.lit(1)).alias("n"),
                      F.sum("x").alias("xs")).first()
        fa = (feed.filter(F.col("_commit_version") <= v)
              .agg(F.sum(sign).alias("n"),
                   F.sum(sign * F.col("x")).alias("xs")).first())
        assert (fa["n"] or 0, fa["xs"] or 0) == (sa["n"], sa["xs"]), v
    # v3 (the restore) feeds exactly the rows the MoR delete had
    # marked, as inserts — 4 rows (ids 0,3,6,9), no deletes
    v3 = feed.filter(F.col("_commit_version") == 3)
    assert v3.filter(F.col("_change_type") == "delete").count() == 0
    assert sorted(r["id"] for r in v3.collect()) == [0, 3, 6, 9]


def test_cdf_classify_skips_delete_partition_when_dv_removed(
        spark, tmp_path):
    """Unit-level pin on _classify: carried file, dv_f set, dv_t None
    ⇒ exactly one dv_diff INSERT partition (dv_include=dv_f), no
    partition with dv_include=None anywhere."""
    root = str(tmp_path / "src")
    vstore.commit_append(spark, root, _ids(spark, 0, 10),
                         stats_cols=("id",))
    vstore.commit_delete_mor(spark, root, F.col("id") < 2)
    vstore.restore(spark, root, 1)
    reader = cdf_source.StoreCDFStreamReader(root, 0)
    parts = reader.partitions({"version": 2}, {"version": 3})
    assert [p.kind for p in parts] == ["insert"]
    assert parts[0].mode == "dv_diff"
    assert parts[0].dv_include is not None
    assert parts[0].dv_exclude is None
    # and read() on it works (this is what crashed pre-fix)
    import pyarrow as pa

    rows = sum(b.num_rows for b in reader.read(parts[0]))
    assert rows == 2


def test_cdf_model_walk_seed_with_restore_after_mor(spark, tmp_path):
    """Model-walk seed chosen to exercise restore-over-MoR-vector
    rollback (the case seeds 7/23 miss): a deterministic verb chain
    containing mor_delete → ... → restore to a pre-vector version,
    then the signed feed must equal every snapshot prefix."""
    root = str(tmp_path / "walk")
    nxt = [1000]

    def fresh(n):
        lo = nxt[0]
        nxt[0] += n
        return spark.range(lo, lo + n).select(
            F.col("id"), (F.col("id") * 10).alias("x")).coalesce(1)

    vstore.commit_append(spark, root, fresh(40), stats_cols=("id",))
    vstore.commit_delete_mor(spark, root, F.col("id") % 4 == 0)
    vstore.commit_append(spark, root, fresh(15), stats_cols=("id",))
    vstore.commit_delete_mor(spark, root, F.col("id") % 4 == 1)
    vstore.restore(spark, root, 1)          # rolls BOTH vectors back
    vstore.commit_update_mor(spark, root, F.col("id") % 5 == 2,
                             {"x": F.col("x") - 1}, stats_cols=("id",))
    vstore.restore(spark, root, 4)          # re-applies one vector
    feed = _stream_feed(spark, root, tmp_path, "walk")
    sign = F.when(F.col("_change_type") == "insert",
                  F.lit(1)).otherwise(F.lit(-1))
    for v in range(1, vstore.latest_version(root) + 1):
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
            (sa["n"], sa["xs"] or 0), v


# --- MERGE matched-DELETE / conditional-INSERT clauses (CDC apply) ------------

def _kv(spark, rows):
    return spark.createDataFrame(rows, "id long, x long").coalesce(1)


def test_merge_matched_delete_clause(spark, tmp_path):
    """WHEN MATCHED AND cond THEN DELETE: matched rows satisfying the
    condition vanish; the source rows that deleted them never
    re-insert; untouched files carry by name."""
    root = str(tmp_path / "s")
    vstore.commit_append(
        spark, root,
        spark.range(0, 20).select(F.col("id"),
                                  (F.col("id") * 10).alias("x"))
        .repartitionByRange(2, "id"),
        stats_cols=("id",))
    ups = spark.createDataFrame(
        [(1, 111, "U"), (3, 0, "D"), (30, 300, "U"), (31, 0, "D")],
        "id long, x long, op string").coalesce(1)
    v, nrw, ncar = vstore.commit_merge(
        spark, root, ups, key_cols=("id",), stats_cols=("id",),
        matched_delete=F.col("s.op") == "D",
        not_matched_insert_condition=F.col("op") != "D")
    df = vstore.read_version(spark, root, v)
    got = {r["id"]: r["x"] for r in df.collect()}
    assert 3 not in got                      # matched tombstone deleted
    assert got[1] == 111                     # matched upsert updated
    assert got[30] == 300                    # unmatched upsert inserted
    assert 31 not in got                     # unmatched tombstone no-op
    assert len(got) == 20 - 1 + 1
    # both touched keys (1, 3) live in the low-range file; the high
    # file carries (30 inserts into the new file)
    assert ncar >= 1


def test_merge_delete_clause_wins_over_update(spark, tmp_path):
    """Delta clause order: a matched row satisfying BOTH the delete
    and the update conditions DELETES (the delete clause is first)."""
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _kv(spark, [(1, 10), (2, 20)]),
                         stats_cols=("id",))
    ups = spark.createDataFrame([(1, 999, "D")],
                                "id long, x long, op string")
    v, _, _ = vstore.commit_merge(
        spark, root, ups, key_cols=("id",), stats_cols=("id",),
        matched_delete=F.col("s.op") == "D",
        matched_condition=F.lit(True))
    got = {r["id"]: r["x"] for r in
           vstore.read_version(spark, root, v).collect()}
    assert got == {2: 20}


def test_merge_matched_delete_keeps_row_ids(spark, tmp_path):
    """Row-tracked store: survivors keep their stable ids through a
    matched-delete merge; the deleted id disappears and is never
    reused."""
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _kv(spark, [(1, 10), (2, 20),
                                                  (3, 30)]),
                         stats_cols=("id",), row_ids=True)
    before = {r["id"]: r["_row_id"] for r in
              vstore.read_version_rows(spark, root, 1).collect()}
    ups = spark.createDataFrame([(2, 0, "D"), (3, 333, "U")],
                                "id long, x long, op string")
    v, _, _ = vstore.commit_merge(
        spark, root, ups, key_cols=("id",), stats_cols=("id",),
        matched_delete=F.col("s.op") == "D",
        not_matched_insert_condition=F.col("op") != "D")
    after = {r["id"]: (r["x"], r["_row_id"]) for r in
             vstore.read_version_rows(spark, root, v).collect()}
    assert set(after) == {1, 3}
    assert after[1] == (10, before[1])   # untouched keeps id
    assert after[3] == (333, before[3])  # updated keeps id
    assert before[2] not in {rid for _, rid in after.values()}


# --- compact deletion-vector encoding (r15 verdict item 5) --------------------

def test_dv_codec_roundtrip_property():
    """v2 delta-varint round-trips arbitrary sorted position sets,
    including boundary magnitudes, and v1 documents stay readable."""
    import random

    from etl_pipeline_stock_market_data_postgresql_spark.sources import (
        dv_codec)

    rng = random.Random(16)
    for _ in range(60):
        span = 10 ** rng.choice([1, 3, 6, 9, 15])
        n = rng.choice([0, 1, 2, 17, 500])
        pos = sorted(rng.sample(range(span + 600), min(n, 600)))
        doc = dv_codec.encode_positions_doc(pos)
        assert doc["format"] == 2 and doc["n"] == len(pos)
        assert dv_codec.decode_positions_doc(doc) == pos
    big = [0, 1, 2**40, 2**62, 2**63 - 1]
    assert dv_codec.decode_positions_doc(
        dv_codec.encode_positions_doc(big)) == big
    assert dv_codec.decode_positions_doc(
        {"positions": [1, 5, 9]}) == [1, 5, 9]
    with pytest.raises(ValueError):
        dv_codec.decode_positions_doc({"format": 99, "payload": ""})


def test_dv_v2_sidecars_read_mixed_with_v1(spark, tmp_path):
    """A store holding BOTH sidecar formats (v1 written by an older
    build, v2 by this one) reads identically through the driver-
    broadcast AND the distributed sidecar-scan branches."""
    import json

    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 2000)
                         .repartition(2), stats_cols=("id",))
    vstore.commit_delete_mor(spark, root, F.col("id") % 5 == 0)
    man = vstore.read_manifest(root, vstore.latest_version(root))
    dvs = sorted({s[vstore._DV_KEY] for s in man["stats"].values()
                  if vstore._DV_KEY in s})
    assert len(dvs) >= 2
    # downgrade ONE sidecar to v1 in place (same name, same positions)
    pos = vstore._read_dv(root, dvs[0])
    with open(os.path.join(root, "data", dvs[0]), "w",
              encoding="ascii") as f:
        json.dump({"positions": sorted(pos)}, f)
    expected = 2000 - len(range(0, 2000, 5))
    n_driver = vstore.read_version(
        spark, root, vstore.latest_version(root)).count()
    old = vstore._DV_DRIVER_BYTES
    try:
        vstore._DV_DRIVER_BYTES = 0  # force the distributed branch
        n_dist = vstore.read_version(
            spark, root, vstore.latest_version(root)).count()
    finally:
        vstore._DV_DRIVER_BYTES = old
    assert n_driver == n_dist == expected


def test_dv_v2_feeds_change_feed_positions(spark, tmp_path):
    """The streaming change feed decodes v2 sidecars executor-side:
    a MoR delete feeds exactly the newly-marked positions."""
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 50),
                         stats_cols=("id",))
    vstore.commit_delete_mor(spark, root, F.col("id") % 10 == 3)
    feed = _stream_feed(spark, root, tmp_path, "v2feed")
    d = feed.filter((F.col("_commit_version") == 2)
                    & (F.col("_change_type") == "delete"))
    assert sorted(r["id"] for r in d.collect()) == [3, 13, 23, 33, 43]


# --- restart-time schema refresh (r15 verdict item 4) -------------------------

def test_cdf_restart_from_checkpoint_picks_up_evolved_schema(
        spark, tmp_path):
    """Evolve the store's schema BETWEEN two runs of the same
    checkpointed stream: the restarted query must (a) resume from the
    checkpoint offset exactly-once and (b) stream under the NEW
    schema — post-evolution rows carry the added column, and
    pre-evolution files surface it as NULL."""
    root = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    vstore.commit_append(spark, root, _ids(spark, 0, 10),
                         stats_cols=("id",))

    def drain():
        q = (cdf_source.read_change_feed_stream(spark, root)
             .writeStream.trigger(availableNow=True)
             .option("checkpointLocation", ck)
             .option("mergeSchema", "true")
             .foreachBatch(lambda bdf, bid:
                           bdf.write.mode("append")
                           .option("mergeSchema", "true").parquet(out))
             .start())
        q.awaitTermination()

    drain()  # pass 1: v1 under the 2-column schema
    evolved = spark.range(100, 105).select(
        F.col("id"), (F.col("id") * 10).alias("x"),
        F.lit("tagged").alias("tag")).coalesce(1)
    vstore.commit_append(spark, root, evolved, stats_cols=("id",),
                         allow_evolution=True)
    drain()  # pass 2 (restart from checkpoint): v2 under 3 columns
    feed = spark.read.option("mergeSchema", "true").parquet(out)
    assert "tag" in feed.columns
    # exactly-once across the restart: v1 fed once, v2 fed once
    assert feed.filter(F.col("_commit_version") == 1).count() == 10
    v2 = feed.filter(F.col("_commit_version") == 2)
    assert v2.count() == 5
    assert v2.filter(F.col("tag") == "tagged").count() == 5
    # pass-1 rows predate the evolution; their files lack the column
    v1 = feed.filter(F.col("_commit_version") == 1)
    assert v1.filter(F.col("tag").isNull()).count() == 10
    # and a THIRD pass re-reading pre-evolution leftovers under the
    # new schema NULL-fills (no stale pinned schema anywhere)
    vstore.commit_delete(spark, root, F.col("id") < 2,
                         stats_cols=("id",))
    drain()
    v3 = spark.read.option("mergeSchema", "true").parquet(out) \
        .filter(F.col("_commit_version") == 3)
    # CoW delete: survivors re-fed as delete+insert pairs from the
    # rewritten pre-evolution file → tag NULL on all of them
    assert v3.count() > 0
    assert v3.filter(F.col("tag").isNotNull()).count() == 0


# --- (2) txid charset enforced even for own-pid-format ids --------------------

def test_multi_append_rejects_own_pid_traversal_txid(spark, tmp_path):
    """'x-p<pid>-../../evil' parses its embedded pid to os.getpid(),
    which pre-fix skipped the charset check and opened
    txlog/<txid>.intent verbatim — path traversal. Must raise, and
    must write NOTHING outside the txlog."""
    s1 = str(tmp_path / "s1")
    txlog = str(tmp_path / "inner" / "txlog")
    evil = f"x-p{os.getpid()}-../../evil"
    with pytest.raises(ValueError):
        vstore.commit_multi_append(
            spark, [(s1, _ids(spark, 0, 5), {})], txlog, txid=evil)
    assert not os.path.exists(str(tmp_path / "evil.intent"))
    assert not any((tmp_path / "inner").rglob("*evil*")) \
        if (tmp_path / "inner").exists() else True


def test_multi_append_rejects_malformed_own_pid_txid(spark, tmp_path):
    """A txid whose pid segment parses to ours but that is not in the
    canonical tx-p<pid>-<suffix> shape (wrong prefix) must be
    rejected, not passed through."""
    s1 = str(tmp_path / "s1")
    txlog = str(tmp_path / "txlog")
    with pytest.raises(ValueError):
        vstore.commit_multi_append(
            spark, [(s1, _ids(spark, 0, 5), {})], txlog,
            txid=f"weird-p{os.getpid()}-ok")


# --- Arrow-batch store sink (the r15 verdict's perf-weak fix) ----------------

def _feed_dir(spark, tmp_path, tag, lo, hi, parts=2, col="x"):
    feed = str(tmp_path / f"feed-{tag}")
    (spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias(col))
     .coalesce(parts).write.parquet(feed))
    return feed


def _sink_stream(spark, feed, root, ck, impl, **kw):
    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        store_sink)

    schema = spark.read.parquet(feed).schema
    stream = spark.readStream.schema(schema).parquet(feed)
    q = (store_sink.write_stream_to_store(
            stream, root, ck, writer_impl=impl, **kw)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
    finally:
        q.stop()


def test_sink_arrow_and_row_paths_commit_identically(spark, tmp_path):
    """Property-pin: the Arrow-batch writer and the legacy Row writer
    produce stores with identical logical content, identical manifest
    stats (min/max per staged file), and identical txn ledgers."""
    feed = _feed_dir(spark, tmp_path, "ab", 0, 5000, parts=3)
    ra, rr = str(tmp_path / "sa"), str(tmp_path / "sr")
    _sink_stream(spark, feed, ra, str(tmp_path / "cka"), "arrow",
                 app_id="ab", stats_cols=("id",))
    _sink_stream(spark, feed, rr, str(tmp_path / "ckr"), "row",
                 app_id="ab", stats_cols=("id",))
    da = vstore.read_version(spark, ra, vstore.latest_version(ra))
    dr = vstore.read_version(spark, rr, vstore.latest_version(rr))
    assert da.schema == dr.schema
    assert da.exceptAll(dr).count() == 0
    assert dr.exceptAll(da).count() == 0
    ma = vstore.read_manifest(ra, vstore.latest_version(ra))
    mr = vstore.read_manifest(rr, vstore.latest_version(rr))
    sa = sorted(repr(s.get("id")) for s in ma["stats"].values())
    sr = sorted(repr(s.get("id")) for s in mr["stats"].values())
    assert sa == sr
    assert vstore.txn_seen(ra) == vstore.txn_seen(rr)


def test_sink_arrow_writer_is_dispatched(spark, tmp_path):
    """The default writer must be the DataSourceStreamArrowWriter
    subclass — the whole point of the migration (pyspark dispatches
    on isinstance, so a broken MRO would silently fall back to rows)."""
    from pyspark.sql.datasource import DataSourceStreamArrowWriter

    from etl_pipeline_stock_market_data_postgresql_spark.streaming.store_sink import (
        VersionedStoreSink)

    sink = VersionedStoreSink(options={"path": str(tmp_path / "s")})
    w = sink.streamWriter(_ids(spark, 0, 1).schema, overwrite=False)
    assert isinstance(w, DataSourceStreamArrowWriter)


def test_sink_arrow_empty_partition_sentinel(spark, tmp_path):
    """An all-empty micro-batch through the Arrow path still commits
    (txn ledger must stay monotone) and publishes a zero-file version."""
    feed = str(tmp_path / "feed")
    df = spark.range(0, 0).select(F.col("id"),
                                  (F.col("id") * 10).alias("x"))
    df.coalesce(1).write.parquet(feed)
    _sink_stream(spark, feed, str(tmp_path / "s"), str(tmp_path / "ck"),
                 "arrow", app_id="empty")
    root = str(tmp_path / "s")
    v = vstore.latest_version(root)
    assert v == 1
    assert vstore.read_version(spark, root, v).count() == 0
    assert vstore.txn_seen(root).get("empty") == 0


def test_sink_writes_column_mapped_store_physical_names(spark, tmp_path):
    """Column-mapped store: RENAME a column, then stream into the
    store via writeStream. Staged files must hold PHYSICAL field
    names, reads resolve the logical post-rename names, and time
    travel keeps the pre-rename view."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "mapped")
    vstore.commit_append(spark, root, _ids(spark, 0, 10),
                         stats_cols=("id",), column_mapping=True)
    vstore.rename_column(spark, root, "x", "y")
    feed = _feed_dir(spark, tmp_path, "m", 100, 110, parts=1, col="y")
    _sink_stream(spark, feed, root, str(tmp_path / "ck"), "arrow",
                 app_id="m", stats_cols=("id",))
    v = vstore.latest_version(root)
    man = vstore.read_manifest(root, v)
    sink_files = [f for f in man["files"] if f.startswith("sink-")]
    assert sink_files
    names = pq.ParquetFile(
        os.path.join(root, "data", sink_files[0])).schema_arrow.names
    assert set(names) == {"c0", "c1"}  # physical, not logical
    df = vstore.read_version(spark, root, v)
    assert df.columns == ["id", "y"]
    assert df.count() == 20
    # stats keyed PHYSICAL: pruning metadata survives the rename
    assert "c0" in man["stats"][sink_files[0]]
    # time travel: version 1 still speaks the pre-rename name
    assert vstore.read_version(spark, root, 1).columns == ["id", "x"]


def test_sink_mapped_store_conflicting_concurrent_rename(spark,
                                                         tmp_path):
    """A rename landing between the sink's query start and a batch
    commit is SAFE (physical names are stable): the commit publishes
    and the store reads under the NEW logical name."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming.store_sink import (
        VersionedStoreSink)

    root = str(tmp_path / "mapped")
    vstore.commit_append(spark, root, _ids(spark, 0, 10),
                         stats_cols=("id",), column_mapping=True)
    sink = VersionedStoreSink(options={"path": root, "txnAppId": "cr"})
    schema = _ids(spark, 0, 1).schema
    w = sink.streamWriter(schema, overwrite=False)  # captures colmap
    vstore.rename_column(spark, root, "x", "z")     # lands mid-stream
    # stage one file by hand through the writer's executor path
    import pyarrow as pa
    logical, target = w._schemas()
    batch = pa.record_batch(
        [pa.array([100, 101], type=pa.int64()),
         pa.array([7, 8], type=pa.int64())], schema=logical)
    msg = w.write(iter([batch]))
    w.commit([msg], 0)
    v = vstore.latest_version(root)
    df = vstore.read_version(spark, root, v)
    assert df.columns == ["id", "z"]  # rename won; bytes still valid
    assert df.count() == 12
    assert df.filter(F.col("id") >= 100).agg(
        F.sum("z")).first()[0] == 15


def test_staged_commit_mapped_cas_retry_after_rename(spark, tmp_path,
                                                     monkeypatch):
    """Lost-CAS retry on a column-mapped staged commit: the effective
    schema (rename resolution) must be re-derived per attempt — a
    first-attempt loss followed by a retry under a renamed manifest
    publishes once, under the CURRENT logical name."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming.store_sink import (
        VersionedStoreSink)

    root = str(tmp_path / "mapped")
    vstore.commit_append(spark, root, _ids(spark, 0, 10),
                         stats_cols=("id",), column_mapping=True)
    sink = VersionedStoreSink(options={"path": root, "txnAppId": "cr"})
    w = sink.streamWriter(_ids(spark, 0, 1).schema, overwrite=False)
    vstore.rename_column(spark, root, "x", "z")  # lands mid-stream
    import pyarrow as pa
    logical, _ = w._schemas()
    batch = pa.record_batch(
        [pa.array([50, 51], type=pa.int64()),
         pa.array([5, 6], type=pa.int64())], schema=logical)
    msg = w.write(iter([batch]))
    real = vstore._publish_cas
    fails = {"n": 1}

    def flaky(root_, version, body):
        if fails["n"]:
            fails["n"] -= 1
            return False  # simulate losing the CAS race once
        return real(root_, version, body)

    monkeypatch.setattr(vstore, "_publish_cas", flaky)
    w.commit([msg], 0)
    v = vstore.latest_version(root)
    df = vstore.read_version(spark, root, v)
    assert df.columns == ["id", "z"]
    assert df.count() == 12
    assert fails["n"] == 0  # the flaky CAS actually fired
    # the manifest records its CAS attempts: the lost one plus the win,
    # and a single attempt on the uncontended first append
    assert vstore._read_manifest_raw(root, v)["attempts"] == 2
    assert vstore._read_manifest_raw(root, 1)["attempts"] == 1


def test_sink_arrow_writer_array_columns(spark, tmp_path):
    """Nested types through the Arrow writer: an array<float>
    embedding column round-trips the sink bit-exactly."""
    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        store_sink)

    src = (spark.read
           .parquet("/root/testdata/sf0.001/embeddings.parquet")
           .limit(200))
    feed = str(tmp_path / "feed")
    src.coalesce(2).write.parquet(feed)
    root, ck = str(tmp_path / "s"), str(tmp_path / "ck")
    schema = spark.read.parquet(feed).schema
    stream = spark.readStream.schema(schema).parquet(feed)
    q = (store_sink.write_stream_to_store(stream, root, ck,
                                          app_id="emb")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    out = vstore.read_version(spark, root, vstore.latest_version(root))
    assert out.schema == spark.read.parquet(feed).schema
    a = spark.read.parquet(feed)
    assert out.exceptAll(a).count() == 0
    assert a.exceptAll(out).count() == 0


def test_staged_commit_rejects_unmapped_colmap_mismatch(spark,
                                                        tmp_path):
    """commit_staged_files guards both directions: colmap passed for
    an unmapped store raises; a mapped store without colmap raises."""
    root = str(tmp_path / "plain")
    vstore.commit_append(spark, root, _ids(spark, 0, 5),
                         stats_cols=("id",))
    with pytest.raises(ValueError, match="not column-mapped"):
        vstore.commit_staged_files(
            root, [], schema_json=_ids(spark, 0, 1).schema.json(),
            txn=("t", 0), colmap={"id": "c0", "x": "c1"})
    mroot = str(tmp_path / "mapped")
    vstore.commit_append(spark, mroot, _ids(spark, 0, 5),
                         stats_cols=("id",), column_mapping=True)
    with pytest.raises(ValueError, match="column-mapped"):
        vstore.commit_staged_files(
            mroot, [], schema_json=_ids(spark, 0, 1).schema.json(),
            txn=("t", 0))


def test_multi_append_canonical_own_pid_txid_still_passes(
        spark, tmp_path):
    """The format the function itself generates still passes through
    unchanged after the unconditional charset check."""
    s1 = str(tmp_path / "s1")
    txlog = str(tmp_path / "txlog")
    txid = f"tx-p{os.getpid()}-r16check"
    vstore.commit_multi_append(
        spark, [(s1, _ids(spark, 0, 5), {})], txlog, txid=txid)
    assert os.path.exists(os.path.join(txlog, f"{txid}.decision"))
    assert vstore.read_version(
        spark, s1, vstore.latest_version(s1)).count() == 5


# --- O(1) latest-version discovery (the _max_claimed hint) -------------------

def test_latest_version_hint_written_and_probed(spark, tmp_path):
    """Commits write the advisory hint; a warm hint resolves the
    latest version with ZERO directory listings (the metadata-scale
    contract at a million commits)."""
    root = str(tmp_path / "s")
    for lo in (0, 10, 20):
        vstore.commit_append(spark, root, _ids(spark, lo, lo + 10))
    assert vstore._read_hint(root) == 3
    import unittest.mock as mock
    with mock.patch.object(vstore.os, "listdir",
                           side_effect=AssertionError(
                               "listed despite warm hint")):
        assert vstore.latest_version(root) == 3


def test_latest_version_hint_stale_probes_forward(spark, tmp_path):
    root = str(tmp_path / "s")
    for lo in (0, 10, 20, 30):
        vstore.commit_append(spark, root, _ids(spark, lo, lo + 10))
    vstore._write_hint(root, 1)  # regressed hint (lost race shape)
    assert vstore.latest_version(root) == 4
    assert vstore.read_version(spark, root, 4).count() == 40


def test_latest_version_hint_missing_or_corrupt_falls_back(
        spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    vstore.commit_append(spark, root, _ids(spark, 10, 20))
    os.remove(vstore._hint_path(root))
    assert vstore.latest_version(root) == 2
    with open(vstore._hint_path(root), "w", encoding="ascii") as f:
        f.write("garbage")
    assert vstore.latest_version(root) == 2
    vstore._write_hint(root, 99)  # beyond-max hint: no such manifest
    assert vstore.latest_version(root) == 2


def test_hint_survives_expire_and_new_commits(spark, tmp_path):
    root = str(tmp_path / "s")
    for lo in range(0, 50, 10):
        vstore.commit_append(spark, root, _ids(spark, lo, lo + 10))
    kept, _ = vstore.expire_snapshots(root, keep_last=2)
    assert kept == [4, 5]
    assert vstore.latest_version(root) == 5
    vstore.commit_append(spark, root, _ids(spark, 50, 60))
    assert vstore.latest_version(root) == 6
    assert vstore._read_hint(root) == 6


# --- file-granular admission control (maxFilesPerBatch) ----------------------

def _drain_passes(spark, root, tmp_path, tag, n_passes, **kw):
    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        cdf_source)

    out = str(tmp_path / f"out-{tag}")
    batches = []

    def sink(bdf, bid):
        vs = sorted(r[0] for r in
                    bdf.select("_commit_version").distinct().collect())
        batches.append((bdf.count(), vs))
        bdf.write.mode("append").parquet(out)

    for _ in range(n_passes):
        q = (cdf_source.read_change_feed_stream(
                spark, root,
                cursor_path=str(tmp_path / f"cursor-{tag}"), **kw)
             .writeStream.trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / f"ck-{tag}"))
             .foreachBatch(sink).start())
        q.awaitTermination()
    return out, batches


def test_cdf_max_files_per_batch_splits_inside_a_commit(spark,
                                                        tmp_path):
    """Delta's maxFilesPerTrigger: an 8-file commit drains as 3+3+2
    change partitions per batch — offsets land INSIDE the commit
    ((version, idx) refinement) and the union is exact."""
    root = str(tmp_path / "src")
    for lo, parts in ((0, 8), (800, 3)):
        df = spark.range(lo, lo + 100 * parts).select(
            F.col("id"), (F.col("id") * 10).alias("x"))
        vstore.commit_append(spark, root, df.repartition(parts))
    out, batches = _drain_passes(spark, root, tmp_path, "mfb", 6,
                                 max_files_per_batch=3)
    # 8+3 = 11 change partitions at cap 3 → batches of 3/3/3/2
    assert len(batches) == 4, batches
    # version 1 spans multiple batches; the third crosses the boundary
    assert batches[0][1] == [1] and batches[1][1] == [1]
    assert batches[2][1] == [1, 2] and batches[3][1] == [2]
    got = spark.read.parquet(out)
    assert got.count() == 1100
    assert got.select("id").distinct().count() == 1100


def test_cdf_max_files_resumes_from_legacy_offsets(spark, tmp_path):
    """A checkpoint written by the UNCAPPED source (whole-version
    offsets, no idx) continues under maxFilesPerBatch — the offset
    reader defaults idx to 0."""
    root = str(tmp_path / "src")
    vstore.commit_append(spark, root, _ids(spark, 0, 50).repartition(2))
    out, _ = _drain_passes(spark, root, tmp_path, "legacy", 1)
    vstore.commit_append(spark, root,
                         _ids(spark, 50, 250).repartition(4))
    out2, batches = _drain_passes(spark, root, tmp_path, "legacy", 3,
                                  max_files_per_batch=2)
    assert len(batches) == 2 and all(vs == [2] for _, vs in batches)
    got = spark.read.parquet(out)
    assert got.count() == 250
    assert {r["id"] for r in got.select("id").collect()} \
        == set(range(250))


def test_cdf_admission_caps_are_exclusive_and_need_cursor(spark,
                                                          tmp_path):
    from etl_pipeline_stock_market_data_postgresql_spark.streaming import (
        cdf_source)

    root = str(tmp_path / "src")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    with pytest.raises(Exception, match="cursorPath"):
        q = (cdf_source.read_change_feed_stream(
                spark, root, max_files_per_batch=2)
             .writeStream.trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ck1"))
             .foreachBatch(lambda b, i: None).start())
        q.awaitTermination()
    with pytest.raises(Exception, match="at most one"):
        q = (cdf_source.read_change_feed_stream(
                spark, root, max_files_per_batch=2,
                max_versions_per_batch=2,
                cursor_path=str(tmp_path / "cur"))
             .writeStream.trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ck2"))
             .foreachBatch(lambda b, i: None).start())
        q.awaitTermination()


# --- metadata-answered aggregates (snapshot_row_count / min_max) -------------

def test_snapshot_row_count_across_verbs(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 0, 100))
    vstore.commit_append(spark, root, _ids(spark, 100, 130),
                         stats_cols=())  # stats-less: rows still record
    vstore.commit_delete_mor(spark, root, F.col("id") % 7 == 0)
    vstore.commit_delete(spark, root, F.col("id") < 3)
    for v in range(1, 5):
        meta = vstore.snapshot_row_count(root, v)
        actual = vstore.read_version(spark, root, v).count()
        assert meta == actual, f"v{v}: {meta} != {actual}"


def test_snapshot_row_count_legacy_store_returns_none(spark,
                                                      tmp_path,
                                                      monkeypatch):
    """Files committed before the rows marker existed make the
    metadata count refuse (None) instead of undercounting."""
    root = str(tmp_path / "s")
    real = vstore._file_stats

    def no_rows(path, cols):
        out = real(path, cols)
        out.pop(vstore._ROWS_KEY, None)
        return out

    monkeypatch.setattr(vstore, "_file_stats", no_rows)
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    monkeypatch.undo()
    assert vstore.snapshot_row_count(root, 1) is None
    vstore.commit_append(spark, root, _ids(spark, 10, 20))
    assert vstore.snapshot_row_count(root, 2) is None  # mixed chain


def test_snapshot_min_max_guards_and_mapped(spark, tmp_path):
    root = str(tmp_path / "s")
    vstore.commit_append(spark, root, _ids(spark, 5, 50),
                         stats_cols=("id", "x"), column_mapping=True)
    vstore.rename_column(spark, root, "x", "z")
    assert vstore.snapshot_min_max(root, 2, "id") == (5, 49)
    assert vstore.snapshot_min_max(root, 2, "z") == (50, 490)
    # a DV makes ranges bounds, not answers
    vstore.commit_delete_mor(spark, root, F.col("id") == 49)
    assert vstore.snapshot_min_max(root, 3, "id") is None
    # metadata count still exact under the DV
    assert vstore.snapshot_row_count(root, 3) == 44
    # missing column stats refuse
    assert vstore.snapshot_min_max(root, 2, "nope") is None


def test_snapshot_count_segment_summary_fast_path(spark, tmp_path):
    """DV-free segments answer from the pre-summed summary without a
    segment read; a DV-bearing segment falls back to per-file."""
    root = str(tmp_path / "s")
    for lo in (0, 100, 200):
        vstore.commit_append(spark, root, _ids(spark, lo, lo + 100))
    import unittest.mock as mock
    with mock.patch.object(vstore, "_read_segment",
                           side_effect=AssertionError(
                               "summary should answer")) as m:
        assert vstore.snapshot_row_count(root, 3) == 300
    vstore.commit_delete_mor(spark, root, F.col("id") % 2 == 0)
    assert vstore.snapshot_row_count(root, 4) == 150


def test_cdf_zero_admission_cap_rejected(spark, tmp_path):
    root = str(tmp_path / "src")
    vstore.commit_append(spark, root, _ids(spark, 0, 10))
    with pytest.raises(Exception, match="must be >= 1"):
        q = (cdf_source.read_change_feed_stream(
                spark, root, max_files_per_batch=0,
                cursor_path=str(tmp_path / "cur"))
             .writeStream.trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .foreachBatch(lambda b, i: None).start())
        q.awaitTermination()
