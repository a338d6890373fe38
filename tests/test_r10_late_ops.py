"""Semantic invariants for the late round-10 / round-11 operators
(q134 incremental ANN, q135 PageRank convergence residuals, q136 k-core
convergence certificate, q137 ANN index write-back, flat-store
compaction) — properties that must hold on ANY input, complementing the
differential oracle in test_oracle_parity.py."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.sources.compaction import (
    compact_flat, content_fingerprint, flat_file_stats, multiset_equal)
from etl_pipeline_stock_market_data_postgresql_spark.sources.derived_cache import (
    _stored_fingerprint, scratch_base)
from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import load
from etl_pipeline_stock_market_data_postgresql_spark.workload.relational import (
    _kcore_converged_summary, q135_pagerank_convergence)
from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
    _ivfpq_base_index, _ivfpq_encode, _ivfpq_model_fp, _spread_vectors,
    q134_incremental_ann, q137_ann_index_writeback)


# --- q134: frozen-model equivalence ----------------------------------------

def test_q134_incremental_equals_full_frozen_model_encode(spark, sf_dir):
    """The correctness anchor from the docstring, proven Spark-side:
    stored-base-postings ∪ incremental-delta-encode must equal a full
    re-encode of the WHOLE corpus against the same frozen model,
    because encoding is a pure per-vector function of the model."""
    got = {(r.cell, r.m): (r.n_base + r.n_delta, r.code_sum, r.code_sq_sum)
           for r in q134_incremental_ann(spark, sf_dir).collect()}
    emb = load(spark, sf_dir, "embeddings")
    b = (2 * emb.agg(F.max("vec_id")).first()[0]) // 3
    vecs = _spread_vectors(spark, emb).persist()
    try:
        centroids, codebook, _ = _ivfpq_base_index(spark, sf_dir, vecs, b)
        full = (_ivfpq_encode(vecs, centroids, codebook)
                .groupBy("cell", "m")
                .agg(F.count("*").alias("n"),
                     F.sum("code").alias("cs"),
                     F.sum(F.col("code") * F.col("code")).alias("cq")))
        want = {(r.cell, r.m): (r.n, r.cs, r.cq) for r in full.collect()}
    finally:
        vecs.unpersist()
    assert got == want


def test_q134_model_cache_invalidates_on_embedding_change(spark, tmp_path):
    """A changed embeddings input must move the model fingerprint and
    rebuild the cached index (FAISS-style drift handling: rebuilding IS
    cache invalidation)."""
    d = tmp_path / "sfmod"
    d.mkdir()
    src = os.path.join("/root/testdata/sf0.001", "embeddings.parquet")
    dst = str(d / "embeddings.parquet")
    shutil.copyfile(src, dst)
    fp1 = _ivfpq_model_fp(str(d), 10)
    q134_incremental_ann(spark, str(d))
    scratch, _ = scratch_base(str(d))
    cache = os.path.join(scratch, "ann_centroids")
    stored1 = _stored_fingerprint(cache)
    assert stored1 is not None
    # rewrite the table (same rows, new file state) -> fingerprint moves
    t = pq.read_table(dst)
    pq.write_table(t, dst)
    fp2 = _ivfpq_model_fp(str(d), 10)
    assert fp2 != fp1
    q134_incremental_ann(spark, str(d))
    stored2 = _stored_fingerprint(cache)
    assert stored2 is not None and stored2 != stored1
    shutil.rmtree(scratch, ignore_errors=True)
    spark.catalog.clearCache()


# --- q135: residual trajectory ---------------------------------------------

def _pagerank_residual_ref(edges, iters):
    """Driver-side reference of the exact-integer residual recurrence."""
    from collections import defaultdict

    from etl_pipeline_stock_market_data_postgresql_spark.operators.graph import (
        DAMP_DEN, DAMP_NUM, RANK_SCALE, TELEPORT)
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    nodes = {n for e in edges for n in e}
    r = {n: RANK_SCALE for n in nodes}
    out = []
    for i in range(1, iters + 1):
        acc = defaultdict(int)
        for u, v in edges:
            acc[v] += (r[u] * DAMP_NUM) // (DAMP_DEN * outdeg[u])
        r_new = {n: TELEPORT + acc.get(n, 0) for n in nodes}
        deltas = [r_new[n] - r[n] for n in nodes]
        out.append((i, max(abs(x) for x in deltas),
                    sum(abs(x) for x in deltas),
                    sum(1 for x in deltas if x != 0)))
        r = r_new
    return out


def test_q135_residuals_match_reference_on_handcrafted_graph(spark):
    from etl_pipeline_stock_market_data_postgresql_spark.operators.graph import (
        pagerank_with_residuals)
    from test_r9_late_ops import _pagerank_ref
    # asymmetric digraph with a dangling-ish sink pattern and a cycle
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (2, 4), (4, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 3, 5):
        ranks, res = pagerank_with_residuals(df, iters)
        got = sorted((r.iter, r.max_abs_delta, r.sum_abs_delta, r.n_changed)
                     for r in res.collect())
        assert got == _pagerank_residual_ref(edges, iters), iters
        assert {r.node: r.rank_micro for r in ranks.collect()} == \
            _pagerank_ref(edges, iters), iters


def test_q135_trajectory_properties(spark, sf_dir):
    rows = q135_pagerank_convergence(spark, sf_dir).collect()
    assert [r.iter for r in sorted(rows, key=lambda r: r.iter)] == \
        list(range(1, len(rows) + 1))
    for r in rows:
        # L-inf <= L1 <= L-inf * support, and support=0 <=> frozen state
        assert r.max_abs_delta <= r.sum_abs_delta
        assert r.sum_abs_delta <= r.max_abs_delta * max(r.n_changed, 1)
        assert (r.n_changed == 0) == (r.sum_abs_delta == 0)


# --- q136: the convergence tripwire actually trips -------------------------

def test_q136_tripwire_flips_false_past_the_bound(spark):
    """A long path graph needs one effective peel per layer, far more
    than a small bound — the query-level flag MUST come back false
    (this is the red-row tripwire the oracle's literal TRUE relies
    on)."""
    n = 24
    und = [(i, i + 1) for i in range(1, n)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = _kcore_converged_summary(df, k=2, bound=3).collect()
    assert rows, "cap-hit state still has surviving nodes to report"
    assert all(r.converged_within_bound is False for r in rows)
    # same graph under a generous bound: converges (to the empty core,
    # so zero rows) and never reports a false positive
    small = [(1, 2), (2, 3), (1, 3)]
    tri = spark.createDataFrame(small + [(b, a) for a, b in small],
                                "src long, dst long")
    rows2 = _kcore_converged_summary(tri, k=2, bound=3).collect()
    assert rows2 and all(r.converged_within_bound is True for r in rows2)


# --- q137: write-back chain ------------------------------------------------

@pytest.fixture(scope="module")
def q137_store(spark, sf_dir):
    q137_ann_index_writeback(spark, sf_dir).collect()
    scratch, _ = scratch_base(sf_dir)
    return os.path.join(scratch, "ann_store")


def test_q137_store_is_frozen_model_encode_of_everything(
        spark, sf_dir, q137_store):
    """Second-delta induction, Spark-side: after base + two HWM appends
    + compaction, the store's row multiset equals a from-scratch
    frozen-model encode of the whole corpus (mirrors
    test_incremental_dedup's two-batch induction)."""
    emb = load(spark, sf_dir, "embeddings")
    b = (2 * emb.agg(F.max("vec_id")).first()[0]) // 3
    vecs = _spread_vectors(spark, emb).persist()
    try:
        centroids, codebook, _ = _ivfpq_base_index(spark, sf_dir, vecs, b)
        full = (_ivfpq_encode(vecs, centroids, codebook)
                .select("id", "m", "code", F.col("cell").cast("int")))
        st = (spark.read.parquet(q137_store)
              .select("id", "m", "code", F.col("cell").cast("int")))
        assert multiset_equal(st, full)
    finally:
        vecs.unpersist()


def test_q137_store_layout_complies_after_compaction(q137_store):
    """The chain's three writes accrete multiple files per cell; the
    closing compaction pass must leave every cell partition at its
    byte-derived bin count (1 at test SF)."""
    from etl_pipeline_stock_market_data_postgresql_spark.sources.compaction import (
        compaction_plan, partition_file_stats)
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        ANN_STORE_TARGET_BYTES)
    stats = partition_file_stats(q137_store, "cell")
    assert stats, "store must be cell-partitioned"
    assert compaction_plan(stats, ANN_STORE_TARGET_BYTES) == {}


def test_q137_warm_rerun_leaves_store_untouched(spark, sf_dir, q137_store):
    before = {}
    for root, _dirs, files in os.walk(q137_store):
        for f in files:
            p = os.path.join(root, f)
            before[p] = os.stat(p).st_mtime_ns
    q137_ann_index_writeback(spark, sf_dir).collect()
    after = {}
    for root, _dirs, files in os.walk(q137_store):
        for f in files:
            p = os.path.join(root, f)
            after[p] = os.stat(p).st_mtime_ns
    assert after == before


# --- flat-store compaction (the q120/q122 index maintenance pass) ----------

def test_compact_flat_reduces_files_and_preserves_content(spark, tmp_path):
    path = str(tmp_path / "flatstore")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"))
    df.coalesce(1).write.parquet(path)
    for lo in (1000, 2000, 3000):
        (spark.range(lo, lo + 1000)
         .select(F.col("id"), (F.col("id") % 7).alias("k"))
         .coalesce(1).write.mode("append").parquet(path))
    with open(os.path.join(path, "_INPUT_FINGERPRINT"), "w") as f:
        f.write("fp-token")
    fp_before = content_fingerprint(spark.read.parquet(path))
    n_before, _ = flat_file_stats(path)
    assert n_before >= 4
    nb, na = compact_flat(spark, path, target_bytes=1 << 30)
    assert (nb, na) == (n_before, 1)
    assert flat_file_stats(path)[0] == 1
    assert content_fingerprint(spark.read.parquet(path)) == fp_before
    # metadata carried over; second pass is a no-op
    assert _stored_fingerprint(path) == "fp-token"
    assert compact_flat(spark, path, target_bytes=1 << 30) == (1, 1)


def test_q122_index_store_ends_compacted_and_versioned(spark, sf_dir):
    """The streaming run's per-batch commits must end bin-packed: after
    the closing maintenance pass the versioned index store is already
    compliant (a re-run of compact_latest is a no-op — the PRE-rewrite-
    bytes contract, asserted without re-deriving byte boundaries), the
    batch txns are recorded in the manifest chain, and every snapshot
    along the chain still reads (content preservation is the oracle's
    job)."""
    from etl_pipeline_stock_market_data_postgresql_spark.sources import (
        versioned_store as vstore)
    from etl_pipeline_stock_market_data_postgresql_spark.workload.streaming_exec import (
        STREAM_STORE_TARGET_BYTES, q122_streaming_incremental_dedup)
    q122_streaming_incremental_dedup(spark, sf_dir).collect()
    base, _ = scratch_base(sf_dir)
    root = os.path.join(base, "q122_index")
    nb, na = compact_latest_noop = vstore.compact_latest(
        spark, root, STREAM_STORE_TARGET_BYTES, cluster_by=None,
        stats_cols=())
    assert nb == na, compact_latest_noop
    # bounded ledger: both batches fold into ONE per-app entry
    assert vstore.txn_seen(root).get("q122") == 1
    for v in range(1, vstore.latest_version(root) + 1):
        assert vstore.read_version(spark, root, v).count() > 0


# --- q138: partition-pruned serving read -----------------------------------

def test_q138_scan_is_partition_pruned_and_ranks_are_sound(spark, sf_dir):
    import re

    from etl_pipeline_stock_market_data_postgresql_spark.plans.inspect import explain_str
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        ANN_TOPK, N_QUERIES, q138_ann_store_probe)
    df = q138_ann_store_probe(spark, sf_dir)
    try:
        text = explain_str(df)
        # the probed cell set must reach the store scan as a partition
        # filter (pruned directory listing), not a post-scan predicate
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
        assert m, "store scan must carry PartitionFilters"
        assert "cell" in m.group(1) and m.group(1).strip(), m.group(0)
        rows = df.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.q_id, []).append(r)
        assert set(by_q) == set(range(N_QUERIES))
        for q, rs in by_q.items():
            assert len(rs) <= ANN_TOPK
            assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
            # rank order == (adc_q, neighbor_id) order, self excluded
            ordered = sorted(rs, key=lambda r: (r.adc_q, r.neighbor_id))
            assert [r.rank for r in ordered] == list(range(1, len(rs) + 1))
            assert all(r.neighbor_id != q for r in rs)
    finally:
        spark.catalog.clearCache()


# --- q139: row-level delete on the partitioned store ------------------------

def test_delete_where_partitioned_semantics(spark, tmp_path):
    """Victims removed exactly; untouched partitions byte-untouched;
    an all-victim partition's directory is removed, not resurrected."""
    from etl_pipeline_stock_market_data_postgresql_spark.sources.compaction import (
        delete_where_partitioned)
    path = str(tmp_path / "ptable")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 4).alias("k"))
    df.write.partitionBy("k").parquet(path)
    # victims: everything in k=3, plus id%10==0 rows elsewhere; k=1
    # has victims only where id%10==0... make k=2 victim-free:
    cond = (F.col("k") == 3) | ((F.col("id") % 10 == 0) & (F.col("k") == 0))
    before_k2 = {f: os.stat(os.path.join(path, "k=2", f)).st_mtime_ns
                 for f in os.listdir(os.path.join(path, "k=2"))
                 if f.endswith(".parquet")}
    deleted = delete_where_partitioned(spark, path, "k", cond)
    # ids with k==3: 100 of them; k==0 and id%10==0: ids 0,20,..,380 -> 20... wait id%4==0 and id%10==0 -> id%20==0 -> 20 rows
    assert deleted == {"3": 100, "0": 20}
    back = spark.read.parquet(path)
    assert back.filter(cond).count() == 0
    assert back.count() == 400 - 120
    assert not os.path.isdir(os.path.join(path, "k=3"))
    after_k2 = {f: os.stat(os.path.join(path, "k=2", f)).st_mtime_ns
                for f in os.listdir(os.path.join(path, "k=2"))
                if f.endswith(".parquet")}
    assert after_k2 == before_k2
    # no victims -> no-op
    assert delete_where_partitioned(spark, path, "k", cond) == {}


def test_q139_leaves_the_shared_store_untouched(spark, sf_dir, q137_store):
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        q139_ann_store_delete)
    before = {}
    for root, _dirs, files in os.walk(q137_store):
        for f in files:
            p = os.path.join(root, f)
            before[p] = os.stat(p).st_mtime_ns
    q139_ann_store_delete(spark, sf_dir).collect()
    after = {}
    for root, _dirs, files in os.walk(q137_store):
        for f in files:
            p = os.path.join(root, f)
            after[p] = os.stat(p).st_mtime_ns
    assert after == before


def test_q139_gc_store_is_exactly_the_survivor_multiset(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        ANN_GC_MOD, _ivfpq_base_index, q139_ann_store_delete)
    q139_ann_store_delete(spark, sf_dir).collect()
    scratch, _ = scratch_base(sf_dir)
    gc = os.path.join(scratch, "ann_store_gc")
    emb = load(spark, sf_dir, "embeddings")
    b = (2 * emb.agg(F.max("vec_id")).first()[0]) // 3
    vecs = _spread_vectors(spark, emb).persist()
    try:
        centroids, codebook, _ = _ivfpq_base_index(spark, sf_dir, vecs, b)
        want = (_ivfpq_encode(vecs.filter(F.col("id") % ANN_GC_MOD != 0),
                              centroids, codebook)
                .select("id", "m", "code", F.col("cell").cast("int")))
        got = (spark.read.parquet(gc)
               .select("id", "m", "code", F.col("cell").cast("int")))
        assert multiset_equal(got, want)
    finally:
        vecs.unpersist()


# --- q140: streaming ANN ingest ----------------------------------------------

def test_q140_streamed_store_equals_batch_chain_deltas(
        spark, sf_dir, q137_store):
    """The stream must commit EXACTLY the postings q137's batch chain
    commits for the same delta ids (both encode against the same frozen
    model) — streaming is a delivery mechanism, not a different
    operator."""
    from etl_pipeline_stock_market_data_postgresql_spark.sources import (
        versioned_store as vstore)
    from etl_pipeline_stock_market_data_postgresql_spark.workload.streaming_exec import (
        STREAM_STORE_TARGET_BYTES, q140_streaming_ann_ingest)
    q140_streaming_ann_ingest(spark, sf_dir).collect()
    emb = load(spark, sf_dir, "embeddings")
    b = (2 * emb.agg(F.max("vec_id")).first()[0]) // 3
    base, _ = scratch_base(sf_dir)
    root = os.path.join(base, "q140_store")
    streamed = (vstore.read_version(spark, root,
                                    vstore.latest_version(root))
                .select("id", "m", "code", F.col("cell").cast("int")))
    chain = (spark.read.parquet(q137_store)
             .filter(F.col("id") > b)
             .select("id", "m", "code", F.col("cell").cast("int")))
    assert multiset_equal(streamed, chain)
    # both batch txns recorded; maintenance pass left the store
    # compliant (compact_latest re-run is a no-op — pre-bytes contract)
    assert vstore.txn_seen(root).get("q140") == 1
    nb, na = vstore.compact_latest(spark, root, STREAM_STORE_TARGET_BYTES,
                                   cluster_by=("id",),
                                   stats_cols=("id", "cell"))
    assert nb == na


# --- q141 / versioned store: time travel + vacuum ---------------------------

def test_versioned_store_commit_read_vacuum(spark, tmp_path):
    from etl_pipeline_stock_market_data_postgresql_spark.sources import (
        versioned_store as vstore)
    root = str(tmp_path / "vstore")
    df1 = spark.range(0, 100).selectExpr("id", "id * 2 AS x")
    df2 = spark.range(100, 150).selectExpr("id", "id * 2 AS x")
    assert vstore.commit_append(spark, root, df1.coalesce(2)) == 1
    assert vstore.commit_append(spark, root, df2.coalesce(1)) == 2
    assert vstore.latest_version(root) == 2
    assert vstore.read_version(spark, root, 1).count() == 100
    assert vstore.read_version(spark, root, 2).count() == 150
    # rewrite: content preserved, old snapshots still readable
    fp2 = content_fingerprint(vstore.read_version(spark, root, 2))
    v3 = vstore.commit_rewrite(
        spark, root, vstore.read_version(spark, root, 2).repartition(1))
    assert v3 == 3
    assert content_fingerprint(vstore.read_version(spark, root, 3)) == fp2
    assert vstore.read_version(spark, root, 1).count() == 100
    # vacuum keeping only v3: v1/v2-exclusive files go, v3 intact
    removed = vstore.vacuum(root, keep_versions=[3])
    assert removed, "rewrite must have superseded files to vacuum"
    assert content_fingerprint(vstore.read_version(spark, root, 3)) == fp2
    import py4j.protocol
    import pytest as _pytest
    with _pytest.raises(Exception):
        vstore.read_version(spark, root, 1).count()  # loudly gone
    # vacuum is idempotent once nothing is superseded
    assert vstore.vacuum(root, keep_versions=[3]) == []


def test_q141_snapshots_are_the_id_range_encodes(spark, sf_dir):
    """v1 must be exactly the base postings multiset; v4 must equal v3
    (compaction rewrote layout, not content)."""
    from etl_pipeline_stock_market_data_postgresql_spark.sources import (
        versioned_store as vstore)
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        _ivfpq_base_index, q141_ann_store_snapshot)
    rows = q141_ann_store_snapshot(spark, sf_dir).collect()
    by_v = {r.version: r for r in rows}
    assert set(by_v) == {1, 2, 3, 4}
    r3, r4 = by_v[3], by_v[4]
    assert (r3.n_rows, r3.code_sum, r3.code_sq_sum, r3.id_sum) == \
        (r4.n_rows, r4.code_sum, r4.code_sq_sum, r4.id_sum)
    scratch, _ = scratch_base(sf_dir)
    root = os.path.join(scratch, "ann_store_versioned")
    emb = load(spark, sf_dir, "embeddings")
    b = (2 * emb.agg(F.max("vec_id")).first()[0]) // 3
    vecs = _spread_vectors(spark, emb).persist()
    try:
        _c, _cb, postings = _ivfpq_base_index(spark, sf_dir, vecs, b)
        v1 = vstore.read_version(spark, root, 1).select(
            "id", "m", "code", "cell")
        assert multiset_equal(v1, postings.select("id", "m", "code", "cell"))
    finally:
        vecs.unpersist()


# --- q142: stats-based file skipping -----------------------------------------

def test_q142_pruned_read_skips_files_and_matches_unpruned(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.sources import (
        versioned_store as vstore)
    from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
        _ann_versioned_root)
    root, b, b2 = _ann_versioned_root(spark, sf_dir)
    man = vstore.read_manifest(root, 3)
    assert man["stats"], "manifests must carry per-file stats"
    assert all("id" in s for s in man["stats"].values())
    pruned, opened, total = vstore.read_version_pruned(
        spark, root, 3, "id", b + 1, b2)
    assert opened < total, (opened, total)
    cond = (F.col("id") > b) & (F.col("id") <= b2)
    full = vstore.read_version(spark, root, 3).filter(cond)
    assert multiset_equal(pruned.filter(cond), full)
    # files without recorded stats are conservatively opened
    got = vstore.read_version_pruned(spark, root, 3, "nonexistent", 0, 1)
    assert got[1] == got[2] == total
    # empty-match range: zero files opened, schema preserved
    mx = vstore.read_version(spark, root, 3).agg(F.max("id")).first()[0]
    edf, eopened, _etotal = vstore.read_version_pruned(
        spark, root, 3, "id", mx + 10, mx + 20)
    assert eopened == 0 and edf.count() == 0
    assert set(edf.columns) == {"id", "m", "code", "cell"}
