"""The versioned store's single commit path (one CAS call site, one
read of the latest manifest per claim, one txn replay check before
anything is staged) and min/max stats on date and timestamp columns
(recorded as ISO-8601 strings and pruned exactly)."""
from __future__ import annotations

import ast
import datetime
import os

from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.sources import (
    versioned_store as vstore)


def test_publish_cas_has_one_call_site():
    """Every manifest publishes through ONE transaction core: a verb
    that calls ``_publish_cas`` itself has forked its own claim →
    validate → publish loop, with its own retry and conflict rules."""
    with open(vstore.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    callers = [node for node in ast.walk(tree)
               if isinstance(node, ast.Call)
               and isinstance(node.func, ast.Name)
               and node.func.id == "_publish_cas"]
    assert len(callers) == 1, [c.lineno for c in callers]


def _dated(spark, lo: int, hi: int):
    """Rows ``lo..hi-1`` with ``d`` = 2024-01-01 + id days and ``ts`` =
    that day at 06:00 UTC, one file per call."""
    return (spark.range(lo, hi).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
        (F.lit("2024-01-01 06:00:00").cast("timestamp")
         + F.make_interval(F.lit(0), F.lit(0), F.lit(0),
                           F.col("id").cast("int"))).alias("ts"))
        .coalesce(1))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _between(col, lo, hi):
    return (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))


def test_temporal_stats_publish_and_prune_exactly(spark, tmp_path):
    """``stats_cols`` naming a date and a timestamp column publishes
    (the bounds used to break the manifest's JSON encoding after the
    files were staged) and records ISO-8601 date bounds; a pruned read
    with a date range opens only the overlapping files and returns
    exactly what the unpruned filter returns. (Spark writes timestamps
    as INT96, whose footers carry no min/max: those files record no
    ``ts`` range and stay conservatively open.)"""
    root = str(tmp_path / "dated")
    for lo in (0, 10, 20, 30):
        vstore.commit_append(spark, root, _dated(spark, lo, lo + 10),
                             stats_cols=("d", "ts"))
    v = vstore.latest_version(root)
    man = vstore.read_manifest(root, v)
    assert man["stats"][man["files"][0]]["d"] == ["2024-01-01",
                                                  "2024-01-10"]
    full = vstore.read_version(spark, root, v)

    lo, hi = datetime.date(2024, 1, 12), datetime.date(2024, 1, 18)
    df, opened, total = vstore.read_version_pruned(spark, root, v, "d",
                                                   lo, hi)
    assert (opened, total) == (1, 4)
    assert _rows(df.filter(_between("d", lo, hi))) == _rows(
        full.filter(_between("d", lo, hi)))
    assert df.filter(_between("d", lo, hi)).count() == 7

    # a timestamp bound against the date column: Spark compares the
    # date as midnight, so 2024-01-10 matches [01-10 00:00, 01-10
    # 00:00] — the file whose last day it is must stay open
    mid = datetime.datetime(2024, 1, 10, 0, 0)
    df, opened, _ = vstore.read_version_pruned(spark, root, v, "d",
                                               mid, mid)
    assert opened == 1
    assert _rows(df.filter(_between("d", mid, mid))) == _rows(
        full.filter(_between("d", mid, mid)))
    assert df.filter(_between("d", mid, mid)).count() == 1

    tlo = datetime.datetime(2024, 1, 8, 0, 0)
    thi = datetime.datetime(2024, 1, 12, 0, 0)
    df, _, _ = vstore.read_version_pruned(spark, root, v, "ts", tlo, thi)
    assert _rows(df.filter(_between("ts", tlo, thi))) == _rows(
        full.filter(_between("ts", tlo, thi)))
    assert df.filter(_between("ts", tlo, thi)).count() == 4


def test_timestamp_stats_from_staged_files_prune_exactly(spark, tmp_path):
    """Staged files written by Arrow carry timestamp footer stats: they
    record as UTC ISO-8601 strings and a timestamp range prunes to the
    overlapping files, exactly."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (LongType, StructField, StructType,
                                   TimestampType)

    root = str(tmp_path / "staged")
    os.makedirs(os.path.join(root, "data"))
    utc = datetime.timezone.utc
    names = []
    for day in (1, 11, 21):
        ts = [datetime.datetime(2024, 1, day + i, 6, tzinfo=utc)
              for i in range(10)]
        name = f"ext-p{os.getpid()}-{day}.parquet"
        pq.write_table(pa.table({
            "id": pa.array(range(day, day + 10), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
            os.path.join(root, "data", name))
        names.append(name)
    schema = StructType([StructField("id", LongType()),
                         StructField("ts", TimestampType())])
    v = vstore.commit_staged_files(root, names, stats_cols=("ts",),
                                   schema_json=schema.json())
    man = vstore.read_manifest(root, v)
    assert man["stats"][names[0]]["ts"] == ["2024-01-01T06:00:00.000000",
                                            "2024-01-10T06:00:00.000000"]
    full = vstore.read_version(spark, root, v)
    tlo = datetime.datetime(2024, 1, 8, 0, 0)
    thi = datetime.datetime(2024, 1, 12, 0, 0)
    df, opened, total = vstore.read_version_pruned(spark, root, v, "ts",
                                                   tlo, thi)
    assert (opened, total) == (2, 3)
    assert _rows(df.filter(_between("ts", tlo, thi))) == _rows(
        full.filter(_between("ts", tlo, thi)))
    assert df.filter(_between("ts", tlo, thi)).count() == 4


def _vals(spark, lo: int, hi: int):
    """Rows ``lo..hi-1`` as ``(id, v = 10 * id)``, one file."""
    return spark.range(lo, hi).select(
        "id", (F.col("id") * 10).alias("v")).coalesce(1)


def _two_versions(spark, root: str) -> str:
    """A store of rows 0..19 in two appended versions."""
    for lo in (0, 10):
        vstore.commit_append(spark, root, _vals(spark, lo, lo + 10))
    return root


def test_commit_reads_the_latest_manifest_once(spark, tmp_path,
                                               monkeypatch):
    """Commits take the latest manifest from their claim sweep and do
    not read it again: counted as (raw manifest reads, segment
    resolves) on a 2-version store. A txn append reads it in ``_commit``'s sweep and
    in ``_transact``'s, which resolves it once; the restatement MERGE
    adds ``_snapshot``'s sweep, whose manifest it resolves once; a
    replay and ``txn_seen`` stop at the first sweep and resolve
    nothing."""
    n = {"_read_manifest_raw": 0, "_resolve": 0}
    for name in n:
        def counted(*a, _fn=getattr(vstore, name), _name=name, **kw):
            n[_name] += 1
            return _fn(*a, **kw)
        monkeypatch.setattr(vstore, name, counted)

    def reads(fn) -> tuple[int, int]:
        n.update(dict.fromkeys(n, 0))
        fn()
        return n["_read_manifest_raw"], n["_resolve"]

    root = _two_versions(spark, str(tmp_path / "append"))
    batch = _vals(spark, 20, 25)
    assert reads(lambda: vstore.commit_append(
        spark, root, batch, txn=("load", 0))) == (2, 1)
    assert reads(lambda: vstore.commit_append(
        spark, root, batch, txn=("load", 0))) == (1, 0)
    assert reads(lambda: vstore.txn_seen(root)) == (1, 0)
    assert vstore.latest_version(root) == 3

    # the MERGE incremental loads run: restate matched rows whose value
    # differs, insert nothing
    root = _two_versions(spark, str(tmp_path / "merge"))
    restated = spark.createDataFrame([(3, -1), (14, 140), (99, 0)],
                                     "id long, v long")
    assert reads(lambda: vstore.commit_merge(
        spark, root, restated, ("id",),
        matched_condition=~F.col("t.v").eqNullSafe(F.col("s.v")),
        not_matched_insert_condition=F.lit(False))) == (3, 2)
    got = {r["id"]: r["v"] for r in vstore.read_version(spark, root, 3)
           .collect()}
    assert got == {i: (-1 if i == 3 else i * 10) for i in range(20)}


def test_replayed_txn_stages_nothing_and_runs_no_action(spark, tmp_path,
                                                        actions):
    """Replaying an already-recorded txn through ``commit_append``,
    ``commit_rewrite`` and ``commit_multi_append`` returns the latest
    version from ``_commit``'s ledger check, before staging: no Spark
    action runs, ``data/`` is unchanged and no staging directory is
    left behind."""
    root = _two_versions(spark, str(tmp_path / "replay"))
    other = _two_versions(spark, str(tmp_path / "replay_multi"))
    txlog = str(tmp_path / "txlog")
    batch = _vals(spark, 20, 25)
    assert vstore.commit_append(spark, root, batch, txn=("app", 0)) == 3
    assert vstore.commit_multi_append(
        spark, [(other, batch, {"txn": ("mc", 0)})], txlog) == [3]

    def debris(r):
        return (sorted(os.listdir(os.path.join(r, "data"))),
                [e for e in os.listdir(r) if e.startswith(".commit-tmp-")])

    before = {r: debris(r) for r in (root, other)}
    out = []
    ran = actions(lambda: out.extend([
        vstore.commit_append(spark, root, batch, txn=("app", 0)),
        vstore.commit_rewrite(spark, root, batch, txn=("app", 0)),
        *vstore.commit_multi_append(
            spark, [(other, batch, {"txn": ("mc", 0)})], txlog)]))
    assert out == [3, 3, 3]
    assert ran == []
    assert {r: debris(r) for r in (root, other)} == before
    assert all(not tmp for _, tmp in before.values())
