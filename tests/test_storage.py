"""q75 plan guarantees: the gated bucketed-join query must actually run
the co-located (Exchange-free) join — otherwise it proves nothing the
plain join doesn't."""

from __future__ import annotations

import re
from contextlib import contextmanager

from etl_pipeline_stock_market_data_postgresql_spark import plans
from etl_pipeline_stock_market_data_postgresql_spark.workload.storage import (
    q75_bucketed_join, q75_joined)


@contextmanager
def _no_broadcast_no_aqe(spark):
    """Override confs for plan-shape assertions, restoring the values
    that were actually in effect (not hardcoded defaults) so these
    tests can never leak conf into the rest of the session."""
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "-1")
    spark.conf.set(keys[1], "false")
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q75_join_subtree_has_no_exchange(spark, sf_dir):
    with _no_broadcast_no_aqe(spark):
        joined = q75_joined(spark, sf_dir)
        text = plans.explain_str(joined)
        assert "Exchange" not in text, text[:1200]
        assert "SortMergeJoin" in text, text[:1200]
        assert "Bucketed: true" in text, text[:1200]


def test_q75_full_query_single_agg_exchange(spark, sf_dir):
    # the only Exchange in the whole gated query is the final
    # per-segment aggregation — the join itself contributes none
    with _no_broadcast_no_aqe(spark):
        text = plans.explain_str(q75_bucketed_join(spark, sf_dir))
        assert len(re.findall(r"\(\d+\) Exchange", text)) == 1, text[:1500]


def test_q75_is_idempotent(spark, sf_dir):
    # overwrite-mode rewrite: running the query twice in one session
    # (gate + bench do) must not fail or change results
    a = sorted(map(tuple, q75_bucketed_join(spark, sf_dir).collect()))
    b = sorted(map(tuple, q75_bucketed_join(spark, sf_dir).collect()))
    assert a == b and len(a) == 5


def test_q93_zorder_prunes_and_pushes_down(spark, sf_dir):
    """q93's storage contract, proven from the artifacts themselves:
    the z-ordered copy's parquet footers must let the two-column
    predicate skip well over half the files, the gated result must
    certify it (files_pruned_ok TRUE on every row), and the scan must
    push both range predicates down to the parquet reader."""
    import os

    from pyspark.sql import functions as F

    from etl_pipeline_stock_market_data_postgresql_spark.workload.storage import (
        _q93_bounds, _q93_files_hit, q93_zorder_pruning)
    from etl_pipeline_stock_market_data_postgresql_spark.sources.derived_cache import scratch_base

    rows = q93_zorder_pruning(spark, sf_dir).collect()
    assert rows and all(r["files_pruned_ok"] for r in rows)

    u_lo, u_hi, t_lo, t_hi = _q93_bounds(spark, sf_dir)
    zpath = os.path.join(scratch_base(sf_dir)[0], "events_z")
    hits, total = _q93_files_hit(zpath, (u_lo, u_hi), (t_lo, t_hi))
    assert total == 16 and hits <= total // 4, (hits, total)

    z = spark.read.parquet(zpath).filter(
        F.col("user_id").between(u_lo, u_hi)
        & F.col("ts_us").between(t_lo, t_hi))
    text = plans.explain_str(z)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", text)
    assert pushed and "user_id" in pushed.group(1) \
        and "ts_us" in pushed.group(1), text[:1200]


def test_q93_is_idempotent(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.workload.storage import (
        q93_zorder_pruning)

    a = sorted(map(tuple, q93_zorder_pruning(spark, sf_dir).collect()))
    b = sorted(map(tuple, q93_zorder_pruning(spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_dynamic_overwrite_touches_only_target_partition(spark, sf_dir, tmp_path):
    # the q110 contract at the FILE level (per the repo rule: layout
    # claims are proven from the files, not the plan): the dynamic-mode
    # overwrite must replace the target day's files and leave every
    # other partition's files byte-identical on disk
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import load

    path = str(tmp_path / "byday")
    ev = (load(spark, sf_dir, "events")
          .select("event_id", "value", F.to_date("ts").alias("day")))
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        ev.write.partitionBy("day").mode("overwrite").parquet(path)

        def snap():
            return {f: (os.path.getmtime(f), os.path.getsize(f))
                    for f in glob.glob(os.path.join(path, "day=*/part-*"))}

        before = snap()
        d0 = ev.agg(F.min("day").alias("d0"))
        upd = (ev.crossJoin(F.broadcast(d0))
               .filter(F.col("day") == F.col("d0"))
               .withColumn("value", F.col("value") * 2).drop("d0"))
        target_dir = f"day={upd.select('day').first()[0].isoformat()}"
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        upd.write.partitionBy("day").mode("overwrite").parquet(path)
        after = snap()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    untouched_before = {f: v for f, v in before.items() if target_dir not in f}
    untouched_after = {f: v for f, v in after.items() if target_dir not in f}
    assert untouched_before and untouched_before == untouched_after
    # the target day WAS rewritten: its old files are gone
    assert not any(target_dir in f and f in after for f in before)
    assert any(target_dir in f for f in after)


# --- q118: small-file compaction ------------------------------------------


def _seed_fragmented(spark, tmp_path, n_days=3, rows_per_day=400, tasks=8):
    import os
    from pyspark.sql import functions as F
    path = os.path.join(str(tmp_path), "t")
    df = (spark.range(n_days * rows_per_day)
          .select(F.col("id").alias("k"),
                  (F.col("id") % n_days).cast("string").alias("d"),
                  (F.col("id") * 7 % 1000).alias("v")))
    df.repartition(tasks).write.partitionBy("d").parquet(path)
    return path, df


def test_compaction_packs_reduces_and_preserves_content(spark, tmp_path):
    from etl_pipeline_stock_market_data_postgresql_spark.sources import compaction

    path, df = _seed_fragmented(spark, tmp_path)
    before = compaction.partition_file_stats(path, "d")
    assert all(n > 1 for n, _ in before.values()), "seed not fragmented"
    plan = compaction.compact_partitioned(spark, path, "d", "k",
                                          target_bytes=64 * 1024 * 1024)
    assert set(plan) == set(before) and all(b == 1 for b in plan.values())
    after = compaction.partition_file_stats(path, "d")
    assert all(n == 1 for n, _ in after.values())
    assert sum(n for n, _ in after.values()) < sum(n for n, _ in before.values())
    assert compaction.multiset_equal(spark.read.parquet(path), df)


def test_compaction_multibin_respects_byte_target(spark, tmp_path):
    from etl_pipeline_stock_market_data_postgresql_spark.sources import compaction

    path, df = _seed_fragmented(spark, tmp_path, rows_per_day=2000)
    before = compaction.partition_file_stats(path, "d")
    # pick a target that forces >= 2 bins for every day
    target = max(b for _, b in before.values()) // 3 + 1
    plan = compaction.compact_partitioned(spark, path, "d", "k", target)
    assert plan and any(b >= 2 for b in plan.values())
    after = compaction.partition_file_stats(path, "d")
    for d, bins in plan.items():
        assert 1 <= after[d][0] <= bins, (d, bins, after[d])
    assert compaction.multiset_equal(spark.read.parquet(path), df)


def test_compaction_skips_compliant_partitions_and_is_idempotent(spark, tmp_path):
    import os
    from etl_pipeline_stock_market_data_postgresql_spark.sources import compaction

    path, df = _seed_fragmented(spark, tmp_path)
    compaction.compact_partitioned(spark, path, "d", "k", 64 * 1024 * 1024)
    mid = compaction.partition_file_stats(path, "d")
    mtimes = {}
    for entry in os.listdir(path):
        sub = os.path.join(path, entry)
        if os.path.isdir(sub):
            for f in os.listdir(sub):
                mtimes[os.path.join(sub, f)] = os.path.getmtime(
                    os.path.join(sub, f))
    # second pass: every partition complies -> empty plan, no rewrite
    plan2 = compaction.compact_partitioned(spark, path, "d", "k",
                                           64 * 1024 * 1024)
    assert plan2 == {}
    assert compaction.partition_file_stats(path, "d") == mid
    for f, m in mtimes.items():
        assert os.path.getmtime(f) == m, f"rewrote compliant file {f}"
    assert compaction.multiset_equal(spark.read.parquet(path), df)


def test_compaction_handles_hive_escaped_and_null_partitions(spark, tmp_path):
    """Partition values Hive percent-escapes in directory names (spaces,
    ':', '%') must still be matched by the compaction join — the raw dir
    token would silently never equal cast(part_col as string). NULL
    partitions are skipped by contract (NULL never equi-joins), so they
    must not appear in the plan at all."""
    import os
    from pyspark.sql import functions as F
    from etl_pipeline_stock_market_data_postgresql_spark.sources import compaction

    path = os.path.join(str(tmp_path), "esc")
    vals = ["a b", "x:y", "p%q", None]
    df = (spark.range(400)
          .select(F.col("id").alias("k"),
                  F.element_at(F.array(*[F.lit(v) for v in vals]),
                               (F.col("id") % 4 + 1).cast("int")).alias("d"),
                  (F.col("id") * 7 % 1000).alias("v")))
    df.repartition(6).write.partitionBy("d").parquet(path)

    before = compaction.partition_file_stats(path, "d")
    # dir names were escaped on disk, but stats report the REAL values
    assert set(before) == {"a b", "x:y", "p%q"}
    assert compaction.HIVE_NULL_PARTITION not in before
    assert all(n > 1 for n, _ in before.values()), "seed not fragmented"

    plan = compaction.compact_partitioned(spark, path, "d", "k",
                                          target_bytes=64 * 1024 * 1024)
    # every escaped partition was actually compacted — the executed plan
    # is truthful, not reporting work the join never matched
    assert set(plan) == {"a b", "x:y", "p%q"}
    after = compaction.partition_file_stats(path, "d")
    assert all(n == 1 for n, _ in after.values())
    # null-partition rows untouched, full content preserved
    assert compaction.multiset_equal(spark.read.parquet(path), df)


def test_content_fingerprint_detects_any_change(spark):
    from pyspark.sql import functions as F
    from etl_pipeline_stock_market_data_postgresql_spark.sources import compaction

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 7).alias("v"))
    fp = compaction.content_fingerprint(df)
    # column order insignificant, row order insignificant
    assert fp == compaction.content_fingerprint(
        df.select("v", "k").orderBy(F.desc("k")))
    # a single changed cell, a dropped row, and a duplicated row all flip it
    assert fp != compaction.content_fingerprint(
        df.withColumn("v", F.when(F.col("k") == 500, 99).otherwise(F.col("v"))))
    assert fp != compaction.content_fingerprint(df.filter(F.col("k") != 500))
    assert fp != compaction.content_fingerprint(df.unionAll(df.limit(1)))
    # empty frame fingerprints as (0, 0)
    assert compaction.content_fingerprint(df.filter(F.lit(False))) == (0, 0)
