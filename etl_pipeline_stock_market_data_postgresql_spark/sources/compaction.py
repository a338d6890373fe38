"""Small-file compaction (bin-packing OPTIMIZE) for a partitioned
parquet table — the maintenance operation every 100 TB table needs:
streaming ingest and day-partitioned backfills leave partitions with
dozens of tiny files, and scan cost degrades with per-file open/footer
overhead long before data volume grows.

Reference parity: the reference delegates storage maintenance to
PostgreSQL (autovacuum); this is the Spark-native equivalent of Delta
Lake's ``OPTIMIZE`` (bin-packing flavor, no ordering change).

Semantics: for every partition whose file count exceeds its byte-derived
target bin count, rewrite THAT partition's rows into
``max(1, ceil(partition_bytes / target_bytes))`` files; never touch
compliant partitions; never change row-level content.

Scale shape:
- the file inventory is driver-side metadata work ∝ |partitions|
  (on a real lakehouse this comes from the table manifest, not a
  directory walk);
- only OFFENDING partitions are read, shuffled by (partition, bin) and
  rewritten — work ∝ the small-file backlog, not table size;
- the rewrite commits through ``partitionOverwriteMode=dynamic``
  (q110's proven mechanism), so untouched partitions are never
  replaced;
- the in-flight rows are pinned with ``localCheckpoint`` before the
  overwrite because source and target are the same path (Spark's
  self-overwrite guard sees a file scan; the checkpoint truncates it to
  materialized blocks). At 100 TB this becomes a staged write to a
  temp prefix + an atomic metastore swap — the bin-packing plan is
  unchanged.
"""

from __future__ import annotations

import math
import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame


#: Hive's directory name for the NULL partition. Its rows cannot be
#: matched by a ``cast(part_col as string)`` equi-join (NULL never
#: equals), so compaction skips it rather than silently reporting work
#: it did not do; callers that partition on a nullable column should
#: coalesce the key before writing.
HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def partition_file_stats(path: str, part_col: str) -> dict[str, tuple[int, int]]:
    """{partition value (UNESCAPED string): (n_files, total_bytes)} for a
    one-level ``part_col=value`` parquet layout. Hive percent-escapes
    special characters (space, ':', '%', ...) in directory names;
    unquoting here keeps the values joinable against the DataFrame's own
    ``cast(part_col as string)`` — the raw dir token would silently
    never match. The NULL partition dir is skipped (see
    HIVE_NULL_PARTITION)."""
    stats: dict[str, tuple[int, int]] = {}
    prefix = f"{part_col}="
    for entry in sorted(os.listdir(path)):
        sub = os.path.join(path, entry)
        if not (entry.startswith(prefix) and os.path.isdir(sub)):
            continue
        raw = entry[len(prefix):]
        if raw == HIVE_NULL_PARTITION:
            continue
        files = [os.path.join(sub, f) for f in os.listdir(sub)
                 if f.endswith(".parquet") and not f.startswith(("_", "."))]
        stats[urllib.parse.unquote(raw)] = (
            len(files), sum(os.path.getsize(f) for f in files))
    return stats


def compaction_plan(stats: dict[str, tuple[int, int]],
                    target_bytes: int) -> dict[str, int]:
    """Partitions that VIOLATE the layout contract -> target bin count."""
    plan: dict[str, int] = {}
    for value, (n_files, n_bytes) in stats.items():
        bins = max(1, math.ceil(n_bytes / target_bytes))
        if n_files > bins:
            plan[value] = bins
    return plan


def compact_partitioned(spark: SparkSession, path: str, part_col: str,
                        key_col: str, target_bytes: int) -> dict[str, int]:
    """Bin-pack every offending partition of the table at ``path`` in
    place (see module docstring). ``key_col`` seeds the deterministic
    row->bin assignment. Returns the executed plan
    ({partition value: bin count}; empty when the layout already
    complies)."""
    plan = compaction_plan(partition_file_stats(path, part_col),
                           target_bytes)
    if not plan:
        return plan
    plan_df = F.broadcast(local_frame(
        spark, list(plan.items()), f"{part_col}_s string, bins int"))
    df = spark.read.parquet(path)
    todo = (df.join(plan_df,
                    df[part_col].cast("string") == plan_df[f"{part_col}_s"])
            .withColumn("_bin", F.pmod(F.xxhash64(key_col), F.col("bins")))
            .drop(f"{part_col}_s"))
    from pyspark import StorageLevel

    total_bins = sum(plan.values())
    packed = (todo.repartition(total_bins, part_col, "_bin")
              .drop("bins", "_bin")
              # pin rows before overwriting their own source files;
              # DISK_ONLY because this checkpoint is table-sized (the
              # whole small-file backlog) and the default level unrolls
              # it deserialized through the heap — the q114 OOM class
              .localCheckpoint(eager=True,
                               storageLevel=StorageLevel.DISK_ONLY))
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (packed.write.partitionBy(part_col).mode("overwrite").parquet(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    return plan


def flat_file_stats(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of an UNPARTITIONED parquet directory
    (underscore/dot-prefixed metadata files excluded, as Spark's file
    index excludes them)."""
    files = [os.path.join(path, f) for f in os.listdir(path)
             if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return len(files), sum(os.path.getsize(f) for f in files)


def compact_flat(spark: SparkSession, path: str,
                 target_bytes: int) -> tuple[int, int]:
    """Bin-pack an UNPARTITIONED parquet directory in place — the
    maintenance pass for the repo's append-only incremental stores
    (q120/q122's MinHash signature index, q137's ANN postings store):
    each incremental batch lands as its own small file(s), so the store
    accretes exactly the backlog ``compact_partitioned`` handles for
    hive layouts, minus the partition dimension.

    Rewrites the whole directory into ``max(1, ceil(bytes/target))``
    files — bytes measured on the PRE-rewrite layout (the contract;
    consolidation usually improves compression, so a post-rewrite-bytes
    reading of compliance would be boundary-flaky) — when the current
    file count exceeds that, via a temp
    directory + :func:`derived_cache.publish_dir` (atomic rename-aside
    swap — a concurrent reader mid-scan keeps a consistent directory).
    Underscore-prefixed metadata files (e.g. the derived cache's
    ``_INPUT_FINGERPRINT``) are carried over unchanged: compaction
    changes layout, never content or cache validity. No-op (and no
    read) when the layout already complies. Returns
    ``(n_files_before, n_files_after)``.

    Scale shape: the inventory is driver-side metadata ∝ |files| (a
    manifest read on a real lakehouse); the rewrite is one columnar
    scan + one round-robin repartition write of the store — work
    ∝ store size, amortized across the thousands of appends that built
    the backlog. Stores partitioned for pruning use
    :func:`compact_partitioned` instead, which touches only offending
    partitions."""
    import shutil

    from .derived_cache import publish_dir, sweep_stale_siblings

    n_before, n_bytes = flat_file_stats(path)
    bins = max(1, math.ceil(n_bytes / target_bytes))
    if n_before <= bins:
        return n_before, n_before
    sweep_stale_siblings(path, (".compact-",))  # crashed-pass debris
    tmp = f"{path}.compact-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    spark.read.parquet(path).repartition(bins).write.parquet(tmp)
    for f in os.listdir(path):
        if f.startswith("_") and os.path.isfile(os.path.join(path, f)):
            shutil.copy2(os.path.join(path, f), os.path.join(tmp, f))
    publish_dir(tmp, path)
    return n_before, flat_file_stats(path)[0]


def delete_where_partitioned(spark: SparkSession, path: str, part_col: str,
                             condition) -> dict[str, int]:
    """Row-level DELETE on a one-level hive-partitioned parquet table —
    the purge operation every 100 TB corpus eventually owes (quality
    retractions, takedowns, right-to-be-forgotten): remove every row
    matching ``condition``, rewriting ONLY the partitions that contain
    victims (dynamic partition overwrite, q110's proven mechanism);
    untouched partitions keep their files byte-identical. A partition
    whose rows are ALL victims cannot be replaced by the overwrite
    (nothing is written for it), so its directory is removed explicitly
    — without this the delete would silently resurrect it. The doomed
    directories are found by LISTING the table and unquoting each
    directory token (the same rule :func:`partition_file_stats` uses)
    rather than re-escaping the value — Spark's ``escapePathName``
    escapes a different character set than ``urllib.parse.quote``
    (space, ``+``, ``(`` are written literally), so a reconstructed
    name can miss the real directory; a doomed partition that cannot
    be found raises instead of silently surviving.

    Returns {partition value: rows deleted} (empty when nothing
    matched). Work ∝ victims' partitions, not table size; the victim
    census is one column-pruned scan reduced to |partitions| rows.

    The in-flight survivors are pinned with a DISK_ONLY
    ``localCheckpoint`` before overwriting their own source files (the
    q118/q114 self-overwrite + heap lesson). At 100 TB this becomes a
    staged write + metastore swap; the touched-partition plan is
    unchanged."""
    import shutil

    from pyspark import StorageLevel

    df = spark.read.parquet(path)
    per_part = {r["p"]: r["n"] for r in
                (df.filter(condition)
                 .groupBy(F.col(part_col).cast("string").alias("p"))
                 .agg(F.count(F.lit(1)).alias("n")).collect())}
    if not per_part:
        return per_part
    touched = list(per_part)
    remaining = (df.filter(F.col(part_col).cast("string").isin(touched))
                 .filter(~condition)
                 .localCheckpoint(eager=True,
                                  storageLevel=StorageLevel.DISK_ONLY))
    survivors = {r["p"] for r in
                 (remaining.select(F.col(part_col).cast("string").alias("p"))
                  .distinct().collect())}
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (remaining.write.partitionBy(part_col).mode("overwrite")
         .parquet(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    doomed = set(touched) - survivors  # all-victim partitions
    if doomed:
        import urllib.parse
        prefix = f"{part_col}="
        removed = set()
        for entry in os.listdir(path):
            sub = os.path.join(path, entry)
            if not (entry.startswith(prefix) and os.path.isdir(sub)):
                continue
            value = urllib.parse.unquote(entry[len(prefix):])
            if value in doomed:
                shutil.rmtree(sub)  # loud on failure: a survivor here
                removed.add(value)  # would resurrect deleted rows
        missing = doomed - removed
        if missing:
            raise RuntimeError(
                f"all-victim partition dirs not found under {path}: "
                f"{sorted(missing)}")
    return per_part


def multiset_equal(a: DataFrame, b: DataFrame) -> bool:
    """Exact row-multiset equality via two anti-semijoins — the
    strongest content-preservation certificate; used by the unit tests
    (four shuffles of the full table, so test-scale only)."""
    cols = sorted(a.columns)
    a, b = a.select(*cols), b.select(*cols)
    return (a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty())


def content_fingerprint_exprs(columns: list[str]) -> list:
    """The two aggregate expressions behind
    :func:`content_fingerprint` (``n``, ``h``), factored out so a
    caller can compute the certificate as ``df.observe(...)`` metrics
    riding an EXISTING job (e.g. the write that materializes the rows)
    instead of paying a second full scan — the hash contract lives in
    exactly one place either way."""
    cols = sorted(columns)
    row = F.xxhash64(F.struct(*[F.col(c) for c in cols]))
    return [F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(row.cast("decimal(38,0)")),
                       F.lit(0).cast("decimal(38,0)")).alias("h")]


def content_fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, commutative row-hash sum) — the content certificate
    that survives 100 TB: one map-side-combinable aggregate, no join,
    order-independent because + is commutative. Equal fingerprints ≡
    equal multisets up to 64-bit hash collisions (the same certificate
    lakehouse manifests carry as per-file checksums). Hash input is the
    row struct over name-sorted columns, so column order is
    insignificant; DECIMAL(38,0) sum cannot overflow at any real row
    count."""
    r = df.agg(*content_fingerprint_exprs(df.columns)).first()
    return (int(r["n"]), int(r["h"]))
