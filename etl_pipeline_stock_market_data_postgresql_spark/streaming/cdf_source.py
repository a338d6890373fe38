"""The versioned store's change feed: a Structured Streaming SOURCE
and a batch range read (:func:`read_change_feed`, Delta's
``table_changes``). The source is Delta's ``readChangeFeed`` shape,
implemented as a real PySpark 4 Python Data Source (SPARK-44076):
``spark.readStream.format(...)`` on a store root yields every
committed change as typed rows, with Spark's
own checkpoint offset log tracking the last processed VERSION. This is
the consumer half the r14 verdict asked for: an incremental
materialized view (or any downstream pipeline) follows the store
across commits by just running a stream — no hand-rolled cursor file,
no driver loop; restart resumes from the checkpoint exactly-once when
paired with a txn-keyed sink (the store's own Delta-style
txnAppId/txnVersion ledger).

Semantics — the DELTA MULTISET of each commit, signed:

- an ADDED file's rows feed as ``insert`` (minus any deletion-vector
  positions the same commit attached to it);
- a REMOVED file's rows feed as ``delete`` (minus the positions its
  vector had already marked — those rows were logically gone before);
- a CARRIED file whose deletion vector changed feeds only the
  newly-marked positions as ``delete`` (and, after a RESTORE that
  rolled a vector back, the unmarked positions as ``insert``) — a
  merge-on-read takedown of 100 rows feeds 100 rows, not the file.

A copy-on-write rewrite's SURVIVOR rows therefore appear as a
``delete``(old file) + ``insert``(new file) pair. That is deliberate:
the pair is additively self-cancelling, so signed aggregation — the
incremental-view-maintenance use this source exists for — is exact for
every verb (append, CoW delete/merge, MoR delete, purge, restore,
compaction), while the source itself never needs the cross-file
``exceptAll`` that batch :func:`version_diff` performs (a per-commit
global anti-join inside a streaming micro-batch would shuffle the
whole rewrite; the signed pair costs only the changed files). Batch
``version_diff``/``version_diff_typed`` remain the precise feeds when
pairing matters.

Scale shape: offsets and change classification are DRIVER-side
manifest metadata (O(#changed files) per commit — the same planning
cost any snapshot read pays). The classification rule lives once, in
``versioned_store._classify_commit``, which the streaming source, the
batch feed and ``version_diff`` all call. The two halves read the
classified files differently:

- the STREAMING source reads them EXECUTOR-side, one input partition
  per changed file, through the store's one executor file reader
  (``store_batch.read_file``: deletion-vector positions,
  physical→logical names, NULL-fill) and appends its two change
  columns — a 1000-file commit fans out as 1000 tasks;
- the BATCH feed (:func:`read_change_feed`) is a plain Spark plan:
  ``versioned_store._change_frames`` scans the changed files with the
  store's pinned scan, one scan per version and change kind, takes
  deletion-vector positions from the store's position frame (driver
  broadcast or distributed sidecar scan), and the feed adds the two
  change columns as literals. No Python data source runs; only the
  distributed decode of large v2 sidecars uses a pandas UDF.

Nothing row-scale ever touches the driver. Aborted 2PC holes feed
nothing; an in-doubt top-of-chain prepare simply holds
``latestOffset`` back until the transaction decides (2PC
invisibility, preserved under streaming), and makes the batch feed
raise ``InDoubtTransactionError`` unless its range ends below it.

Schema contract: the stream's schema (and column mapping) is pinned at
QUERY START from the store's then-latest manifest — Spark streaming
schemas are static. Its data columns are declared NULLABLE, as every
snapshot read's are: files predating a schema evolution surface added
columns as NULL, and so do newer files an evolving append wrote
without a column the manifest records NOT NULL; physical field names
are stable under column mapping, so renames never break the feed. A
RESTART from checkpoint re-resolves the schema from the then-latest
manifest (``DataSource.schema()`` and the reader are re-instantiated
per query), so after an ALTER/evolution the follower picks up the new
columns by restarting — offsets carry over, exactly-once holds,
pre-evolution files NULL-fill (pinned by
``tests/test_r16_ops.py::
test_cdf_restart_from_checkpoint_picks_up_evolved_schema``). While a
query is IN FLIGHT its pinned schema stays what it was at start:
commits the evolution made are still fed completely and correctly
under the old projection (added columns simply don't appear until the
restart) — Delta's readChangeFeed makes the same trade.

Reference parity: the reference re-polls PostgreSQL tables on a
schedule (main_parallel.py's fetch loop); this replaces polling with a
change-feed subscription — the shape a 100 TB pipeline needs.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import LongType, StringType, StructType

from ..session import local_frame

FORMAT_NAME = "store_cdf"

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


def _visible_manifest_at(root: str, v: int):
    """The resolved manifest of the newest visible version ≤ v —
    walks down past aborted holes (an offset recorded while a
    prepare was pending may sit ON a hole after it aborts)."""
    from ..sources import versioned_store as vstore

    for w in range(v, 0, -1):
        try:
            return vstore.read_manifest(root, w)
        except vstore.AbortedTransactionError:
            continue
    return None


def _classify_version(root: str, v: int) -> list:
    """The change partitions of ONE version, in the deterministic
    classification order (a pure function of the immutable manifests
    — required by file-granular offsets, whose slices must be stable
    across restarts and replays). An aborted hole classifies empty."""
    from ..sources import versioned_store as vstore

    try:
        man = vstore.read_manifest(root, v)
    except vstore.AbortedTransactionError:
        return []
    prev = _visible_manifest_at(root, v - 1) if v >= 2 else None
    return vstore._classify_commit(man, prev, v)


def _plan_changes(root: str, lo: int, hi: int) -> list:
    """All change partitions of the commit range ``(lo, hi]`` —
    aborted holes feed nothing; the baseline below ``lo`` walks down
    past holes."""
    from ..sources import versioned_store as vstore

    parts: list = []
    prev = _visible_manifest_at(root, lo) if lo >= 1 else None
    for v in range(lo + 1, hi + 1):
        try:
            man = vstore.read_manifest(root, v)
        except vstore.AbortedTransactionError:
            continue  # a hole feeds nothing; prev carries forward
        parts.extend(vstore._classify_commit(man, prev, v))
        prev = man
    return parts


class StoreCDFStreamReader(DataSourceStreamReader):
    """Stream reader whose OFFSET is the store's manifest version,
    optionally refined by a file index for file-granular admission.

    ``initialOffset`` starts at ``startingVersion`` (exclusive;
    default 0 = feed the whole store from its first commit, which is
    how a brand-new materialized view bootstraps from the feed alone).
    ``latestOffset`` is the store's latest VISIBLE version — a
    prepared in-doubt 2PC top holds the offset back instead of
    leaking, an aborted hole is skipped by classification. Spark
    persists the committed offset in the checkpoint, so a restarted
    query resumes at the exact boundary it last processed.

    Offsets are ``{"version": v}`` (all changes of versions ≤ v
    complete) or — under ``maxFilesPerBatch`` when a cap lands inside
    a commit — ``{"version": v, "idx": k}``: additionally the FIRST k
    change partitions of version v+1 (the classification order is a
    pure function of the immutable manifests, so the slice is stable
    across restarts and replays). A whole-version offset serializes
    WITHOUT ``idx`` so legacy checkpoints and new ones compare
    equal."""

    def __init__(self, root: str, starting_version: int,
                 max_versions_per_batch: int | None = None,
                 cursor_path: str | None = None,
                 max_files_per_batch: int | None = None):
        from ..sources import versioned_store as vstore

        self._root = root
        self._start = starting_version
        self._last_visible = starting_version
        self._max_versions = max_versions_per_batch
        self._max_files = max_files_per_batch
        if max_versions_per_batch is not None \
                and max_files_per_batch is not None:
            raise ValueError(
                "maxVersionsPerBatch and maxFilesPerBatch are "
                "alternative admission caps — set at most one")
        for label, cap in (("maxVersionsPerBatch",
                            max_versions_per_batch),
                           ("maxFilesPerBatch", max_files_per_batch)):
            if cap is not None and cap < 1:
                # a zero cap would report a frozen offset forever — a
                # silently-stalled stream, the worst failure mode
                raise ValueError(f"{label} must be >= 1, got {cap}")
        if (max_versions_per_batch is not None
                or max_files_per_batch is not None) and not cursor_path:
            # the Python source API never hands the reader the
            # RESTORED offset (initialOffset is skipped on restart, and
            # latestOffset takes no start), so a capped reader that
            # forgot its floor would report an offset at-or-behind the
            # checkpoint forever — a restarted query would never drain.
            # The cursor file is that floor, ADVISORY ONLY: data
            # completeness and exactly-once remain entirely Spark's
            # offset log; a stale/ahead cursor only changes batch
            # sizing (one cursor per query, like a checkpoint dir).
            raise ValueError(
                "admission caps (maxVersionsPerBatch / "
                "maxFilesPerBatch) require cursorPath (a small file "
                "this source owns, one per query) so admission "
                "control survives restarts")
        self._cursor_path = cursor_path
        floor = (starting_version, 0)
        if cursor_path and os.path.exists(cursor_path):
            with open(cursor_path, encoding="ascii") as f:
                txt = f.read().strip()
            if txt:
                v, _, k = txt.partition(":")
                floor = max(floor, (int(v), int(k or 0)))
        self._reported = floor  # admission floor (v, idx), ratcheted
        self._nparts: dict[int, int] = {}  # version → partition count
        # schema + column mapping pinned at query start (see module
        # docstring); physical names are rename-stable, so this one
        # mapping reads every file the stream will ever feed
        v = vstore.latest_version(root)
        if v is None:
            raise ValueError(f"no committed version under {root}")
        man = vstore.read_manifest(root, v)
        self._schema_json = man.get("schema")
        if self._schema_json is None:
            raise ValueError(
                f"{root} predates recorded schemas — the change-feed "
                f"source needs a pinned schema to stream under")
        self._colmap = man.get("colmap") or {}

    @staticmethod
    def _off(d: dict) -> tuple[int, int]:
        """Offset dict → (version, idx); legacy offsets lack idx."""
        return int(d["version"]), int(d.get("idx", 0))

    @staticmethod
    def _dict(off: tuple[int, int]) -> dict:
        """(v, 0) serializes WITHOUT idx (legacy-equal)."""
        v, k = off
        return {"version": v, "idx": k} if k else {"version": v}

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def _nparts_of(self, v: int) -> int:
        if v not in self._nparts:
            self._nparts[v] = len(_classify_version(self._root, v))
        return self._nparts[v]

    def latestOffset(self) -> dict:
        from ..sources import versioned_store as vstore

        try:
            v = vstore.latest_version(self._root)
        except vstore.InDoubtTransactionError:
            # 2PC blocking window: hold the stream at the last visible
            # version until the transaction decides — never feed (or
            # skip past) a prepare that may still commit
            return {"version": self._last_visible}
        if v is not None and v > self._last_visible:
            self._last_visible = v
        if self._max_versions is None and self._max_files is None:
            return {"version": self._last_visible}
        # ADMISSION CONTROL (Delta's maxFilesPerTrigger shape): a
        # follower against a deep backlog catches up in bounded
        # micro-batches instead of one giant batch whose state/shuffle
        # must hold the whole backlog at once. Each call RATCHETS the
        # persisted floor forward by at most one cap (never past the
        # visible latest): batches then span (checkpoint offset,
        # floor], so a crash that lost the in-memory floor costs at
        # most one idle poll before the ratchet re-exceeds the
        # checkpoint and the next batch fires — never a stall, never
        # skipped data (completeness is Spark's offset log, the cursor
        # only sizes batches).
        if self._max_versions is not None:
            target = (min(self._last_visible,
                          self._reported[0] + self._max_versions), 0)
        else:
            # FILE-granular: walk pending versions spending the budget
            # on their change-partition counts (driver-side metadata;
            # counts cached — manifests are immutable); a cap landing
            # INSIDE a commit yields a partial (v, idx) offset, so a
            # 10k-file backfill drains as many bounded batches
            fv, fk = self._reported
            budget = self._max_files
            while budget > 0 and fv < self._last_visible:
                rem = self._nparts_of(fv + 1) - fk
                if rem <= budget:
                    budget -= rem
                    fv, fk = fv + 1, 0
                else:
                    fk += budget
                    budget = 0
            target = (fv, fk)
        if target > self._reported:
            self._reported = target
            self._persist_floor()
        return self._dict(self._reported)

    def _persist_floor(self) -> None:
        if not self._cursor_path:
            return
        tmp = f"{self._cursor_path}.tmp-{os.getpid()}"
        with open(tmp, "w", encoding="ascii") as f:
            f.write(f"{self._reported[0]}:{self._reported[1]}")
        os.replace(tmp, self._cursor_path)

    def partitions(self, start: dict, end: dict
                   ) -> Sequence[InputPartition]:
        (v1, k1), (v2, k2) = self._off(start), self._off(end)
        if (v2, k2) > self._reported:  # ground truth during a replay
            self._reported = (v2, k2)
            self._persist_floor()
        parts: list[InputPartition] = []
        if (v1, k1) >= (v2, k2):
            return parts
        if v1 == v2:  # both ends inside version v1+1
            return _classify_version(self._root, v1 + 1)[k1:k2]
        lo = v1
        if k1:  # finish the partially-consumed version first
            parts += _classify_version(self._root, v1 + 1)[k1:]
            lo = v1 + 1
        parts += _plan_changes(self._root, lo, v2)
        if k2:  # head of the next version up to the cap
            parts += _classify_version(self._root, v2 + 1)[:k2]
        return parts

    def read(self, partition) -> Iterator:
        """EXECUTOR-side: one changed file through the store's one
        file reader (:func:`store_batch.read_file` — position
        semantics, physical→logical names, NULL-fill under the
        stream's relaxed pinned schema) plus the two change columns,
        as Arrow record batches."""
        import pyarrow as pa

        from ..sources.store_batch import read_file

        part = partition
        table = read_file(self._root, part.file, self._colmap,
                          self._schema_json, exclude=part.dv_exclude,
                          include=part.dv_include)
        n = table.num_rows
        table = (table
                 .append_column(CHANGE_TYPE_COL,
                                pa.array([part.kind] * n, pa.string()))
                 .append_column(COMMIT_VERSION_COL,
                                pa.array([part.version] * n, pa.int64())))
        yield from table.to_batches(max_chunksize=1 << 16)

    def commit(self, end: dict) -> None:
        # Spark's checkpoint offset log is the durable cursor for DATA;
        # the admission floor just tracks it
        if self._off(end) > self._reported:
            self._reported = self._off(end)
            self._persist_floor()


class StoreChangeFeedDataSource(DataSource):
    """``spark.readStream.format("store_cdf").option("path", root)`` —
    the streaming change feed (the batch feed is
    :func:`read_change_feed`, a plain Spark plan).

    Options:
      - ``path`` (required): the versioned-store root;
      - ``startingVersion`` (default 0): feed changes AFTER this
        version (exclusive) — 0 bootstraps from the first commit;
      - ``maxVersionsPerBatch`` (default unbounded): admission
        control — cap each micro-batch at this many store versions so
        a deep backlog drains in bounded batches; requires
        ``cursorPath``;
      - ``maxFilesPerBatch`` (default unbounded; alternative to
        maxVersionsPerBatch): FILE-granular admission — Delta's
        maxFilesPerTrigger: caps each micro-batch at this many
        changed-file partitions, splitting INSIDE a commit when
        needed (a 10k-file backfill append drains as bounded batches
        instead of one giant one); requires ``cursorPath``;
      - ``cursorPath``: a small file this source owns (one per query,
        conventionally next to the checkpoint) holding the admission
        floor across restarts — ADVISORY only, exactly-once stays with
        Spark's offset log.

    The source schema is the store's CURRENT logical schema,
    nullability relaxed, plus ``_change_type`` (string) and
    ``_commit_version`` (long) — the Delta ``readChangeFeed`` column
    contract (:func:`_feed_schema`)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        from ..sources import versioned_store as vstore

        root = self.options.get("path")
        if not root:
            raise ValueError("store_cdf requires option 'path' "
                             "(the versioned-store root)")
        v = vstore.latest_version(root)
        if v is None:
            raise ValueError(f"no committed version under {root}")
        schema_json = vstore.read_manifest(root, v).get("schema")
        if schema_json is None:
            raise ValueError(
                f"{root} predates recorded schemas — the change-feed "
                f"source needs a pinned schema to stream under")
        return _feed_schema(schema_json)

    def streamReader(self, schema: StructType) -> StoreCDFStreamReader:
        mv = self.options.get("maxVersionsPerBatch")
        mf = self.options.get("maxFilesPerBatch")
        return StoreCDFStreamReader(
            self.options["path"],
            int(self.options.get("startingVersion", 0)),
            max_versions_per_batch=int(mv) if mv is not None else None,
            cursor_path=self.options.get("cursorPath"),
            max_files_per_batch=int(mf) if mf is not None else None)


def _feed_schema(schema_json) -> StructType:
    """The feed's schema: the pinned logical schema with nullability
    relaxed like every snapshot read (a file that predates a column
    feeds it as NULL whatever the manifest says), plus the two change
    columns."""
    from ..sources.store_batch import nullable_schema

    out = nullable_schema(StructType.fromJson(schema_json))
    out = out.add(CHANGE_TYPE_COL, StringType(), False)
    return out.add(COMMIT_VERSION_COL, LongType(), False)


def register(spark) -> None:
    """Idempotently register the source with this session."""
    spark.dataSource.register(StoreChangeFeedDataSource)


def read_change_feed_stream(spark, root: str, starting_version: int = 0,
                            max_versions_per_batch: int | None = None,
                            cursor_path: str | None = None,
                            max_files_per_batch: int | None = None):
    """``readStream`` over the store's change feed (registers the
    source on first use)."""
    register(spark)
    reader = (spark.readStream.format(FORMAT_NAME)
              .option("path", root)
              .option("startingVersion", starting_version))
    if max_versions_per_batch is not None:
        reader = reader.option("maxVersionsPerBatch",
                               max_versions_per_batch)
    if max_files_per_batch is not None:
        reader = reader.option("maxFilesPerBatch",
                               max_files_per_batch)
    if cursor_path is not None:
        reader = reader.option("cursorPath", cursor_path)
    return reader.load()


def read_change_feed(spark, root: str, starting_version: int = 0,
                     ending_version: int | None = None):
    """BATCH ``table_changes``: every change in
    ``(starting_version, ending_version]`` as one plain Spark
    DataFrame, under the schema (and column mapping) of the range
    end's era — a range ending before a schema evolution reads under
    its own schema. The default end is the latest VISIBLE version, so
    an in-doubt prepared top raises
    :class:`versioned_store.InDoubtTransactionError` here, before any
    Spark job. Planning is the driver-side manifest walk of the range
    (:func:`_plan_changes`); the rows come from the store's change
    reader (:func:`versioned_store._change_frames`: pinned scans, one
    per version and change kind, that Catalyst plans like any other
    scan), tagged with the two change columns."""
    from functools import reduce

    from pyspark.sql import DataFrame, functions as F

    from ..sources import versioned_store as vstore

    hi = (vstore.latest_version(root) if ending_version is None
          else ending_version)
    if hi is None:
        raise ValueError(f"no committed version under {root}")
    pin = _visible_manifest_at(root, hi)
    if pin is None or pin.get("schema") is None:
        raise ValueError(
            f"{root} has no visible schema-bearing manifest at or "
            f"below version {hi}")
    frames = [df.select("*", F.lit(kind).alias(CHANGE_TYPE_COL),
                        F.lit(v).cast("long").alias(COMMIT_VERSION_COL))
              for (v, kind, _), df in vstore._change_frames(
                  spark, root, pin,
                  _plan_changes(root, starting_version, hi))]
    if not frames:
        return local_frame(spark, [], _feed_schema(pin["schema"]))
    return reduce(DataFrame.unionByName, frames)
