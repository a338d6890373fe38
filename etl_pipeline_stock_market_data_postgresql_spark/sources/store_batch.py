"""BATCH read/write halves of the ``versioned_store`` Python Data
Source — with these, the store speaks all four quadrants of the
standard Spark API surface:

- ``spark.read.format("versioned_store")`` … this module's reader;
- ``df.write.format("versioned_store").mode(...)`` … this module's
  writer (append / overwrite);
- ``spark.readStream.format("store_cdf")`` … streaming change feed
  (``streaming/cdf_source.py``);
- ``df.writeStream.format("versioned_store")`` … streaming sink
  (``streaming/store_sink.py``).

READER — snapshot scan with PLANNING-TIME file skipping:

``partitions()`` is one :class:`InputPartition` per LIVE data file of
the resolved version (``versionAsOf`` option; default the latest
VISIBLE version — 2PC invisibility and aborted-hole semantics are the
store's, not re-derived here) that survives pruning. Spark's
``pushFilters`` hands the scan the query's conjunctive predicates at
plan time; supported comparisons (=, <, <=, >, >=, IN on top-level
columns) fold into per-column [lo, hi] ranges and equality sets, and
``partitions()`` hands them to :func:`versioned_store._plan` — the
SAME planner :func:`versioned_store.read_version_pruned_multi` and
:func:`versioned_store.read_version_point_lookup` call: a whole
segment whose summary misses a conjunct is skipped without even
reading the segment file, surviving files prune by their footer-stats
entries (date and timestamp bounds in their ISO form; bounds of
another type keep the file), then an equality on a bloom-indexed
column probes the per-file sidecar. EVERY filter is returned to Spark
as "still needs evaluating" (the API's safe mode): pruning only ever
skips files PROVEN rowless for the conjunction, Spark re-applies the
exact predicates to the rows that do flow, so answers are exact even
for filters the range model only approximates. Rows never touch the
driver: executors run :func:`read_file` — the one executor-side file
reader, shared with the streaming change feed — which pyarrow-reads
one file, maps physical names to logical on column-mapped stores,
subtracts its deletion vector's positions, and casts or NULL-fills to
the pinned logical schema with nullability relaxed.

Spark requires ``spark.sql.python.filterPushdown.enabled=true`` when
a reader overrides ``pushFilters`` (it refuses to silently drop the
implementation); the repo's session factory sets it, and the reader
degrades to the no-pushdown variant via ``filterPushdown=false`` for
foreign sessions that cannot.

WRITER — the two-phase distributed commit every real table format
uses (and the streaming sink already implements): executors stream
their partition's Arrow batches straight into staged parquet files in
the store's data dir (no per-row Python transit), the driver
publishes ALL of them as ONE CAS manifest commit. ``mode("append")``
carries the previous snapshot; ``mode("overwrite")`` publishes a
manifest referencing ONLY the new files (op ``rewrite``) — the old
snapshot stays time-travelable and vacuum reclaims it by policy.
``txnAppId``/``txnVersion`` options give batch writes the same
idempotent-replay ledger as streaming micro-batches. A failed job
aborts by deleting its staged files; a crashed driver leaves
dead-pid orphans that vacuum's writer-liveness rule reclaims.

Reference parity: the reference reads its tables back with pandas
``read_sql`` over a psycopg2 connection (single socket, single
process — README_duckdb.md's analysis section); here the same
``spark.read`` call fans one task per file across the cluster and
skips files the predicate proves empty.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (DataSourceArrowWriter,
                                    DataSourceReader, EqualTo,
                                    GreaterThan, GreaterThanOrEqual,
                                    In, InputPartition, LessThan,
                                    LessThanOrEqual,
                                    WriterCommitMessage)
from pyspark.sql.types import StructType

_DATA = "data"  # versioned_store._DATA — executors read files without
# importing the store module (the same rule as dv_codec)


def nullable_schema(schema):
    """``schema`` (any data type) with every nested nullability flag
    relaxed — the scan's declared schema must match what parquet
    snapshot reads actually produce (parquet-backed frames are
    nullable throughout; the manifest may record NOT NULL from the
    writer's frame, and evolution NULL-fills old files regardless).
    Schema enforcement compares types under it too: nullability is a
    per-batch inference artifact, never schema drift."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    def _relax(dt):
        if isinstance(dt, StructType):
            return StructType([
                StructField(f.name, _relax(f.dataType), True)
                for f in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(_relax(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(_relax(dt.keyType), _relax(dt.valueType),
                           True)
        return dt

    return _relax(schema)


def read_file(root: str, file: str, colmap: dict, schema_json,
              exclude: str | None = None, include: str | None = None):
    """EXECUTOR-side: the ONE Arrow reader of a store data file, behind
    both Python data sources — this module's batch source and the
    streaming change feed (the batch change feed is a Spark plan over
    ``versioned_store._pinned_scan`` and needs no executor Python).
    Reads ``file``, renames
    physical columns to logical (``colmap``: logical → physical),
    keeps the rows at deletion-vector positions — ``include``'s minus
    ``exclude``'s, or every row minus ``exclude``'s (both are sidecar
    names, None when absent) — and casts or NULL-fills (a file that
    predates a column) to the :func:`nullable_schema` of the pinned
    ``schema_json``. Returns a ``pyarrow.Table``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from .dv_codec import read_positions

    def positions(name: str):
        return np.asarray(read_positions(os.path.join(root, _DATA, name)),
                          dtype=np.int64)

    table = pq.read_table(os.path.join(root, _DATA, file))
    if colmap:  # physical field names → logical
        inv = {phys: log for log, phys in colmap.items()}
        table = table.rename_columns(
            [inv.get(c, c) for c in table.column_names])
    if include or exclude:
        n = table.num_rows
        rows = np.arange(n) if include is None else np.unique(
            positions(include))
        if exclude:
            rows = rows[~np.isin(rows, positions(exclude))]
        table = table.take(pa.array(rows[rows < n], type=pa.int64()))
    target = to_arrow_schema(nullable_schema(
        StructType.fromJson(schema_json)))
    cols = []
    for field in target:
        if field.name in table.column_names:
            col = table.column(field.name)
            if col.type != field.type:
                col = col.cast(field.type)
        else:  # file predates the column: NULL-fill
            col = pa.nulls(table.num_rows, type=field.type)
        cols.append(col)
    return pa.table(cols, names=[f.name for f in target])


class _FilePartition(InputPartition):
    """One live data file — the executor work unit. ``dv`` is the
    file's deletion-vector sidecar name (None when unmarked)."""

    def __init__(self, file: str, dv: str | None):
        self.file = file
        self.dv = dv


def _intersect(a: tuple, b: tuple) -> tuple:
    lo = b[0] if a[0] is None else a[0] if b[0] is None else max(a[0], b[0])
    hi = b[1] if a[1] is None else a[1] if b[1] is None else min(a[1], b[1])
    return (lo, hi)


class StoreBatchReader(DataSourceReader):
    """Pruning batch reader (see module docstring). Planning is
    :func:`versioned_store._plan` on the driver; the pickled reader
    ships only the root, pinned schema and column map to executors."""

    def __init__(self, root: str, version: int):
        from . import versioned_store as vstore

        self._root = root
        self._version = version
        # the schema and column mapping executors read under;
        # visibility is checked when partitions() plans
        raw = vstore._read_manifest_raw(root, version)
        if raw.get("schema") is None:
            raise ValueError(
                f"{root} predates recorded schemas — the batch source "
                f"needs the manifest schema to scan under")
        self._schema_json = raw["schema"]
        self._colmap = raw.get("colmap") or {}
        # logical-name ranges/equality sets collected by pushFilters
        self._ranges: dict[str, tuple] = {}
        self._eq_values: dict[str, list] = {}
        #: filled by partitions() — (files opened, files+segments total)
        self.plan_report: dict | None = None

    # -- planning (driver) -------------------------------------------

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Fold supported conjuncts into per-column ranges for stats
        pruning. ALL filters are returned (Spark re-applies them), so
        a conjunct the range model cannot express — or a file without
        stats — costs only a forgone skip, never a wrong row."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            rng = None
            if isinstance(f, EqualTo):
                if f.value is None:
                    continue  # NULL literal: never prune on it
                rng = (f.value, f.value)
                self._eq_values.setdefault(col, []).append(f.value)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                if f.value is None:
                    continue
                # strict > prunes with the closed bound — superset-safe
                rng = (f.value, None)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                if f.value is None:
                    continue
                rng = (None, f.value)
            elif isinstance(f, In):
                # a NULL in the list never matches a row, so pruning
                # on the non-null bounds stays superset-safe
                vals = [v for v in f.value if v is not None]
                if vals:
                    try:
                        rng = (min(vals), max(vals))
                    except TypeError:
                        rng = None
            if rng is not None:
                self._ranges[col] = _intersect(
                    self._ranges.get(col, (None, None)), rng)
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        from . import versioned_store as vstore

        _, files, stats, n_total = vstore._plan(
            self._root, self._version, self._ranges, self._eq_values)
        self.plan_report = {"n_files": len(files), "n_total": n_total}
        return [_FilePartition(f, stats[f].get(vstore._DV_KEY))
                for f in sorted(files)]

    # -- execution (executor) ----------------------------------------

    def read(self, partition: _FilePartition | None) -> Iterator:
        if partition is None:
            # an empty partitions() list (every file pruned) runs one
            # task with no partition object: emit nothing — the scan's
            # schema still comes from schema(), so shape is preserved
            return
        yield from read_file(
            self._root, partition.file, self._colmap, self._schema_json,
            exclude=partition.dv).to_batches(max_chunksize=1 << 16)


class StoreBatchPlainReader(StoreBatchReader):
    """``filterPushdown=false`` variant: does NOT override
    ``pushFilters``, so it loads under sessions where
    ``spark.sql.python.filterPushdown.enabled`` is off (Spark refuses
    to run an overriding reader there rather than silently skip it).
    Scans every live file; Spark applies all predicates post-scan."""

    # restore the base-class attribute so the runtime's override
    # detection (`__func__ is not DataSourceReader.pushFilters`) sees
    # the default implementation
    pushFilters = DataSourceReader.pushFilters


class StoreBatchWriter(DataSourceArrowWriter):
    """Batch writer: composition over the streaming sink's Arrow
    executor path (identical staged-file contract), with a batch
    commit that publishes once — append (carry the snapshot) or
    overwrite (fresh file list, op ``rewrite``)."""

    def __init__(self, core, overwrite: bool,
                 txn: tuple[str, int] | None):
        self._core = core  # a StoreStreamWriter (executor write/abort)
        self._overwrite = overwrite
        self._txn = txn

    def write(self, iterator) -> WriterCommitMessage:
        return self._core.write(iterator)

    def commit(self, messages) -> None:
        from . import versioned_store as vstore

        c = self._core
        files = sorted(m.file for m in messages
                       if m is not None and m.file is not None)
        if not files and not self._overwrite and self._txn is None:
            # un-ledgered APPEND of an empty frame: publishing would
            # only mint a contentless version — no-op instead. An
            # overwrite must still publish (it is a truncate), and a
            # txn-keyed write must record its ledger entry so replays
            # no-op.
            return
        vstore.commit_staged_files(
            c._root, files, stats_cols=c._stats_cols,
            bloom_cols=c._bloom_cols, txn=self._txn,
            schema_json=c._schema_json,
            allow_evolution=c._allow_evolution,
            op="rewrite" if self._overwrite else "append",
            carry_prev=not self._overwrite,
            colmap=c._colmap, assigned_new=c._assigned_new,
            colmax=c._colmax)

    def abort(self, messages) -> None:
        self._core.abort(messages, 0)
