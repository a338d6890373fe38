"""SparkSession factory.

Local testing runs one JVM with ``local[N]`` threads; the configs below
are chosen so the same code scales to a multi-executor cluster:

- AQE on (runtime coalesce + skew-join splitting) so shuffle partition
  counts self-correct at 100 TB without re-tuning.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on
  a real cluster AQE's coalescing makes the initial number mostly moot.
- Session timezone pinned to UTC so results are comparable with the
  DuckDB oracle (UTC-naive timestamps) and stable across clusters.
- Arrow enabled for the Pandas-UDF slow path.
- G1 heap regions of 32 MB (``_G1_JAVA_OPTIONS``), as a large heap gets.
- Python workers fork from the package's own daemon
  (``_PYTHON_DAEMON_MODULE``, ``pyworker_daemon``): on each task,
  ``importlib.invalidate_caches()`` made every zipimporter re-read the
  whole ``pyspark.zip`` directory (about 0.2 s of worker CPU per task);
  under this daemon an archive is re-read only when its mtime or size
  changed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


#: JVM defaults for the driver and executors. At the 4 MB region G1
#: picks for an 8 GB heap, every broadcast chunk (``spark.broadcast.
#: blockSize``, 4 MB, one per task binary of every stage) is a humongous
#: object, and each humongous allocation above the occupancy threshold
#: starts a concurrent mark. On small-batch jobs that made back-to-back
#: marking cycles that came and went with the heap's size after a full
#: GC: 0.1 s or 4.5 s of GC CPU on the same op. At 32 MB (G1's own
#: choice for heaps of 64 GB and up) only the 64 MB Tungsten pages stay
#: humongous. ``defaultJavaOptions`` leaves ``extraJavaOptions`` to the
#: deployment, whose flags come later and win.
_G1_JAVA_OPTIONS = "-XX:G1HeapRegionSize=32m"

#: The module every Python worker forks from: ``pyspark.daemon`` whose
#: workers re-read a zip archive's directory only when the archive
#: changed (see ``pyworker_daemon``). It is found on the ``PYTHONPATH``
#: that ``get_spark`` exports before the JVM starts.
_PYTHON_DAEMON_MODULE = (
    "etl_pipeline_stock_market_data_postgresql_spark.pyworker_daemon")

#: Spark's bundled beyond-heap state-store backend. The default heap
#: provider (HDFSBackedStateStoreProvider) is fastest at every probed
#: scale (BENCH.md: q62 100x in 6.3s vs 21.5s) but holds all streaming
#: state in executor memory; a real deployment flips to RocksDB once
#: per-executor state approaches heap size — state then lives off-heap
#: on local disk and no longer competes with execution memory.
ROCKSDB_STATE_PROVIDER = ("org.apache.spark.sql.execution.streaming"
                          ".state.RocksDBStateStoreProvider")

_STATE_STORE_CHOICES = {
    "": None, "default": None, "heap": None, "hdfs": None,
    "rocksdb": ROCKSDB_STATE_PROVIDER,
}


def state_store_provider_class() -> str | None:
    """Resolve ``SPARK_GRAFT_STATE_STORE`` (default/heap/hdfs/rocksdb)
    to a provider class, or None for Spark's default heap provider."""
    choice = os.environ.get("SPARK_GRAFT_STATE_STORE", "").strip().lower()
    if choice not in _STATE_STORE_CHOICES:
        raise ValueError(
            f"SPARK_GRAFT_STATE_STORE={choice!r}: expected one of "
            f"{sorted(_STATE_STORE_CHOICES)}")
    return _STATE_STORE_CHOICES[choice]


def get_spark(app_name: str = "etl_pipeline_stock_market_data_postgresql_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session. ``SPARK_GRAFT_CPUS`` overrides core
    count; ``SPARK_GRAFT_STATE_STORE=rocksdb`` selects the beyond-heap
    streaming state backend (providerClass is a runtime conf read at
    each streaming query's start, so it also applies to an already-built
    session)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    # executor Python workers resolve module-by-reference pickles
    # (mapInPandas fns, the change-feed DataSource) via PYTHONPATH, not
    # the driver's sys.path — export the package root BEFORE the JVM
    # (and its worker daemon) launches, so a driver embedded from any
    # cwd (the external gate does this) still runs distributed stages.
    # On a real cluster this is --py-files / a shipped wheel.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else ""))
    provider = state_store_provider_class()
    # Shuffle/spill/broadcast scratch on the fastest local medium: the
    # sandbox's block device sustains ~25 MB/s bulk writes (measured
    # r16) and stalls under dirty-page writeback; /dev/shm is RAM. A
    # cluster sets SPARK_GRAFT_LOCAL_DIR (or pre-sets spark.local.dir)
    # to its NVMe scratch — this only picks the local default.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if not local_dir:
        local_dir = ("/dev/shm/spark_local" if os.path.isdir("/dev/shm")
                     and os.access("/dev/shm", os.W_OK) else None)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the versioned-store batch reader implements pushFilters for
        # plan-time file skipping; Spark refuses to run an overriding
        # reader with this off (rather than silently skip pushdown)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # driver testdata stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in sources.tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.defaultJavaOptions", _G1_JAVA_OPTIONS)
        .config("spark.executor.defaultJavaOptions", _G1_JAVA_OPTIONS)
        .config("spark.python.daemon.module", _PYTHON_DAEMON_MODULE)
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if provider is not None:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", provider)
    spark = builder.getOrCreate()
    # runtime-settable; getOrCreate may have reused a session built
    # before this conf existed
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    if provider is not None:
        # getOrCreate may have returned an existing session whose builder
        # confs were ignored; providerClass is runtime-settable and read
        # at streaming-query start, so set it on the live conf too
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                       provider)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list,
                schema: StructType | str) -> DataFrame:
    """A small driver-side frame of ``rows`` (tuples, in schema order)
    under ``schema`` (a ``StructType`` or a DDL string), built as an
    Arrow local relation: Spark plans it as a ``LocalTableScan`` and
    evaluates it without a job. ``createDataFrame(<list>)`` builds a
    PythonRDD instead, whose every evaluation runs a Python task per
    partition, even for an empty list."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return spark.createDataFrame(
        pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)],
                 schema=arrow), schema)
