"""The session factory's JVM defaults reach the driver JVM it launches,
and its Python workers fork from the package's worker daemon."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from etl_pipeline_stock_market_data_postgresql_spark import pyworker_daemon
from etl_pipeline_stock_market_data_postgresql_spark.session import (
    _PYTHON_DAEMON_MODULE)


def test_driver_jvm_uses_32mb_g1_regions(spark):
    """``session._G1_JAVA_OPTIONS`` is passed as
    ``spark.driver.defaultJavaOptions`` when the JVM starts: 4 MB
    broadcast chunks are then ordinary objects, not humongous ones that
    start G1 concurrent marks."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    assert bean.getVMOption("G1HeapRegionSize").getValue() == str(32 << 20)
    assert bean.getVMOption("UseG1GC").getValue() == "true"


def test_python_tasks_run_under_the_package_daemon(spark):
    """A forked worker's ``__main__`` is the daemon module it forked
    from."""
    names = (spark.sparkContext.parallelize(range(4), 4)
             .map(lambda _: sys.modules["__main__"].__spec__.name)
             .collect())
    assert set(names) == {_PYTHON_DAEMON_MODULE}


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture
def zip_reads(monkeypatch, tmp_path):
    """Installs the daemon's ``zipimporter.invalidate_caches`` in this
    process and yields ``reads``: path -> ``_read_directory`` calls on
    it. The test archives' modules and importers are dropped after."""
    reads: dict[str, int] = {}
    read_directory = zipimport._read_directory

    def counted(path):
        reads[path] = reads.get(path, 0) + 1
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker_daemon.invalidate_caches)
    before = set(sys.modules)
    yield reads
    for name in set(sys.modules) - before:
        if name.startswith("zdaemon_"):
            del sys.modules[name]
    for path in list(sys.path_importer_cache):
        if path.startswith(str(tmp_path)):
            del sys.path_importer_cache[path]


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, zip_reads):
    """Once its stamp is primed, an archive whose mtime and size did not
    change is not re-read by ``importlib.invalidate_caches()`` (a
    worker runs one per task)."""
    archive = _write_zip(tmp_path / "mods.zip", {"zdaemon_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zdaemon_a").X == 1
    importlib.invalidate_caches()  # primes the archive's stamp
    zip_reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_reads.get(archive, 0) == 0


def test_rewritten_archive_is_reread(tmp_path, monkeypatch, zip_reads):
    """A rewritten archive gets a new stamp: it is re-read, and its new
    content imports."""
    archive = _write_zip(tmp_path / "mods.zip", {"zdaemon_b": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zdaemon_b").X == 1
    importlib.invalidate_caches()
    zip_reads.clear()
    _write_zip(archive, {"zdaemon_b": "X = 2\n",
                         "zdaemon_c": "Y = 'added'\n"})
    importlib.invalidate_caches()
    assert zip_reads.get(archive, 0) >= 1
    del sys.modules["zdaemon_b"]
    assert importlib.import_module("zdaemon_b").X == 2
    assert importlib.import_module("zdaemon_c").Y == "added"
    zip_reads.clear()
    importlib.invalidate_caches()
    assert zip_reads.get(archive, 0) == 0


def test_py_file_added_after_workers_start_imports(spark, tmp_path):
    """A zip shipped by ``addPyFile`` to workers that already ran tasks
    is a new path on their ``sys.path``: it imports."""
    sc = spark.sparkContext
    # workers are up and have run tasks before the file is added
    assert sc.parallelize(range(4), 4).map(lambda x: x).sum() == 6
    archive = _write_zip(tmp_path / "zdaemon_late.zip",
                         {"zdaemon_late": "VALUE = 41\n"})
    sc.addPyFile(archive)

    def use(_):
        import zdaemon_late

        return sys.modules["__main__"].__spec__.name, zdaemon_late.VALUE + 1

    got = sc.parallelize(range(4), 4).map(use).collect()
    assert set(got) == {(_PYTHON_DAEMON_MODULE, 42)}
