"""Zip-directory caching in Spark Python workers (``zipcache``).

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every planner request
and every task; stock ``zipimporter`` then re-reads each archive's
directory once per importer.  The package wraps it, inside workers only,
so an archive is re-read only when its ``(st_mtime_ns, st_size)``
changed.  The first tests simulate a worker in this process; the Spark
tests check the wrapper in real workers."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from tiledb_mariadb_spark import zipcache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture()
def worker(monkeypatch):
    """This process as a Spark worker with the wrapper installed; returns
    the list of archives read through the saved original."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    # restored at teardown: the wrapper must not outlive the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    original = zipcache._original

    def counting(self):
        reads.append(self.archive)
        original(self)

    monkeypatch.setattr(zipcache, "_original", counting)
    monkeypatch.setattr(zipcache, "_stamps", {})
    assert not zipcache.installed()
    zipcache.install_on_spark_worker()
    assert zipcache.installed()
    return reads


@pytest.fixture()
def lib_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding a package with a subpackage, so that
    several importers share one archive, as pyspark.zip's do."""
    tag = uuid.uuid4().hex[:8]
    pkg = f"zc_pkg_{tag}"
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {
        f"{pkg}/__init__.py": "A = 1\n",
        f"{pkg}/sub/__init__.py": "",
        f"{pkg}/sub/leaf.py": "B = 2\n",
    })
    monkeypatch.syspath_prepend(path)
    yield path, pkg
    for name in [m for m in sys.modules if m.startswith(pkg)]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def test_repeated_invalidation_reads_zero_times(worker, lib_zip):
    path, pkg = lib_zip
    leaf = importlib.import_module(f"{pkg}.sub.leaf")
    assert leaf.B == 2
    importers = [k for k in sys.path_importer_cache if k.startswith(path)]
    assert len(importers) >= 3  # lib.zip, lib.zip/pkg/, lib.zip/pkg/sub/
    # the first call after install reads each archive once, however
    # many importers it has; it stamps what it read
    importlib.invalidate_caches()
    assert worker.count(path) == 1
    assert len(worker) == len(set(worker))
    worker.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert worker == []
    # the cached directory still serves imports
    del sys.modules[f"{pkg}.sub.leaf"]
    assert importlib.import_module(f"{pkg}.sub.leaf").B == 2


def test_rewritten_archive_is_reread(worker, lib_zip):
    path, pkg = lib_zip
    importlib.import_module(pkg)
    importlib.invalidate_caches()
    worker.clear()
    _write_zip(path, {
        f"{pkg}/__init__.py": "A = 1\n",
        f"{pkg}/sub/__init__.py": "",
        f"{pkg}/sub/leaf.py": "B = 2\n",
        f"{pkg}/fresh.py": "C = 3\n",
    })
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert worker.count(path) == 1
    assert importlib.import_module(f"{pkg}.fresh").C == 3


def _run(code):
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.split()


def test_driver_import_leaves_zipimport_alone():
    """Outside a worker the package import neither touches zipimport
    nor pulls in pyspark (the resident tools/jvm_bridge.py processes
    are bare interpreters that import the package for the decoder
    alone)."""
    got = _run(
        "import sys, zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "import tiledb_mariadb_spark.sources.tiledb_native\n"
        "print(zipimport.zipimporter.invalidate_caches is before)\n"
        "print(any(m.split('.')[0] == 'pyspark' for m in sys.modules))\n"
    )
    assert got == ["True", "False"]
    # a driver has pyspark loaded but the worker flag unset
    got = _run(
        "import pyspark.core.files, tiledb_mariadb_spark\n"
        "from tiledb_mariadb_spark import zipcache\n"
        "print(zipcache.installed())\n"
    )
    assert got == ["False"]


def test_worker_import_installs():
    got = _run(
        "from pyspark.core.files import SparkFiles\n"
        "SparkFiles._is_running_on_worker = True\n"
        "import tiledb_mariadb_spark\n"
        "from tiledb_mariadb_spark import zipcache\n"
        "print(zipcache.installed())\n"
    )
    assert got == ["True"]


# ----------------------------------------------------- real workers


def _installed_in_tasks(batches):
    import pandas as pd  # noqa: PLC0415

    from tiledb_mariadb_spark import zipcache as zc  # noqa: PLC0415

    for _ in batches:
        yield pd.DataFrame({"installed": [zc.installed()]})


def test_wrapper_installed_in_tasks(spark):
    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(_installed_in_tasks, schema="installed boolean")
        .collect()
    )
    assert rows and all(r.installed for r in rows)


def test_native_sql_read_repeats(spark, tmp_path):
    """Repeated native read tasks in the same workers: the second read
    sees the same rows as the first.  ``read_array`` decodes in Python
    task workers, so both reads import the package from the cached
    archive directories."""
    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        read_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        write_native_fragment,
    )

    uri = str(tmp_path / "arr")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(
        uri, {"k": list(range(50)), "v": [i * 7 for i in range(50)]}, ts=10
    )

    def read():
        df = read_array(spark, uri, dim_ranges={"k": (5, 24)},
                        target_splits=2)
        return sorted(tuple(r) for r in df.collect())

    first = read()
    second = read()
    assert first == [(k, k * 7) for k in range(5, 25)]
    assert second == first


def test_add_py_file_after_tasks_ran(spark, tmp_path):
    """A zip shipped with addPyFile after the workers already served
    tasks arrives as a new sys.path entry, so the cached directories
    of the archives they hold do not hide it."""
    spark.range(2).mapInPandas(
        _installed_in_tasks, schema="installed boolean"
    ).collect()
    mod = "zc_shipped_" + uuid.uuid4().hex[:8]
    path = str(tmp_path / f"{mod}.zip")
    _write_zip(path, {f"{mod}.py": "VALUE = 41 + 1\n"})
    spark.sparkContext.addPyFile(path)

    def read_value(batches):
        import pandas as pd  # noqa: PLC0415

        value = importlib.import_module(mod).VALUE
        for _ in batches:
            yield pd.DataFrame({"value": [value]})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(read_value, schema="value long")
        .collect()
    )
    assert [r.value for r in rows] == [42, 42]
