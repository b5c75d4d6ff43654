"""The worker hook that keeps PySpark tasks from re-reading every zip on
``sys.path``: unchanged archives are not re-read, changed ones are,
missing ones behave as stock, and the hook is live in Python workers
only."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from shapefile_rs_spark import _worker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 reads zip directories lazily"
)


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


@pytest.fixture
def hooked(monkeypatch):
    """The hook installed on ``zipimporter`` with empty stamps, and a
    list of the archive paths ``zipimport._read_directory`` reads."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _worker._invalidate_caches)
    monkeypatch.setattr(_worker, "_read_at", {})
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, hooked):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"zc_unchanged.py": "VALUE = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()  # the first call reads and stamps the archive
    hooked.clear()
    for _ in range(3):
        imp.invalidate_caches()
    # a second importer of the same archive (a subpackage's) shares it
    zipimport.zipimporter(os.path.join(path, "sub")).invalidate_caches()
    assert hooked == []
    assert imp._files is zipimport._zip_directory_cache[path]
    assert "zc_unchanged.py" in imp._files


def test_rewritten_archive_is_reread_and_imports(tmp_path, hooked, monkeypatch):
    path = str(tmp_path / "b.zip")
    _write_zip(path, {"zc_old.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zc_old").VALUE == 1
    importlib.invalidate_caches()
    hooked.clear()

    _write_zip(path, {"zc_old.py": "VALUE = 22\n", "zc_new.py": "VALUE = 3\n"})
    importlib.invalidate_caches()
    assert hooked == [path]
    monkeypatch.delitem(sys.modules, "zc_old")
    assert importlib.import_module("zc_old").VALUE == 22
    assert importlib.import_module("zc_new").VALUE == 3
    monkeypatch.delitem(sys.modules, "zc_old")
    monkeypatch.delitem(sys.modules, "zc_new")


@pytest.mark.parametrize("stamped", [True, False])
def test_deleted_archive_behaves_like_stock(tmp_path, hooked, stamped):
    states = []
    for name, invalidate in (("stock", _worker._stock), ("hook", _worker._invalidate_caches)):
        path = str(tmp_path / f"{name}.zip")
        _write_zip(path, {"zc_gone.py": "VALUE = 1\n"})
        imp = zipimport.zipimporter(path)
        if stamped:
            invalidate(imp)
        os.remove(path)
        invalidate(imp)
        states.append((imp._files, path in zipimport._zip_directory_cache))
    assert states[0] == states[1] == ({}, False)
    assert _worker._read_at == {}


def test_install_only_in_a_task_below_313(monkeypatch):
    """Inert on the driver (no TaskContext) and on CPython >= 3.13;
    installing twice leaves the hook installed once."""
    import pyspark

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _worker._stock)
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is _worker._stock

    monkeypatch.setattr(pyspark.TaskContext, "get", classmethod(lambda cls: object()))
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is _worker._stock

    monkeypatch.undo()
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _worker._stock)
    monkeypatch.setattr(pyspark.TaskContext, "get", classmethod(lambda cls: object()))
    _worker.install()
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches


def _count_reads(batches):
    """mapInPandas body: wrap ``zipimport._read_directory`` in this worker
    with a counter that outlives the task, stamp the archives, and zero
    the counter as the task's last step."""
    import pandas as pd

    if not hasattr(zipimport, "_reads_counted"):
        zipimport._reads_counted = 0
        read_directory = zipimport._read_directory

        def counting(archive):
            zipimport._reads_counted += 1
            return read_directory(archive)

        zipimport._read_directory = counting
    importlib.invalidate_caches()
    zipimport._reads_counted = 0
    for _ in batches:
        pass
    yield pd.DataFrame({"n": [0]})


def _reads_at_setup(batches):
    """mapInPandas body: archive reads this task's set-up made (-1 in a
    worker that never ran :func:`_count_reads`), and how many zip
    importers the worker holds."""
    import pandas as pd

    reads = getattr(zipimport, "_reads_counted", -1)
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pd.DataFrame({"reads": [reads], "zips": [zips]})


def test_warm_worker_task_skips_zip_rereads(spark):
    """After an engine UDF job, the set-up of a Python task (its
    ``importlib.invalidate_caches()``) re-reads no unchanged archive; the
    driver keeps the stock method."""
    from pyspark.sql import functions as F

    from shapefile_rs_spark.operators.spatial_join import cell_ixiy

    spark.range(0, 4000, numPartitions=4).select(cell_ixiy(F.col("id")).alias("d")).agg(
        F.sum("d.ix")
    ).collect()
    # 16 tasks rotate through every idle worker of the pool
    spark.range(0, 16, numPartitions=16).mapInPandas(_count_reads, "n long").collect()
    rows = (
        spark.range(0, 8, numPartitions=8)
        .mapInPandas(_reads_at_setup, "reads long, zips long")
        .collect()
    )
    assert all(r["zips"] > 0 for r in rows)  # the workers do import from zips
    counted = [r["reads"] for r in rows if r["reads"] >= 0]
    assert counted and all(n == 0 for n in counted), rows
    assert zipimport.zipimporter.invalidate_caches is _worker._stock
