"""The lazy zip-directory cache that ``import kgforge`` installs
(``kgforge._lazy_zip_directories``): ``importlib.invalidate_caches()``,
which a PySpark worker calls before every task, reads no zip archive;
the next lookup reads it once; and a rewritten archive is still seen."""

import importlib
import os
import pkgutil
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

import kgforge


@pytest.fixture
def archive_reads(monkeypatch):
    """``zipimport._read_directory`` logged: returns the list of the
    archives it read, in order."""
    reads = []
    real = zipimport._read_directory

    def logged(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", logged)
    return reads


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive on ``sys.path``; ``write(*stems)`` rewrites it with
    one more module per stem (a unique name) and returns the new names.
    Path, importer, cache entry and modules are removed afterwards."""
    archive = str(tmp_path / "mods.zip")
    names = []

    def write(*stems):
        names.extend(f"{stem}_{uuid.uuid4().hex}" for stem in stems)
        with zipfile.ZipFile(archive, "w") as z:
            for name in names:
                z.writestr(f"{name}.py", f"NAME = {name!r}\n")
        return names[-len(stems):]

    sys.path.insert(0, archive)
    yield archive, write
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in names:
        sys.modules.pop(name, None)


def test_invalidate_caches_reads_no_archive(zip_on_path, archive_reads):
    archive, write = zip_on_path
    (a,) = write("a")
    assert importlib.import_module(a).NAME == a
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    archive_reads.clear()

    importlib.invalidate_caches()
    assert archive_reads == []
    kgforge._lazy_zip_directories()  # installing twice changes nothing
    importlib.invalidate_caches()
    assert archive_reads == []

    # the next lookup reads the archive once, the ones after it none
    for _ in range(2):
        with pytest.raises(ImportError):
            importlib.import_module("absent_" + uuid.uuid4().hex)
        assert archive_reads.count(archive) == 1


def test_rewritten_archive_is_read_again(zip_on_path):
    archive, write = zip_on_path
    (a,) = write("a")
    importlib.import_module(a)

    (b,) = write("b")
    importlib.invalidate_caches()
    assert importlib.import_module(b).NAME == b
    # pkgutil reads the directory cache itself: it sees the new module too
    assert {a, b} <= {m.name for m in pkgutil.iter_modules([archive])}


def test_reused_python_worker_reads_no_archive(spark):
    """A worker that ran a kgforge closure keeps the lazy cache: in the
    next task, the ``invalidate_caches()`` of its set-up reads no zip,
    although its path holds zips (``pyspark.zip``)."""

    def task(batches):
        # the closure refers to kgforge, so the worker imports it on
        # unpickling, as it does for every kgforge UDF
        assert kgforge.__version__
        n = [0]
        real = zipimport._read_directory

        def counting(archive):
            n[0] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [n[0]], "zips": [zips], "pid": [os.getpid()]})

    df = spark.range(1, numPartitions=1)
    schema = "reads long, zips long, pid long"
    first = df.mapInPandas(task, schema).toPandas()
    second = df.mapInPandas(task, schema).toPandas()
    assert (first["zips"] > 0).all() and (second["zips"] > 0).all()
    assert second["reads"].tolist() == [0], (first, second)
