"""Tests of the Python-worker import-cache shim (go_tdigest_spark/_worker.py):
an unchanged zip archive is not re-read by ``importlib.invalidate_caches``,
a rewritten one still reloads, the driver is left alone, and a Spark
worker that has imported the library re-reads no archive per task."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from go_tdigest_spark import _worker

needs_eager_reload = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from Python 3.13",
)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding one module, on ``sys.path``, imported once; the
    patch, ``sys.path`` and the imported modules are undone afterwards."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    # restored at teardown, whatever the test patched in between
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_a").X == 1
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    yield archive
    sys.path_importer_cache.pop(str(archive), None)


def _count_reads(monkeypatch) -> list:
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_eager_reload
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert str(zip_on_path) in reads  # the stock method re-reads it
    _worker._patch()
    _worker._patch()  # idempotent
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zmod_a").X == 1


@needs_eager_reload
def test_rewritten_archive_still_reloads(zip_on_path, monkeypatch):
    _worker._patch()
    before = zip_on_path.stat()
    _write_zip(zip_on_path, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2  # new\n"})
    after = zip_on_path.stat()
    assert (after.st_size, after.st_mtime_ns) != (before.st_size, before.st_mtime_ns)
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == [str(zip_on_path)]
    assert importlib.import_module("zmod_b").Y == 2


def test_driver_is_left_alone():
    from pyspark import TaskContext

    assert TaskContext.get() is None
    stock = zipimport.zipimporter.invalidate_caches
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock


def test_spark_worker_rereads_no_archive(spark):
    def _worker_probe(batches):
        # import the library (as unpickling a library closure does),
        # then count the archive re-reads of one
        # importlib.invalidate_caches() in this task; nested, so that
        # cloudpickle ships it by value
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import go_tdigest_spark  # noqa: F401  (installs the shim)

        for _ in batches:
            pass
        n_zip = sum(
            isinstance(i, zipimport.zipimporter)
            for i in sys.path_importer_cache.values()
        )
        reads = []
        original = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield pa.RecordBatch.from_pydict(
            {
                "n_zip": [n_zip],
                "reads": [len(reads)],
                "patched": [
                    hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
                ],
                "pyspark_from_zip": [".zip" in sys.modules["pyspark"].__file__],
            }
        )

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInArrow(
            _worker_probe, "n_zip long, reads long, patched boolean, pyspark_from_zip boolean",
        )
        .collect()
    )
    assert len(rows) == 4
    if sys.version_info < (3, 13):
        assert [(r.patched, r.reads) for r in rows] == [(True, 0)] * 4
    for r in rows:
        if r.pyspark_from_zip:  # the JVM shipped pyspark.zip: the probe bites
            assert r.n_zip > 0
