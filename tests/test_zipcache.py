"""The zip-import cache backport (`graph4code_spark/_zipcache.py`): an
unchanged archive is not re-read on `importlib.invalidate_caches()`, a
changed one is, on the driver and inside a Python worker task."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import graph4code_spark  # noqa: F401  (installs the backport)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip directory caches lazily itself")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipcache_m1.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipcache_m1").X == 1

        reads: list[str] = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or read(a))
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 0

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zipcache_m1.py", "X = 1\n")
            z.writestr("zipcache_m2.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("zipcache_m2").Y == 2
    finally:
        for name in ("zipcache_m1", "zipcache_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_worker_task_rereads_no_zip_directory(spark):
    """A Python task's `invalidate_caches()` (what every task's set-up
    runs) reads no zip directory.  The first call after the package
    import may re-read each archive once: archives read before the
    backport was installed carry no stamp."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import graph4code_spark  # noqa: F401

        for _ in batches:
            pass
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        reads: list[str] = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pa.RecordBatch.from_pydict({
            "first_reads": [first],
            "reads": [len(reads) - first],
            "importers": [len(importers)],
            "archives": [len({f.archive for f in importers})],
        })

    out = spark.range(1, numPartitions=1).mapInArrow(
        probe, "first_reads long, reads long, importers long, archives long"
    ).collect()
    assert len(out) == 1
    r = out[0]
    if r.importers == 0:
        pytest.skip("the Python worker imports nothing from a zip archive")
    assert r.reads == 0, r
    assert r.first_reads <= r.archives, r
