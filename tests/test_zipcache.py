"""zipcache: PySpark workers skip re-reading unchanged zip archives."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from gopensearch_spark import zipcache

needs_old_python = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimport re-reads only before 3.12"
)


@pytest.fixture
def read_spy(monkeypatch):
    """Archive paths passed to zipimport._read_directory."""
    reads: list[str] = []
    original = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zc_probe_mod.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, read_spy):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, 1)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipcache._invalidate_caches)
    monkeypatch.setattr(zipcache, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zc_probe_mod", raising=False)
    import zc_probe_mod

    assert zc_probe_mod.VALUE == 1
    read_spy.clear()
    importlib.invalidate_caches()  # first call: no stamp yet, reads once
    assert read_spy.count(archive) == 1
    read_spy.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in read_spy

    _write_zip(archive, "rewritten")
    importlib.invalidate_caches()
    assert read_spy.count(archive) == 1
    del sys.modules["zc_probe_mod"]
    import zc_probe_mod  # noqa: F811

    assert zc_probe_mod.VALUE == "rewritten"


def test_driver_zipimport_untouched():
    assert not zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache._ORIGINAL


@needs_old_python
def test_worker_invalidate_caches_reads_no_archive(spark):
    def probe(batches):
        import importlib
        import zipimport

        import gopensearch_spark  # noqa: F401  (engine UDFs unpickle through it)

        importlib.invalidate_caches()
        reads = []
        original = zipimport._read_directory

        def spy(archive):
            reads.append(archive)
            return original(archive)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        patched = zipimport.zipimporter.invalidate_caches.__module__
        for _ in batches:
            yield pd.DataFrame({"reads": [len(reads)], "patched": [patched]})

    got = spark.range(4).repartition(4).mapInPandas(probe, "reads long, patched string").toPandas()
    assert len(got) == 4
    assert got["reads"].tolist() == [0] * 4
    assert set(got["patched"]) == {"gopensearch_spark.zipcache"}
    assert zipimport.zipimporter.invalidate_caches is zipcache._ORIGINAL
