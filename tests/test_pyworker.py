"""Python-worker zip hook: stat-checked ``zipimporter.invalidate_caches``
semantics on a temp archive, the drift guard, and the hook's effect
inside real Spark Python workers (the driver stays unpatched)."""

from __future__ import annotations

import importlib
import json
import logging
import sys
import zipfile
import zipimport

import pytest

from featureengineer_spark import _pyworker


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def hooked(monkeypatch):
    """Install the hook in this process for one test, then restore the
    stock method; counts ``_read_directory`` calls per archive."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert _pyworker.install()
    assert _pyworker.install()  # idempotent
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_zip_hook_rereads_only_changed_archive(tmp_path, monkeypatch, hooked):
    reads = hooked
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m.py": "X = 1\n", "p/__init__.py": "", "p/q.py": "Y = 2\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("m", "m2", "p", "p.q"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import m  # noqa: F401
    import p.q  # noqa: F401

    importers = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == archive
    ]
    assert len(importers) == 2  # archive root and the p/ package share one stamp

    reads.clear()
    importlib.invalidate_caches()  # first sweep after install: one read, shared
    assert reads.count(archive) == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, {"m.py": "X = 1\n", "m2.py": "Z = 3\n", "p/__init__.py": "", "p/q.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import m2

    assert m2.Z == 3
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()  # must not raise
    assert archive not in zipimport._zip_directory_cache
    monkeypatch.delitem(sys.modules, "m")
    with pytest.raises(ImportError):
        import m  # noqa: F401,F811


def test_zip_hook_skips_and_logs_on_zipimport_drift(monkeypatch, caplog):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.delattr(zipimport, "_read_directory")
    with caplog.at_level(logging.WARNING, logger="featureengineer_spark"):
        assert _pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock
    records = [r for r in caplog.records if r.name == "featureengineer_spark._pyworker"]
    assert len(records) == 1
    line = json.loads(records[0].getMessage())
    assert line["event"] == "pyworker_zip_hook_skipped"
    assert line["missing"] == ["_read_directory"]


def test_worker_invalidation_skips_unchanged_archives(spark, transcripts):
    from featureengineer_spark.kernels import featurize_fast

    def _probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import featureengineer_spark  # noqa: F401  (what unpickling an engine UDF does)

        # The first sweep is what this task's setup already did; count the next.
        importlib.invalidate_caches()
        reads = []
        stock_read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        n_importers = sum(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"reads": len(reads), "importers": n_importers}])

    assert featurize_fast(transcripts).count() == transcripts.count()
    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(_probe, "reads long, importers long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["importers"] > 0  # pyspark.zip is on the worker's path
        assert r["reads"] == 0
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
