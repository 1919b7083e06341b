"""The worker-side zip re-parse fix (``annotations_ingester_spark.worker_imports``).

Counts ``zipimport._read_directory`` calls rather than timing anything: a
stamp-checked ``invalidate_caches`` re-reads an archive only when it
changed, the stdlib method is left alone outside PySpark workers and on
CPython >= 3.13, and inside a Spark worker that has run an engine task the
per-task ``importlib.invalidate_caches()`` re-reads nothing."""

from __future__ import annotations

import importlib
import sys
import types
import zipfile
import zipimport

import pytest

from annotations_ingester_spark import worker_imports

NEEDS_FIX = sys.implementation.name == "cpython" and sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture()
def reads(monkeypatch):
    """Paths passed to ``zipimport._read_directory`` while the test runs."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture()
def stdlib_method(monkeypatch):
    """Restore the stdlib method after the test, whatever it installed."""
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    return original


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``wi_mod_a`` on ``sys.path`` with its zipimporter cached."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wi_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wi_mod_a", "wi_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importer = zipimport.zipimporter(str(archive))
    monkeypatch.setitem(sys.path_importer_cache, str(archive), importer)
    return archive


def _as_worker(monkeypatch):
    monkeypatch.setitem(sys.modules, "pyspark.worker", types.ModuleType("pyspark.worker"))


@pytest.mark.skipif(not NEEDS_FIX, reason="stdlib invalidate_caches is lazy on >= 3.13")
def test_unchanged_archive_is_not_reread(stdlib_method, monkeypatch, zip_on_path, reads):
    _as_worker(monkeypatch)
    assert worker_imports.install()
    assert worker_imports.install()  # idempotent: no second wrapper
    patched = zipimport.zipimporter.invalidate_caches
    assert patched is not stdlib_method
    assert getattr(patched, worker_imports._MARKER)

    importlib.invalidate_caches()  # first sight of each importer: one read
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(zip_on_path) not in reads
    assert importlib.import_module("wi_mod_a").VALUE == "a"


@pytest.mark.skipif(not NEEDS_FIX, reason="stdlib invalidate_caches is lazy on >= 3.13")
def test_changed_archive_is_reread(stdlib_method, monkeypatch, zip_on_path, reads):
    _as_worker(monkeypatch)
    assert worker_imports.install()
    importlib.invalidate_caches()
    reads.clear()

    zip_on_path.unlink()  # a new inode, as a fresh addPyFile copy has
    _write_zip(zip_on_path, {"wi_mod_a": "VALUE = 'a'\n", "wi_mod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads.count(str(zip_on_path)) == 1
    assert importlib.import_module("wi_mod_b").VALUE == "b"

    reads.clear()
    importlib.invalidate_caches()
    assert str(zip_on_path) not in reads


@pytest.mark.skipif(not NEEDS_FIX, reason="stdlib invalidate_caches is lazy on >= 3.13")
def test_missing_archive_falls_back_to_stdlib(stdlib_method, monkeypatch, zip_on_path, reads):
    _as_worker(monkeypatch)
    assert worker_imports.install()
    importlib.invalidate_caches()
    reads.clear()
    zip_on_path.unlink()
    importlib.invalidate_caches()
    importlib.invalidate_caches()  # a failed stat is never a cache hit
    assert reads.count(str(zip_on_path)) == 2
    assert sys.path_importer_cache[str(zip_on_path)]._files == {}


def test_driver_process_keeps_stdlib_method(stdlib_method, monkeypatch):
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    assert not worker_imports.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib_method


def test_python_313_keeps_stdlib_method(stdlib_method, monkeypatch):
    _as_worker(monkeypatch)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not worker_imports.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib_method


def test_spark_worker_skips_unchanged_archives(spark):
    """After an engine ``mapInPandas`` task, a later task's worker-side
    ``importlib.invalidate_caches()`` re-reads no archive; the driver keeps
    the stdlib method. Workers are reused from an idle pool, so the probe
    runs until it lands in a worker whose importers the fix already stamped
    during that task's own setup."""
    import pandas as pd

    from annotations_ingester_spark.annotator.registry import get_annotator
    from annotations_ingester_spark.annotator.udf import annotate

    docs = spark.createDataFrame(
        [(i, f"worker import probe document {i}") for i in range(8)],
        "doc_id long, text string",
    )
    assert annotate(docs, get_annotator("fake-medcat")).count() == 8

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        from annotations_ingester_spark import worker_imports as wi

        importers = [
            i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter)
        ]
        stamped = bool(importers) and all(
            getattr(i, wi._STAMP, None) is not None for i in importers
        )
        seen = []
        real = zipimport._read_directory

        def counting(path):
            seen.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "lazy_stdlib": [sys.version_info >= (3, 13)],
            "patched": [getattr(zipimport.zipimporter.invalidate_caches, wi._MARKER, False)],
            "stamped": [stamped],
            "importers": [len(importers)],
            "reads": [len(seen)],
        })

    schema = (
        "pid long, lazy_stdlib boolean, patched boolean, stamped boolean, "
        "importers long, reads long"
    )
    runs = []
    for _ in range(8):
        row = spark.range(0, 1, 1, 1).mapInPandas(probe, schema).collect()[0]
        runs.append(row)
        if row["lazy_stdlib"] or row["stamped"]:
            break
    last = runs[-1]
    if last["lazy_stdlib"]:
        assert not last["patched"] and last["reads"] == 0
    else:
        assert last["patched"] and last["stamped"], runs
        assert last["importers"] > 0
        assert last["reads"] == 0, runs
    assert "pyspark.worker" not in sys.modules
    assert not hasattr(zipimport.zipimporter.invalidate_caches, worker_imports._MARKER)
