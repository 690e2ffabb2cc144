"""The engine session keeps generated code compiled across passes, and
its import-time guard keeps Python tasks from re-parsing unchanged zips."""

from __future__ import annotations

import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from dataframeutils_spark import session  # importing it installs the zip guard


def _compiled(spark) -> int:
    """Whole-stage-codegen classes Janino has compiled in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_cycle_of_more_than_100_classes(spark):
    """Spark's default codegen cache keeps 100 classes, so a cycle of
    more than 100 distinct classes recompiles most of them on every
    pass. One class per literal: the second pass must compile none."""
    cycle = [spark.range(0, 4, 1, 1).selectExpr(f"id * {i} + 977 AS x") for i in range(120)]
    passes = []
    for _ in range(2):
        before = _compiled(spark)
        for df in cycle:
            df.collect()
        passes.append(_compiled(spark) - before)
    assert passes[0] > 100, passes
    assert passes[1] == 0, passes


def test_driver_memory_is_half_the_host_capped_at_24g(monkeypatch):
    pages = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    pages["SC_PHYS_PAGES"] = 16 * 2**30 // 4096
    assert session.driver_memory() == "8192m"
    pages["SC_PHYS_PAGES"] = 256 * 2**30 // 4096
    assert session.driver_memory() == "24576m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"


needs_zip_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python 3.12+ zipimporter.invalidate_caches is lazy; no guard is installed",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _counting_reads(monkeypatch):
    reads = []
    inner = zipimport._read_directory

    def read_directory(archive):
        reads.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    return reads


@needs_zip_guard
def test_zip_guard_skips_an_unchanged_archive(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["alpha"])
    importer = zipimport.zipimporter(path)
    reads = _counting_reads(monkeypatch)
    importer.invalidate_caches()  # the first call has no stamp to compare
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [path]
    assert importer.find_spec("alpha") is not None


@needs_zip_guard
def test_zip_guard_rereads_a_rewritten_archive(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["alpha"])
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()
    assert importer.find_spec("beta") is None
    reads = _counting_reads(monkeypatch)
    _write_zip(path, ["alpha", "beta"])
    importer.invalidate_caches()
    assert reads == [path]
    assert importer.find_spec("beta") is not None


@needs_zip_guard
def test_zip_guard_deleted_archive_behaves_as_unguarded(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["alpha"])
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()
    os.remove(path)
    importer.invalidate_caches()
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    assert importer.find_spec("alpha") is None
    # a zip written again at the same path is read again
    _write_zip(path, ["alpha"])
    importer.invalidate_caches()
    assert importer.find_spec("alpha") is not None


def test_zip_guard_is_installed_once():
    guarded = zipimport.zipimporter.invalidate_caches
    session.guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert getattr(guarded, "_stamp_guarded", False) == (sys.version_info < (3, 12))


@needs_zip_guard
def test_py_file_added_mid_session_is_importable_in_guarded_workers(spark, tmp_path):
    """PySpark invalidates the import caches at the start of every task
    so that a zip added with ``addPyFile`` is found; guarded workers
    must still find it."""
    module = f"added_{uuid.uuid4().hex}"

    def guarded(batches):
        import zipimport

        import dataframeutils_spark  # noqa: F401  (installs the guard)

        for pdf in batches:
            pdf["x"] = int(getattr(zipimport.zipimporter.invalidate_caches, "_stamp_guarded", 0))
            yield pdf

    df = spark.range(0, 8, 1, 4)
    assert {r.x for r in df.mapInPandas(guarded, "id long, x long").collect()} == {1}

    path = str(tmp_path / f"{module}.zip")
    _write_zip(path, [module])
    spark.sparkContext.addPyFile(path)

    def imports(batches):
        import importlib

        name = importlib.import_module(module).NAME
        for pdf in batches:
            pdf["name"] = name
            yield pdf

    rows = df.mapInPandas(imports, "id long, name string").collect()
    assert len(rows) == 8
    assert {r.name for r in rows} == {module}
