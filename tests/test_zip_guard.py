"""The stat-guarded ``zipimporter.invalidate_caches`` that
``doc_agent_spark/__init__.py`` installs in PySpark workers: an unchanged
archive is never re-read, a rewritten one is, and modules shipped with
``sc.addPyFile`` mid-session still import. Counts, not timings."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

import doc_agent_spark
from doc_agent_spark import jsdate


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _install_as_worker(monkeypatch) -> None:
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    doc_agent_spark._guard_zip_invalidation()


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths ``zipimport._read_directory`` was called on; the
    original ``invalidate_caches`` is restored when the test ends."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    calls: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch, reads):
    tag = uuid.uuid4().hex[:8]
    first, second, late = (f"zg_{n}_{tag}" for n in ("first", "second", "late"))
    archive, late_archive = str(tmp_path / "mods.zip"), str(tmp_path / "late.zip")
    _write_zip(archive, {first: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in (first, second, late):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(first).X == 1

    _install_as_worker(monkeypatch)            # stamps the cached importer
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {first: "X = 1\n", second: "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(second).Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads

    # an importer created after the install re-reads once, then never
    _write_zip(late_archive, {late: "Z = 3\n"})
    monkeypatch.syspath_prepend(late_archive)
    assert importlib.import_module(late).Z == 3
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(late_archive) == 1
    for path in (archive, late_archive):
        sys.path_importer_cache.pop(path, None)


def test_guard_installs_only_in_workers(monkeypatch, reads):
    original = zipimport.zipimporter.invalidate_caches
    doc_agent_spark._guard_zip_invalidation()          # not a worker: no guard
    assert zipimport.zipimporter.invalidate_caches is original
    _install_as_worker(monkeypatch)
    _install_as_worker(monkeypatch)                    # installs once
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is original


def _probe(fn):
    """A task function whose closure holds ``fn``, so unpickling it in a
    worker imports doc_agent_spark; it yields how many zipimporters the
    worker holds and how many archives one ``invalidate_caches`` re-reads."""
    def probe(_):
        import importlib
        import sys
        import zipimport

        assert fn is not None
        held = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        calls = []
        read = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield held, len(calls)
    return probe


def test_worker_task_rereads_no_unchanged_archive(spark):
    n = spark.sparkContext.defaultParallelism
    rdd = spark.sparkContext.parallelize(range(n), n)
    rdd.mapPartitions(_probe(jsdate.js_number)).collect()       # warm-up
    out = rdd.mapPartitions(_probe(jsdate.js_number)).collect()
    if not any(held for held, _ in out):
        pytest.skip("the Python workers import nothing from a zip")
    assert [rereads for _, rereads in out] == [0] * n


def test_add_py_file_mid_session_still_imports(spark, tmp_path):
    sc = spark.sparkContext
    n = sc.defaultParallelism
    rdd = sc.parallelize(range(n), n)
    rdd.mapPartitions(_probe(jsdate.js_number)).collect()       # guard installed
    tag = uuid.uuid4().hex[:8]
    zipped, plain = f"zg_zipped_{tag}", f"zg_plain_{tag}"
    _write_zip(tmp_path / f"{zipped}.zip", {zipped: "VALUE = 42\n"})
    (tmp_path / f"{plain}.py").write_text("VALUE = 7\n")
    sc.addPyFile(str(tmp_path / f"{zipped}.zip"))
    sc.addPyFile(str(tmp_path / f"{plain}.py"))
    fn = jsdate.js_number

    def use(_):
        import importlib

        assert fn is not None
        yield (importlib.import_module(zipped).VALUE,
               importlib.import_module(plain).VALUE)

    assert rdd.mapPartitions(use).collect() == [(42, 7)] * n
