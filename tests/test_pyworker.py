"""The worker daemon's stat guard on zip-archive cache invalidation
(rex_spark/_pyworker.py): an unchanged archive is not re-read, a
changed one is; a session's Python workers run the guard while still
importing zips shipped with ``addPyFile``; and ``get_session`` names
the daemon only where workers can import rex_spark at start-up."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

from rex_spark import _pyworker, session


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def _count_reads(monkeypatch):
    reads = []
    read = zipimport._read_directory  # noqa: SLF001

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / f"pw_{uuid.uuid4().hex}.zip")
    first, second = f"pw_a_{uuid.uuid4().hex}", f"pw_b_{uuid.uuid4().hex}"
    _write_zip(archive, {first: "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    _pyworker.install()  # seeds the stat of the archive just read
    reads = _count_reads(monkeypatch)

    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []

    _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    importer.invalidate_caches()
    assert reads == [archive]
    monkeypatch.syspath_prepend(archive)  # runs importlib.invalidate_caches()
    try:
        assert importlib.import_module(second).VALUE == 2
    finally:
        sys.modules.pop(second, None)
    assert reads == [archive]


def test_guard_reads_an_unseeded_archive_once(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    _pyworker.install()
    archive = str(tmp_path / "late.zip")
    _write_zip(archive, {"late_mod": "VALUE = 3\n"})
    importer = zipimport.zipimporter(archive)
    reads = _count_reads(monkeypatch)
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == [archive]


def test_daemon_default_needs_the_package_on_the_start_up_path(tmp_path, monkeypatch):
    home = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not session._workers_import_package()  # noqa: SLF001
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), home]))
    assert session._workers_import_package()  # noqa: SLF001
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(home)
    assert session._workers_import_package()  # noqa: SLF001


def _guard_probe():
    """A task function (pickled by value): the qualified name of the
    worker's ``invalidate_caches`` and how many archives a second
    ``importlib.invalidate_caches()`` re-reads (the first may read
    archives the worker has not seen)."""

    def probe(_):
        import importlib
        import zipimport

        reads = []
        read = zipimport._read_directory  # noqa: SLF001
        importlib.invalidate_caches()
        zipimport._read_directory = lambda a: reads.append(a) or read(a)  # noqa: SLF001
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read  # noqa: SLF001
        yield zipimport.zipimporter.invalidate_caches.__qualname__, len(reads)

    return probe


def test_session_workers_run_the_guard(spark):
    sc = spark.sparkContext
    got = sc.parallelize(range(4), 4).mapPartitions(_guard_probe()).collect()
    assert got == [("guard.<locals>.invalidate_caches", 0)] * 4


def test_addpyfile_zip_imports_in_a_warm_worker(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).mapPartitions(_guard_probe()).collect()  # warm
    name = f"pw_shipped_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "def answer():\n    return 42\n"})
    sc.addPyFile(archive)

    def use(rows):
        mod = importlib.import_module(name)
        for _ in rows:
            yield mod.answer()

    try:
        assert sc.parallelize(range(4), 4).mapPartitions(use).collect() == [42] * 4
    finally:
        sys.modules.pop(name, None)
