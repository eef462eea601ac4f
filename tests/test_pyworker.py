"""The Python worker's zip-directory guard (``pyworker.guard_zip_invalidation``):
``importlib.invalidate_caches()`` must not re-read an unchanged archive,
must re-read a changed one, and must treat a deleted one exactly as the
original ``zipimporter.invalidate_caches`` does. Checked by counting
``zipimport._read_directory`` calls, never by timing."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from outboxx_spark import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 re-reads lazily itself; the guard is a no-op there",
)


@pytest.fixture()
def clean_guard(monkeypatch):
    """Each test installs the guard afresh; the original comes back after."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )


@pytest.fixture()
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding one module, imported once so its
    ``zipimporter`` sits in ``sys.path_importer_cache``."""
    path = str(tmp_path / "mods.zip")
    first = f"zipmod_{uuid.uuid4().hex}"
    _write_zip(path, [first])
    monkeypatch.syspath_prepend(path)
    importlib.import_module(first)
    yield path, first
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for name in [m for m in sys.modules if m.startswith("zipmod_")]:
        del sys.modules[name]


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for m in modules:
            zf.writestr(f"{m}.py", f"NAME = {m!r}\n")


def _importer(path: str) -> zipimport.zipimporter:
    imp = sys.path_importer_cache[path]
    assert isinstance(imp, zipimport.zipimporter)
    return imp


def test_unchanged_archive_is_not_reread(clean_guard, archive, reads):
    pyworker.guard_zip_invalidation()
    reads.clear()  # installing reads each archive once
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    # the importer still serves the module from the cached directory
    assert _importer(archive[0]).find_spec(archive[1]) is not None


def test_unguarded_reset_rereads_every_importer(clean_guard, archive, reads):
    # the cost the guard removes: one read per zipimporter per reset
    importers = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
    importlib.invalidate_caches()
    assert len(reads) == len(importers) >= 1


def test_rewritten_archive_is_reread(clean_guard, archive, reads):
    path, first = archive
    pyworker.guard_zip_invalidation()
    reads.clear()
    second = f"zipmod_{uuid.uuid4().hex}"
    _write_zip(path, [first, second])
    importlib.invalidate_caches()
    assert path in reads
    assert importlib.import_module(second).NAME == second
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []  # stamped again by the re-read


def test_deleted_archive_matches_original(clean_guard, archive):
    path, name = archive
    imp = _importer(path)

    def after_delete() -> tuple[dict, bool]:
        _write_zip(path, [name])
        importlib.invalidate_caches()  # present, read (and stamped when guarded)
        assert imp._files
        os.remove(path)
        importlib.invalidate_caches()
        return dict(imp._files), path in zipimport._zip_directory_cache

    expected = after_delete()  # the original method
    pyworker.guard_zip_invalidation()
    assert after_delete() == expected == ({}, False)


def test_install_twice_does_not_nest(clean_guard):
    original = zipimport.zipimporter.invalidate_caches
    pyworker.guard_zip_invalidation()
    guarded = zipimport.zipimporter.invalidate_caches
    pyworker.guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.__wrapped__ is original


def test_reused_worker_skips_the_reread(spark):
    """Each single-partition job reports the archive reads its task setup
    made since this test's counter was installed in that Python worker,
    then installs the counter and the guard there. Idle workers are
    reused, so some worker soon runs a second task, and that task's
    setup must have read nothing."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        from outboxx_spark import pyworker

        setup_reads = len(zipimport._reads) if hasattr(zipimport, "_reads") else -1
        for _ in batches:  # drain the input, or the worker is not reused
            pass
        unguarded_reads = -1
        if setup_reads < 0:
            real = zipimport._read_directory
            zipimport._reads = []

            def counting(archive):
                zipimport._reads.append(archive)
                return real(archive)

            zipimport._read_directory = counting
            if zipimport.zipimporter.invalidate_caches.__module__ != pyworker.__name__:
                importlib.invalidate_caches()
                unguarded_reads = len(zipimport._reads)
        pyworker.guard_zip_invalidation()
        zipimport._reads.clear()
        importers = sum(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "setup_reads": [setup_reads],
                "unguarded_reads": [unguarded_reads],
                "importers": [importers],
            }
        )

    schema = "pid long, setup_reads long, unguarded_reads long, importers long"
    one = spark.range(1, numPartitions=1)
    seen = set()
    for _ in range(64):  # idle workers are taken in turn; bounded pool
        r = one.mapInPandas(probe, schema).collect()[0]
        assert r["importers"] >= 1
        if r["unguarded_reads"] >= 0:  # this worker had no guard yet
            assert r["unguarded_reads"] == r["importers"]
        if r["pid"] in seen:
            break
        seen.add(r["pid"])
    else:
        pytest.fail("no Python worker ran a second task")
    assert r["setup_reads"] == 0
