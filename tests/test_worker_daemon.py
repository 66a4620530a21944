"""The worker daemon's zipimport guard: an unchanged archive is read once
per importer however often ``importlib.invalidate_caches()`` runs, a
rewritten archive is read again, and ``get_spark`` sessions fork their
Python workers from the daemon."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from edgar_crawler_spark import worker_daemon

GUARDED = sys.version_info < (3, 13)


def _write_zip(path, members):
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)
    tmp.replace(path)  # new inode, as a rebuilt archive would have


def test_guard_reads_unchanged_archive_once_and_rereads_changed(tmp_path, monkeypatch):
    archive = tmp_path / "guardpkg.zip"
    _write_zip(
        archive,
        {"zg_pkg/__init__.py": "", "zg_pkg/alpha.py": "VALUE = 1\n"},
    )
    # restored after the test, so the guard stays local to it
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    assert worker_daemon.install_zip_cache_guard() is GUARDED
    assert worker_daemon.install_zip_cache_guard() is False  # idempotent

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(sys, "path", [str(archive)] + sys.path)
    try:
        assert importlib.import_module("zg_pkg.alpha").VALUE == 1
        importers = [
            imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive == str(archive)
        ]
        assert len(importers) == 2  # the sys.path entry and zg_pkg/

        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        if GUARDED:
            assert len(reads) <= len(importers)

        _write_zip(
            archive,
            {
                "zg_pkg/__init__.py": "",
                "zg_pkg/alpha.py": "VALUE = 1\n",
                "zg_pkg/beta.py": "VALUE = 2\n",
            },
        )
        reads.clear()
        importlib.invalidate_caches()
        if GUARDED:
            assert len(reads) == len(importers)
        assert importlib.import_module("zg_pkg.beta").VALUE == 2
    finally:
        for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
            del sys.path_importer_cache[key]
        for mod in ("zg_pkg.beta", "zg_pkg.alpha", "zg_pkg"):
            sys.modules.pop(mod, None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_get_spark_workers_run_under_the_daemon(spark):
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport

        main_spec = sys.modules["__main__"].__spec__
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "main": [main_spec.name if main_spec else None] * len(pdf),
                    "guard": [zipimport.zipimporter.invalidate_caches.__module__] * len(pdf),
                }
            )

    rows = (
        spark.range(0, 64, numPartitions=16)
        .mapInPandas(probe, "main string, guard string")
        .distinct()
        .collect()
    )
    assert [r["main"] for r in rows] == ["edgar_crawler_spark.worker_daemon"]
    if GUARDED:
        assert [r["guard"] for r in rows] == ["edgar_crawler_spark.worker_daemon"]
