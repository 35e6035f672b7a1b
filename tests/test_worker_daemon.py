"""The worker daemon's zip-importer rule (processor_edf_spark/_daemon.py):
an archive is re-read only when its stat key changes, by every importer
of it, and the sessions `get_spark` builds fork their Python workers from
that daemon."""

import contextlib
import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from processor_edf_spark import _daemon


def _write_zip(path, files):
    """Write ``files`` ({name: source}) as a new archive replacing ``path``."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@contextlib.contextmanager
def _counted_reads():
    """Record the archive of every zip directory read in this process."""
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    zipimport._read_directory = counting
    try:
        yield reads
    finally:
        zipimport._read_directory = read_directory


def test_zip_reread_only_when_its_stat_changes(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon._invalidate_caches)
    archive = str(tmp_path / "wdlib.zip")
    _write_zip(archive, {"wd_pkg/__init__.py": "", "wd_pkg/first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_pkg.first").X == 1
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        assert len(importers) == 2  # the archive root and wd_pkg/
        importlib.invalidate_caches()  # records each importer's key

        with _counted_reads() as reads:
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {
            "wd_pkg/__init__.py": "",
            "wd_pkg/first.py": "X = 1\n",
            "wd_pkg/second.py": "Y = 2\n",
        })
        with _counted_reads() as reads:
            importlib.invalidate_caches()
        assert reads.count(archive) == len(importers)
        assert importlib.import_module("wd_pkg.second").Y == 2

        with _counted_reads() as reads:
            importlib.invalidate_caches()
        assert archive not in reads
    finally:
        for name in ("wd_pkg", "wd_pkg.first", "wd_pkg.second"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def _probe_worker(batches):
    for _ in batches:
        pass
    importers = [
        f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
    ]
    # PySpark already ran importlib.invalidate_caches() for this task.
    with _counted_reads() as reads:
        importlib.invalidate_caches()
    yield pd.DataFrame({
        "module": [zipimport.zipimporter.invalidate_caches.__module__],
        "zip_importers": [len(importers)],
        "reads": [len(reads)],
    })


def test_session_workers_use_the_daemon(spark):
    rows = (
        spark.range(0, 4, numPartitions=2)
        .mapInPandas(_probe_worker, "module string, zip_importers long, reads long")
        .collect()
    )
    assert len(rows) == 2
    for row in rows:
        assert row["module"] == "processor_edf_spark._daemon"
        assert row["zip_importers"] > 0
        assert row["reads"] == 0
