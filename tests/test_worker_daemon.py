"""The package's Python worker daemon: zip importers re-read an
archive's directory only when the archive changed, and the sessions
``get_spark`` builds run their Python kernels in workers forked from
it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from aws_trusted_advisor_explorer_spark import worker_daemon


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zd_probe_mod.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    reads = []
    stock = worker_daemon._stock_read_directory

    def counting_read(path):
        reads.append(path)
        return stock(path)

    monkeypatch.setattr(worker_daemon, "_stock_read_directory", counting_read)
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zd_probe_mod").VALUE == 1
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        # a rewrite changes the archive's size and mtime: the next
        # refresh re-reads it, and the new content imports
        _write_zip(archive, 22)
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10 ** 9))
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        sys.modules.pop("zd_probe_mod")
        assert importlib.import_module("zd_probe_mod").VALUE == 22
    finally:
        sys.modules.pop("zd_probe_mod", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        worker_daemon._stamps.pop(archive, None)


def test_session_workers_run_the_package_daemon(spark):
    def worker_refresh(batches):
        # nested, so it pickles by value: workers cannot import tests
        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"name": [fn.__name__],
                                "file": [fn.__code__.co_filename]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(worker_refresh, "name string, file string")
           .collect())[0]
    assert row.name == "invalidate_caches"
    assert os.path.samefile(row.file, worker_daemon.__file__)
