"""The engine's Python worker daemon (database_join_spark.pyworker).

Before Python 3.13 ``zipimporter.invalidate_caches`` re-reads its
archive's whole directory, and every Python task calls it through
``importlib.invalidate_caches()``. The daemon's replacement re-reads
only an archive whose file changed; these tests pin that it does, and
that a session's workers actually run under it.
"""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from database_join_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's zipimporter reads directories lazily; not installed",
)
def test_invalidate_caches_rereads_only_a_changed_archive(
    tmp_path, monkeypatch
):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["alpha"])
    importer = zipimport.zipimporter(str(archive))  # reads the directory
    pyworker.record_cached_archives()

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    pyworker.invalidate_caches(importer)
    pyworker.invalidate_caches(importer)
    assert reads == []
    assert importer.find_spec("beta") is None

    _write_zip(archive, ["alpha", "beta"])
    pyworker.invalidate_caches(importer)
    assert reads == [str(archive)]
    assert importer.find_spec("beta") is not None
    pyworker.invalidate_caches(importer)
    assert reads == [str(archive)]


def test_session_workers_run_under_the_engine_daemon(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame(
                {
                    "qualname": [method.__qualname__],
                    "module": [method.__module__],
                    "major": [sys.version_info[0]],
                    "minor": [sys.version_info[1]],
                }
            )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInPandas(
            probe, "qualname string, module string, major int, minor int"
        )
        .collect()
    )
    if (row.major, row.minor) >= (3, 13):
        pytest.skip("workers on Python >= 3.13 keep the stock method")
    assert (row.qualname, row.module) == (
        "invalidate_caches",
        "database_join_spark.pyworker",
    )
