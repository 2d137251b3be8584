"""The stat-checked ``zipimporter.invalidate_caches`` (dataflow_spark/_worker.py).

PySpark workers call ``importlib.invalidate_caches()`` once per task; on
CPython < 3.13 the stdlib method re-reads the archive directory of every
zip importer each time.  The replacement re-reads only a changed archive.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dataflow_spark import _worker
from dataflow_spark.operators.dedup import _sorted_member

STAT_CHECKED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zw_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(_worker, "_stamps", {})
    yield str(archive)
    for name in ("zw_first", "zw_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.mark.skipif(not STAT_CHECKED, reason="CPython >= 3.13 drops the directory lazily")
def test_unchanged_archive_is_read_once(zip_on_path, monkeypatch):
    assert importlib.import_module("zw_first").X == 1
    importer = sys.path_importer_cache[zip_on_path]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(archive):
        if archive == zip_on_path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _worker.stat_checked_invalidate_caches
    )
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [zip_on_path]

    # A rewritten archive is read again and its new module imports.
    _write_zip(zip_on_path, {"zw_first": "X = 1\n", "zw_second": "Y = 2\n"})
    importer.invalidate_caches()
    assert reads == [zip_on_path, zip_on_path]
    assert importlib.import_module("zw_second").Y == 2
    importer.invalidate_caches()
    assert len(reads) == 2


def test_install_only_in_a_worker_before_313(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    assert stdlib is _worker._STDLIB_INVALIDATE_CACHES  # this process is no worker
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib

    # Restores the stdlib method on teardown.
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setitem(sys.modules, "pyspark.worker", sys.modules[__name__])
    assert _worker.install() is STAT_CHECKED
    expected = _worker.stat_checked_invalidate_caches if STAT_CHECKED else stdlib
    assert zipimport.zipimporter.invalidate_caches is expected


def test_worker_runs_the_stat_checked_method(spark):
    @pandas_udf("boolean")
    def patched(s: pd.Series) -> pd.Series:
        # An engine kernel: its pickle imports dataflow_spark in the worker.
        _sorted_member(np.array([1, 3], dtype=np.int64), s.to_numpy())
        method = zipimport.zipimporter.invalidate_caches
        return pd.Series([method.__module__ == "dataflow_spark._worker"] * len(s))

    rows = spark.range(0, 64, numPartitions=4).select(patched(F.col("id")).alias("p")).distinct().collect()
    assert [r.p for r in rows] == [STAT_CHECKED]
    assert zipimport.zipimporter.invalidate_caches is _worker._STDLIB_INVALIDATE_CACHES
