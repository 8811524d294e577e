"""The stat-guarded ``zipimporter.invalidate_caches`` installed by
``import argo_spark`` (``argo_spark/_zipcache.py``): an unchanged
archive is not re-read, a rewritten one is, and the guard is active
inside the Python workers that run argo_spark UDFs."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import argo_spark  # noqa: F401  (installs the guard)
from argo_spark.terms import format_term

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter re-reads lazily from 3.13"
)


def _write_archive(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zc_probe.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_archive(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zc_probe", raising=False)
    assert importlib.import_module("zc_probe").VALUE == 1

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    importlib.invalidate_caches()  # stamps the archive
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_archive(archive, "VALUE = 'rewritten'\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    del sys.modules["zc_probe"]
    assert importlib.import_module("zc_probe").VALUE == "rewritten"


def test_guard_active_in_python_worker(spark):
    def probe(batches):
        format_term  # unpickling this UDF imports argo_spark on the worker
        guard = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"fn": [f"{guard.__module__}.{guard.__name__}"]})

    rows = spark.range(1).mapInPandas(probe, "fn string").collect()
    assert [r.fn for r in rows] == ["argo_spark._zipcache.invalidate_caches"]
