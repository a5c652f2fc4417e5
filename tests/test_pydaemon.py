"""The PySpark daemon's stat guard on zip-directory re-reads
(``dynamic_spark_spark/pydaemon.py``): an unchanged archive is not re-read
on ``importlib.invalidate_caches()``, a rewritten one is re-read by every
importer on it, and the program's session runs its workers under the guard.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport


import pytest

from dynamic_spark_spark import pydaemon
from tests.conftest import dss_mkdtemp


#: 3.13 re-reads lazily and the guard installs nothing there
eager_reread = pytest.mark.skipif(sys.version_info >= (3, 13), reason="lazy zip re-read")


def _install(monkeypatch) -> None:
    """Install the guard for one test; monkeypatch restores the original."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pydaemon.install_zip_guard()


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)


def _importers(monkeypatch, archive: str) -> list[zipimport.zipimporter]:
    """A root and a package importer on ``archive``, registered where
    ``importlib.invalidate_caches()`` finds them, as a worker's are."""
    out = []
    for entry in (archive, os.path.join(archive, "dss_zg_pkg", "")):
        imp = zipimport.zipimporter(entry)
        monkeypatch.setitem(sys.path_importer_cache, entry, imp)
        out.append(imp)
    return out


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@eager_reread
def test_unchanged_archive_is_not_reread(monkeypatch):
    archive = os.path.join(dss_mkdtemp("dss_zg_"), "same.zip")
    _write_zip(archive, {"dss_zg_pkg/__init__.py": "", "dss_zg_pkg/a.py": "X = 1\n"})
    _importers(monkeypatch, archive)
    reads = _count_reads(monkeypatch)

    # control: the unguarded form re-reads the archive once per importer
    importlib.invalidate_caches()
    assert reads.count(archive) == 2

    _install(monkeypatch)
    importlib.invalidate_caches()  # stamps every importer
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@eager_reread
def test_changed_archive_refreshes_every_importer(monkeypatch):
    _install(monkeypatch)
    archive = os.path.join(dss_mkdtemp("dss_zg_"), "grows.zip")
    members = {"dss_zg_pkg/__init__.py": "", "dss_zg_pkg/a.py": "X = 1\n"}
    _write_zip(archive, members)
    root, pkg = _importers(monkeypatch, archive)
    importlib.invalidate_caches()
    assert root.find_spec("dss_zg_top") is None
    assert pkg.find_spec("dss_zg_pkg.b") is None

    _write_zip(archive, {**members, "dss_zg_pkg/b.py": "Y = 2\n", "dss_zg_top.py": ""})
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    # both importers see the new members; the archive is read once for both
    assert root.find_spec("dss_zg_top") is not None
    assert pkg.find_spec("dss_zg_pkg.b") is not None
    assert reads == [archive]


def test_guard_patches_nothing_on_lazy_pythons(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pydaemon.install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is original


@eager_reread
def test_session_workers_run_the_guard(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def guarded(x):
        import zipimport as zi

        flag = getattr(zi.zipimporter.invalidate_caches, "stat_guarded", False)
        return x.map(lambda _: flag)

    rows = spark.range(4).select(guarded("id").alias("g")).collect()
    assert [r["g"] for r in rows] == [True] * 4


def test_package_root_merges_into_worker_path():
    """The root joins whatever PYTHONPATH the workers already get, once."""
    from types import SimpleNamespace

    from dynamic_spark_spark import session

    sc = SimpleNamespace(environment={"PYTHONPATH": os.pathsep.join(["libs/a", "libs/b"])})
    for _ in range(2):
        session._put_package_on_worker_path(sc)
    assert sc.environment["PYTHONPATH"].split(os.pathsep) == [
        "libs/a", "libs/b", session._PACKAGE_ROOT
    ]
    bare = SimpleNamespace(environment={})
    session._put_package_on_worker_path(bare)
    assert bare.environment["PYTHONPATH"] == session._PACKAGE_ROOT
    import dynamic_spark_spark

    assert os.path.dirname(os.path.dirname(dynamic_spark_spark.__file__)) == session._PACKAGE_ROOT
