"""The Python worker daemon (hadoop_hdfs_spark/pydaemon.py).

The path filter runs against a fake Spark home and a fake installed
pyspark, with no Spark: Spark's three entries go, a user's ``deps.zip``
and the site dirs stay, and nothing goes when the installed pyspark is
another version or does not import without the zip. One test reads a
Python worker of the test session, one checks that a caller's daemon
module wins.
"""

from __future__ import annotations

import os
import sys
import zipfile

import pandas as pd
import pytest

from hadoop_hdfs_spark import pydaemon

_SPARK_ARCHIVES = ("pyspark.zip", "py4j-", "spark-core_")


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _package(root, name: str, files: dict[str, str]) -> None:
    d = root / name
    d.mkdir(parents=True)
    for f, text in {"__init__.py": "", **files}.items():
        (d / f).write_text(text)


@pytest.fixture
def layout(tmp_path):
    """A worker path as Spark builds it: its three entries first, then a
    user's ``deps.zip``, the repo and a site dir holding pyspark 4.1.2."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    jars = tmp_path / "spark" / "jars"
    jars.mkdir()
    site = tmp_path / "site"
    _package(site, "pyspark", {"version.py": "__version__: str = '4.1.2'\n"})
    _package(site, "py4j", {})
    path = [
        str(tmp_path / "cwd"),
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": "",
                                   "pyspark/version.py": "__version__: str = '4.1.2'\n"}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(jars / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
        _zip(tmp_path / "deps.zip", {"deps/__init__.py": ""}),
        str(tmp_path / "repo"),
        str(site),
    ]
    return path, site, lib


def test_drops_sparks_archives_and_keeps_the_rest(layout):
    path, _, _ = layout
    assert pydaemon.spark_entries(path) == path[1:4]
    assert pydaemon.worker_path(path) == [path[0]] + path[4:]


def test_keeps_the_archives_for_another_installed_version(layout):
    path, site, _ = layout
    (site / "pyspark" / "version.py").write_text('__version__ = "4.0.0"\n')
    assert pydaemon.worker_path(path) == path


def test_keeps_the_archives_when_pyspark_needs_the_zip(layout):
    path, site, _ = layout
    os.rename(site / "pyspark", site / "elsewhere")
    assert pydaemon.worker_path(path) == path


def test_keeps_the_archives_when_py4j_needs_its_zip(layout):
    path, site, _ = layout
    os.rename(site / "py4j", site / "elsewhere")
    assert pydaemon.worker_path(path) == path


def test_keeps_the_path_without_a_readable_zip(layout):
    path, _, lib = layout
    (lib / "pyspark.zip").write_bytes(b"not a zip")
    assert pydaemon.worker_path(path) == path
    assert pydaemon.worker_path(path[4:]) == path[4:]


def test_workers_import_no_spark_archive(spark):
    """A Python worker of the test session imports the driver's pyspark,
    and neither its path nor its finder cache holds Spark's archives, so
    each task's ``invalidate_caches`` reads no archive."""

    # defined here so that it pickles by value: workers cannot import tests/
    def _worker_state(batches):
        import pyspark

        for _ in batches:
            pass
        finders = {p: type(f).__name__ for p, f in sys.path_importer_cache.items()}
        yield pd.DataFrame({
            "pyspark_file": [pyspark.__file__],
            "path": [os.pathsep.join(sys.path)],
            "finders": [os.pathsep.join(f"{p}={t}" for p, t in finders.items())],
        })

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(_worker_state, "pyspark_file string, path string, finders string")
        .collect()[0]
    )
    assert row.pyspark_file == sys.modules["pyspark"].__file__
    path = row.path.split(os.pathsep)
    assert not [p for p in path if os.path.basename(p).startswith(_SPARK_ARCHIVES)], path
    zips = [
        f for f in row.finders.split(os.pathsep)
        if f.endswith("=zipimporter") and os.path.basename(f).startswith(_SPARK_ARCHIVES)
    ]
    assert not zips, zips


def test_caller_set_daemon_module_wins(launch_options, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    assert launch_options(cds=False)["spark.python.daemon.module"] == "hadoop_hdfs_spark.pydaemon"
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.python.daemon.module=pyspark.daemon")
    assert launch_options(cds=False)["spark.python.daemon.module"] == "pyspark.daemon"
