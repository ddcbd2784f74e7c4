"""The Python worker daemon (``sink_pyspark_daemon``): workers import
pyspark from site-packages with no Spark archive on their path, and fall
back to the stock path when the versions differ."""

from __future__ import annotations

import os
import sys
import zipfile
from types import SimpleNamespace

import pytest

import sink_pyspark_daemon as daemon
from kafka_connect_hdfs_spark import session


def _in_task(spark):
    """(pyspark.__file__, zipimporter cache keys, sys.path) inside a task."""

    def view(_rows):
        import sys
        import zipimport

        import pyspark

        zips = sorted(
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        )
        yield pyspark.__file__, zips, list(sys.path)

    return spark.sparkContext.parallelize([0], 1).mapPartitions(view).collect()[0]


def test_session_sets_daemon_module(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == session.DAEMON_MODULE


def test_task_imports_pyspark_outside_any_zip(spark):
    pyspark_file, _, _ = _in_task(spark)
    assert ".zip" not in pyspark_file and ".jar" not in pyspark_file
    assert os.path.isfile(pyspark_file)


def test_task_has_no_spark_archive_importer(spark):
    _, zips, path = _in_task(spark)
    assert not [z for z in zips if ".jar" in z or "pyspark.zip" in z or "py4j-" in z]
    assert not [p for p in path if daemon.spark_archive(p)]


def test_spark_core_jar_on_stock_worker_path_holds_no_python(spark):
    """Dropping the jars from the worker path is safe only while they hold
    no Python source; this pins that for the Spark build in use."""
    stock = spark._jvm.org.apache.spark.api.python.PythonUtils.sparkPythonPath()
    jars = [p for p in stock.split(os.pathsep) if p.endswith(".jar")]
    assert jars
    for jar in jars:
        with zipfile.ZipFile(jar) as zf:
            names = zf.namelist()
        assert names
        assert not [n for n in names if n.endswith((".py", ".pyc"))], jar


# ---------------------------------------------------------------------------
# the fallback decision, without Spark


def _layout(tmp_path, zip_version: str, site_version: str, py4j: bool = True):
    lib = tmp_path / "lib"
    lib.mkdir()
    archive = lib / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__: str = "{zip_version}"\n')
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f'__version__: str = "{site_version}"\n')
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return [
        str(tmp_path),
        str(archive),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar"),
        str(site),
    ]


def test_worker_path_drops_archives_when_versions_match(tmp_path):
    path = _layout(tmp_path, "4.1.2", "4.1.2")
    assert daemon.worker_path(path) == [path[0], path[4]]


@pytest.mark.parametrize(
    "zip_version,site_version,py4j",
    [("4.1.2", "4.0.1", True), ("4.1.2", "4.1.2", False)],
    ids=["version-mismatch", "no-py4j"],
)
def test_worker_path_unchanged_on_fallback(tmp_path, zip_version, site_version, py4j):
    path = _layout(tmp_path, zip_version, site_version, py4j)
    assert daemon.worker_path(path) == path


def test_worker_path_unchanged_without_pyspark_zip(tmp_path):
    path = _layout(tmp_path, "4.1.2", "4.1.2")
    del path[1]
    assert daemon.worker_path(path) == path


@pytest.mark.parametrize("site_version,stripped", [("4.0.1", False), ("4.1.2", True)])
def test_main_runs_stock_daemon_on_the_decided_path(tmp_path, monkeypatch, site_version, stripped):
    """``main`` leaves ``sys.path`` and the importer cache exactly as Spark
    set them on a version mismatch, and drops the archives otherwise;
    either way it runs ``pyspark.daemon`` as ``__main__``."""
    path = _layout(tmp_path, "4.1.2", site_version)
    archives = path[1:4]
    cache = {p: object() for p in archives}  # importers the path search made
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    ran = []

    def run_module(name, **kw):
        ran.append((name, kw, list(sys.path), dict(sys.path_importer_cache)))

    monkeypatch.setattr(daemon.runpy, "run_module", run_module)
    daemon.main()
    (name, kw, seen_path, seen_cache), = ran
    assert (name, kw) == ("pyspark.daemon", {"run_name": "__main__", "alter_sys": True})
    if stripped:
        assert seen_path == [path[0], path[4]]
        assert not set(archives) & set(seen_cache)
    else:
        assert seen_path == path
        assert {p: seen_cache[p] for p in archives} == cache


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every conf."""

    def __init__(self):
        self.confs = {}

    def config(self, key, value):
        self.confs[key] = value
        return self

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def getOrCreate(self):
        return self.confs


@pytest.mark.parametrize("resolves", [False, True])
def test_get_spark_sets_daemon_module_only_where_workers_find_it(tmp_path, monkeypatch, resolves):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    if resolves:
        monkeypatch.setenv("PYTHONPATH", os.path.dirname(daemon.__file__))
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder()))
    confs = session.get_spark()
    assert confs.get("spark.python.daemon.module") == (session.DAEMON_MODULE if resolves else None)
