"""Spark's Python worker daemon, started with pyspark from site-packages.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar first on ``sys.path``. Each task
calls ``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), and every cached zipimporter then re-reads its
archive's central directory: 110–235 ms of CPU per task on a 4-vCPU host
for the ~10k entries of the three archives. The spark-core jar alone holds
5359 entries and no ``.py`` file. Every jar on the start-up path is
dropped: none that Spark puts there holds Python source
(``tests/test_worker_daemon.py`` pins this for the build in use).

Run as ``python -m sink_pyspark_daemon`` (``spark.python.daemon.module``,
set by ``kafka_connect_hdfs_spark.session.get_spark``), this module drops
those archives from ``sys.path`` and ``sys.path_importer_cache`` and then
runs ``pyspark.daemon`` as ``__main__``, so the daemon and every worker it
forks import pyspark and py4j from site-packages. It does so only when the
pyspark left importable has the zip's version and py4j is importable too;
otherwise ``sys.path`` stays as Spark set it and the stock daemon runs.

The module lives outside ``kafka_connect_hdfs_spark`` and imports only the
standard library: the package's ``__init__`` imports pyspark, which would
load it from the zip before the path is cleaned.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)


def spark_archive(entry: str) -> bool:
    """A ``sys.path`` entry Spark adds for its workers: the pyspark zip,
    the py4j source zip or a jar."""
    base = os.path.basename(entry)
    return (
        base == "pyspark.zip"
        or (base.startswith("py4j-") and base.endswith(".zip"))
        or base.endswith(".jar")
    )


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def zip_version(archive: str) -> str | None:
    """``pyspark.__version__`` as the zip's ``pyspark/version.py`` states it."""
    try:
        with zipfile.ZipFile(archive) as zf:
            return _version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def installed_version(path: list[str]) -> str | None:
    """``pyspark.__version__`` of the pyspark that ``path`` imports, read
    from its ``version.py`` without importing it."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as fh:
            return _version(fh.read())
    except OSError:
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when what remains imports a
    pyspark of the zip's version, and py4j; otherwise ``path`` unchanged."""
    archive = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    if archive is None:
        return list(path)
    kept = [p for p in path if not spark_archive(p)]
    want = zip_version(archive)
    if (
        want is None
        or installed_version(kept) != want
        or PathFinder.find_spec("py4j", kept) is None
    ):
        return list(path)
    return kept


def main() -> None:
    kept = worker_path(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
