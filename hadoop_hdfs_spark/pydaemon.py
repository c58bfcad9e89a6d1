"""The Python worker daemon: pyspark's own, started from the installed,
byte-compiled pyspark instead of Spark's source archives.

:func:`session.get_spark` names this module as ``spark.python.daemon.module``
(unless the caller sets that conf). Spark launches it as
``python -m hadoop_hdfs_spark.pydaemon <worker module>`` with
``PythonUtils.sparkPythonPath`` in front of ``PYTHONPATH``:
``$SPARK_HOME/python/lib/pyspark.zip`` (source only, no ``.pyc``), the
``py4j-*-src.zip`` and the ``spark-core`` jar (no Python at all). With those
on ``sys.path`` two costs follow (Python 3.11, a 4-core box):

- the daemon compiles every pyspark module it imports from source:
  ``import pyspark.worker`` takes 0.9-1.7 s from the zip against
  0.2-0.5 s from the installed package;
- every Python task calls ``importlib.invalidate_caches()``
  (``pyspark/worker_util.py``), which makes each zipimporter read its
  archive's directory again: 115-145 ms per task with the three entries
  cached, 25-40 ms for the jar alone.

The daemon drops those three entries from ``sys.path`` and their finders
from ``sys.path_importer_cache`` when the installed ``pyspark`` and ``py4j``
import without them and the installed pyspark has the version of the zip's
``pyspark/version.py``; otherwise ``sys.path`` stays as Spark built it. It
then runs ``pyspark.daemon.manager()``, so every forked worker inherits the
compiled modules and a path with no Spark archive on it. Other ``.zip``
entries (``--py-files``, ``spark.submit.pyFiles``) stay.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

# the basenames of the entries PythonUtils.sparkPythonPath adds
_SPARK_ENTRIES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(rb"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)


def spark_entries(path: list[str]) -> list[str]:
    """The entries of ``path`` that Spark's launcher adds for its workers."""
    return [
        p for p in path
        if any(fnmatch.fnmatch(os.path.basename(p), pat) for pat in _SPARK_ENTRIES)
    ]


def _version(source: bytes) -> bytes | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _zip_version(archive: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read("pyspark/version.py"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> bytes | None:
    """The version of the pyspark that ``path`` imports, or None when
    ``pyspark`` or ``py4j`` does not import from it."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations or PathFinder.find_spec("py4j", path) is None:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            return _version(f.read())
    except OSError:
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the installed pyspark can
    stand in for them, else ``path`` itself."""
    dropped = spark_entries(path)
    zips = [p for p in dropped if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    kept = [p for p in path if p not in dropped]
    installed = _installed_version(kept)
    if installed is None or any(_zip_version(z) != installed for z in zips):
        return path
    return kept


def main() -> None:
    kept = worker_path(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
