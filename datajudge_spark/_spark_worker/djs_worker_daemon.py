"""Python worker daemon of ``get_spark``'s sessions: ``pyspark.daemon``
with the archives taken off the workers' import path.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar first on every worker's ``PYTHONPATH``.  Each task then
calls ``importlib.invalidate_caches()``, and on Python 3.11 that re-reads
the whole directory of every archive once per package imported from it
(a dozen or more reads of a 1,600-entry zip): 0.3-0.5 s per task, paid by
every Python UDF, pandas UDF and action over a frame built from local
Python rows.  When ``pyspark`` and ``py4j`` are importable without the
archives and the installed ``pyspark`` is the archive's version, the
daemon drops the archives before it imports ``pyspark``, so its forked
workers import from plain directories.

This file lives in a plain directory, not in the library's package, so
starting the daemon imports nothing before the path is cleaned.
"""

import importlib.util
import os
import sys
import zipfile


def _version_file(archives: list[str]) -> bytes | None:
    """``pyspark/version.py`` of the pyspark archive, if there is one."""
    for path in archives:
        if os.path.basename(path) == "pyspark.zip":
            with zipfile.ZipFile(path) as archive:
                return archive.read("pyspark/version.py")
    return None


def _installed_matches(archives: list[str]) -> bool:
    """Whether ``pyspark`` and ``py4j`` import from the plain path, with
    the same ``pyspark`` version as the archive."""
    specs = [importlib.util.find_spec(m) for m in ("pyspark", "py4j")]
    if not all(specs) or not specs[0].submodule_search_locations:
        return False
    try:
        wanted = _version_file(archives)
        package = specs[0].submodule_search_locations[0]
        with open(os.path.join(package, "version.py"), "rb") as installed:
            return wanted is None or installed.read() == wanted
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


if __name__ == "__main__":
    archives = [p for p in sys.path if p.endswith((".zip", ".jar"))]
    sys.path[:] = [p for p in sys.path if p not in archives]
    if _installed_matches(archives):
        # finding this module walked the archives: drop their importers
        for path in archives:
            sys.path_importer_cache.pop(path, None)
    else:
        sys.path.extend(archives)

    from pyspark import daemon

    daemon.manager()
