"""Python worker daemon of the test session: ``pyspark.daemon`` with the
archives taken off the workers' import path.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar first on every worker's ``PYTHONPATH``.  Each task then
calls ``importlib.invalidate_caches()``, and on Python 3.11 that re-reads
the whole directory of every archive once per package imported from it
(a dozen or more reads of a 1,600-entry zip): 0.3-0.5 s per task, paid by
every action over a frame built from local Python rows.  When ``pyspark``
and ``py4j`` are importable without the archives (an installed pyspark of
the same version), the daemon drops them before it imports ``pyspark``,
so its forked workers import from plain directories.
"""

import importlib.util
import sys

if __name__ == "__main__":
    archives = [p for p in sys.path if p.endswith((".zip", ".jar"))]
    sys.path[:] = [p for p in sys.path if p not in archives]
    if all(importlib.util.find_spec(m) for m in ("pyspark", "py4j")):
        # finding this module walked the archives: drop their importers
        for path in archives:
            sys.path_importer_cache.pop(path, None)
    else:
        sys.path.extend(archives)

    from pyspark import daemon

    daemon.manager()
