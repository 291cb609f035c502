"""PySpark worker daemon that keeps the Spark archives' zip directories.

``pyspark.worker`` calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``), which makes every zipimporter re-read
its archive's directory: ``pyspark.zip``, the py4j zip and the spark-core
jar, about 95 ms per task on Python 3.11. Those files do not change while a
worker lives, so this daemon wraps the call to skip zipimporters whose
archive is under ``SPARK_HOME``. Every other finder is invalidated exactly
as before (``addPyFile`` and ``--py-files`` keep working). Installed by
``session.get_spark`` through ``spark.python.daemon.module``.
"""

import importlib
import os
import sys
import zipimport

_SPARK_HOME = os.environ.get("SPARK_HOME", os.sep + "nonexistent")
#: Spark puts the spark-core jar on the path by its resolved location
_SPARK_ARCHIVES = tuple({os.path.join(p, "") for p in
                         (_SPARK_HOME, os.path.realpath(_SPARK_HOME))})
_invalidate_all = importlib.invalidate_caches


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` minus the ``SPARK_HOME`` zipimporters."""
    kept = {p: f for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and os.path.isabs(p)
            and f.archive.startswith(_SPARK_ARCHIVES)}
    for p in kept:
        del sys.path_importer_cache[p]
    try:
        _invalidate_all()
    finally:
        sys.path_importer_cache.update(kept)


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
