"""PySpark worker daemon that keeps the Spark archives' zip directories.

``pyspark.worker`` calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``), which makes every zipimporter re-read
its archive's directory: ``pyspark.zip``, the py4j zip and the spark-core
jar, about 95 ms per task on Python 3.11. Those files do not change while a
worker lives, so this daemon wraps the call to skip zipimporters whose
archive is under ``SPARK_HOME``. Every other finder is invalidated exactly
as before (``addPyFile`` and ``--py-files`` keep working). It also keeps
a hung-up worker socket from printing a flush traceback at session stop
(:func:`quiet_hangup`). Installed by ``session.get_spark`` through
``spark.python.daemon.module``.
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


def quiet_hangup(main):
    """``pyspark.daemon``'s ``worker_main`` that flushes its output
    itself and drops it when the JVM has hung up (a stopping session
    closes idle workers' sockets), so the daemon's own final flush does
    not print a ``BrokenPipeError`` traceback. Any other flush failure is
    left to that flush, which reports it; worker errors pass unchanged."""
    def run(infile, outfile):
        try:
            return main(infile, outfile)
        finally:
            try:
                outfile.flush()
            except (BrokenPipeError, ConnectionResetError):
                devnull = os.open(os.devnull, os.O_WRONLY)
                os.dup2(devnull, outfile.fileno())
                os.close(devnull)
            except Exception:
                pass
    return run


def install():
    """Patch this process as the daemon runs and return ``pyspark.daemon``."""
    importlib.invalidate_caches = invalidate_caches
    import pyspark.daemon as daemon

    daemon.worker_main = quiet_hangup(daemon.worker_main)
    return daemon


if __name__ == "__main__":
    install().manager()
