"""SparkSession construction with engine defaults.

The reference needs a Byte Buddy agent to mock a Cassandra node's environment
(CassandraAgent.java:15-199, SURVEY.md §2.1 M5); the Spark analog is just a
well-configured SparkSession. Defaults below are chosen for the 100 TB target:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (vectorized Python interop), UTC session time, and nanos-as-long so
parquet TIMESTAMP(NANOS) sources are readable (Spark's TimestampType is
micros; the scan layer converts, see sources/scan.py).

On a ``local[...]`` master, ``get_spark`` also cuts the fixed cost of every
Python task (the rewrite driver, GC, the compaction merge, the SSTable
DataSource scan, ``mapInPandas``):

- ``spark.python.daemon.module`` runs the engine's worker daemon
  (``_daemon.py``), which keeps the zip directories of the ``SPARK_HOME``
  archives instead of re-reading them on every task. Workers import it
  through ``spark.executorEnv.PYTHONPATH``, set to this package's parent
  directory, so they work from any cwd.
- JVM <-> worker traffic goes over Unix-domain sockets
  (``spark.python.unix.domain.socket.*``) instead of loopback TCP, which
  stalls each task for tens of milliseconds. The sockets live in one
  directory per process, made under the temp dir (or ``/tmp``) and removed at
  interpreter exit, so a process that never calls ``stop()`` leaves no
  socket file behind. If neither path leaves room for a socket name in
  ``sun_path``, Unix sockets stay off.

Cluster masters and sessions built with ``configure_builder`` keep Spark's
stock workers.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

#: Engine configuration applied to every session. Values are strings per
#: SparkConf convention. Sizing notes for scale:
#:  - shuffle.partitions: on a real cluster set ~2-3x total cores or rely on
#:    AQE coalescing from a high initial value; locally the env var
#:    SPARK_GRAFT_CPUS drives it.
#:  - maxPartitionBytes 128m: keeps scan tasks memory-bounded at 100 TB
#:    (~800k tasks — fine for a 1000-executor cluster, and AQE coalesces).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # let Python DataSources (sources/sstable.py) receive Catalyst filters
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


#: ``sun_path`` holds 107 bytes plus the NUL; Spark names each socket
#: ``.<uuid4>.sock`` (42 bytes) inside the socket directory
_SUN_PATH_MAX = 107
_SOCKET_NAME_LEN = 42
_SOCKET_DIR_PREFIX = "ctrs-"
#: where the socket directory goes when the temp dir's path is too long
_SOCKET_BASE_FALLBACK = "/tmp"


@functools.cache
def _socket_dir() -> str | None:
    """This process's Unix-socket directory, removed at exit; None if no
    base path is short enough for a socket path."""
    for base in (tempfile.gettempdir(), _SOCKET_BASE_FALLBACK):
        # base/<prefix + 8 random characters>/<socket name>
        need = (len(os.fsencode(base)) + 1 + len(_SOCKET_DIR_PREFIX) + 8
                + 1 + _SOCKET_NAME_LEN)
        if need <= _SUN_PATH_MAX and os.path.isdir(base):
            path = tempfile.mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=base)
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            return path
    return None


def _local_worker_conf() -> dict[str, str]:
    """Worker daemon and Unix-socket settings for ``local[...]`` masters."""
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf = {
        "spark.python.daemon.module": f"{__package__}._daemon",
        # Spark prepends its own archives and appends the JVM's PYTHONPATH
        "spark.executorEnv.PYTHONPATH": package_parent,
    }
    sock_dir = _socket_dir()
    if sock_dir is not None:
        conf["spark.python.unix.domain.socket.enabled"] = "true"
        conf["spark.python.unix.domain.socket.dir"] = sock_dir
    return conf


def local_cpus() -> int:
    """The cores a ``local[...]`` master gets: ``SPARK_GRAFT_CPUS``, else
    the CPUs this process may run on. The native rewrite's process pool
    (``sources/sstable.py``) uses one worker per core of this count."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def configure_builder(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine defaults to an existing builder (driver-owned sessions)."""
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    return builder


def get_spark(app_name: str = "cassandra-ttl-remover-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Locally runs on ``local[<local_cpus()>]`` with the engine's worker
    daemon and Unix-domain worker sockets (module docstring); on a
    cluster, pass ``master=None`` with externally-provided conf and only
    the SQL-level settings here apply.
    """
    if master is None:
        master = f"local[{local_cpus()}]"
    if shuffle_partitions is None:
        shuffle_partitions = local_cpus()
    builder = SparkSession.builder.appName(app_name).master(master)
    builder = configure_builder(builder)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.ui.enabled", "false")
    if master.startswith("local"):
        for k, v in _local_worker_conf().items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
