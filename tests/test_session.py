"""The engine's local worker setup (session.py, _daemon.py): the worker
daemon that keeps the SPARK_HOME archives' zip directories, the package
on the workers' path, and Unix-domain worker sockets that leave no file
behind."""

import glob
import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
import uuid
import zipfile

import pytest

from cassandra_ttl_remover_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: writes a one-partition table and strips it: the tasks run the
#: package's ``_strip_split``, so a worker must import the package
_STRIP_TINY_TABLE = """
    from cassandra_ttl_remover_spark.sources import sstable as ss
    src, out = os.path.join(work, "src"), os.path.join(work, "out")
    ss.write_sstable([(b"k", [(b"c", ss.EXPIRATION_MASK, 60, 1_700_000_060,
                               1_700_000_000_000_000, b"v")])], src)
    report = ss.rewrite_stripped(spark, src, out, num_splits=1)
    assert [(r.n_partitions, r.n_cells) for r in report] == [(1, 1)], report
"""


def _run_script(cwd: str, env: dict, *bodies: str) -> str:
    """Run ``bodies`` in a fresh interpreter that finds the package only
    through its own ``sys.path`` insert, never through cwd or PYTHONPATH.
    Returns its stderr."""
    script = "\n".join([
        "import os, sys", f"sys.path.insert(0, {REPO!r})", f"work = {cwd!r}",
        *map(textwrap.dedent, bodies)])
    env = {**os.environ, **env}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO)
    proc = subprocess.run([sys.executable, "-c", script], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stderr


@pytest.fixture
def short_tmp():
    """A temp dir short enough to hold the socket directory, as TMPDIR."""
    work = tempfile.mkdtemp(prefix="s", dir="/tmp")
    yield work
    shutil.rmtree(work, ignore_errors=True)


def _socket_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", ".*.sock"), recursive=True)


def _zip_module(directory: str, name: str, source: str) -> str:
    path = os.path.join(directory, f"{name}.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", source)
    return path


def test_daemon_wrapper_skips_only_spark_home_archives(spark, tmp_path):
    sc = spark.sparkContext
    name = f"ctrs_zip_{uuid.uuid4().hex[:8]}"
    sc.addPyFile(_zip_module(str(tmp_path), name, "VALUE = 1\n"))

    def report(_):
        """Inside a task: which finders ``importlib.invalidate_caches`` kept,
        invalidated and dropped."""
        import importlib
        import zipimport

        __import__(name)

        main = sys.modules["__main__"]
        spark_home = os.environ["SPARK_HOME"]
        homes = tuple(os.path.join(p, "")
                      for p in (spark_home, os.path.realpath(spark_home)))
        sys.path_importer_cache["/nonexistent-ctrs-entry"] = None
        sys.path_importer_cache["relative-ctrs-entry"] = None
        cache = dict(sys.path_importer_cache)
        zip_files = {p: f._files for p, f in cache.items()
                     if isinstance(f, zipimport.zipimporter)}
        importlib.invalidate_caches()
        kept, invalidated = [], []
        for p, files in zip_files.items():
            (kept if sys.path_importer_cache[p]._files is files
             else invalidated).append((p, cache[p].archive.startswith(homes)))
        file_finders = [f for f in cache.values()
                        if type(f).__name__ == "FileFinder"]
        return {
            "daemon": main.__spec__.name if main.__spec__ else None,
            "installed": importlib.invalidate_caches is getattr(
                main, "invalidate_caches", None),
            "kept": kept,
            "invalidated": invalidated,
            "file_finders_reset": bool(file_finders) and all(
                f._path_mtime == -1 for f in file_finders),
            "dropped": [p for p in ("/nonexistent-ctrs-entry",
                                    "relative-ctrs-entry")
                        if p not in sys.path_importer_cache],
        }

    got = sc.parallelize([0], 1).map(report).collect()[0]
    assert got["daemon"] == "cassandra_ttl_remover_spark._daemon"
    assert got["installed"]
    # pyspark.zip and its sub-package finders, py4j, the spark-core jar
    assert any(p.endswith("pyspark.zip") for p, _ in got["kept"])
    assert all(under_home for _, under_home in got["kept"])
    # the user's zip is re-read; nothing under SPARK_HOME is
    assert any(p.endswith(f"{name}.zip") for p, _ in got["invalidated"])
    assert not any(under_home for _, under_home in got["invalidated"])
    assert got["file_finders_reset"]
    assert got["dropped"] == ["/nonexistent-ctrs-entry",
                              "relative-ctrs-entry"]


def test_add_py_file_after_session_start_imports_in_task(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 4).map(lambda x: x).sum() == 6
    tag = uuid.uuid4().hex[:8]
    sc.addPyFile(_zip_module(str(tmp_path), f"ctrs_zip_{tag}", "V = 2\n"))
    py = tmp_path / f"ctrs_py_{tag}.py"
    py.write_text("V = 3\n")
    sc.addPyFile(str(py))

    def load(_):
        import importlib
        return (importlib.import_module(f"ctrs_zip_{tag}").V
                + importlib.import_module(f"ctrs_py_{tag}").V)

    assert sc.parallelize(range(4), 4).map(load).collect() == [5] * 4


def test_python_task_runs_outside_the_checkout(short_tmp):
    work = short_tmp
    _run_script(work, {"TMPDIR": work}, """
        from cassandra_ttl_remover_spark import get_spark
        spark = get_spark("outside-checkout")
    """, _STRIP_TINY_TABLE)


def test_socket_dir_too_long_runs_without_unix_sockets(tmp_path):
    long_dir = tmp_path / ("t" * 80)
    long_dir.mkdir()
    _run_script(str(long_dir), {"TMPDIR": str(long_dir)}, f"""
        from cassandra_ttl_remover_spark import get_spark, session
        session._SOCKET_BASE_FALLBACK = {str(long_dir)!r}
        spark = get_spark("long-tmpdir")
        conf = spark.sparkContext.getConf()
        assert conf.get("spark.python.unix.domain.socket.enabled") is None
        assert conf.get("spark.python.daemon.module")
    """, _STRIP_TINY_TABLE)


def test_socket_dir_falls_back_to_tmp(monkeypatch, tmp_path):
    long_dir = tmp_path / ("t" * 80)
    long_dir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(long_dir))
    path = session._socket_dir.__wrapped__()
    assert os.path.dirname(path) == "/tmp"
    assert len(os.path.join(path, f".{uuid.uuid4()}.sock")) <= 107
    os.rmdir(path)


def test_no_socket_file_left_after_stop(short_tmp):
    work = short_tmp
    _run_script(work, {"TMPDIR": work}, """
        import glob
        from cassandra_ttl_remover_spark import get_spark
        spark = get_spark("socket-cleanup")
        sock_dir = spark.sparkContext.getConf().get(
            "spark.python.unix.domain.socket.dir")
        assert sock_dir and sock_dir.startswith(work), sock_dir
        assert spark.sparkContext.parallelize(range(4), 4).map(
            lambda x: x + 1).sum() == 10
        assert glob.glob(os.path.join(sock_dir, ".*.sock"))
        spark.stop()
        assert not glob.glob(os.path.join(sock_dir, ".*.sock"))
    """)
    assert not _socket_files(work)
    assert not glob.glob(os.path.join(work, "ctrs-*"))


def test_no_socket_file_left_after_cli_run(short_tmp):
    """The CLI never stops its session; the socket directory goes at
    interpreter exit all the same. (The sstable -> parquet path starts a
    session; sstable -> sstable starts none.)"""
    from cassandra_ttl_remover_spark.sources import sstable as ss

    work = short_tmp
    src = os.path.join(work, "src")
    ss.write_sstable([(b"k", [(b"c", ss.EXPIRATION_MASK, 60, 1_700_000_060,
                               1_700_000_000_000_000, b"v")])], src)
    proc = subprocess.run(
        [sys.executable, "-m", "cassandra_ttl_remover_spark.cli",
         "--input", src, "--output-path", os.path.join(work, "out"),
         "--input-format", "sstable", "--output-format", "parquet"],
        cwd=work, env={**os.environ, "TMPDIR": work, "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert any(f.endswith(".parquet")
               for f in os.listdir(os.path.join(work, "out")))
    assert not _socket_files(work)
    assert not glob.glob(os.path.join(work, "ctrs-*"))


def test_worker_hangup_prints_no_flush_traceback_but_errors_show(short_tmp):
    """A stopping session closes its idle workers' sockets, and the
    daemon's last flush to such a socket printed a BrokenPipeError
    traceback. With the engine daemon it prints none, while a UDF that
    raises still fails its job with its error, and a flush that fails any
    other way is still reported."""
    work = short_tmp
    err = _run_script(work, {"TMPDIR": work}, """
        import socket
        from cassandra_ttl_remover_spark import _daemon, get_spark
        spark = get_spark("worker-hangup")
        sc = spark.sparkContext
        assert sc.parallelize(range(8), 4).map(lambda x: x).sum() == 28
        def boom(x):
            raise RuntimeError(f"udf-boom-{x}")
        try:
            sc.parallelize([7], 1).map(boom).collect()
            raise AssertionError("the failing UDF did not fail its job")
        except Exception as e:
            assert "udf-boom-7" in str(e), e
        spark.stop()
        # the hang-up itself, as the daemon's forked worker meets it
        daemon = _daemon.install()
        hung, jvm = socket.socketpair()
        jvm.close()
        assert daemon.worker(hung, True) == -1
        print("-- other failure --", file=sys.stderr, flush=True)
        def bad_fd(infile, outfile):
            outfile.write(b"x")
            os.close(outfile.fileno())
        daemon.worker_main = _daemon.quiet_hangup(bad_fd)
        a, b = socket.socketpair()
        daemon.worker(a, True)
    """)
    quiet, other = err.split("-- other failure --")
    assert "failed to flush" not in quiet, quiet[-3000:]
    assert "BrokenPipeError" not in quiet, quiet[-3000:]
    assert "failed to flush" in other and "Bad file descriptor" in other
